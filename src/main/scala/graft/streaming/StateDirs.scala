package graft.streaming

import org.apache.spark.sql.SparkSession

/** The one shared state-directory probe for every streaming maintenance
  * surface (AggMaintenance / FeatureStore / JoinMaintenance / DriftMonitor
  * / CorpusIngest): "does this dir already hold parquet state?"
  *
  * RECURSIVE on purpose — a state dir seeded with a `partitionBy()`
  * layout keeps its files in subdirectories, and a top-level-only check
  * reads such a dir as "absent", after which the next trigger bootstraps
  * EMPTY state over the existing data (silent state loss). Five modules
  * used to carry private top-level-only copies of this check; the bug
  * class is fixed once, here.
  */
private[streaming] object StateDirs {

  // skip Hadoop-hidden path components ('_'/'.' prefix) the whole way
  // up to the state root: a crashed write can leave uncommitted
  // _temporary/**/part-*.parquet behind, and counting those as "state
  // exists" makes every later trigger spark.read.parquet a dir with no
  // committed files — a permanent schema-inference failure where a
  // clean bootstrap was the right answer.
  def hasParquetData(spark: SparkSession, dir: String): Boolean =
    graft.sources.ParquetState.committedParquet(spark, dir).hasNext
}
