package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.IncrementalAgg
import graft.sources.StateDir

/** Streaming materialized-view maintenance — the streaming twin of
  * [[graft.operators.IncrementalAgg]] (the [[CorpusIngest]] discipline
  * applied to rollup tables): each micro-batch of arriving fact rows
  * collapses to its partial-aggregate state and MERGES into a persistent
  * state table. At any trigger boundary the state table equals
  * `IncrementalAgg.state(everything ingested so far)` exactly — the
  * self-maintainability contract, now continuous.
  *
  * Per-trigger cost: one scan of the BATCH (never the history) + a merge
  * shuffle of two group-cardinality-sized states; the rewrite is the
  * state table itself, which for any sane rollup is orders smaller than
  * the facts. The merged frame is pinned with localCheckpoint BEFORE the
  * overwrite — the r7 refreshByPath lesson: `merged` reads `stateDir`,
  * and overwrite deletes the input files out from under a lazy plan.
  *
  * Exactly-once caveat (same contract as [[CorpusIngest]]): foreachBatch
  * replays a torn trigger at-least-once, and a replayed merge would
  * double-count that batch. The checkpoint makes replay a crash-only
  * event; a deployment that needs torn-trigger immunity stages the state
  * write and swaps (the compactTextIndex discipline).
  */
object AggMaintenance {

  def maintainAggState(spark: SparkSession, sourceDir: String,
      stateDir: String, checkpointDir: String,
      keys: Seq[String], measures: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val srcSchema = schema.getOrElse(spark.read.parquet(sourceDir).schema)
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = IncrementalAgg.state(batch, keys, measures)
        val merged =
          if (StateDir.hasParquetData(spark, stateDir))
            IncrementalAgg.merge(keys, measures,
              spark.read.parquet(stateDir), delta)
          else delta
        // pin before the overwrite: merged's lineage reads stateDir
        merged.localCheckpoint().write.mode("overwrite").parquet(stateDir)
        ()
      }
      .start()
  }

}
