package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reader for parquet state the library writes itself (text and ANN
  * indexes, ingest corpora and hash/signature tables, catalog sinks).
  *
  * A schema-less `spark.read.parquet(dir)` runs a Spark job just to read
  * one footer (`mergeSchemasInParallel`, even with merging off): 60–90 ms
  * per read on a 4-vCPU box, against a few ms when the schema is given —
  * and an index probe makes several such reads per call. Spark already
  * writes the row schema into every footer it produces, under
  * [[SparkSchemaKey]], so this reader takes it from the footer of the
  * file Spark's own inference would pick (the first committed data file
  * in path order) on the driver and hands it to `spark.read.schema`.
  * Partition columns stay with Spark's directory inference.
  *
  * Anything else — a missing or empty dir, a footer without the Spark
  * key (a non-Spark writer), an unreadable footer — falls through to a
  * plain `spark.read.parquet`, which then gives today's result or
  * today's error. User-landed input keeps plain reads: its schema is the
  * caller's to declare. */
object ParquetState {

  /** The footer key Spark's parquet writer stores its row schema under. */
  private final val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Read options for a footer read without row groups — built once:
    * building them costs ~13 ms (the `ParquetFileReader.open` default
    * builds a fresh set per call). */
  private lazy val FooterOnly = ParquetReadOptions.builder()
    .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()

  /** Committed parquet data files under `dir`, lazily and in full-path
    * order (Spark's inference reads the footer of the first one).
    * Hadoop-hidden names (`_`/`.` prefix, e.g. an uncommitted
    * `_temporary` tree or a `_delta` side segment) are skipped with
    * everything below them. A `listStatus` walk, not `listFiles`: the
    * recursive listing fetches block locations per file, ~5 ms a file
    * on a local filesystem. */
  private[graft] def committedParquet(spark: SparkSession,
      dir: String): Iterator[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquet(s: FileStatus) = s.isFile && s.getPath.getName.endsWith(".parquet")
    def walk(d: Path): Iterator[Path] = fs.listStatus(d)
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      // a dir sorts as "name/", the prefix of every path below it
      .sortBy(s => if (s.isDirectory) s"${s.getPath.getName}/" else s.getPath.getName)
      .iterator.flatMap(s =>
        if (s.isDirectory) walk(s.getPath)
        else if (parquet(s)) Iterator.single(s.getPath)
        else Iterator.empty)
    try {
      val root = fs.getFileStatus(p)
      if (root.isDirectory) walk(p)
      else if (parquet(root)) Iterator.single(root.getPath)
      else Iterator.empty
    } catch { case _: java.io.FileNotFoundException => Iterator.empty }
  }

  /** The Spark row schema of the parquet state under `path`, from one
    * driver-side footer read; None when there is no committed file or
    * its footer carries no Spark schema. */
  def schema(spark: SparkSession, path: String): Option[StructType] =
    committedParquet(spark, path).nextOption().flatMap { f =>
      scala.util.Try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration),
          FooterOnly)
        try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally reader.close()
      }.toOption.flatten.flatMap(json =>
        scala.util.Try(DataType.fromJson(json)).toOption.collect {
          case s: StructType => s
        })
    }

  /** A reader carrying the footer schema of `schemaPath` when it has one,
    * for reads that need options of their own (e.g. `basePath`). */
  def reader(spark: SparkSession, schemaPath: String): DataFrameReader =
    schema(spark, schemaPath).fold(spark.read)(spark.read.schema(_))

  /** `spark.read.parquet(paths*)` without the schema-inference job; the
    * schema comes from the first path. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    paths.headOption.fold(spark.read)(reader(spark, _)).parquet(paths: _*)
}
