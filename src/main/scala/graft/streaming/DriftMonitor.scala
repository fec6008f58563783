package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Profiling
import graft.sources.StateDir

/** Streaming distribution-drift monitor — the continuous twin of
  * [[graft.operators.Profiling.ksTwoSample]]: a REFERENCE population is
  * collapsed once to its (value, count) histogram and persisted; every
  * arriving micro-batch is KS-tested against that stored histogram and
  * one drift row per trigger lands under `outDir/drift` as its own
  * batch_id=N partition (dynamic overwrite ⇒ idempotent replay — NOT a
  * plain append; see [[readDrift]] for the read-side contract). The
  * encoder-rerun
  * / upstream-schema-change / corpus-mix alarms the batch drift family
  * answers retrospectively, answered per trigger instead.
  *
  * Scale shape per trigger: one scan of the BATCH into its histogram +
  * a KS over (reference ∪ batch) distinct values via the two-phase
  * prefix sum — the reference DATA is never re-read (the
  * materialize-the-index discipline: the histogram IS the index). The
  * reference histogram is value-cardinality-sized; for a continuous
  * column at 100 TB the caller bins values upstream (the
  * histogramEquiWidth form) — the monitor is agnostic to that choice.
  */
object DriftMonitor {

  /** @param reference the baseline population (read once at start; its
    *        histogram is persisted to `outDir/_reference_hist` and
    *        reused on restart)
    * @return one row per trigger under `outDir/drift`, PARTITIONED by
    *         batch_id (n_batch, d_stat, d_at payload): an at-least-once
    *         foreachBatch replay overwrites its own partition, so the
    *         output is exactly-once per batch at read time */
  def monitorKs(spark: SparkSession, sourceDir: String, outDir: String,
      checkpointDir: String, valueCol: String, reference: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val srcSchema = schema.getOrElse(spark.read.parquet(sourceDir).schema)
    val refDir = s"$outDir/_reference_hist"
    if (!StateDir.hasParquetData(spark, refDir))
      Profiling.valueHistogram(reference, valueCol)
        .write.mode("overwrite").parquet(refDir)
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stat = Profiling.ksFromHistograms(
            spark.read.parquet(refDir),
            Profiling.valueHistogram(batch, valueCol))
          .select(lit(batchId).as("batch_id"),
            col("n_b").as("n_batch"), col("d_stat"), col("d_at"))
        // IDEMPOTENT per batch: foreachBatch is at-least-once, so a torn
        // trigger replays with the SAME batchId — partitioning the output
        // by batch_id and dynamically overwriting only that partition
        // makes the replay rewrite its own row instead of appending a
        // duplicate (the AggMaintenance replay caveat, mitigated rather
        // than documented)
        stat.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$outDir/drift")
        ()
      }
      .start()
  }

  /** The read-side contract for `outDir/drift`. Because batch_id is a
    * PARTITION directory (that's what makes replays idempotent), a naive
    * `spark.read.parquet` sees it as an INFERRED partition column —
    * IntegerType, last in schema — not the LongType data column a
    * foreachBatch append would have produced. This helper pins the
    * public schema: (batch_id LONG, n_batch LONG, d_stat, d_at). */
  def readDrift(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/drift")
      .select(col("batch_id").cast("long"), col("n_batch"),
        col("d_stat"), col("d_at"))

}
