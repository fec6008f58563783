package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.StateDir

/** Streaming feature-store maintenance — the ONLINE twin of the batch
  * point-in-time join ([[graft.operators.AsOfJoin.pointInTimeFeatures]],
  * q_join_pit): where the PIT join assembles leakage-free TRAINING rows
  * offline, this folds each arriving micro-batch into a latest-value
  * state table — the row a feature store serves for online inference
  * ("the user's current feature vector"). The [[AggMaintenance]]
  * discipline applied to latest-value semantics.
  *
  * At any trigger boundary the state table equals
  * [[latestState]](everything ingested so far) exactly: per-key latest
  * is an associative, commutative, IDEMPOTENT fold (max over the
  * (ts, values…) struct order), so unlike the additive AggMaintenance
  * merge, a torn-trigger foreachBatch REPLAY is harmless by construction
  * — re-maxing the same batch into the state is a no-op. That makes this
  * the one maintenance surface with exactly-once output under
  * at-least-once execution, with no staging needed.
  *
  * Per-trigger cost: one scan of the BATCH (never the history) + a merge
  * of two key-cardinality-sized states. The merged frame is pinned with
  * localCheckpoint BEFORE the overwrite (the refreshByPath lesson:
  * `merged` reads `stateDir`, and overwrite deletes those files out from
  * under a lazy plan).
  */
object FeatureStore {

  /** Batch form: one row per key — the (tsCol, valueCols…) tuple of each
    * key's LATEST row, where "latest" is the lexicographic max of the
    * struct (ties beyond the full tuple are identical rows, so the
    * result is total-order deterministic and window-replayable as
    * `row_number() OVER (PARTITION BY keys ORDER BY ts DESC, values…
    * DESC) = 1`). Null-ts rows carry no event time and are excluded. */
  def latestState(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "latestState needs at least one key column")
    val carried = tsCol +: valueCols
    df.filter(col(tsCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(max(struct(carried.map(col): _*)).as("_latest"))
      .select(keys.map(col) ++ carried.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Maintain `stateDir` as the per-key latest-value table over a
    * file-stream source: per trigger, the batch collapses to its own
    * latest state and max-merges into the stored state.
    *
    * @return the started query (AvailableNow trigger — runs the backlog
    *         and stops, the corpus-ingest convention) */
  def maintainLatest(spark: SparkSession, sourceDir: String,
      stateDir: String, checkpointDir: String,
      keys: Seq[String], tsCol: String, valueCols: Seq[String],
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
        val delta = latestState(batch, keys, tsCol, valueCols)
        val merged =
          if (StateDir.hasParquetData(spark, stateDir))
            latestState(
              spark.read.parquet(stateDir).unionByName(delta),
              keys, tsCol, valueCols)
          else delta
        merged.localCheckpoint().write.mode("overwrite").parquet(stateDir)
        ()
      }
      .start()
  }

  /** Streaming point-in-time TRAINING-row assembly — the third leg of
    * the feature-store surface (offline assembly =
    * [[graft.operators.AsOfJoin.pointInTimeFeatures]], online serving =
    * [[latestState]]/[[maintainLatest]]; this maintains the TRAINING
    * table incrementally): each arriving label micro-batch is assembled
    * against the feature history AS INGESTED AT TRIGGER TIME — the exact
    * batch PIT join of that label slice (leakage-free feature_ts ≤
    * label_ts, per-table staleness bounds), landing as its own batch_id
    * partition with dynamic overwrite, so an at-least-once foreachBatch
    * replay rewrites its rows instead of duplicating them (the
    * [[DriftMonitor]] idempotence discipline).
    *
    * Semantics contract, stated not hidden: a feature row ingested AFTER
    * a label batch was assembled does not retro-update the emitted rows —
    * training rows reflect what was available at assembly time, which is
    * what an online model would have seen. When feature ingestion stays
    * ahead of label arrival (the operating mode; enforce upstream),
    * streaming output == the batch PIT join over the same slices,
    * spec-pinned. Re-assemble offline for research reproducibility.
    *
    * Per-trigger cost: the label BATCH + one keyed carry-forward pass
    * over each feature table's history (never the emitted output) — at
    * corpus scale the feature histories are the big side, and they ride
    * the same single-shuffle as-of plan the batch join uses.
    *
    * @param features (featureDir, tsCol, carriedVals, toleranceUs) per
    *        feature table — the [[graft.operators.AsOfJoin.pointInTimeFeatures]]
    *        tuple with the DataFrame replaced by its parquet dir, read
    *        fresh at every trigger */
  def assembleTrainingRows(spark: SparkSession, labelSourceDir: String,
      outDir: String, checkpointDir: String,
      key: String, labelTs: String,
      features: Seq[(String, String, Map[String, String], Long)],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    require(features.nonEmpty, "assembleTrainingRows needs >= 1 feature table")
    val srcSchema = schema.getOrElse(spark.read.parquet(labelSourceDir).schema)
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(labelSourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fts = features.map { case (dir, tsCol, vals, tolUs) =>
          (spark.read.parquet(dir), tsCol, vals, tolUs)
        }
        graft.operators.AsOfJoin.pointInTimeFeatures(batch, key, labelTs, fts)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        ()
      }
      .start()
  }

  /** Read-side contract for [[assembleTrainingRows]] output: batch_id is
    * an inferred partition dir (the idempotence mechanism, not a feature)
    * — drop it so the training surface is exactly the batch PIT schema. */
  def readTrainingRows(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("batch_id")

}
