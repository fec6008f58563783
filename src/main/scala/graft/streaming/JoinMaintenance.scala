package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.IncrementalJoin
import graft.sources.StateDir

/** Streaming JOIN-view maintenance — the streaming twin of
  * [[graft.operators.IncrementalJoin]], completing the maintenance
  * matrix: aggregates have [[AggMaintenance]] (batch fold) and joins now
  * have this (the [[AggMaintenance]] discipline applied to a materialized
  * A ⋈ B). The source is an op-tagged CDC log for the A side ('I'nsert /
  * 'U'pdate / 'D'elete rows, the [[graft.operators.ChangeCapture]]
  * vocabulary); B is a STATIC dimension for the lifetime of the view (it
  * is re-read per trigger, but only to join each trigger's A-DELTA).
  * Each micro-batch folds into the view via the delta-join decomposition
  * — the base A table is NEVER materialized anywhere (that is the point:
  * the view plus the log IS the A-side state).
  *
  * B-side contract — STATED, because a silent divergence here is worse
  * than a restriction: changes to B do NOT retro-update existing view
  * rows (there is no B-retraction path in this maintenance shape). If B
  * rows are updated/deleted/inserted, fold that B-changeset through the
  * batch API ([[graft.operators.IncrementalJoin.applyCdc]] with
  * bInserts/bDeletes over the persisted view) or rebuild the view; a B
  * that drifts while this query runs leaves old pairs carrying the old B
  * payload next to new pairs carrying the new one.
  *
  * Per-trigger cost: one scan of the BATCH + one view-sized retained pass
  * + delta ⋈ B. The view overwrite is the reference storage strategy
  * (same as [[AggMaintenance]]'s state table); a deployment whose view
  * outgrows per-trigger rewrites keeps the same applyCdc frame and lands
  * it with tombstones / delete-vectors instead — the logical fold is
  * unchanged.
  *
  * Batch contract: at most one CDC row per A row key per trigger (compact
  * upstream — [[graft.operators.UrlOps.latestPerUrl]]'s argmax shape); an
  * update carries the FULL new row under 'U'; any op value outside
  * {'I','U','D'} (including NULL) raises per row — a silently dropped or
  * misrouted change would diverge the view from the log with no signal.
  * Exactly-once caveat: same as [[AggMaintenance]] — foreachBatch replays
  * a torn trigger at-least-once; replaying a batch whose keys were
  * already folded is idempotent here (the touched-keys anti removes the
  * batch's previous effect before re-adding it, and B is static by
  * contract), EXCEPT when the replayed batch races a later batch for the
  * same key — the checkpoint makes that a crash-only event.
  */
object JoinMaintenance {

  /** Fold the view's per-trigger changeset ([[IncrementalJoin.ViewDelta]])
    * into a downstream [[graft.operators.IncrementalAgg]] state table —
    * the streaming form of the oracled batch cascade
    * (q_cdc_view_cascade): join view + dependent aggregate maintained
    * end to end per micro-batch, bases never re-joined.
    *
    * Torn-trigger contract (the agg fold is ADDITIVE, not
    * anti-then-add, so replay idempotence needs a guard): every agg
    * state row carries the folding batch id in `_batch_id` — atomic
    * with the data, unlike a sidecar meta file — and a replayed batch
    * whose id is already recorded SKIPS the agg fold. The write order
    * is agg state FIRST, then view (then B state): a crash between them
    * replays against the PRE-fold view, so the recomputed delta is the
    * original one and the guard's skip is exact; a crash before the agg
    * write replays everything from scratch. The guard assumes the
    * checkpoint's stable batch numbering (or a same-order replay of the
    * same log), which is the standard foreachBatch idempotence
    * contract. Bootstrap: an absent agg state initializes from the
    * PRE-fold view, so the cascade can attach to an existing view
    * mid-life.
    *
    * The stable-numbering assumption is additionally GUARDED at the one
    * point it can be checked: each fold records the batch's content
    * signature (`_batch_sig`, order-independent xor of row hashes)
    * alongside its id, and a replay of the RECORDED id whose content
    * differs raises loudly — the genuine torn-trigger replay skips, a
    * re-sliced/rewritten log under the same checkpoint fails instead of
    * silently desynchronizing the aggregate. Ids below the recorded max
    * (a same-order fresh-checkpoint replay) skip per the contract. */
  private def cascadeAggFold(spark: SparkSession,
      delta: IncrementalJoin.ViewDelta, preFoldView: DataFrame,
      aggStateDir: String, aggKeys: Seq[String], aggMeasures: Seq[String],
      batchId: Long, batchSig: Long): Unit = {
    import graft.operators.IncrementalAgg
    val exists = StateDir.hasParquetData(spark, aggStateDir)
    val prevRaw = if (exists) spark.read.parquet(aggStateDir) else null
    val recorded =
      if (!exists) None
      else {
        val r = prevRaw.agg(max(col("_batch_id")), max(col("_batch_sig"))).head()
        if (r.isNullAt(0)) None
        else Some((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      }
    recorded match {
      case Some((lastId, lastSig)) if lastId == batchId =>
        require(lastSig == batchSig,
          s"cascadeAggFold: replayed batch $batchId carries different " +
            "content than the fold recorded — the CDC log was re-sliced " +
            "or rewritten under the checkpoint; rebuild the aggregate " +
            s"state (delete $aggStateDir) instead of silently skipping")
      case Some((lastId, _)) if lastId > batchId => ()
      case _ =>
        val prev =
          if (exists) prevRaw.drop("_batch_id", "_batch_sig")
          else IncrementalAgg.state(preFoldView, aggKeys, aggMeasures)
        val next = IncrementalAgg.applyCdc(prev, aggKeys, aggMeasures,
          inserts = delta.inserted, deletes = delta.deleted,
          snapshot = delta.view)
        // pin before the overwrite: next's lineage reads aggStateDir
        next.withColumn("_batch_id", lit(batchId))
          .withColumn("_batch_sig", lit(batchSig))
          .localCheckpoint().write.mode("overwrite").parquet(aggStateDir)
    }
  }

  /** Order-independent content signature of a micro-batch (xor of row
    * hashes — duplicate rows cancel, but the compaction contract already
    * forbids them): what [[cascadeAggFold]] validates a torn-trigger
    * replay against. */
  private def batchSignature(batch: DataFrame): Long =
    batch.select(xxhash64(struct(batch.columns.map(col): _*)).as("h"))
      .agg(expr("coalesce(bit_xor(h), 0L)")).head().getLong(0)

  /** One [[maintainJoinView]] micro-batch — package-private so the spec
    * can drive exact torn-trigger points (fold, restore one state table,
    * refold) that the streaming glue cannot reproduce on demand. */
  private[streaming] def foldJoinViewBatch(spark: SparkSession,
      rawBatch: DataFrame, batchId: Long, bDir: String, viewDir: String,
      aKey: String, bKey: String, joinKeys: Seq[String], opCol: String,
      leftJoin: Boolean, aggStateDir: Option[String],
      aggKeys: Seq[String], aggMeasures: Seq[String]): Unit = {
    val b = spark.read.parquet(bDir)
    // loud op guard: a NULL or unknown op would silently drop (or
    // misroute) a change and diverge the view from the log
    val batch = rawBatch.withColumn(opCol,
      when(col(opCol).isin("I", "U", "D"), col(opCol))
        .otherwise(raise_error(concat(
          lit("maintainJoinView: invalid op value '"),
          coalesce(col(opCol), lit("NULL")),
          lit("' — expected I, U or D")))))
    val aIns = batch.filter(col(opCol) =!= "D").drop(opCol)
    // 'U' = delete(old key) + insert(new row): route the key through
    // both deltas, exactly the ChangeCapture decomposition
    val aDel = batch.filter(col(opCol) =!= "I").select(col(aKey))
    val view =
      if (StateDir.hasParquetData(spark, viewDir)) spark.read.parquet(viewDir)
      else if (leftJoin) IncrementalJoin.joinStateLeft(aIns.limit(0), b, joinKeys)
      else IncrementalJoin.joinState(aIns.limit(0), b, joinKeys)
    def fold(f: (DataFrame, String, String, Seq[String], DataFrame,
        DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)
        => IncrementalJoin.ViewDelta) =
      f(view, aKey, bKey, joinKeys,
        aIns, aDel,
        b.limit(0), b.select(col(bKey)).limit(0),
        // A is never materialized; aSnapshot is only consulted for
        // B-side inserts, which this maintenance shape never has
        aIns.limit(0), b)
    val vd =
      if (leftJoin) fold(IncrementalJoin.applyCdcLeftWithDelta)
      else fold(IncrementalJoin.applyCdcWithDelta)
    // pin the fold ONCE, before the agg pass consumes it as snapshot —
    // otherwise the view-sized retained pass runs twice per cascaded
    // trigger (once inside the agg fold's lineage, once for the write)
    val pinnedView = vd.view.localCheckpoint()
    // agg state first (see cascadeAggFold's torn-trigger contract)
    aggStateDir.foreach(dir =>
      cascadeAggFold(spark, vd.copy(view = pinnedView), view, dir,
        aggKeys, aggMeasures, batchId, batchSignature(rawBatch)))
    pinnedView.write.mode("overwrite").parquet(viewDir)
  }

  /** @param cdcDir   streamed parquet dir of op-tagged A-side change rows:
    *                  A's full columns + `opCol` ∈ {'I','U','D'} ('D' rows
    *                  need only the key populated; any other op raises)
    * @param bDir     parquet dir of the static B side
    * @param viewDir  the materialized view ([[IncrementalJoin.joinState]]
    *                  layout); absent/empty = start from an empty view
    * @param schema   the CDC-row schema — REQUIRED when `cdcDir` has no
    *                  files yet (starting the maintenance query ahead of
    *                  the producer); otherwise inferred from the dir
    * @param leftJoin maintain a LEFT-join view: A rows without a B
    *                  partner ride null-extended ([[IncrementalJoin
    *                  .applyCdcLeft]]); with B static the zero-crossing
    *                  transitions never fire from the B side, so the
    *                  per-trigger fold only routes inserted A rows to
    *                  the matched or null-extended slice
    * @param aggStateDir when set, ALSO maintain a downstream aggregate
    *                  state table over the view (keys = `aggKeys`,
    *                  measures = `aggMeasures`) from the view's own
    *                  per-trigger changeset — the streaming cascade; see
    *                  [[cascadeAggFold]] for the torn-trigger contract.
    *                  Read it with [[graft.operators.IncrementalAgg
    *                  .finish]] after dropping `_batch_id`/`_batch_sig`. */
  def maintainJoinView(spark: SparkSession, cdcDir: String, bDir: String,
      viewDir: String, checkpointDir: String,
      aKey: String, bKey: String, joinKeys: Seq[String], opCol: String = "op",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1, leftJoin: Boolean = false,
      aggStateDir: Option[String] = None, aggKeys: Seq[String] = Nil,
      aggMeasures: Seq[String] = Nil): StreamingQuery = {
    require(schema.nonEmpty || StateDir.hasParquetData(spark, cdcDir),
      s"maintainJoinView: $cdcDir has no parquet yet — pass schema= to " +
        "start the maintenance query ahead of the CDC producer")
    require(aggStateDir.isEmpty || (aggKeys.nonEmpty && aggMeasures.nonEmpty),
      "maintainJoinView: aggStateDir needs aggKeys and aggMeasures")
    val srcSchema = schema.getOrElse(spark.read.parquet(cdcDir).schema)
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(cdcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        foldJoinViewBatch(spark, rawBatch, batchId, bDir, viewDir,
          aKey, bKey, joinKeys, opCol, leftJoin,
          aggStateDir, aggKeys, aggMeasures)
      }
      .start()
  }

  /** Two-sided streaming JOIN-view maintenance: ONE op-tagged-union CDC
    * log carries changes for BOTH sides (`sideCol` ∈ {'A','B'} routes,
    * `opCol` ∈ {'I','U','D'} as above), lifting [[maintainJoinView]]'s
    * B-static restriction. The job owns TWO state tables: the view and
    * the B dimension state (`bStateDir`, bootstrapped from `bInitDir`);
    * per trigger the batch's B ops fold into B′ first, then the view
    * folds through the batch [[IncrementalJoin]] API against B′.
    *
    * A-side state: NEVER materialized. For a LEFT view every A row is
    * present (matched or null-extended), so A′ is reconstructed exactly
    * as the view's A-slice with the batch's A ops applied — which is
    * why B-side INSERTS (the probe that needs the post-change A) are
    * supported only under `leftJoin = true`. An INNER view drops
    * match-less A rows, so A′ is unrecoverable from it: a B insert
    * would silently miss pairs with those rows — the fold RAISES on
    * inner + B-side I/U instead (B-side deletes are self-contained and
    * allowed; use the left view, or the batch API with a real A
    * snapshot, for inner B churn).
    *
    * Left-join zero-crossings fire from the STREAM in both directions:
    * a B delete that kills a join key's last row null-extends its
    * untouched A rows; a first B insert flips them back (spec-pinned
    * streaming == batch with both directions live).
    *
    * Schema contract: the log's columns = A's columns ∪ B's columns ∪
    * {side, op}, join keys shared; a row populates its own side's
    * columns (the other side's are ignored). B-only columns are derived
    * from `bInitDir`'s schema. Compaction contract per side and replay
    * idempotence follow [[maintainJoinView]]: both state folds remove
    * the batch's touched keys before re-adding, so a torn trigger
    * replays to the same state regardless of which write survived.
    * Per-trigger cost: batch scan + view-sized retained pass + B-sized
    * state rewrite + delta-pruned probes (the overwrite storage
    * strategy; tombstones/delete-vectors swap in unchanged). */
  /** One [[maintainJoinViewTwoSided]] micro-batch (package-private for
    * the spec's torn-trigger drills, like [[foldJoinViewBatch]]). */
  private[streaming] def foldTwoSidedBatch(spark: SparkSession,
      rawBatch: DataFrame, batchId: Long, bInitDir: String, viewDir: String,
      bStateDir: String, aKey: String, bKey: String, joinKeys: Seq[String],
      aCols: Seq[String], bCols: Seq[String], sideCol: String, opCol: String,
      leftJoin: Boolean, aggStateDir: Option[String],
      aggKeys: Seq[String], aggMeasures: Seq[String]): Unit = {
    // loud guards: unknown side or op would silently drop a change
    val batch = rawBatch
      .withColumn(sideCol,
        when(col(sideCol).isin("A", "B"), col(sideCol))
          .otherwise(raise_error(concat(
            lit("maintainJoinViewTwoSided: invalid side '"),
            coalesce(col(sideCol), lit("NULL")), lit("' — expected A or B")))))
      .withColumn(opCol,
        when(col(opCol).isin("I", "U", "D"), col(opCol))
          .otherwise(raise_error(concat(
            lit("maintainJoinViewTwoSided: invalid op '"),
            coalesce(col(opCol), lit("NULL")), lit("' — expected I, U or D")))))
      // the side guard only evaluates on rows something consumes;
      // pinning forces both guard columns once over the whole batch
      .localCheckpoint()
    val aSide = batch.filter(col(sideCol) === "A")
    val bSide = batch.filter(col(sideCol) === "B")
    val aIns = aSide.filter(col(opCol) =!= "D").select(aCols.map(col): _*)
    val aDel = aSide.filter(col(opCol) =!= "I").select(col(aKey))
    val bIns = bSide.filter(col(opCol) =!= "D").select(bCols.map(col): _*)
    val bDel = bSide.filter(col(opCol) =!= "I").select(col(bKey))
    if (!leftJoin && bSide.filter(col(opCol) =!= "D").limit(1).count() > 0)
      throw new IllegalArgumentException(
        "maintainJoinViewTwoSided: B-side inserts/updates need the " +
          "post-change A table, which an INNER view cannot " +
          "reconstruct (match-less A rows are absent) — maintain a " +
          "LEFT view, or fold B churn through IncrementalJoin" +
          ".applyCdc with a real A snapshot")
    // B′ first: remove the batch's touched B keys, add the inserts —
    // touched-before-add makes a torn-trigger replay idempotent
    val bPrev =
      if (StateDir.hasParquetData(spark, bStateDir))
        spark.read.parquet(bStateDir)
      else spark.read.parquet(bInitDir)
    val bTouched = bDel.unionByName(bIns.select(col(bKey))).distinct()
    val bNew = bPrev.join(bTouched, Seq(bKey), "left_anti")
      .unionByName(bIns).localCheckpoint()
    val view =
      if (StateDir.hasParquetData(spark, viewDir)) spark.read.parquet(viewDir)
      else if (leftJoin) IncrementalJoin.joinStateLeft(aIns.limit(0), bPrev, joinKeys)
      else IncrementalJoin.joinState(aIns.limit(0), bPrev, joinKeys)
    // A′ from the left view's own A-slice + the batch's A ops (on a
    // torn-trigger replay the view is already post-fold: the
    // touched-key anti strips the replayed inserts before re-adding
    // them, so A′ is identical either way). Inner mode never
    // consults it (B inserts are rejected above).
    val aTouched = aDel.unionByName(aIns.select(col(aKey))).distinct()
    val aSnap =
      if (leftJoin)
        view.select(aCols.map(col): _*).dropDuplicates(aKey)
          .join(aTouched, Seq(aKey), "left_anti")
          .unionByName(aIns)
      else aIns.limit(0)
    val vd =
      if (leftJoin) IncrementalJoin.applyCdcLeftWithDelta(view, aKey, bKey,
        joinKeys, aIns, aDel, bIns, bDel, aSnap, bNew)
      else IncrementalJoin.applyCdcWithDelta(view, aKey, bKey, joinKeys,
        aIns, aDel, bIns, bDel, aSnap, bNew)
    // pin the fold ONCE (shared by the agg pass and the view write)
    val pinnedView = vd.view.localCheckpoint()
    // agg state first (the one additive fold — see cascadeAggFold's
    // torn-trigger contract); the view and B folds that follow are
    // replay-idempotent in any order
    aggStateDir.foreach(dir =>
      cascadeAggFold(spark, vd.copy(view = pinnedView), view, dir,
        aggKeys, aggMeasures, batchId, batchSignature(batch)))
    pinnedView.write.mode("overwrite").parquet(viewDir)
    bNew.write.mode("overwrite").parquet(bStateDir)
  }

  /** One [[maintainSnowflakeView]] micro-batch (package-private for the
    * spec's torn-trigger drills). */
  private[streaming] def foldSnowflakeBatch(spark: SparkSession,
      rawBatch: DataFrame, batchId: Long, bDir: String, cDir: String,
      v1Dir: String, v2Dir: String, aKey: String, bKey: String, cKey: String,
      joinKeysAB: Seq[String], joinKeysC: Seq[String], opCol: String,
      aggStateDir: Option[String] = None, aggKeys: Seq[String] = Nil,
      aggMeasures: Seq[String] = Nil, leftJoin: Boolean = false): Unit = {
    val b = spark.read.parquet(bDir)
    val c = spark.read.parquet(cDir)
    val batch = rawBatch.withColumn(opCol,
      when(col(opCol).isin("I", "U", "D"), col(opCol))
        .otherwise(raise_error(concat(
          lit("maintainSnowflakeView: invalid op value '"),
          coalesce(col(opCol), lit("NULL")),
          lit("' — expected I, U or D")))))
    val aIns = batch.filter(col(opCol) =!= "D").drop(opCol)
    val aDel = batch.filter(col(opCol) =!= "I").select(col(aKey))
    val v1 =
      if (StateDir.hasParquetData(spark, v1Dir)) spark.read.parquet(v1Dir)
      else if (leftJoin) IncrementalJoin.joinStateLeft(aIns.limit(0), b, joinKeysAB)
      else IncrementalJoin.joinState(aIns.limit(0), b, joinKeysAB)
    // level 1: fold the batch and surface V1's own changeset. LEFT mode:
    // partnerless A inserts ride null-extended into V1 — their composite
    // key carries a NULL bKey field, which the level-2 probes handle
    // because Spark's struct equality is field-wise null-safe
    val vd1 =
      if (leftJoin) IncrementalJoin.applyCdcLeftWithDelta(v1, aKey, bKey,
        joinKeysAB, aIns, aDel, b.limit(0), b.select(col(bKey)).limit(0),
        aIns.limit(0), b)
      else IncrementalJoin.applyCdcWithDelta(v1, aKey, bKey, joinKeysAB,
        aIns, aDel, b.limit(0), b.select(col(bKey)).limit(0), aIns.limit(0), b)
    val pinned1 = vd1.view.localCheckpoint()
    // level 2: V1's delta IS the A-side CDC; the composite (aKey, bKey)
    // row key rides as a struct column, the A snapshot is the pinned V1′
    val abKey = struct(col(aKey), col(bKey)).as("__ab_key")
    val v2 =
      if (StateDir.hasParquetData(spark, v2Dir)) spark.read.parquet(v2Dir)
      else IncrementalJoin.joinState(v1.select(abKey, col("*")), c, joinKeysC)
    val vd2 = IncrementalJoin.applyCdcWithDelta(v2, "__ab_key", cKey,
      joinKeysC,
      vd1.inserted.select(abKey, col("*")), vd1.deleted.select(abKey),
      c.limit(0), c.select(col(cKey)).limit(0),
      pinned1.select(abKey, col("*")), c)
    val pinned2 = vd2.view.localCheckpoint()
    // agg state FIRST (batch-id-guarded — see cascadeAggFold): a crash
    // before the V2 write replays against the pre-fold V1 AND V2, whose
    // recomputed level-2 delta is the original one, so the guard's skip
    // is exact. Writing V2 before the agg would be WRONG: a replayed
    // vd2 against the post-fold V2 retracts nothing and inserts nothing,
    // and the agg would fold an empty delta for a batch it never saw.
    aggStateDir.foreach(dir =>
      cascadeAggFold(spark, vd2.copy(view = pinned2), v2, dir,
        aggKeys, aggMeasures, batchId, batchSignature(batch)))
    // then V2, then V1 — the snowflake twin of the agg-before-view
    // order: a crash between the view writes replays against the
    // PRE-fold V1, whose recomputed delta is the ORIGINAL level-2 CDC,
    // and the V2 fold is anti-then-add idempotent. The reverse order is
    // WRONG: with V1 already folded, the replayed delta retracts only
    // the NEW pairs' keys, so a pre-fold V2 would keep the touched keys'
    // stale old pairs forever.
    pinned2.write.mode("overwrite").parquet(v2Dir)
    pinned1.write.mode("overwrite").parquet(v1Dir)
  }

  /** Streaming SNOWFLAKE maintenance — (A ⋈ B) ⋈ C per micro-batch from
    * ONE op-tagged A-side CDC log: both views fold in one foreachBatch,
    * the level-1 delta ([[IncrementalJoin.applyCdcWithDelta]]) driving
    * the level-2 fold exactly as the batch q_cdc_snowflake does, bases
    * never re-joined and A never materialized. B and C are static
    * dimensions for the lifetime of the query — when they churn too, use
    * [[maintainSnowflakeViewTwoSided]] (B via the side-tagged log,
    * C via its `cStateDir`).
    * Column contract: V1's columns (A ∪ B) and C's columns are disjoint
    * apart from `joinKeysC`. Torn-trigger: both view folds are
    * anti-then-add idempotent; the agg-then-V2-then-V1 write order (see
    * [[foldSnowflakeBatch]]) makes every crash point replay exactly.
    *
    * @param aggStateDir when set, V2's per-trigger changeset (level 2
    *                    runs applyCdcWithDelta) also folds into a
    *                    downstream aggregate state table — the full
    *                    THREE-level MV tree (join → join → agg, the
    *                    streaming twin of q_cdc_snowflake_agg),
    *                    batch-id-guarded for torn triggers. */
  def maintainSnowflakeView(spark: SparkSession, cdcDir: String,
      bDir: String, cDir: String, v1Dir: String, v2Dir: String,
      checkpointDir: String, aKey: String, bKey: String, cKey: String,
      joinKeysAB: Seq[String], joinKeysC: Seq[String], opCol: String = "op",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1, aggStateDir: Option[String] = None,
      aggKeys: Seq[String] = Nil, aggMeasures: Seq[String] = Nil,
      leftJoin: Boolean = false): StreamingQuery = {
    require(schema.nonEmpty || StateDir.hasParquetData(spark, cdcDir),
      s"maintainSnowflakeView: $cdcDir has no parquet yet — pass schema= " +
        "to start the maintenance query ahead of the CDC producer")
    require(aggStateDir.isEmpty || (aggKeys.nonEmpty && aggMeasures.nonEmpty),
      "maintainSnowflakeView: aggStateDir needs aggKeys and aggMeasures")
    val srcSchema = schema.getOrElse(spark.read.parquet(cdcDir).schema)
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(cdcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        foldSnowflakeBatch(spark, rawBatch, batchId, bDir, cDir, v1Dir,
          v2Dir, aKey, bKey, cKey, joinKeysAB, joinKeysC, opCol,
          aggStateDir, aggKeys, aggMeasures, leftJoin)
      }
      .start()
  }

  /** @param aggStateDir as in [[maintainJoinView]]: when set, the view's
    *                    per-trigger changeset also folds into a
    *                    downstream aggregate state table (the streaming
    *                    cascade, batch-id-guarded for torn triggers). */
  def maintainJoinViewTwoSided(spark: SparkSession, cdcDir: String,
      bInitDir: String, viewDir: String, bStateDir: String,
      checkpointDir: String, aKey: String, bKey: String,
      joinKeys: Seq[String], sideCol: String = "side", opCol: String = "op",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1, leftJoin: Boolean = false,
      aggStateDir: Option[String] = None, aggKeys: Seq[String] = Nil,
      aggMeasures: Seq[String] = Nil): StreamingQuery = {
    require(schema.nonEmpty || StateDir.hasParquetData(spark, cdcDir),
      s"maintainJoinViewTwoSided: $cdcDir has no parquet yet — pass " +
        "schema= to start the maintenance query ahead of the CDC producer")
    require(aggStateDir.isEmpty || (aggKeys.nonEmpty && aggMeasures.nonEmpty),
      "maintainJoinViewTwoSided: aggStateDir needs aggKeys and aggMeasures")
    val srcSchema = schema.getOrElse(spark.read.parquet(cdcDir).schema)
    val bCols = spark.read.parquet(bInitDir).columns.toSeq
    val bOnly = bCols.filterNot(joinKeys.contains)
    val aCols = srcSchema.fieldNames.toSeq
      .filterNot(c => c == sideCol || c == opCol || bOnly.contains(c))
    require(aCols.contains(aKey) && bCols.contains(bKey),
      s"maintainJoinViewTwoSided: log/bInit schemas must carry $aKey/$bKey")
    // a LEFT view's unmatched slice is its bKey-IS-NULL slice; a bKey
    // that doubles as a join key is never null on a null-extended row
    // (the join key survives from A), so B-side zero-crossings would be
    // undetectable — reject the shape up front
    require(!leftJoin || !joinKeys.contains(bKey),
      s"maintainJoinViewTwoSided: leftJoin needs a B row key distinct " +
        s"from the join keys (got $bKey ∈ ${joinKeys.mkString(",")}) — " +
        "add a B-side copy of the key column")
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(cdcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        foldTwoSidedBatch(spark, rawBatch, batchId, bInitDir, viewDir,
          bStateDir, aKey, bKey, joinKeys, aCols, bCols, sideCol, opCol,
          leftJoin, aggStateDir, aggKeys, aggMeasures)
      }
      .start()
  }

  /** One [[maintainSnowflakeViewTwoSided]] micro-batch (package-private
    * for the spec's torn-trigger drills). */
  private[streaming] def foldSnowflakeTwoSidedBatch(spark: SparkSession,
      rawBatch: DataFrame, batchId: Long, bInitDir: String, cDir: String,
      v1Dir: String, v2Dir: String, bStateDir: String, aKey: String,
      bKey: String, cKey: String, joinKeysAB: Seq[String],
      joinKeysC: Seq[String], aCols: Seq[String], bCols: Seq[String],
      sideCol: String, opCol: String, leftJoin: Boolean,
      aggStateDir: Option[String], aggKeys: Seq[String],
      aggMeasures: Seq[String], cStateDir: Option[String] = None,
      cCols: Seq[String] = Nil): Unit = {
    val sides = if (cStateDir.nonEmpty) Seq("A", "B", "C") else Seq("A", "B")
    // loud guards: unknown side or op would silently drop a change; the
    // pin forces both guard columns once over the whole batch
    val batch = rawBatch
      .withColumn(sideCol,
        when(col(sideCol).isin(sides: _*), col(sideCol))
          .otherwise(raise_error(concat(
            lit("maintainSnowflakeViewTwoSided: invalid side '"),
            coalesce(col(sideCol), lit("NULL")),
            lit(s"' — expected ${sides.mkString(" or ")}")))))
      .withColumn(opCol,
        when(col(opCol).isin("I", "U", "D"), col(opCol))
          .otherwise(raise_error(concat(
            lit("maintainSnowflakeViewTwoSided: invalid op '"),
            coalesce(col(opCol), lit("NULL")), lit("' — expected I, U or D")))))
      .localCheckpoint()
    val aSide = batch.filter(col(sideCol) === "A")
    val bSide = batch.filter(col(sideCol) === "B")
    val aIns = aSide.filter(col(opCol) =!= "D").select(aCols.map(col): _*)
    val aDel = aSide.filter(col(opCol) =!= "I").select(col(aKey))
    val bIns = bSide.filter(col(opCol) =!= "D").select(bCols.map(col): _*)
    val bDel = bSide.filter(col(opCol) =!= "I").select(col(bKey))
    if (!leftJoin && bSide.filter(col(opCol) =!= "D").limit(1).count() > 0)
      throw new IllegalArgumentException(
        "maintainSnowflakeViewTwoSided: B-side inserts/updates need the " +
          "post-change A table, which an INNER view cannot " +
          "reconstruct (match-less A rows are absent) — maintain a " +
          "LEFT view, or fold B churn through IncrementalJoin" +
          ".applyCdc with a real A snapshot")
    // C′ (only when C churns): same touched-before-add discipline as B′.
    // Level 2 can absorb C INSERTS even though level 1's inner mode
    // rejects B inserts — the level-2 fold's "A snapshot" is the
    // MATERIALIZED V1′, so the reconstruction problem does not exist here
    val cPrev =
      if (cStateDir.exists(d => StateDir.hasParquetData(spark, d)))
        spark.read.parquet(cStateDir.get)
      else spark.read.parquet(cDir)
    val (cIns, cDel, cNew) =
      if (cStateDir.nonEmpty) {
        val cSide = batch.filter(col(sideCol) === "C")
        val ins = cSide.filter(col(opCol) =!= "D").select(cCols.map(col): _*)
        val del = cSide.filter(col(opCol) =!= "I").select(col(cKey))
        val touched = del.unionByName(ins.select(col(cKey))).distinct()
        (ins, del, cPrev.join(touched, Seq(cKey), "left_anti")
          .unionByName(ins).localCheckpoint())
      } else (cPrev.limit(0), cPrev.select(col(cKey)).limit(0), cPrev)
    // B′ from the batch (touched-before-add, replay-idempotent); the
    // fold consumes it, the write lands LAST — see the order note below
    val bPrev =
      if (StateDir.hasParquetData(spark, bStateDir))
        spark.read.parquet(bStateDir)
      else spark.read.parquet(bInitDir)
    val bTouched = bDel.unionByName(bIns.select(col(bKey))).distinct()
    val bNew = bPrev.join(bTouched, Seq(bKey), "left_anti")
      .unionByName(bIns).localCheckpoint()
    val v1 =
      if (StateDir.hasParquetData(spark, v1Dir)) spark.read.parquet(v1Dir)
      else if (leftJoin) IncrementalJoin.joinStateLeft(aIns.limit(0), bPrev, joinKeysAB)
      else IncrementalJoin.joinState(aIns.limit(0), bPrev, joinKeysAB)
    // A′ from the left view's own A-slice + the batch's A ops (identical
    // on a torn-trigger replay — the touched-key anti strips replayed
    // inserts before re-adding them); inner mode never consults it
    val aTouched = aDel.unionByName(aIns.select(col(aKey))).distinct()
    val aSnap =
      if (leftJoin)
        v1.select(aCols.map(col): _*).dropDuplicates(aKey)
          .join(aTouched, Seq(aKey), "left_anti")
          .unionByName(aIns)
      else aIns.limit(0)
    // level 1: BOTH sides fold in one pass and the changeset surfaces —
    // B churn's fan-out (payload updates, dead-key and first-insert
    // zero-crossings in left mode) rides vd1 exactly like A churn's
    val vd1 =
      if (leftJoin) IncrementalJoin.applyCdcLeftWithDelta(v1, aKey, bKey,
        joinKeysAB, aIns, aDel, bIns, bDel, aSnap, bNew)
      else IncrementalJoin.applyCdcWithDelta(v1, aKey, bKey, joinKeysAB,
        aIns, aDel, bIns, bDel, aSnap, bNew)
    val pinned1 = vd1.view.localCheckpoint()
    // level 2: V1's delta IS the A-side CDC, keyed by the composite
    // (aKey, bKey) struct (null-safe field-wise — left mode's
    // null-extended rows carry a NULL bKey field); the C-side CDC is
    // empty unless cStateDir opted C into the log
    val abKey = struct(col(aKey), col(bKey)).as("__ab_key")
    val v2 =
      if (StateDir.hasParquetData(spark, v2Dir)) spark.read.parquet(v2Dir)
      else IncrementalJoin.joinState(v1.select(abKey, col("*")), cPrev, joinKeysC)
    val vd2 = IncrementalJoin.applyCdcWithDelta(v2, "__ab_key", cKey,
      joinKeysC,
      vd1.inserted.select(abKey, col("*")), vd1.deleted.select(abKey),
      cIns, cDel,
      pinned1.select(abKey, col("*")), cNew)
    val pinned2 = vd2.view.localCheckpoint()
    // write order: agg → V2 → V1 → B′ → C′. vd1 is a function of (V1
    // state, B′ state, batch) and vd2 additionally of (V2 state, C′
    // state), so every state a delta READS must land after every
    // CONSUMER of that delta has committed: a crash before the V1 write
    // replays against the pre-fold V1/B′ and recomputes the ORIGINAL
    // delta (the agg guard skips, the V2 fold is anti-then-add
    // idempotent); a crash between the V1 and B′ writes replays against
    // the post-fold V1, whose recomputed delta retracts-and-rederives
    // exactly the touched keys' CURRENT rows (the fold's touched-key
    // contract), so the replayed V2 fold re-adds what V2 already holds —
    // a no-op. The same argument covers a crash before the C′ write: the
    // replayed C churn retracts-and-rederives its touched join keys from
    // V1′ ⋈ C′-recomputed, which is what V2 already holds. Writing B′
    // (or C′) before V1 (or V2) would be WRONG: a replay against
    // pre-fold view + post-fold dimension sees no churn for the touched
    // keys, so dead-key zero-crossings (level 1) or C-delete retractions
    // (level 2) would never re-fire and the views would keep stale rows.
    aggStateDir.foreach(dir =>
      cascadeAggFold(spark, vd2.copy(view = pinned2), v2, dir,
        aggKeys, aggMeasures, batchId, batchSignature(batch)))
    pinned2.write.mode("overwrite").parquet(v2Dir)
    pinned1.write.mode("overwrite").parquet(v1Dir)
    bNew.write.mode("overwrite").parquet(bStateDir)
    cStateDir.foreach(d => cNew.write.mode("overwrite").parquet(d))
  }

  /** Streaming two-sided SNOWFLAKE maintenance — (A ⋈ B) ⋈ C per
    * micro-batch where ONE op+side-tagged CDC log churns BOTH A and B:
    * the level-1 fold ([[IncrementalJoin.applyCdcLeftWithDelta]] /
    * `applyCdcWithDelta`) absorbs both sides' changes and its surfaced
    * changeset drives the level-2 fold against the C dimension,
    * optionally cascading into a downstream aggregate state table — the
    * deepest maintenance shape in the matrix (two-sided join → join →
    * agg), bases never re-joined and A never materialized. C is static
    * by default; pass `cStateDir` to let the SAME log churn C too
    * (side = "C"), maintained as its own state table like B′ — C
    * INSERTS are fine even though level 1's inner mode rejects B
    * inserts, because the level-2 fold's "A snapshot" is the
    * materialized V1′. Inner mode
    * rejects B-side inserts/updates loudly (A′ is unrecoverable from an
    * inner view); left mode reconstructs A′ from the view's own A-slice
    * as [[maintainJoinViewTwoSided]] does, and B-side zero-crossings
    * cascade through level 2 as composite-key deletes+inserts whose NULL
    * bKey fields ride Spark's field-wise null-safe struct equality.
    * Column contract: the log is the op-tagged UNION shape (A rows null
    * the B-only columns and vice versa; join keys shared), and V1's
    * columns (A ∪ B) and C's are disjoint apart from `joinKeysC`.
    * Torn-trigger: the agg → V2 → V1 → B′ write order (see
    * [[foldSnowflakeTwoSidedBatch]]) makes every crash point replay
    * exactly. */
  def maintainSnowflakeViewTwoSided(spark: SparkSession, cdcDir: String,
      bInitDir: String, cDir: String, v1Dir: String, v2Dir: String,
      bStateDir: String, checkpointDir: String, aKey: String, bKey: String,
      cKey: String, joinKeysAB: Seq[String], joinKeysC: Seq[String],
      sideCol: String = "side", opCol: String = "op",
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      maxFilesPerTrigger: Int = 1, leftJoin: Boolean = false,
      aggStateDir: Option[String] = None, aggKeys: Seq[String] = Nil,
      aggMeasures: Seq[String] = Nil,
      cStateDir: Option[String] = None): StreamingQuery = {
    require(schema.nonEmpty || StateDir.hasParquetData(spark, cdcDir),
      s"maintainSnowflakeViewTwoSided: $cdcDir has no parquet yet — pass " +
        "schema= to start the maintenance query ahead of the CDC producer")
    require(aggStateDir.isEmpty || (aggKeys.nonEmpty && aggMeasures.nonEmpty),
      "maintainSnowflakeViewTwoSided: aggStateDir needs aggKeys and aggMeasures")
    val srcSchema = schema.getOrElse(spark.read.parquet(cdcDir).schema)
    val bCols = spark.read.parquet(bInitDir).columns.toSeq
    val bOnly = bCols.filterNot(joinKeysAB.contains)
    // when C churns, its columns ride the log too — C-only columns (the
    // C join keys live on V1's B side already) must not leak into aCols
    val cCols =
      if (cStateDir.nonEmpty) spark.read.parquet(cDir).columns.toSeq
      else Nil
    val cOnly = cCols.filterNot(joinKeysC.contains)
    val aCols = srcSchema.fieldNames.toSeq
      .filterNot(c => c == sideCol || c == opCol || bOnly.contains(c)
        || cOnly.contains(c))
    require(aCols.contains(aKey) && bCols.contains(bKey),
      s"maintainSnowflakeViewTwoSided: log/bInit schemas must carry $aKey/$bKey")
    // same shape rejection as maintainJoinViewTwoSided: a join-key-valued
    // bKey is never null on a null-extended row, so B-side
    // zero-crossings would be undetectable
    require(!leftJoin || !joinKeysAB.contains(bKey),
      s"maintainSnowflakeViewTwoSided: leftJoin needs a B row key distinct " +
        s"from the join keys (got $bKey ∈ ${joinKeysAB.mkString(",")}) — " +
        "add a B-side copy of the key column")
    spark.readStream
      .schema(srcSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(cdcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        foldSnowflakeTwoSidedBatch(spark, rawBatch, batchId, bInitDir,
          cDir, v1Dir, v2Dir, bStateDir, aKey, bKey, cKey, joinKeysAB,
          joinKeysC, aCols, bCols, sideCol, opCol, leftJoin, aggStateDir,
          aggKeys, aggMeasures, cStateDir, cCols)
      }
      .start()
  }

}
