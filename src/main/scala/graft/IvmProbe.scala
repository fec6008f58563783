package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.meta.MetaJson.quote

/** Measurement harness for the incremental-join-maintenance claim
  * (BASELINE.md): given a materialized fact⋈fact view on disk and a
  * small per-side changeset, `IncrementalJoin.applyCdc` must beat the
  * from-scratch re-join — the delta fold replaces the full shuffle join
  * of the two fact tables with scans + broadcast-sized delta joins.
  *
  * Fixture: lineitem (A, row key = l_orderkey·8 + l_linenumber) ⋈ orders
  * (B, keyed by the join key o_orderkey — the row-key==join-key shape).
  * Changes: `deltaPct`% of lineitem rows payload-updated (del+ins, same
  * row key) and a quarter as many orders rows updated — both sides fire,
  * including the aSnapshot probe path (semi-pruned by ΔB's join keys).
  *
  * Both paths end in `.count()` over the complete new view, so the
  * numbers compare the JOIN MACHINERY (delta fold vs full shuffle join)
  * at identical output; the storage-side win (tombstones vs full
  * rewrite) is a separate, additive effect not measured here. Reps are
  * reported individually — rep0 carries JIT/readahead warmup (the
  * BASELINE.md measurement discipline).
  *
  * The LEFT mode measures [[IncrementalJoin.applyCdcLeft]] against the
  * from-scratch left re-join on a fixture where every extra probe is
  * LIVE: the base B is given a key gap (so the initial view carries
  * null-extended rows), half the deleted B keys are never re-inserted
  * (dead-key zero-crossings — orders is unique per o_orderkey, so a
  * delete IS the key's last row), and some A updates land in the gap
  * (insert-unmatched probe).
  *
  * The SNOWFLAKE mode measures the two-level cascade — level 1's
  * `applyCdcWithDelta` driving level 2's `applyCdc` (the
  * q_cdc_snowflake shape: lineitem ⋈ orders, then ⋈ customer on
  * o_custkey, C static) — against the from-scratch rebuild of BOTH
  * views, counting both on each path (production materializes both).
  * V1's row key stays l_rowid (orders is unique per o_orderkey, so the
  * level-1 join preserves uniqueness — no composite needed for the
  * measurement).
  *
  * The SNOWLEFT mode is the OUTER twin — (A LEFT B) ⋈ C, the
  * q_cdc_snowflake_left shape: level 1 is the left fixture (B key gap,
  * dead-key zero-crossings, insert-unmatched probes all live) folded by
  * `applyCdcLeftWithDelta`, whose changeset — zero-crossing transitions
  * riding as same-key delete+insert pairs — drives the level-2 inner
  * fold against static C. Partnerless V1 rows carry NULL o_custkey and
  * drop out of level 2 on both paths.
  *
  * Usage: `runMain graft.IvmProbe <sfDir> [deltaPct] [reps] [inner|left|both|snowflake|snowleft]`
  */
object IvmProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val deltaPct = if (args.length > 1) args(1).toInt else 1
    val reps = if (args.length > 2) args(2).toInt else 3
    val mode = if (args.length > 3) args(3) else "inner"
    require(Set("inner", "left", "both", "snowflake", "snowleft")(mode),
      s"mode must be inner|left|both|snowflake|snowleft (got $mode)")
    // non-divisors would silently shift the ACTUAL updated fraction
    // (mod = 100/deltaPct truncates) while the JSON reported the request
    require(deltaPct >= 1 && deltaPct <= 50 && 100 % deltaPct == 0,
      s"deltaPct must divide 100 (got $deltaPct) so the reported " +
        "fraction is the applied one")
    val spark = graft.run.GraftSession.fromEnv()
    import graft.operators.IncrementalJoin

    val joinKeys = Seq("o_orderkey")
    // the A-side row key must honor applyCdc's uniqueness contract —
    // GenData's (l_orderkey, l_linenumber) pairs COLLIDE (independent
    // hashes of the row id; ~24% of sf0.01 rows share a composite), so
    // the key is minted fresh at staging time and all consumers read the
    // STAGED table, never re-derive it
    def lineitemRaw: DataFrame = sources.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity"), col("l_extendedprice"))
      .withColumn("l_rowid", monotonically_increasing_id())
      .select("l_rowid", "o_orderkey", "l_quantity", "l_extendedprice")
    def orders: DataFrame = sources.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

    // STAGE every input to parquet first — in deployment the CDC batch
    // and the post-change snapshots are GIVEN (landed by the ingest
    // pipeline), and the view exists; deriving them inline would bill
    // repeated base-table scans to the maintenance path that it never
    // pays in production. The timed section below reads everything from
    // disk on both paths.
    val root = java.nio.file.Files.createTempDirectory("graft-ivmprobe").toString
    // staging leaves multi-GB behind at sf10 — anything that throws from
    // here on (the staging requires, a rep row-count mismatch, any Spark
    // failure) must still drop the dir, hence the try/finally around the
    // whole staged lifetime
    try {
    def rd(name: String): DataFrame = spark.read.parquet(s"$root/$name")
    val mod = 100 / deltaPct
    // stage the keyed A base FIRST and derive everything from the staged
    // copy — monotonically_increasing_id is only stable within one write
    lineitemRaw.write.parquet(s"$root/a_base")
    def lineitem: DataFrame = rd("a_base")
    val (nA, nAk) = (lineitem.count(),
      lineitem.select("l_rowid").distinct().count())
    require(nA == nAk, s"staged row key not unique: $nA rows, $nAk keys")
    val stage = Map(
      "view" -> IncrementalJoin.joinState(lineitem, orders, joinKeys),
      "a_del" -> lineitem.filter(col("l_rowid") % mod === 0).select("l_rowid"),
      "a_ins" -> lineitem.filter(col("l_rowid") % mod === 0)
        .withColumn("l_quantity", col("l_quantity") + 100.0),
      "b_del" -> orders.filter(col("o_orderkey") % (mod * 4) === 0)
        .select("o_orderkey"),
      "b_ins" -> orders.filter(col("o_orderkey") % (mod * 4) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0),
      "a_new" -> lineitem.filter(col("l_rowid") % mod =!= 0).unionByName(
        lineitem.filter(col("l_rowid") % mod === 0)
          .withColumn("l_quantity", col("l_quantity") + 100.0)),
      "b_new" -> orders.filter(col("o_orderkey") % (mod * 4) =!= 0).unionByName(
        orders.filter(col("o_orderkey") % (mod * 4) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 10.0)))
    stage.foreach { case (name, df) => df.write.parquet(s"$root/$name") }

    if (mode == "snowflake") {
      // snowflake staging: orders re-staged WITH the C join key (kept
      // out of the inner/left fixtures so their measured bytes stay
      // comparable with the recorded ledger numbers), customer as the
      // static C dimension keyed by a B-side row-key copy
      def bSnow: DataFrame = sources.Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def cBase: DataFrame = sources.Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_custkey").as("c_rowid"), col("c_acctbal"))
      bSnow.write.parquet(s"$root/b_snow")
      cBase.write.parquet(s"$root/c_base")
      val v1 = IncrementalJoin.joinState(lineitem, rd("b_snow"), joinKeys)
      v1.write.parquet(s"$root/view1_snow")
      IncrementalJoin.joinState(rd("view1_snow"), rd("c_base"),
        Seq("o_custkey")).write.parquet(s"$root/view2_snow")
    }

    if (mode == "snowleft") {
      // outer-snowflake staging: the left fixture's B key gap (every
      // 50th key missing → live null-extended V1 rows) PLUS the C join
      // key; B churn where only half the deleted keys return (dead-key
      // zero-crossings). C is the static level-2 dimension keyed on
      // o_custkey — partnerless V1 rows carry it as NULL and sit only
      // in V1. V1's row key stays l_rowid: a left join against a
      // per-key-unique B emits exactly one row per A row, matched or
      // null-extended, so the level-2 A-side uniqueness contract holds.
      def bSL: DataFrame = sources.Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .filter(col("o_orderkey") % 50 =!= 1)
        .withColumn("o_rowid", col("o_orderkey"))
      def cBase: DataFrame = sources.Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_custkey").as("c_rowid"), col("c_acctbal"))
      bSL.write.parquet(s"$root/b_sl")
      cBase.write.parquet(s"$root/c_base_sl")
      def bSLr: DataFrame = rd("b_sl")
      Map(
        "b_del_sl" -> bSLr.filter(col("o_orderkey") % (mod * 4) === 0)
          .select("o_rowid"),
        "b_ins_sl" -> bSLr.filter(col("o_orderkey") % (mod * 8) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 10.0),
        "b_new_sl" -> bSLr.filter(col("o_orderkey") % (mod * 4) =!= 0)
          .unionByName(bSLr.filter(col("o_orderkey") % (mod * 8) === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 10.0))
      ).foreach { case (name, df) => df.write.parquet(s"$root/$name") }
      IncrementalJoin.joinStateLeft(lineitem, rd("b_sl"), joinKeys)
        .write.parquet(s"$root/view1_sl")
      IncrementalJoin.joinState(rd("view1_sl"), rd("c_base_sl"),
        Seq("o_custkey")).write.parquet(s"$root/view2_sl")
      val nullExt = rd("view1_sl").filter(col("o_rowid").isNull).count()
      require(nullExt > 0, "snowleft fixture must carry live null-extended rows")
    }

    if (mode != "inner" && mode != "snowflake" && mode != "snowleft") {
      // left-mode fixture: B loses every 50th key up front (the initial
      // view carries that gap null-extended, and A updates landing in it
      // exercise the insert-unmatched probe); of the churned B keys only
      // HALF come back, so the other half are dead-key zero-crossings —
      // orders is unique per o_orderkey, making each such delete the
      // key's last row. The B row key must be a B-SIDE column distinct
      // from the join key (the unmatched slice is the view's
      // bKey-IS-NULL slice, and the join key survives from A), hence
      // o_rowid — a copy of o_orderkey living only on B.
      def bLeft: DataFrame = orders.filter(col("o_orderkey") % 50 =!= 1)
        .withColumn("o_rowid", col("o_orderkey"))
      val stageLeft = Map(
        "view_left" -> IncrementalJoin.joinStateLeft(lineitem, bLeft, joinKeys),
        "b_del_left" -> bLeft.filter(col("o_orderkey") % (mod * 4) === 0)
          .select("o_rowid"),
        "b_ins_left" -> bLeft.filter(col("o_orderkey") % (mod * 8) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 10.0),
        "b_new_left" -> bLeft.filter(col("o_orderkey") % (mod * 4) =!= 0)
          .unionByName(bLeft.filter(col("o_orderkey") % (mod * 8) === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 10.0)))
      stageLeft.foreach { case (name, df) => df.write.parquet(s"$root/$name") }
      val nullExt = rd("view_left").filter(col("o_rowid").isNull).count()
      require(nullExt > 0, "left fixture must carry live null-extended rows")
    }

    // wall-clock alone misleads here: on one box the shuffle is a local
    // file copy, so the fold's extra view-scan bytes mask the claim that
    // matters on a cluster — WHAT CROSSES THE NETWORK. Track shuffle
    // write volume per timed section; at 1000 executors that volume is
    // the bottleneck term.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleRecs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          }
        }
      })

    def time(f: => Long): (Double, Long, Double, Long) = {
      // listener events are async (no public drain API); poll until the
      // counters stop moving — fine for a measurement tool
      def settle(): Unit = {
        var prev = -1L
        while (prev != shuffleBytes.get + shuffleRecs.get) {
          prev = shuffleBytes.get + shuffleRecs.get
          Thread.sleep(300)
        }
      }
      settle()
      val (b0, r0) = (shuffleBytes.get, shuffleRecs.get)
      val t0 = System.nanoTime()
      val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      settle()
      (sec, n, (shuffleBytes.get - b0) / 1e6, shuffleRecs.get - r0)
    }

    val out = new StringBuilder
    out.append(s"""{"probe":"ivm","sf_dir":${quote(sfDir)},"delta_pct":$deltaPct,"mode":"$mode"""")
    (0 until reps).foreach { r =>
      if (mode == "inner" || mode == "both") {
        val (tScratch, nScratch, mbScratch, rcScratch) = time(
          IncrementalJoin.joinState(rd("a_new"), rd("b_new"), joinKeys).count())
        val (tMaint, nMaint, mbMaint, rcMaint) = time(
          IncrementalJoin.applyCdc(rd("view"),
            "l_rowid", "o_orderkey", joinKeys,
            rd("a_ins"), rd("a_del"), rd("b_ins"), rd("b_del"),
            rd("a_new"), rd("b_new")).count())
        require(nScratch == nMaint,
          s"row mismatch: scratch=$nScratch maintained=$nMaint")
        out.append(
          f""","rep$r":{"scratch_sec":$tScratch%.2f,"scratch_shuffle_mb":$mbScratch%.1f,"scratch_shuffle_rows":$rcScratch,""" +
          f""""maintained_sec":$tMaint%.2f,"maintained_shuffle_mb":$mbMaint%.1f,"maintained_shuffle_rows":$rcMaint,"rows":$nMaint}""")
      }
      if (mode == "snowflake") {
        // scratch = rebuild BOTH views from the post-change snapshots;
        // fold = level-1 applyCdcWithDelta driving level-2 applyCdc,
        // both maintained views counted (production writes both)
        val (tScratch, nScratch, mbScratch, rcScratch) = time {
          val v1s = IncrementalJoin.joinState(rd("a_new"), rd("b_snow"),
            joinKeys)
          val v2s = IncrementalJoin.joinState(v1s, rd("c_base"),
            Seq("o_custkey"))
          v1s.count() + v2s.count()
        }
        val (tMaint, nMaint, mbMaint, rcMaint) = time {
          val c = rd("c_base")
          val vd1 = IncrementalJoin.applyCdcWithDelta(rd("view1_snow"),
            "l_rowid", "o_orderkey", joinKeys,
            rd("a_ins"), rd("a_del"),
            rd("b_snow").limit(0), rd("b_snow").select("o_orderkey").limit(0),
            rd("a_new"), rd("b_snow"))
          val v2m = IncrementalJoin.applyCdc(rd("view2_snow"),
            "l_rowid", "c_rowid", Seq("o_custkey"),
            vd1.inserted, vd1.deleted.select("l_rowid"),
            c.limit(0), c.select("c_rowid").limit(0),
            vd1.view, c)
          vd1.view.count() + v2m.count()
        }
        require(nScratch == nMaint,
          s"snowflake row mismatch: scratch=$nScratch maintained=$nMaint")
        out.append(
          f""","snow_rep$r":{"scratch_sec":$tScratch%.2f,"scratch_shuffle_mb":$mbScratch%.1f,"scratch_shuffle_rows":$rcScratch,""" +
          f""""maintained_sec":$tMaint%.2f,"maintained_shuffle_mb":$mbMaint%.1f,"maintained_shuffle_rows":$rcMaint,"rows":$nMaint}""")
      }
      if (mode == "snowleft") {
        // outer twin of the snowflake rep: scratch rebuilds BOTH views
        // (left then inner) from the post-change snapshots; the fold is
        // applyCdcLeftWithDelta's changeset — zero-crossings riding as
        // same-key delete+insert pairs — driving the level-2 inner fold.
        // The null-extended-survival probe certifies the left slice
        // stayed live through the fold, same as the plain left reps.
        val (tScratch, nScratch, mbScratch, rcScratch) = time {
          val v1s = IncrementalJoin.joinStateLeft(rd("a_new"),
            rd("b_new_sl"), joinKeys)
          val v2s = IncrementalJoin.joinState(v1s, rd("c_base_sl"),
            Seq("o_custkey"))
          v1s.count() + v2s.count()
        }
        var maintainedV1: DataFrame = null
        val (tMaint, nMaint, mbMaint, rcMaint) = time {
          val c = rd("c_base_sl")
          val vd1 = IncrementalJoin.applyCdcLeftWithDelta(rd("view1_sl"),
            "l_rowid", "o_rowid", joinKeys,
            rd("a_ins"), rd("a_del"), rd("b_ins_sl"), rd("b_del_sl"),
            rd("a_new"), rd("b_new_sl"))
          val v2m = IncrementalJoin.applyCdc(rd("view2_sl"),
            "l_rowid", "c_rowid", Seq("o_custkey"),
            vd1.inserted, vd1.deleted.select("l_rowid"),
            c.limit(0), c.select("c_rowid").limit(0),
            vd1.view, c)
          maintainedV1 = vd1.view
          vd1.view.count() + v2m.count()
        }
        require(nScratch == nMaint,
          s"snowleft row mismatch: scratch=$nScratch maintained=$nMaint")
        val nNull = maintainedV1.filter(col("o_rowid").isNull).count()
        require(nNull > 0, "snowleft view lost its null-extended slice")
        out.append(
          f""","snowleft_rep$r":{"scratch_sec":$tScratch%.2f,"scratch_shuffle_mb":$mbScratch%.1f,"scratch_shuffle_rows":$rcScratch,""" +
          f""""maintained_sec":$tMaint%.2f,"maintained_shuffle_mb":$mbMaint%.1f,"maintained_shuffle_rows":$rcMaint,"rows":$nMaint,"null_extended":$nNull}""")
      }
      if (mode == "left" || mode == "both") {
        // same count()-terminal discipline as the inner reps; the
        // null-extended slice is counted separately so the report
        // certifies the zero-crossing paths actually carried rows
        val (tScratch, nScratch, mbScratch, rcScratch) = time(
          IncrementalJoin.joinStateLeft(
            rd("a_new"), rd("b_new_left"), joinKeys).count())
        val maintained = IncrementalJoin.applyCdcLeft(rd("view_left"),
          "l_rowid", "o_rowid", joinKeys,
          rd("a_ins"), rd("a_del"), rd("b_ins_left"), rd("b_del_left"),
          rd("a_new"), rd("b_new_left"))
        val (tMaint, nMaint, mbMaint, rcMaint) = time(maintained.count())
        require(nScratch == nMaint,
          s"left row mismatch: scratch=$nScratch maintained=$nMaint")
        val nNull = maintained.filter(col("o_rowid").isNull).count()
        require(nNull > 0, "left view lost its null-extended slice")
        out.append(
          f""","left_rep$r":{"scratch_sec":$tScratch%.2f,"scratch_shuffle_mb":$mbScratch%.1f,"scratch_shuffle_rows":$rcScratch,""" +
          f""""maintained_sec":$tMaint%.2f,"maintained_shuffle_mb":$mbMaint%.1f,"maintained_shuffle_rows":$rcMaint,"rows":$nMaint,"null_extended":$nNull}""")
      }
    }
    out.append("}")
    println(out.result())
    } finally {
      // the staged copies are multi-GB at sf10 — drop them however the
      // run ends (ADVICE r10: the requires above used to leak the dir)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      spark.stop()
    }
  }
}
