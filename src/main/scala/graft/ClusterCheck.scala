package graft

import org.apache.spark.sql.SparkSession

/** Executor-JVM serialization proof: run the serialization-critical slice
  * of the inventory twice — once on in-process `local[4]`, once on
  * `local-cluster[2,2,1536]` (REAL executor processes) — and require
  * bit-identical collected results.
  *
  * `local[...]` structurally hides a whole failure class: task binaries,
  * broadcast handles (BloomMightContain's `Broadcast` field,
  * SignProjection's plane matrix), and TypedImperativeAggregate partial
  * buffers (TopKAgg / MinHashAgg / SimHashAgg / KmvDistinctAgg) never
  * cross a process boundary, so a non-serializable capture or a
  * serialize/deserialize asymmetry would only surface on a real cluster.
  * local-cluster is the single-machine rehearsal: separate executor JVMs,
  * real task/result/broadcast/shuffle serialization, no new infra.
  *
  * Run via `ClusterCheckSpec` (which spawns this in its own JVM — one
  * SparkContext per JVM) or directly:
  * `sbt "runMain graft.ClusterCheck /root/testdata/sf0.001"`.
  * Exits nonzero on any mismatch. The FULL inventory proof is
  * `SPARK_GRAFT_MASTER=local-cluster[2,4,2048] runMain graft.Verify ...`
  * + tools/compare.py (see SCALING.md).
  */
object ClusterCheck {

  /** Queries whose plans ship custom serialized state to executors:
    * every custom expression/aggregate family, the broadcast-carrying
    * shared stages, mapPartitions decode, and the driver-coordinated
    * two-phase ops. */
  val focus: Seq[String] = Seq(
    "q_decontaminate_bloom",      // BloomMightContain: Broadcast handle in an expression
    "q_sim_lsh",                  // SignProjection: plane matrix in an expression
    "q_sim_lsh_indexed",          // + dynamic-partition index write from executors
    "q_sim_ivf",                  // centroid fit + broadcast probe
    "q_sim_topk_batch",           // TopKAgg partial buffers across the exchange
    "q_sample_cap_source",        // TopKAgg via capPerGroup
    "q_dedup_minhash",            // MinHashAgg buffers
    "q_dedup_simhash",            // SimHashAgg buffers
    "q_agg_approx_distinct_kmv",  // KmvDistinctAgg buffers
    "q_dedup_clusters",           // union-find fast path / label propagation
    "q_dedup_embed",              // size-gated broadcast cosine kernel
    "q_text_entropy",             // StaticInvoke into library code on executors
    "q_multimodal",               // mapPartitions + javax.imageio on executors
    "q_pack_sequences",           // two-phase distributed prefix sum
    "q_join_skew",                // salted join
    "q_join_asof",                // union + window carry-forward
    "q_sim_pq",                   // PQ code exprs + integer LUT literal on executors
    "q_sim_pq_indexed",           // + executor-side code-table write, fingerprint check
    "q_text_classify",            // TextClassifier StaticInvoke + per-JVM weight cache
    "q_join_range_capped",        // MinKByAgg row-heap buffers across the exchange (r6)
    "q_scan_partition_prune",     // executor dynamic-partition write + pruned read (r6)
    "q_sim_recall_report",        // composes 4 retrieval plans + left-semi audits (r6)
    "q_events_funnel",            // cascaded keyed min-aggs + exact µs sums (r6)
    "q_text_perplexity",          // shared persisted bigram stage read by 3 consumers (r6)
    "q_graph_pagerank",           // iterative persist-swap ranks across executors (r6)
    "q_sample_weighted",          // NeutralHash ln(u)/w key through TakeOrdered heaps (r6)
    "q_cdc_diff",                 // full-outer SMJ diff markers across executors (r6c)
    "q_events_sessionize",        // shared-exchange window pair + keyed session agg (r6c)
    "q_profile_columns",          // Expand-based multi-distinct agg + struct-array pivot (r6c)
    "q_text_bm25",                // TopKAgg heaps fed by broadcast probe/const frames (r6c)
    "q_join_interval",            // double-sided bin explode + canonical-bin dedup (r6c)
    "q_join_fuzzy_qgram",         // rare-gram prefix arrays + broadcast df + short fallback (r7)
    "q_layout_zorder",            // 32-term bit interleave in codegen on executors (r6c)
    "q_join_fuzzy",               // DeletionVariants StaticInvoke explode across JVMs (r6d)
    "q_join_sorted_neighborhood", // prefix-sum offsets broadcast + mapPartitions rank (r6d)
    "q_sketch_cms",               // cwSlot StaticInvoke + counter-grid broadcast join (r6d)
    "q_events_paths",             // MinKByAgg row-heap buffers across the user exchange (r6d)
    "q_join_bucketed",            // executor-side bucketed table write + bucket-aware scan (r6d)
    "q_text_bm25_indexed",        // executor-side postings write + pruned probe + TopKAgg (r6d)
    "q_multimodal_frames",        // mapPartitions byte slicing across executor JVMs (r6d)
    "q_graph_triangles",          // persisted oriented edges + literal re-frame (r6d)
    "q_text_tfidf_pairs",         // weighted inverted self-join across executors (r6d)
    "q_join_jarowinkler",         // JaroWinkler StaticInvoke on executor JVMs (r6d)
    "q_join_snm_multipass",       // unioned two-phase ranks: intrinsic partition ids (r6d)
    "q_profile_outliers_mad",     // null-safe broadcast fence joins across JVMs (r6d)
    "q_text_bm25_index_refresh",  // executor-side postings append + vocab merge + consts delta (r7)
    "q_sim_ivf_index_refresh",    // bit-exact centroid sidecar read + append assignment (r7)
    "q_scan_csvq_roundtrip",      // OpenCSVSerde quote/escape write+read across executors (r7)
    "q_sketch_kmv_setops",        // KmvSketchAgg ARRAY eval + decimal array ops across JVMs (r8)
    "q_stat_ks",                  // two-phase CDF prefix sum: offsets broadcast to executors (r8)
    "q_search_prf",               // three-pass tf reuse + TopKAgg heaps + decimal fusion (r8)
    "q_agg_incremental_merge",    // decimal state union-merge across real executor JVMs (r8)
    "q_graph_jaccard_topk",       // MinKByAgg pair-form heaps over the wedge exchange (r9)
    "q_tpch21_bucketed",          // executor-side bucketed fact write + exchange-free SMJs (r9)
    "q_feature_latest",           // struct-max latest-state agg across executor JVMs (r9)
    "q_ml_logreg_train",          // compact-loop: HOF margin fold + dense weight-array literal
                                  // + decimal grad collect, per-iteration, across JVMs (r9)
    "q_join_setsim",              // eager strategy profile + HOF drop-one lambda + xxhash64
                                  // over token arrays + assert_true guard across JVMs (r10)
    "q_cdc_view_cascade",         // join-delta routing (semi/anti legs) feeding decimal
                                  // agg-state retraction across executor JVMs (r10)
    "q_stat_trend",               // exact decimal co-moment partials merged across JVMs,
                                  // then the fixed-order IEEE closed form (r10)
    "q_cdc_incremental_left",     // null-extended slice unions + dead-key survival
                                  // probes across executor JVMs (r10)
    "q_join_setsim_stratified",   // dynamic hot-cluster recursion: per-level lazy
                                  // localCheckpoint RDDs + driver census loop over
                                  // executor-held pins (r12)
    "q_cdc_snowflake",            // struct composite row keys through hinted
                                  // broadcast anti/semi probes, two stacked delta
                                  // folds across executor JVMs (r12)
    "q_cdc_snowflake_agg",        // the three-level tree: level-2 ViewDelta rows
                                  // (struct key + measures) feeding the decimal
                                  // agg-state merge across executor JVMs (r12)
    "q_cdc_snowflake_left",       // NULL-field struct keys through the level-2
                                  // anti/semi probes (field-wise null-safe struct
                                  // equality under executor serialization) (r12)
  )

  private def runAll(master: String, sfDir: String): Map[String, Seq[String]] = {
    val b = graft.run.GraftSession.builder(master, 8)
    // SPARK_GRAFT_SERIALIZER=kryo proves the serializer clusterConf
    // advertises for deployments round-trips every custom buffer,
    // broadcast value, and task closure across executor JVMs too
    val spark = (sys.env.get("SPARK_GRAFT_SERIALIZER") match {
      case Some("kryo") => b.config("spark.serializer",
        "org.apache.spark.serializer.KryoSerializer")
      case _ => b
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try focus.map { name =>
      name -> SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
    }.toMap
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val clusterMaster =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,2,1536]")
    val expected = runAll("local[4]", sfDir)
    val actual = runAll(clusterMaster, sfDir)
    var failed = 0
    focus.foreach { name =>
      val (e, a) = (expected(name), actual(name))
      if (e == a) println(s"[clustercheck] OK $name (${e.size} rows)")
      else {
        failed += 1
        val firstDiff = e.zipAll(a, "<missing>", "<extra>")
          .find { case (x, y) => x != y }
        System.err.println(s"[clustercheck] MISMATCH $name: " +
          s"local=${e.size} rows cluster=${a.size} rows, first diff: $firstDiff")
      }
    }
    if (failed > 0) { System.err.println(s"[clustercheck] $failed FAILED"); sys.exit(1) }
    println(s"CLUSTERCHECK_OK queries=${focus.size} master=$clusterMaster")
  }
}
