package graft.streaming

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Streaming == batch equivalence on the same files: the point of declaring
  * operators once (SURVEY §2.J). Runs Trigger.AvailableNow to drain. */
class EventStreamsSpec extends SparkTestBase {

  private lazy val stream = EventStreams.readEvents(spark, sf())
  private lazy val batch = Tables.load(spark, sf(), "events")

  test("stream-static dimension join equals the batch join") {
    // dim deliberately covers only HALF the users so the LEFT join's
    // null-tier branch is exercised — a regression to inner would drop
    // the unmatched purchases and fail the equivalence below
    val dim = batch.select("user_id").distinct()
      .filter(col("user_id") % 2 === 0)
      .withColumn("tier", when(col("user_id") % 3 === 0, "gold").otherwise("std"))
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.enrichWithDimension(stream, dim), "t_dimjoin",
      outputMode = "append")
    val b = batch.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .join(dim, Seq("user_id"), "left")
    assert(s.count() > 0, "no enriched rows — fixture should contain purchases")
    assert(s.filter(col("tier").isNull).count() > 0,
      "no unmatched purchases — the left-join branch is untested")
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("tumbling window streaming result equals batch result") {
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.tumblingCounts(stream), "t_tumbling", outputMode = "complete")
    val b = batch.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("session window streaming result equals batch result") {
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.sessionCounts(stream), "t_session", outputMode = "complete")
    val b = batch.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"))
      .select(col("user_id"), col("session_start"), col("n_events"))
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("stream-stream interval join equals the batch join") {
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.purchaseSignupJoin(stream), "t_ssjoin", outputMode = "append")
    val p = batch.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val g = batch.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    val b = p.join(g, col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "user_id", "p_ts", "signup_id", "s_ts")
    assert(s.count() > 0, "no joined rows — fixture should contain matches")
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("mapGroupsWithState running totals equal the batch aggregate") {
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.userRunningTotals(stream), "t_state", outputMode = "update")
    // final state per user == plain batch groupBy
    val expected = batch.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
    val got = s.groupBy("user_id")
      .agg(max("n_events").as("n_events"))
      .join(expected.select("user_id", "n_events"), Seq("user_id", "n_events"))
    assert(got.count() == expected.count(),
      "per-user event counts from stateful op diverge from batch")
  }

  test("watermark dedup drops duplicate event_ids in streaming mode") {
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.dedupEvents(stream), "t_dedup", outputMode = "append")
    // fixture event_ids are unique, so dedup must be a no-op w.r.t. count
    assert(s.count() == batch.count())
    assert(s.select("event_id").distinct().count() == s.count())
  }

  test("watermark dedup drops real duplicates (two files with the same events)") {
    // stage the same parquet twice -> two micro-batches of identical events
    val staged = java.nio.file.Files.createTempDirectory("dup_events")
    val src = java.nio.file.Paths.get(s"${sf()}/events.parquet")
    java.nio.file.Files.copy(src, staged.resolve("a.parquet"))
    java.nio.file.Files.copy(src, staged.resolve("b.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(staged.toString).schema
    val rawStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged.toString)
    // ts normalization mirrors EventStreams.readEvents (fixtures have
    // shipped both long-nanos and micros-timestamp ts)
    val dupStream = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawStream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => rawStream
      case _ => rawStream.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
    val out = EventStreams.runAvailableNow(spark,
      EventStreams.dedupEvents(dupStream), "t_dedup2", outputMode = "append")
    assert(out.count() == batch.count(), "duplicates across micro-batches survived")
  }

  test("ProcessingTime soak: paced micro-batches converge to the batch result") {
    import org.apache.spark.sql.streaming.Trigger
    // a REAL clock-driven trigger (not AvailableNow's drain-and-stop):
    // 10 files × maxFilesPerTrigger=1 under a 1s ProcessingTime trigger
    // ≈ 10+ micro-batches paced by the wall clock, state carried across
    // all of them. Written via Spark so ts is already micros (no nanos
    // staging needed).
    val staged = java.nio.file.Files.createTempDirectory("soak_events")
    batch.repartition(10).write.mode("overwrite").parquet(staged.toString)
    val schema = spark.read.parquet(staged.toString).schema
    val paced = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staged.toString)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_soak").toString
    val q = EventStreams.tumblingCounts(paced).writeStream
      .format("memory").queryName("t_soak").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable() // blocks until every staged file is consumed
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 5, s"expected many paced micro-batches, saw $batches")
    } finally q.stop()
    val s = spark.table("t_soak")
    val b = batch.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("streaming CMS counters equal the batch sketch — the mergeable-state property") {
    // cmsCounters is a commutative-monoid aggregate (counters add), so
    // the SAME declaration runs unchanged over the stream and must land
    // on the batch grid exactly; estimates then agree for every key
    import graft.operators.Profiling
    val s = EventStreams.runAvailableNow(spark,
      Profiling.cmsCounters(stream, col("event_type"), depth = 4, width = 64),
      "t_cms", outputMode = "complete")
    val b = Profiling.cmsCounters(batch, col("event_type"), depth = 4, width = 64)
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
    val probes = batch.select("event_type").distinct()
    val es = Profiling.cmsEstimates(s, probes, "event_type", depth = 4, width = 64)
    val eb = Profiling.cmsEstimates(b, probes, "event_type", depth = 4, width = 64)
    assert(es.exceptAll(eb).isEmpty && eb.exceptAll(es).isEmpty)
  }

  test("streaming trending top-k: TypedImperativeAggregate buffers through streaming state") {
    // TopKAgg is a TypedImperativeAggregate — its serialize/merge path
    // through the streaming state store is exactly what local batch
    // execution never exercises. Trending = top-5 events by value per
    // type (ONE stateful aggregation: streaming forbids chaining them).
    val top = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("event_type")
        .agg(graft.functions.SketchAggregates.topKAgg(
          col("value"), col("event_id"), 5).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), col("col.id").as("event_id"),
          round(col("col.score"), 6).as("value"),
          (col("pos") + 1).cast("long").as("rk"))
    val s = EventStreams.runAvailableNow(spark, top(stream), "t_trend",
      outputMode = "complete")
    val b = top(batch)
    assert(s.count() > 0)
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }

  test("corpus ingest starts on an empty source dir when given a schema") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("ingest_empty")
    val src = root.resolve("incoming")
    java.nio.file.Files.createDirectories(src)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // no files yet — inference would throw; the explicit schema must not
    val q = CorpusIngest.ingestDocuments(spark, src.toString,
      root.resolve("corpus").toString, root.resolve("ckpt").toString,
      schema = Some(schema))
    q.awaitTermination()
    assert(!java.nio.file.Files.exists(root.resolve("corpus")) ||
      spark.read.parquet(root.resolve("corpus").toString).count() == 0)
  }

  test("streaming corpus ingest: each batch dedups against the corpus so far") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ingest")
    val src = root.resolve("incoming").toString
    // two files -> two micro-batches. B re-sends A's first five texts
    // under NEW ids plus five genuinely new docs; whatever order the
    // file source picks, one survivor per distinct text must remain.
    val a = (1L to 10L).map(i => (i, s"document body number $i"))
    val b = (11L to 15L).map(i => (i, s"document body number ${i - 10}")) ++
      (16L to 20L).map(i => (i, s"document body number $i"))
    a.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=a")
    b.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=b")
    val corpus = root.resolve("corpus").toString
    val q = CorpusIngest.ingestDocuments(spark, src, corpus,
      root.resolve("ckpt").toString)
    q.awaitTermination()
    val got = spark.read.parquet(corpus)
    assert(got.count() == 15, s"expected 15 survivors, got ${got.count()}")
    assert(got.select("text").distinct().count() == 15,
      "corpus accumulated duplicate texts")
  }

  test("hash-indexed ingest: same survivors as the text-scan path, index invisible to corpus reads (r7)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ingest_hi")
    val src = root.resolve("incoming").toString
    val a = (1L to 10L).map(i => (i, s"document body number $i"))
    val b = (11L to 15L).map(i => (i, s"document body number ${i - 10}")) ++
      (16L to 20L).map(i => (i, s"document body number $i"))
    a.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=a")
    b.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=b")
    val corpus = root.resolve("corpus").toString
    val q = CorpusIngest.ingestDocuments(spark, src, corpus,
      root.resolve("ckpt").toString, hashIndex = true)
    q.awaitTermination()
    val got = spark.read.parquet(corpus)
    // identical dedup semantics to the text-scan path's fixture result
    assert(got.count() == 15 && got.select("text").distinct().count() == 15)
    // the maintained index holds exactly the corpus' distinct hashes and
    // stays invisible to plain corpus reads (underscore prefix)
    val hashes = spark.read.parquet(s"$corpus/_hash_index")
    assert(hashes.distinct().count() == 15)
    assert(!got.columns.contains("corpus_content_hash"))
  }

  test("hash index switched on over a pre-existing corpus: backfilled, not trusted incomplete (r8)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ingest_bf")
    val src1 = root.resolve("incoming1").toString
    val corpus = root.resolve("corpus").toString
    // phase 1: ingest WITHOUT the hash index — corpus exists, no index
    (1L to 10L).map(i => (i, s"document body number $i"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$src1/f=a")
    CorpusIngest.ingestDocuments(spark, src1, corpus,
      root.resolve("ckpt1").toString).awaitTermination()
    assert(spark.read.parquet(corpus).count() == 10)
    // phase 2: hashIndex on; trigger 1 (f=c) carries a fresh doc — after
    // it, a HALF-built index (survivor hashes only) would exist; trigger 2
    // (f=d) re-sends a PHASE-1 text under a new id. Without the start-of-
    // stream backfill, trigger 2's anti-join against the incomplete index
    // misses the phase-1 hash and re-ingests the duplicate.
    val src2 = root.resolve("incoming2").toString
    Seq((21L, "document body number 21"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$src2/f=c")
    Seq((22L, "document body number 3"), (23L, "document body number 23"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$src2/f=d")
    CorpusIngest.ingestDocuments(spark, src2, corpus,
      root.resolve("ckpt2").toString, hashIndex = true).awaitTermination()
    val got = spark.read.parquet(corpus)
    assert(got.count() == 12, s"expected 12 survivors, got ${got.count()}: " +
      "a phase-1 duplicate slipped past the backfilled hash index")
    assert(got.select("text").distinct().count() == 12)
    // the backfilled index now covers the WHOLE corpus
    assert(spark.read.parquet(s"$corpus/_hash_index").distinct().count() == 12)
  }

  test("streaming ANN ingest: live IVF index == rebuild with the stored centroids (r8)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ann_ingest_ivf")
    val src = root.resolve("incoming").toString
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => math.sin(i * 31.0 + d).toFloat)
    // two micro-batches; batch B re-sends id 5 (must NOT re-enter) plus
    // genuinely new vectors
    (1L to 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .repartition(1).write.parquet(s"$src/f=a")
    ((41L to 60L).map(i => (i, vec(i))) :+ ((5L, vec(999L))))
      .toDF("vec_id", "embedding")
      .repartition(1).write.parquet(s"$src/f=b")
    val corpus = root.resolve("corpus").toString
    val idx = root.resolve("ivf_idx").toString
    CorpusIngest.ingestWithAnnIndex(spark, src, corpus, idx,
      root.resolve("ckpt").toString, CorpusIngest.IvfIngest(k = 4))
      .awaitTermination()
    val got = spark.read.parquet(corpus)
    assert(got.count() == 60, s"expected 60 survivors, got ${got.count()}")
    assert(got.select("vec_id").distinct().count() == 60)
    // rebuild over the final corpus with the LIVE index's stored
    // centroids: assignments are per-row independent, so the
    // incrementally-maintained index must be row-identical
    val cents = graft.operators.Similarity.readIvfCentroids(spark, idx).get
    val rebuilt = root.resolve("rebuilt").toString
    graft.operators.Similarity.buildIvfIndex(got, "vec_id", "embedding",
      cents, rebuilt)
    // readAnnIndex: the live index keeps its newest micro-batches in
    // the _delta refresh segment until a fold
    def rows(p: String) = graft.operators.Similarity
      .readAnnIndex(spark, p, "vec_id")
      .select("vec_id", "cell_id").orderBy("vec_id").collect().toSeq
    assert(rows(idx) == rows(rebuilt) && rows(idx).size == 60,
      "live IVF index diverged from rebuild")
    // and probes agree
    val probe = vec(7L)
    val live = graft.operators.Similarity.ivfTopKIndexed(
      spark, idx, "vec_id", "embedding", cents, probe, k = 5).collect().toSeq
    val ref = graft.operators.Similarity.ivfTopKIndexed(
      spark, rebuilt, "vec_id", "embedding", cents, probe, k = 5).collect().toSeq
    assert(live == ref && live.nonEmpty)
  }

  test("streaming ANN ingest: live LSH index == rebuild over the final corpus (r8)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ann_ingest_lsh")
    val src = root.resolve("incoming").toString
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => math.cos(i * 17.0 + 2 * d).toFloat)
    (1L to 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .repartition(1).write.parquet(s"$src/f=a")
    ((31L to 50L).map(i => (i, vec(i))) :+ ((3L, vec(888L))))
      .toDF("vec_id", "embedding")
      .repartition(1).write.parquet(s"$src/f=b")
    val corpus = root.resolve("corpus").toString
    val idx = root.resolve("lsh_idx").toString
    CorpusIngest.ingestWithAnnIndex(spark, src, corpus, idx,
      root.resolve("ckpt").toString,
      CorpusIngest.LshIngest(nBits = 4, nTables = 3, seed = 11L))
      .awaitTermination()
    val got = spark.read.parquet(corpus)
    assert(got.count() == 50 && got.select("vec_id").distinct().count() == 50)
    // LSH planes regenerate deterministically from the stored params, so
    // a cold rebuild with the same params must match row-for-row
    val rebuilt = root.resolve("rebuilt").toString
    graft.operators.Similarity.buildLshIndex(got, "vec_id", "embedding",
      rebuilt, nBits = 4, nTables = 3, seed = 11L)
    def rows(p: String) = graft.operators.Similarity
      .readAnnIndex(spark, p, "vec_id")
      .select("vec_id", "table", "bucket").orderBy("vec_id", "table")
      .collect().toSeq
    assert(rows(idx) == rows(rebuilt) && rows(idx).size == 150,
      "live LSH index diverged from rebuild")
    val probe = vec(9L)
    val live = graft.operators.Similarity.lshTopKIndexed(spark, idx,
      "vec_id", "embedding", probe, k = 5, nBits = 4, nTables = 3,
      seed = 11L).collect().toSeq
    val ref = graft.operators.Similarity.lshTopKIndexed(spark, rebuilt,
      "vec_id", "embedding", probe, k = 5, nBits = 4, nTables = 3,
      seed = 11L).collect().toSeq
    assert(live == ref && live.nonEmpty)
  }

  test("streaming near-dup ingest: sketch-index dedup drops exact, near and short dups; live index == rebuild (r8)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("nd_ingest")
    val src = root.resolve("incoming").toString
    def body(i: Long): String =
      (0 until 40).map(w => s"w${(i * 7 + w * 3) % 200}").mkString(" ")
    // batch A: 8 long docs + one SHORT doc (< 3 words — unshingleable)
    val a = (1L to 8L).map(i => (i, body(i))) :+ ((9L, "tiny doc"))
    // batch B: (a) exact dup of A's text under a new id, (b) near-dup of
    // doc 2 (one word changed out of 40), (c) exact dup of the SHORT doc
    // (only the hash column can catch it), (d) three novel docs
    val nearDup = body(2L).split(" ").updated(20, "CHANGED").mkString(" ")
    val b = Seq((21L, body(1L)), (22L, nearDup), (23L, "tiny doc"),
      (24L, body(101L)), (25L, body(102L)), (26L, "another small one"))
    a.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=a")
    b.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=b")
    val corpus = root.resolve("corpus").toString
    CorpusIngest.ingestWithNearDupIndex(spark, src, corpus,
      root.resolve("ckpt").toString, threshold = 0.7)
      .awaitTermination()
    val got = spark.read.parquet(corpus)
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert(ids == (1L to 9L).toSet ++ Set(24L, 25L, 26L),
      s"survivors wrong: $ids — 21 (exact), 22 (near), 23 (short exact) must drop")
    // the live sigs/bands index covers exactly the final corpus,
    // row-identical to a from-scratch derivation
    val sigs = spark.read.parquet(s"$corpus/_minhash_sigs")
    val expectedSigs = got
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .join(graft.operators.Dedup.minHashSignatures(got, "doc_id", "text"),
        Seq("doc_id"), "left")
    assert(sigs.orderBy("doc_id").collect().toSeq ==
      expectedSigs.orderBy("doc_id").collect().toSeq,
      "live sigs index diverged from rebuild")
    // doc 9 ("tiny doc", 2 words) is unshingleable at n=3; doc 26 has
    // exactly 3 words — one shingle, a real signature
    assert(sigs.filter(col("signature").isNull)
      .select("doc_id").as[Long].collect().toSet == Set(9L),
      "short docs must carry null signatures, hash-protected only")
    val bandsIdx = spark.read.parquet(s"$corpus/_minhash_bands")
    val expectedBands = graft.operators.Dedup.minHashBands(
      expectedSigs.filter(col("signature").isNotNull)
        .select("doc_id", "signature"))
    assert(bandsIdx.orderBy("doc_id", "band").collect().toSeq ==
      expectedBands.orderBy("doc_id", "band").collect().toSeq,
      "live bands index diverged from rebuild")
    // the near-dup pair genuinely rode the sketch path: estimate >= 0.7
    val shing = graft.operators.Dedup.shingleExplode(
      got.select(col("doc_id"), col("text"))
        .union(Seq((22L, nearDup)).toDF("doc_id", "text")),
      "doc_id", "text", 3)
    val est = graft.operators.Dedup.minHashJaccardEstimates(shing)
      .filter((col("id_a") === 2L && col("id_b") === 22L) ||
        (col("id_a") === 22L && col("id_b") === 2L))
      .select("est_jaccard").as[Double].collect()
    assert(est.nonEmpty && est.head >= 0.7,
      s"fixture must be a banded candidate above threshold, est=${est.toSeq}")
  }

  test("streaming index ingest: live BM25 index == rebuild over the final corpus (r7)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("idx_ingest")
    val src = root.resolve("incoming").toString
    // two micro-batches; batch B re-sends one of A's texts under a new
    // id (must NOT reach corpus or index) plus genuinely new docs
    val a = (1L to 8L).map(i => (i, s"alpha document body number $i shared corpus"))
    val b = Seq((11L, "alpha document body number 1 shared corpus")) ++
      (12L to 16L).map(i => (i, s"beta document body number $i shared corpus"))
    a.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=a")
    b.toDF("doc_id", "text").repartition(1).write.parquet(s"$src/f=b")
    val corpus = root.resolve("corpus").toString
    val index = root.resolve("index").toString
    val q = CorpusIngest.ingestWithTextIndex(spark, src, corpus, index,
      root.resolve("ckpt").toString, nBuckets = 8)
    q.awaitTermination()
    val got = spark.read.parquet(corpus)
    assert(got.count() == 13, s"expected 13 survivors, got ${got.count()}")
    // the incrementally-maintained index serves probes identically to a
    // from-scratch rebuild over the final corpus
    val rebuilt = root.resolve("rebuilt").toString
    graft.operators.TextAnalysis.buildTextIndex(got, "doc_id", "text",
      rebuilt, nBuckets = 8)
    val live = graft.operators.TextAnalysis.bm25TopDocsIndexed(
      spark, index, nTerms = 2, topK = 5).orderBy("term", "rk").collect().toSeq
    val ref = graft.operators.TextAnalysis.bm25TopDocsIndexed(
      spark, rebuilt, nTerms = 2, topK = 5).orderBy("term", "rk").collect().toSeq
    assert(live == ref && live.nonEmpty,
      s"live index diverged from rebuild: $live vs $ref")
  }

  test("streaming index ingest finishes a half-done compaction swap before build vs refresh") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("ingest_swap_recover")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // crash state A: the swap moved the live index aside and died before
    // renaming the staged copy in — the live dir is MISSING
    def crashA(idx: String): Unit = {
      assert(fs.rename(new Path(idx), new Path(s"${idx}_preswap")))
      assert(!fs.exists(new Path(idx)))
    }
    def at(name: String) = root.resolve(name).toString

    // text index: batch a builds it, the crash hits, batch b must refresh
    val docs = at("docs_in")
    def ingestText(): Unit = CorpusIngest.ingestWithTextIndex(spark, docs, at("text_corpus"),
      at("text_idx"), at("text_ckpt"), nBuckets = 4).awaitTermination()
    (1L to 8L).map(i => (i, s"alpha document body number $i shared corpus"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$docs/f=a")
    ingestText()
    crashA(at("text_idx"))
    (9L to 14L).map(i => (i, s"beta document body number $i shared corpus"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$docs/f=b")
    ingestText()
    val corpus = spark.read.parquet(at("text_corpus"))
    assert(corpus.count() == 14)
    assert(spark.read.parquet(s"${at("text_idx")}/consts").head().getLong(0) == 14,
      "the text index must cover old and new docs, not the last batch alone")
    graft.operators.TextAnalysis.buildTextIndex(corpus, "doc_id", "text", at("text_rebuilt"),
      nBuckets = 4)
    def bm25(p: String) = graft.operators.TextAnalysis.bm25TopDocsIndexed(
      spark, p, nTerms = 2, topK = 20).orderBy("term", "rk").collect().toSeq
    assert(bm25(at("text_idx")) == bm25(at("text_rebuilt")))

    // IVF index: same story for the ANN twin
    val vecs = at("vecs_in")
    def vec(i: Long): Array[Float] = Array.tabulate(8)(d => math.sin(i * 13.0 + d).toFloat)
    def ingestIvf(): Unit = CorpusIngest.ingestWithAnnIndex(spark, vecs, at("vec_corpus"),
      at("ivf_idx"), at("vec_ckpt"), CorpusIngest.IvfIngest(k = 3)).awaitTermination()
    (1L to 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .repartition(1).write.parquet(s"$vecs/f=a")
    ingestIvf()
    crashA(at("ivf_idx"))
    (31L to 45L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .repartition(1).write.parquet(s"$vecs/f=b")
    ingestIvf()
    val cents = graft.operators.Similarity.readIvfCentroids(spark, at("ivf_idx")).get
    graft.operators.Similarity.buildIvfIndex(spark.read.parquet(at("vec_corpus")),
      "vec_id", "embedding", cents, at("ivf_rebuilt"))
    def rows(p: String) = graft.operators.Similarity.readAnnIndex(spark, p, "vec_id")
      .select("vec_id", "cell_id").orderBy("vec_id").collect().toSeq
    assert(rows(at("ivf_idx")).size == 45,
      "the IVF index must cover old and new vectors, not the last batch alone")
    assert(rows(at("ivf_idx")) == rows(at("ivf_rebuilt")))
  }

  test("stateful streaming funnel equals the batch cascade") {
    val steps = Seq("signup", "view", "purchase")
    val s = EventStreams.runAvailableNow(spark,
      EventStreams.userFunnel(stream, steps), "t_funnel", outputMode = "update")
    // final state per user (update mode may emit one row per micro-batch;
    // the max steps_reached row is the final one)
    val finalState = s.groupBy("user_id")
      .agg(max("steps_reached").as("steps_reached"), max("last_us").as("last_us"))
    val frames = graft.operators.EventAnalytics.funnelUsers(
      batch, "user_id", "ts", "event_type", steps)
    // per-step membership: users with steps_reached >= k == batch frame k
    frames.zipWithIndex.foreach { case (f, i) =>
      val k = i + 1
      val streamed = finalState.filter(col("steps_reached") >= k)
        .select("user_id")
      assert(streamed.exceptAll(f.select("user_id")).isEmpty &&
        f.select("user_id").exceptAll(streamed).isEmpty,
        s"step $k membership diverges between streaming and batch")
    }
    // the final step's chosen timestamp matches the batch cascade's
    val bLast = frames.last.select(col("user_id"),
      unix_micros(col(s"ts_${steps.size}")).as("last_us"))
    val sLast = finalState.filter(col("steps_reached") === steps.size)
      .select("user_id", "last_us")
    assert(sLast.exceptAll(bLast).isEmpty && bLast.exceptAll(sLast).isEmpty,
      "final-step timestamps diverge between streaming and batch")
  }

  test("stateful streaming sessionize equals batch across PACED micro-batches") {
    // stage the events in EVENT-TIME order split across 8 files consumed
    // one per trigger: per-user in-order delivery across many
    // micro-batches, so sessions genuinely extend across batch
    // boundaries and the cross-batch merge path is exercised
    val staged = java.nio.file.Files.createTempDirectory("sess_events")
    batch.coalesce(1).write.mode("overwrite").parquet(staged.toString + "/all")
    // split the event-time-ordered rows into 8 sequential chunks (one per
    // trigger): earlier chunks hold earlier times for EVERY user
    val ordered = spark.read.parquet(staged.toString + "/all")
      .orderBy("ts", "event_id").collect()
    val schema = spark.read.parquet(staged.toString + "/all").schema
    val chunk = math.max(1, ordered.length / 8)
    ordered.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.mode("overwrite").parquet(f"$staged/in/f$i%03d")
    }
    val srcGlob = s"$staged/in/*"
    val paced = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcGlob)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_sess").toString
    val q = EventStreams.userSessions(paced, gapSeconds = 1800L).writeStream
      .format("memory").queryName("t_sessions").outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progressed = spark.streams.active.isEmpty
    assert(progressed)
    // last emission per (user, session_idx): n_events/end_us are monotone
    // across batches under in-order delivery, so max == final
    val s = spark.table("t_sessions")
      .groupBy("user_id", "session_idx")
      .agg(min("start_us").as("start_us"), max("end_us").as("end_us"),
        max("n_events").as("n_events"))
    val b = graft.operators.ChangeCapture.sessionize(
        batch, "user_id", "ts", 1800L, Seq("event_id"))
      .select(col("user_id"), col("session_idx"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"), col("n_events"))
    assert(s.count() > 0)
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty,
      "streaming sessionization diverges from the batch operator")
  }
}
