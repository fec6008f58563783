package graft.sources

import graft.SparkTestBase
import graft.catalog.GraftCatalog
import graft.meta.TableMeta
import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The footer-schema reader for library-written parquet state: it must
  * be indistinguishable from a schema-inferring `spark.read.parquet`
  * (schema, rows, errors) on every layout the library writes, and the
  * index probes routed through it must run no schema-inference job. */
class ParquetStateSpec extends SparkTestBase {

  private lazy val root = java.nio.file.Files.createTempDirectory("graft-pqstate")
  private lazy val docs = Tables.load(spark, sf(), "documents")
  private lazy val emb = Tables.load(spark, sf(), "embeddings")
    .select("vec_id", "embedding").filter(col("vec_id") < 200)
  private lazy val centroids =
    Similarity.fitCentroids(emb, "vec_id", "embedding", k = 4, iterations = 2)

  /** Text index with a refresh (postings appended into existing bucket
    * dirs). */
  private lazy val textIdx: String = {
    val p = s"$root/text"
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    TextAnalysis.buildTextIndex(docs.filter(col("doc_id") < cut), "doc_id", "text", p,
      nBuckets = 8)
    TextAnalysis.refreshTextIndex(docs.filter(col("doc_id") >= cut), "doc_id", "text", p)
    p
  }

  /** IVF index without a `_delta` segment. */
  private lazy val ivfMain: String = {
    val p = s"$root/ivf_main"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", centroids, p)
    p
  }

  /** IVF index with a `_delta` refresh segment. */
  private lazy val ivfDelta: String = {
    val p = s"$root/ivf_delta"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 150), "vec_id", "embedding",
      centroids, p)
    Similarity.refreshIvfIndex(emb.filter(col("vec_id") >= 150), "vec_id", "embedding", p,
      autoCompactEvery = 0)
    p
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertParity(dir: String): Unit = {
    val inferred = spark.read.parquet(dir)
    val read = ParquetState.read(spark, dir)
    assert(read.schema == inferred.schema, s"$dir: schema differs")
    assert(rows(read) == rows(inferred), s"$dir: rows differ")
  }

  test("footer schema and rows equal spark.read.parquet on every library-written layout") {
    val sink = s"$root/sink"
    GraftCatalog.writeTable(
      docs.withColumn("part", (col("doc_id") % 3).cast("int")),
      TableMeta("docs_sink", "docs_sink/", dataFormat = "parquet", partitions = Seq("part")),
      sink)
    // tombstones go into copies: the probe job counts below are pinned
    // on tombstone-free layouts (a tombstone anti-join adds a broadcast)
    val textTomb = s"$root/text_tomb"
    val ivfTomb = s"$root/ivf_tomb"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(textIdx), fs,
      new org.apache.hadoop.fs.Path(textTomb), false, conf)
    import spark.implicits._
    TextAnalysis.deleteFromTextIndex(Seq(1L, 2L).toDF("doc_id"), "doc_id", textTomb)
    Similarity.deleteFromAnnIndex(Seq(3L, 160L).toDF("vec_id"), "vec_id", ivfTomb)
    val dirs = Seq("postings", "terms", "consts").map(d => s"$textIdx/$d") ++
      Seq(s"$textTomb/tombstones", ivfDelta, s"$ivfDelta/_delta", s"$ivfTomb/_tombstones",
        sink)
    dirs.foreach { d =>
      // the footer path is really taken, not the fallback
      assert(ParquetState.schema(spark, d).isDefined, s"$d: no Spark schema in the footer")
      assertParity(d)
    }
    // partition columns keep Spark's directory inference
    assert(ParquetState.read(spark, s"$textIdx/postings").schema.fieldNames.last == "bucket")
    assert(ParquetState.read(spark, sink).schema("part").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("a footer without Spark's schema, a missing dir and an empty dir fall back") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val plain = s"$root/plain"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$plain/part-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try (1L to 3L).foreach(i =>
      w.write(new SimpleGroupFactory(schema).newGroup().append("id", i).append("name", s"n$i")))
    finally w.close()
    assert(ParquetState.schema(spark, plain).isEmpty)
    assertParity(plain)

    val empty = new java.io.File(s"$root/only_success")
    empty.mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    Seq(s"$root/missing", empty.getPath).foreach { d =>
      assert(ParquetState.schema(spark, d).isEmpty)
      val want = intercept[Exception](spark.read.parquet(d))
      val got = intercept[Exception](ParquetState.read(spark, d))
      assert(got.getClass == want.getClass, s"$d: ${got.getMessage} vs ${want.getMessage}")
    }
  }

  /** Jobs `body` runs, tagged by a job group. A sentinel job in a second
    * group marks the end: listener events arrive in order, so once its
    * start is seen every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"pqstate-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.add(e)
          case Some(g) if g == s"$group-end" => done.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("index probes run no schema-inference job") {
    // warm the fixtures outside the counted window
    Seq(textIdx, ivfMain, ivfDelta)
    val probe = emb.filter(col("vec_id") === 7).head().getSeq[Float](1).toArray
    def ivf(p: String) = jobsOf(Similarity.ivfTopKIndexed(spark, p, "vec_id", "embedding",
      centroids, probe, 10).collect())
    val cases = Seq(
      ("bm25TopDocsIndexed", 5,
        jobsOf(TextAnalysis.bm25TopDocsIndexed(spark, textIdx, topK = 10).collect())),
      ("ivfTopKIndexed without _delta", 1, ivf(ivfMain)),
      ("ivfTopKIndexed with _delta", 1, ivf(ivfDelta)))
    cases.foreach { case (name, most, jobs) =>
      // schema inference (and any other eager read-time job) runs outside
      // a SQL execution; every job of a probe must belong to its query
      val eager = jobs.count(_.properties.getProperty("spark.sql.execution.id") == null)
      assert(eager == 0, s"$name ran $eager job(s) outside a query")
      assert(jobs.nonEmpty && jobs.size <= most, s"$name ran ${jobs.size} jobs, want <= $most")
    }
  }
}
