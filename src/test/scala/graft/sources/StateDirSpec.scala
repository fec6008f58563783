package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.SparkTestBase
import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Sidecar compatibility: index dirs whose sidecars hold the bytes the
  * earlier hand-written writers produced (compact interpolated JSON;
  * `": "` spacing in the text index's) must refresh and probe exactly
  * like a fresh build, and the sidecar checks must still refuse what
  * they refused. */
class StateDirSpec extends SparkTestBase {

  test("sidecars in the earlier byte format refresh and probe like a fresh build; checks still refuse") {
    val root = Files.createTempDirectory("graft-statedir")
    // through Hadoop's filesystem, which keeps the `.crc` checksum in step
    def put(dir: String, name: String, json: String): Unit = {
      val out = StateDir.fs(spark, dir).create(new org.apache.hadoop.fs.Path(dir, name), true)
      try out.write(json.getBytes(UTF_8)) finally out.close()
    }
    def bytes(dir: String, name: String): String =
      new String(Files.readAllBytes(Paths.get(dir, name)), UTF_8)
    val emb = Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 120)
    val oldE = emb.filter(col("vec_id") % 3 =!= 0)
    val newE = emb.filter(col("vec_id") % 3 === 0)
    val probe = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    def visible(p: String) = Similarity.readAnnIndex(spark, p, "vec_id")
      .drop("embedding").collect().map(_.toString).toSet
    /** Build `inc` over the old rows, pin its sidecar to `legacy` bytes
      * (which the current writer must reproduce), refresh it with the new
      * rows, and compare it with `full` built over all rows. A legacy
      * refresh counter of 7 makes this the 8th refresh: the fold runs
      * only if the counter was read. */
    def family(name: String, meta: String, legacy: String, build: (
        org.apache.spark.sql.DataFrame, String) => Unit,
        refresh: String => Unit, probeOf: String => Seq[org.apache.spark.sql.Row]): Unit = {
      val full = s"$root/${name}_full"
      val inc = s"$root/${name}_inc"
      build(emb, full)
      build(oldE, inc)
      assert(bytes(inc, meta) == legacy, s"$name: sidecar bytes changed")
      put(inc, meta, legacy)
      put(inc, StateDir.RefreshCount, """{"refreshes":7}""")
      refresh(inc)
      assert(!new java.io.File(s"$inc/_delta").exists(), s"$name: counter not read")
      assert(bytes(inc, StateDir.RefreshCount) == """{"refreshes":0}""")
      assert(visible(inc) == visible(full), s"$name: rows differ from a fresh build")
      assert(probeOf(inc) == probeOf(full), s"$name: probe differs from a fresh build")
    }

    // ---- IVF: centroids as raw float bits
    val centroids = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    val bits = centroids.map(_.map(java.lang.Float.floatToRawIntBits)
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    family("ivf", StateDir.IvfMeta,
      s"""{"k":${centroids.size},"dim":${centroids.head.length},"bits":$bits}""",
      (df, p) => Similarity.buildIvfIndex(df, "vec_id", "embedding", centroids, p),
      p => Similarity.refreshIvfIndex(newE, "vec_id", "embedding", p),
      p => Similarity.ivfTopKIndexed(spark, p, "vec_id", "embedding", centroids,
        probe, 10).collect().toSeq)
    assert(Similarity.readIvfCentroids(spark, s"$root/ivf_inc").get
      .map(_.map(java.lang.Float.floatToRawIntBits).toSeq) ==
      centroids.map(_.map(java.lang.Float.floatToRawIntBits).toSeq))

    // ---- LSH: plane parameters
    family("lsh", StateDir.LshMeta,
      s"""{"dim":${probe.length},"nBits":6,"nTables":12,"seed":7}""",
      (df, p) => Similarity.buildLshIndex(df, "vec_id", "embedding", p),
      p => Similarity.refreshLshIndex(newE, "vec_id", "embedding", p),
      p => Similarity.lshTopKIndexed(spark, p, "vec_id", "embedding", probe, 10)
        .collect().toSeq)

    // ---- PQ: codebook fingerprint (md5 over the float bits in order)
    val rows = emb.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    val books = Similarity.pqCodebooksFromRows(rows, numSub = 8)
    val fp = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = java.nio.ByteBuffer.allocate(4)
      books.foreach(_.foreach(_.foreach { f => buf.clear(); buf.putFloat(f); md.update(buf.array()) }))
      md.digest().map("%02x".format(_)).mkString
    }
    family("pq", StateDir.PqMeta,
      s"""{"numSub":8,"subDim":${books.head.head.length},"codesPerSub":${books.head.size},"fp":"$fp"}""",
      (df, p) => Similarity.buildPqIndex(df, "vec_id", "embedding", books, p),
      p => Similarity.refreshPqIndex(newE, "vec_id", "embedding", books, p),
      p => Similarity.adcTopKIndexed(spark, p, "vec_id", books, probe, 10).collect().toSeq)
    val foreign = books.map(_.map(_.map(_ + 1.0f)))
    assert(intercept[IllegalArgumentException] {
      Similarity.refreshPqIndex(newE, "vec_id", "embedding", foreign, s"$root/pq_inc")
    }.getMessage.contains("fingerprint"))
    val bare = s"$root/bare"
    newE.write.parquet(bare)
    Seq[String => Unit](
      p => Similarity.refreshIvfIndex(newE, "vec_id", "embedding", p),
      p => Similarity.refreshLshIndex(newE, "vec_id", "embedding", p),
      p => Similarity.refreshPqIndex(newE, "vec_id", "embedding", books, p)
    ).foreach(r => assert(intercept[IllegalArgumentException](r(bare))
      .getMessage.contains("rebuild instead")))

    // ---- text index: the `": "`-spaced sidecar
    val docs = Tables.load(spark, sf(), "documents")
    val cut = 40L
    val textFull = s"$root/text_full"
    val textInc = s"$root/text_inc"
    TextAnalysis.buildTextIndex(docs, "doc_id", "text", textFull, nBuckets = 8)
    TextAnalysis.buildTextIndex(docs.filter(col("doc_id") < cut), "doc_id", "text",
      textInc, nBuckets = 8)
    put(textInc, StateDir.TextMeta, """{"nBuckets": 8, "tokenizer": "ws-lower"}""")
    TextAnalysis.refreshTextIndex(docs.filter(col("doc_id") >= cut), "doc_id", "text",
      textInc)
    def bm25(p: String) = TextAnalysis.bm25TopDocsIndexed(spark, p, topK = 10)
      .orderBy("term", "rk").collect().toSeq
    assert(bm25(textInc).nonEmpty && bm25(textInc) == bm25(textFull))
    // an index built with another tokenizer is refused, not probed
    put(textInc, StateDir.TextMeta, """{"nBuckets": 8, "tokenizer": "icu-words"}""")
    Seq[() => Unit](
      () => bm25(textInc),
      () => TextAnalysis.refreshTextIndex(docs.filter(col("doc_id") < 0), "doc_id", "text",
        textInc)
    ).foreach(r => assert(intercept[IllegalArgumentException](r())
      .getMessage.contains("different tokenizer")))
  }
}
