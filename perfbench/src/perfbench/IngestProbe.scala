package perfbench

import graft.operators.{Similarity, TextAnalysis}
import graft.streaming.CorpusIngest
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Common._

/** ingest_probe: writes beside reads. Set-up fits IVF centroids and
  * builds an IVF index and a BM25 text index over a seeded base corpus
  * (centroids fitted on a fifth of the vectors).
  * Each iteration a seeded batch of vectors and documents lands as
  * files; the vectors are folded into the IVF index as a delta segment
  * (`refreshIvfIndex`) and the documents run through the streaming text
  * ingester (`CorpusIngest.ingestWithTextIndex`). Then one client thread
  * sends hybrid requests (an IVF probe, then a BM25 probe) in a closed
  * loop. The IVF index compacts every [[CompactEvery]] refreshes. A run
  * has two warm-up iterations (a plain and a compacting ingest) and two
  * measured ones, so the measured pair is always one plain delta ingest
  * and one compacting ingest, and their probes see one unfolded delta
  * and then a compacted index. */
final class IngestProbe(c: Ctx) extends Workload {
  import c.{counter, seed, spark, tr}
  val name = "ingest_probe"
  /** Refreshes between IVF auto-compactions. */
  val CompactEvery = 2

  private val dim = 32
  private val clusters = 16
  private val k = 16
  private val nprobe = 3
  private val baseVecs = if (c.tiny) 2000L else 4000L
  private val baseDocs = if (c.tiny) 300L else 400L
  private val batchVecs = if (c.tiny) 100L else 500L
  private val batchDocs = if (c.tiny) 30L else 100L
  val probesPerIter = if (c.tiny) 2 else 4
  val cycle = CompactEvery
  /** One compaction cycle (see the class comment). Warming one up keeps
    * the session's first compaction, whose cold code varied most from
    * run to run, out of the window. */
  val minIters = CompactEvery
  /** Mean IVF recall@10 against brute force, nprobe 3 of 16 cells. */
  val RecallBound = 0.8

  private var root = ""
  private var centroids: Seq[Array[Float]] = Nil
  private var landed = 0
  private var recall = Double.NaN
  private val deltas = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def vecCorpus = s"$root/vec_corpus"
  private def textCorpus = s"$root/text_corpus"
  private def annIndex = s"$root/ann_index"
  private def textIndex = s"$root/text_index"
  private def vecSrc = s"$root/landing/vecs"
  private def textSrc = s"$root/landing/docs"

  def setup(newRoot: String): Unit = {
    if (root.nonEmpty) rmrf(root)
    root = newRoot
    rmrf(root)
    Gen.vectors(spark, 0L, baseVecs, seed, dim, clusters).write.parquet(vecCorpus)
    Gen.docs(spark, 0L, baseDocs, seed).select("doc_id", "text").write.parquet(textCorpus)
    val vecs = spark.read.parquet(vecCorpus)
    centroids = tr("operators.ivf_fit") {
      Similarity.fitCentroids(vecs.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        k, iterations = 2)
    }._1
    tr("operators.ivf_build") {
      Similarity.buildIvfIndex(vecs, "vec_id", "embedding", centroids, annIndex)
    }
    tr("operators.text_build") {
      TextAnalysis.buildTextIndex(spark.read.parquet(textCorpus), "doc_id", "text",
        textIndex, nBuckets = 16)
    }
    Files.createDirectories(Paths.get(vecSrc))
    Files.createDirectories(Paths.get(textSrc))
    landed = 0
    deltas.clear()
  }

  /** Writes `df` as one parquet file straight into the watched `dir`. */
  private def land(df: DataFrame, dir: String, file: String): Long = {
    val tmp = s"$root/landing/tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = listDirs(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
    val dest = Paths.get(dir, file)
    Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
    rmrf(tmp)
    Files.size(dest)
  }

  private def indexBytes = du(annIndex) + du(textIndex) + du(textCorpus)

  def iterate(probes: Int): Iter = {
    landed += 1
    val before = indexBytes
    val inputBytes =
      land(Gen.vectors(spark, baseVecs + landed * batchVecs, batchVecs, seed, dim, clusters),
        vecSrc, s"batch-$landed.parquet") +
      land(Gen.docs(spark, baseDocs + landed * batchDocs, batchDocs, seed)
        .select("doc_id", "text"), textSrc, s"batch-$landed.parquet")
    val t0 = System.nanoTime()
    tr("operators.ivf_refresh") {
      Similarity.refreshIvfIndex(spark.read.parquet(s"$vecSrc/batch-$landed.parquet"),
        "vec_id", "embedding", annIndex, autoCompactEvery = CompactEvery)
    }
    tr("streaming.ingest_text") {
      val q = CorpusIngest.ingestWithTextIndex(spark, textSrc, textCorpus, textIndex,
        s"$root/ckpt/text", nBuckets = 16,
        schema = Some(spark.read.parquet(textCorpus).schema))
      q.awaitTermination()
    }
    val latency = (System.nanoTime() - t0) / 1e9
    counter.attempted += 2
    deltas += listDirs(s"$annIndex/_delta").count(_.getFileName.toString.endsWith(".parquet"))
    Iter(latency, batchVecs + batchDocs, inputBytes, indexBytes - before,
      (0 until probes).map(probe))
  }

  /** A hybrid-search request: an IVF top-10 for a seeded vector and then
    * a BM25 top-10, timed as one request. */
  def probe(i: Int): Double = {
    val t0 = System.nanoTime()
    val (near, _) = tr("operators.ivf_probe") {
      Similarity.ivfTopKIndexed(spark, annIndex, "vec_id", "embedding", centroids,
        Gen.probeVector(seed, landed * 1000L + i, dim, clusters), 10, nprobe).collect()
    }
    val (lexical, _) = tr("operators.bm25_probe") {
      TextAnalysis.bm25TopDocsIndexed(spark, textIndex, topK = 10).collect()
    }
    counter.check(s"request $i after batch $landed gets full answers",
      near.length == 10 && lexical.nonEmpty)
    (System.nanoTime() - t0) / 1e6
  }

  def verify(): Unit = {
    counter.check("bm25TopDocsIndexed equals bm25TopDocs over the ingested corpus",
      frameHash(TextAnalysis.bm25TopDocsIndexed(spark, textIndex, topK = 10)) ==
        frameHash(TextAnalysis.bm25TopDocs(spark.read.parquet(textCorpus), "doc_id", "text",
          topK = 10)))
    val corpus = Similarity.readAnnIndex(spark, annIndex, "vec_id")
    val recalls = (0 until 3).map { q =>
      val v = Gen.probeVector(seed, 999000L + q, dim, clusters)
      val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", v, 10)
        .collect().map(_.getLong(0)).toSet
      val got = Similarity.ivfTopKIndexed(spark, annIndex, "vec_id", "embedding", centroids,
        v, 10, nprobe).collect().map(_.getLong(0)).toSet
      (truth & got).size / 10.0
    }
    recall = recalls.sum / recalls.size
    counter.check(f"IVF recall@10 $recall%.3f meets $RecallBound", recall >= RecallBound)
    counter.check("every landed vector is indexed",
      Similarity.readAnnIndex(spark, annIndex, "vec_id").count() ==
        baseVecs + landed * batchVecs)
  }

  def record: Map[String, Any] = Map("base_vectors" -> baseVecs, "base_docs" -> baseDocs,
    "batch_vectors" -> batchVecs, "batch_docs" -> batchDocs, "dim" -> dim, "k" -> k,
    "nprobe" -> nprobe, "batches" -> landed, "ivf_recall_at_10" -> recall,
    "recall_bound" -> RecallBound, "ivf_delta_files_per_batch" -> deltas.toSeq,
    "probes_per_iteration" -> probesPerIter)
}
