package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Refresh-count-triggered auto-compaction: append-style refreshes add a
  * file per touched partition per refresh, so file counts grow without
  * bound unless something folds them (the Lucene merge discipline).
  * This spec measures the growth with compaction disabled, then proves
  * the default cadence bounds it — and that compaction never changes
  * what a probe sees. */
class IndexMaintenanceSpec extends SparkTestBase {

  private def parquetFiles(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.exists()) 0
    else d.listFiles().map { f =>
      if (f.isDirectory) parquetFiles(f.getPath)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum
  }

  test("LSH refresh auto-compaction bounds file count across 6 refreshes; probes unchanged") {
    val emb = Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 280)
    val root = java.nio.file.Files.createTempDirectory("graft-lsh-compact")
    val unbounded = s"$root/unbounded"
    val bounded = s"$root/bounded"
    val base = emb.filter(col("vec_id") < 40)
    Similarity.buildLshIndex(base, "vec_id", "embedding", unbounded)
    Similarity.buildLshIndex(base, "vec_id", "embedding", bounded)
    val batches = (0 until 6).map(i =>
      emb.filter(col("vec_id") >= 40 + i * 40 && col("vec_id") < 80 + i * 40))

    var unboundedDelta = Vector.empty[Int]
    var boundedDelta = Vector.empty[Int]
    var unboundedMain = Vector.empty[Int]
    batches.foreach { b =>
      Similarity.refreshLshIndex(b, "vec_id", "embedding", unbounded,
        autoCompactEvery = 0)
      Similarity.refreshLshIndex(b, "vec_id", "embedding", bounded,
        autoCompactEvery = 3)
      unboundedDelta :+= parquetFiles(s"$unbounded/_delta")
      boundedDelta :+= parquetFiles(s"$bounded/_delta")
      unboundedMain :+= parquetFiles(unbounded) - parquetFiles(s"$unbounded/_delta")
    }
    // refreshes land in the _delta segment (a handful of files per
    // batch, NOT one per touched partition dir — the r10 committer-cost
    // lesson): the main layout must not grow at all between folds...
    assert(unboundedMain.distinct.size == 1,
      s"refreshes must not touch the main layout: $unboundedMain")
    // ...and with compaction disabled the delta accumulates monotonically
    // — the failure mode the fold cadence exists to bound
    assert(unboundedDelta.last >= 6 && unboundedDelta.last > unboundedDelta.head,
      s"disabled-compaction delta should accumulate: $unboundedDelta")
    // cadence 3 over 6 refreshes folds at refreshes 3 and 6: the delta
    // must be EMPTY at the end and never exceed (cadence-1) refreshes of
    // accumulation plus the triggering batch
    assert(boundedDelta.last == 0,
      s"the fold must clear the delta segment: $boundedDelta")
    assert(boundedDelta.max < unboundedDelta.last,
      s"auto-compaction must bound delta growth: $boundedDelta vs $unboundedDelta")

    // compaction is invisible to correctness: same visible rows, same
    // probe results as the never-compacted twin (readAnnIndex is the
    // visibility lens — the uncompacted twin keeps its refreshes in the
    // _delta segment, which a plain parquet read would miss)
    def rows(p: String) = Similarity.readAnnIndex(spark, p, "vec_id")
      .select("vec_id", "table", "bucket").collect().map(_.toSeq).toSet
    assert(rows(bounded) == rows(unbounded))
    val probe = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    assert(Similarity.lshTopKIndexed(spark, bounded, "vec_id", "embedding",
        probe, 10).collect().toSeq
      == Similarity.lshTopKIndexed(spark, unbounded, "vec_id", "embedding",
        probe, 10).collect().toSeq)
  }

  test("a crashed compaction swap is recovered at the next lifecycle entry") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = java.nio.file.Files.createTempDirectory("graft-swap-recover")
    val emb = Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 60)
    val lsh = s"$root/lsh"
    Similarity.buildLshIndex(emb, "vec_id", "embedding", lsh)
    val vec = emb.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val text = s"$root/text"
    TextAnalysis.buildTextIndex(Tables.load(spark, sf(), "documents"),
      "doc_id", "text", text, nBuckets = 8)
    // (index dir, a probe entering the index's lifecycle) — both swap
    // families share StateDir.swap/recover
    val cases: Seq[(String, () => Seq[org.apache.spark.sql.Row])] = Seq(
      lsh -> (() => Similarity.lshTopKIndexed(spark, lsh, "vec_id",
        "embedding", vec, 10).collect().toSeq),
      text -> (() => TextAnalysis.bm25TopDocsIndexed(spark, text, nTerms = 3,
        topK = 10).orderBy("term", "rk").collect().toSeq))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(lsh).getFileSystem(conf)
    cases.foreach { case (idx, probe) =>
      val expected = probe()
      assert(expected.nonEmpty, s"$idx: the probe must return rows")

      // crash state A: the swap's first rename completed (live moved
      // aside), the staged compacted copy exists, live is MISSING — the
      // old delete-then-rename compactions (ANN, then text) left exactly
      // a missing index here
      FileUtil.copy(fs, new Path(idx), fs, new Path(s"${idx}_compacting"),
        false, conf)
      assert(fs.rename(new Path(idx), new Path(s"${idx}_preswap")))
      assert(!fs.exists(new Path(idx)))
      // the next probe must recover (preferring the staged copy) and serve
      assert(probe() == expected, s"$idx: recovered index must serve identically")
      assert(fs.exists(new Path(idx)) && !fs.exists(new Path(s"${idx}_preswap")),
        s"$idx: recovery must restore live and clear the aside copy")

      // crash state B: swap completed, aside cleanup didn't run
      FileUtil.copy(fs, new Path(idx), fs, new Path(s"${idx}_preswap"),
        false, conf)
      assert(probe() == expected)
      assert(!fs.exists(new Path(s"${idx}_preswap")),
        s"$idx: a completed swap's stale aside copy must be dropped")
    }
  }

  test("IVF refresh auto-compaction folds tombstones in on the same cadence") {
    val emb = Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 160)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-compact")
    val idx = s"$root/idx"
    val centroids = Similarity.fitCentroids(
      emb, "vec_id", "embedding", k = 4, iterations = 2)
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 40),
      "vec_id", "embedding", centroids, idx)
    // tombstone two ids, then refresh past the cadence: the triggered
    // compaction must remove them PHYSICALLY, not just logically
    import spark.implicits._
    Similarity.deleteFromAnnIndex(Seq(1L, 3L).toDF("vec_id"), "vec_id", idx)
    (0 until 3).foreach { i =>
      Similarity.refreshIvfIndex(
        emb.filter(col("vec_id") >= 40 + i * 40 && col("vec_id") < 80 + i * 40),
        "vec_id", "embedding", idx, autoCompactEvery = 3)
    }
    assert(!new java.io.File(s"$idx/_tombstones").exists(),
      "the cadence-triggered compaction must fold tombstones")
    val ids = spark.read.parquet(idx).select("vec_id")
      .as[Long].collect().toSet
    assert(!ids.contains(1L) && !ids.contains(3L),
      "tombstoned ids must be physically gone after the fold")
    assert(ids == ((0L until 160L).toSet -- Set(1L, 3L)),
      "every refreshed id must survive the fold")
  }
}
