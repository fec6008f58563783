package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.MetaJson.quote

/** ANN-index refresh-vs-rebuild probe (dev tool): times, in ONE JVM and
  * per rep, (a) a full index build over the whole embeddings fixture,
  * (b) a base build over the 2/3 stratum, and (c) the REFRESH STEP
  * ALONE folding the held-out 1/3 into the base — the number the
  * "refresh at the marginal cost of the batch" claim stands on. The
  * registered gate queries charge (b)+(c) together as one one-off,
  * which conflates the base build into the refresh cost; this probe
  * separates them. Every rep builds into fresh directories (no
  * cross-rep cache), so same-session reps double as the noise protocol
  * (report the min). A probe after each layout asserts refresh ≡
  * rebuild visibility (readAnnIndex row counts match).
  *
  * Usage: `runMain graft.AnnProbe <sfDir> [reps] [mode]`
  *
  * mode = `deltaprobe` measures the OTHER side of the `_delta`-segment
  * trade: probe latency against a cadence-maximal delta (7 unfolded
  * refreshes — the worst state the default autoCompactEvery = 8 ever
  * serves) vs the same index post-compaction, per family. The refresh
  * cost was measured marginal in r11; this bounds what the probes pay
  * for it between folds.
  */
object AnnProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "refresh"
    val spark = graft.run.GraftSession.fromEnv()
    import graft.operators.Similarity

    val emb = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") =!= 0)
    val base = emb.filter(col("vec_id") % 3 =!= 1)
    val delta = emb.filter(col("vec_id") % 3 === 1)
    val nAll = emb.count()
    val root = java.nio.file.Files.createTempDirectory("graft-annprobe").toString
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // IVF/PQ parameters mirror the registered fixtures: 8 centroids /
    // 8 subspaces fitted once outside the timed sections (parameter
    // fitting is shared by both paths and cancels out)
    val cents = Similarity.fitCentroids(emb, "vec_id", "embedding", 8, 2)
    val books = Similarity.fitPqCodebooks(emb, "vec_id", "embedding", 8, 16, 2)

    if (mode == "deltaprobe") {
      try deltaProbe(spark, emb, base, delta, cents, books, root, reps, sfDir)
      finally {
        val rootPath = new org.apache.hadoop.fs.Path(root)
        try rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(rootPath, true)
        finally spark.stop()
      }
      return
    }

    val out = new StringBuilder
    out.append(s"""{"probe":"ann","sf_dir":${quote(sfDir)},"n_vectors":$nAll""")
    // the WHOLE rep loop rides inside try/finally: a visibility require
    // or Spark failure mid-loop must not leak the multi-index temp dir
    // (the IvmProbe staging lesson)
    try {
    (0 until reps).foreach { r =>
      val p = s"$root/rep$r"
      val tLshFull = time(Similarity.buildLshIndex(emb, "vec_id", "embedding", s"$p/lsh_full", dim = 64))
      Similarity.buildLshIndex(base, "vec_id", "embedding", s"$p/lsh_inc", dim = 64)
      val tLshRef = time(Similarity.refreshLshIndex(delta, "vec_id", "embedding", s"$p/lsh_inc"))
      val tIvfFull = time(Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents, s"$p/ivf_full"))
      Similarity.buildIvfIndex(base, "vec_id", "embedding", cents, s"$p/ivf_inc")
      val tIvfRef = time(Similarity.refreshIvfIndex(delta, "vec_id", "embedding", s"$p/ivf_inc"))
      val tPqFull = time(Similarity.buildPqIndex(emb, "vec_id", "embedding", books, s"$p/pq_full"))
      Similarity.buildPqIndex(base, "vec_id", "embedding", books, s"$p/pq_inc")
      val tPqRef = time(Similarity.refreshPqIndex(delta, "vec_id", "embedding", books, s"$p/pq_inc"))
      // visibility audit: the refreshed layout serves the same id set
      Seq("lsh", "ivf", "pq").foreach { k =>
        val a = Similarity.readAnnIndex(spark, s"$p/${k}_full", "vec_id")
          .select("vec_id").distinct().count()
        val b = Similarity.readAnnIndex(spark, s"$p/${k}_inc", "vec_id")
          .select("vec_id").distinct().count()
        require(a == b, s"$k rep$r: refresh visibility $b != rebuild $a")
      }
      out.append(
        f""","rep$r":{"lsh_build":$tLshFull%.2f,"lsh_refresh":$tLshRef%.2f,""" +
        f""""ivf_build":$tIvfFull%.2f,"ivf_refresh":$tIvfRef%.2f,""" +
        f""""pq_build":$tPqFull%.2f,"pq_refresh":$tPqRef%.2f}""")
    }
    out.append("}")
    println(out.result())
    } finally {
      val rootPath = new org.apache.hadoop.fs.Path(root)
      try rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      finally spark.stop()
    }
  }

  /** Probe-latency bound for the `_delta` segment: 7 unfolded refreshes
    * (the cadence-maximal state under autoCompactEvery = 8), a batch of
    * indexed probes timed against that layout, then the SAME probes
    * after [[graft.operators.Similarity.compactAnnIndex]] folds the
    * delta. Probe vectors are real corpus rows; per state the timing is
    * the min across `reps` passes over the whole probe batch. */
  private def deltaProbe(spark: SparkSession, emb: DataFrame, base: DataFrame,
      delta: DataFrame, cents: Seq[Array[Float]],
      books: Seq[Seq[Array[Float]]], root: String, reps: Int,
      sfDir: String): Unit = {
    import graft.operators.Similarity
    val probes: Seq[Array[Float]] = emb.filter(col("vec_id") % 997 === 3)
      .limit(12).collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    require(probes.nonEmpty, "deltaProbe: no probe vectors in the fixture")
    def timeBatch(f: Array[Float] => DataFrame): Double =
      (0 until math.max(reps, 1)).map { _ =>
        val t0 = System.nanoTime()
        probes.foreach(v => f(v).collect())
        (System.nanoTime() - t0) / 1e9
      }.min
    val out = new StringBuilder
    out.append(s"""{"probe":"ann_delta","sf_dir":${quote(sfDir)},"n_probes":${probes.size}""")
    // LSH
    Similarity.buildLshIndex(base, "vec_id", "embedding", s"$root/lsh", dim = 64)
    (0 until 7).foreach(i => Similarity.refreshLshIndex(
      delta.filter(col("vec_id") % 7 === i), "vec_id", "embedding",
      s"$root/lsh", autoCompactEvery = 0))
    val lshDelta = timeBatch(v =>
      Similarity.lshTopKIndexed(spark, s"$root/lsh", "vec_id", "embedding", v, 10))
    Similarity.compactAnnIndex(spark, s"$root/lsh", "vec_id", Seq("table", "bucket"))
    val lshFold = timeBatch(v =>
      Similarity.lshTopKIndexed(spark, s"$root/lsh", "vec_id", "embedding", v, 10))
    // IVF
    Similarity.buildIvfIndex(base, "vec_id", "embedding", cents, s"$root/ivf")
    (0 until 7).foreach(i => Similarity.refreshIvfIndex(
      delta.filter(col("vec_id") % 7 === i), "vec_id", "embedding",
      s"$root/ivf", autoCompactEvery = 0))
    val ivfDelta = timeBatch(v =>
      Similarity.ivfTopKIndexed(spark, s"$root/ivf", "vec_id", "embedding",
        cents, v, 10))
    Similarity.compactAnnIndex(spark, s"$root/ivf", "vec_id", Seq("cell_id"))
    val ivfFold = timeBatch(v =>
      Similarity.ivfTopKIndexed(spark, s"$root/ivf", "vec_id", "embedding",
        cents, v, 10))
    // PQ
    Similarity.buildPqIndex(base, "vec_id", "embedding", books, s"$root/pq")
    (0 until 7).foreach(i => Similarity.refreshPqIndex(
      delta.filter(col("vec_id") % 7 === i), "vec_id", "embedding", books,
      s"$root/pq", autoCompactEvery = 0))
    val pqDelta = timeBatch(v =>
      Similarity.adcTopKIndexed(spark, s"$root/pq", "vec_id", books, v, 10))
    Similarity.compactAnnIndex(spark, s"$root/pq", "vec_id", Seq.empty)
    val pqFold = timeBatch(v =>
      Similarity.adcTopKIndexed(spark, s"$root/pq", "vec_id", books, v, 10))
    out.append(
      f""","lsh_probe_delta7":$lshDelta%.2f,"lsh_probe_folded":$lshFold%.2f""" +
      f""","ivf_probe_delta7":$ivfDelta%.2f,"ivf_probe_folded":$ivfFold%.2f""" +
      f""","pq_probe_delta7":$pqDelta%.2f,"pq_probe_folded":$pqFold%.2f}""")
    println(out.result())
  }
}
