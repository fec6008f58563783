package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.{ParquetState, StateDir}

/** Similarity search over embedding columns (EXTENSION, SURVEY.md §2.K
  * q_sim_topk). Vectors are `array<float>`; all arithmetic is promoted to
  * double with a fixed left-to-right fold so results are deterministic and
  * oracle-comparable.
  *
  * Scale notes: brute-force top-k is a map-side score + a global top-k
  * (TakeOrdered, no full sort shuffle). The IVF variant prunes the scan to
  * the probe's cell(s): at 100 TB the table is pre-partitioned by cell_id
  * so a probe touches 1/K of the data (nprobe/K with multi-probe).
  */
object Similarity {

  /** dot/norm/cosine delegate to the codegen'd Catalyst expressions
    * (graft.functions.VectorDot/VectorNorm): Spark's higher-order
    * functions (`aggregate(zip_with(...))`) run interpreted — a closure
    * call per element — while these compile to a primitive loop inside
    * whole-stage codegen. Same double-accumulation order, so results are
    * bit-identical to the HOF form. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def l2Norm(a: Column): Column =
    graft.functions.VectorFunctions.vecNorm(a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force cosine top-k vs one probe vector (the exact baseline).
    * The probe is a literal pushed into every task; ordering ties broken
    * by id for determinism. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      probe: Array[Float], k: Int): DataFrame = {
    val probeCol = typedLit(probe.toSeq)
    embeddings
      .select(col(idCol), round(cosine(col(vecCol), probeCol), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF cell assignment: nearest of K fixed centroid vectors (supplied by
    * the caller — e.g. sampled rows or k-means output). Deterministic
    * argmax with index tiebreak. Centroids ride along as a broadcast-sized
    * literal array. */
  def assignCells(embeddings: DataFrame, vecCol: String,
      centroids: Seq[Array[Float]]): DataFrame = {
    val cent = typedLit(centroids.map(_.toSeq))
    embeddings.withColumn("cell_id", cellIdExpr(col(vecCol), cent, centroids.size))
  }

  private def cellIdExpr(vec: Column, cent: Column, k: Int): Column = {
    // argmax with first-occurrence (min-index) tiebreak: array_position
    // returns the FIRST element equal to the max. Alias-free on purpose —
    // struct-field names assigned inside lambda bodies are not preserved
    // in every resolution context.
    val scores = transform(sequence(lit(0), lit(k - 1)),
      i => round(cosine(vec, element_at(cent, i + 1)), 9))
    (array_position(scores, array_max(scores)) - 1).cast("int").as("cell_id")
  }

  /** Probe's `nprobe` nearest cells, computed once driver-side on the
    * centroid literals (k entries — scalar-sized). */
  private def nearestCells(centroids: Seq[Array[Float]], probe: Array[Float],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (cosineLocal(c, probe), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)

  /** IVF top-k: score only rows in the probe's `nprobe` nearest cells.
    * Approximate (recall < 1 when true neighbors live in unprobed cells) —
    * the scale path: the scan prunes to nprobe/K of the table. */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], probe: Array[Float], k: Int,
      nprobe: Int = 2): DataFrame = {
    val cent = typedLit(centroids.map(_.toSeq))
    val assigned = embeddings.withColumn("cell_id",
      cellIdExpr(col(vecCol), cent, centroids.size))
    assigned
      .filter(col("cell_id").isin(nearestCells(centroids, probe, nprobe): _*))
      .select(col(idCol), round(cosine(col(vecCol), typedLit(probe.toSeq)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Batch cosine top-k: score EVERY probe in ONE pass over the corpus —
    * the realistic retrieval workload (thousands of probes against a
    * 100 TB corpus), where per-probe scans would re-read the table per
    * query. The probe set rides as a broadcast; per (probe, row) cosine
    * is map-side codegen'd; per-probe top-k is the bounded-heap
    * [[graft.functions.SketchAggregates.topKAgg]] with map-side partial
    * aggregation — the shuffle carries at most k rows per probe per
    * mapper and NOTHING is ever globally sorted (a window-rank
    * formulation would shuffle and fully sort every scored row).
    * Ties break (score desc, id asc), same as the single-probe ops. */
  def batchTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int): DataFrame = {
    val p = broadcast(probes.select(col(probeIdCol).as("probe_id"),
      col(probeVecCol).as("probe_vec")))
    embeddings.crossJoin(p)
      .select(col("probe_id"),
        col(idCol).cast("long").as("__nid"),
        round(cosine(col(vecCol), col("probe_vec")), 6).as("cos"))
      .groupBy("probe_id")
      .agg(graft.functions.SketchAggregates.topKAgg(col("cos"), col("__nid"), k)
        .as("top"))
      .select(col("probe_id"), explode(col("top")).as("e"))
      .select(col("probe_id"), col("e.id").as(idCol), col("e.score").as("cos"))
  }

  /** Hard-negative mining for contrastive training: for every probe, the
    * top-k most-similar corpus vectors whose label DIFFERS from the
    * probe's — "close but wrong" examples, the negatives that actually
    * move an embedding model. Same one-pass shape as [[batchTopK]]
    * (broadcast probes, codegen'd cosine, bounded heap per probe); the
    * label-mismatch predicate runs map-side BEFORE the heap, so
    * same-label rows never enter aggregate state.
    *
    * Scale (100 TB): one corpus pass for the whole probe batch, shuffle
    * ≤ k rows per probe per mapper; the label filter is a codegen'd
    * column comparison with no extra join (labels ride the corpus scan). */
  def hardNegatives(embeddings: DataFrame, idCol: String, vecCol: String,
      labelCol: String, probes: DataFrame, probeIdCol: String,
      probeVecCol: String, probeLabelCol: String, k: Int): DataFrame = {
    val p = broadcast(probes.select(col(probeIdCol).as("probe_id"),
      col(probeVecCol).as("probe_vec"), col(probeLabelCol).as("probe_label")))
    embeddings.crossJoin(p)
      .filter(col(labelCol) =!= col("probe_label"))
      .select(col("probe_id"),
        col(idCol).cast("long").as("__nid"),
        round(cosine(col(vecCol), col("probe_vec")), 6).as("cos"))
      .groupBy("probe_id")
      .agg(graft.functions.SketchAggregates.topKAgg(col("cos"), col("__nid"), k)
        .as("top"))
      .select(col("probe_id"), explode(col("top")).as("e"))
      .select(col("probe_id"), col("e.id").as(idCol), col("e.score").as("cos"))
  }

  /** Symmetric per-vector int8 quantization (the storage path for large
    * embedding tables: 4x smaller than float32, dot products still usable
    * after dequantization by `scale`). scale = max|x|/127; zero vectors
    * quantize to null (guarded division). Pure projection — scales as a
    * map-only stage. */
  def quantizeInt8(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val mx = array_max(transform(v, x => abs(x.cast("double"))))
    val mxn = when(mx === 0.0, lit(null)).otherwise(mx)
    embeddings.select(
      col(idCol),
      (mxn / 127).as("scale"),
      transform(v, x => round(x.cast("double") * 127 / mxn).cast("byte")).as("q"))
  }

  /** Per-dimension distribution drift between two embedding snapshots —
    * the monitoring twin of the CDC family for the EMBEDDING column: a
    * re-run encoder, a changed normalization, or a shifted corpus mix
    * shows up as per-dimension mean shift long before retrieval quality
    * visibly degrades. Output: one row per dimension with both
    * populations' counts and means and the mean shift (new − old).
    *
    * Scale shape: each side is ONE posexplode + keyed partial+final agg
    * into d groups (d rows cross the wire per side, corpus never
    * re-shuffles); the d-row frames join on dimension. Sums add through
    * per-term DECIMAL(38,12) casts so they are partition-order-
    * independent and replay bit-equal (the q_events_twap bridge
    * discipline); divisions and rounds follow the same bridge. Null
    * vectors are skipped on both sides. */
  def embeddingDrift(oldE: DataFrame, newE: DataFrame,
      vecCol: String): DataFrame = {
    def dimStats(df: DataFrame, nCol: String, sCol: String) = df
      .filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)))
      .groupBy("pos")
      .agg(count(lit(1)).as(nCol),
        sum(col("col").cast("double").cast("decimal(38,12)")).as(sCol))
    dimStats(oldE, "n_old", "_so")
      .join(dimStats(newE, "n_new", "_sn"), Seq("pos"))
      .select(col("pos").cast("long").as("dim"),
        col("n_old"), col("n_new"),
        round(col("_so").cast("double") / col("n_old").cast("double"), 6)
          .as("mean_old"),
        round(col("_sn").cast("double") / col("n_new").cast("double"), 6)
          .as("mean_new"),
        round(col("_sn").cast("double") / col("n_new").cast("double")
          - col("_so").cast("double") / col("n_old").cast("double"), 6)
          .as("shift"))
  }

  /** Per-dimension z-score standardization of an embedding column —
    * diagonal whitening, the standard pre-ANN / pre-clustering
    * normalization when dimensions carry different scales (a cosine or
    * L2 metric otherwise lets the widest dimension dominate).
    *
    * Scale shape: ONE posexplode + d-group partial+final aggregate
    * computes every dimension's (n, Σx, Σx²) — d rows of state cross the
    * wire regardless of corpus size — then the d-row stats frame
    * broadcast-joins back onto the exploded vectors; no corpus-sized
    * shuffle anywhere. Sums ride the [[embeddingDrift]] DECIMAL(38,12)
    * per-term cast (order-independent, engine-replayable); mean and
    * σ = √(E[x²] − E[x]²) derive in doubles with one fixed expression
    * shape. A zero-variance dimension standardizes to 0 rather than
    * NaN-ing the whole vector.
    *
    * @return (idCol, dim, z) — z unrounded; round at the consumption
    *         site */
  def standardizeDims(embeddings: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val exploded = embeddings.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(col(vecCol)))
    val xd = col("col").cast("double")
    val stats = exploded
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(xd.cast("decimal(38,12)")).as("_s"),
        sum((xd * xd).cast("decimal(38,12)")).as("_ss"))
    val mean = col("_s").cast("double") / col("n").cast("double")
    val sd = sqrt(greatest(
      col("_ss").cast("double") / col("n").cast("double") - mean * mean,
      lit(0.0)))
    exploded
      .join(broadcast(stats.select(col("pos"), mean.as("_mean"), sd.as("_sd"))),
        Seq("pos"))
      .select(col(idCol), col("pos").cast("long").as("dim"),
        when(col("_sd") === 0.0, lit(0.0))
          .otherwise((xd - col("_mean")) / col("_sd")).as("z"))
  }

  /** Distributed Lloyd's (spherical) k-means for IVF centroid fitting.
    * Init = deterministic hash-ordered sample of k vectors; each iteration
    * assigns cells map-side against the broadcast centroid literal, then
    * computes per-cell per-dimension means with ordinary partial+final
    * aggregation. Only k·d (sums, counts) rows ever reach the driver —
    * scalar-sized regardless of corpus size. Cosine assignment is
    * scale-invariant, so plain means serve as spherical centroids. Empty
    * cells keep their previous centroid. Fully deterministic. */
  def fitCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 5): Seq[Array[Float]] = {
    // null vectors can neither seed nor be assigned a cell
    val valid = embeddings.filter(col(vecCol).isNotNull)
    var centroids = valid
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    for (_ <- 0 until iterations) {
      val cent = typedLit(centroids.map(_.toSeq))
      val sums = valid
        .select(cellIdExpr(col(vecCol), cent, k).as("cell_id"),
          posexplode(col(vecCol)))
        .groupBy("cell_id", "pos")
        .agg(sum(col("col").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect() // k·d rows — driver-safe at any corpus size
      val byCell = sums.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        byCell.get(c) match {
          case Some(rows) =>
            val arr = new Array[Float](old.length)
            rows.foreach(r =>
              arr(r.getInt(1)) = (r.getDouble(2) / r.getLong(3)).toFloat)
            arr
          case None => old
        }
      }
    }
    centroids
  }

  /** Mean cosine of every vector to its assigned centroid — the quality
    * number a fit is judged by (spherical-k-means inertia analog). */
  def meanAssignedCosine(embeddings: DataFrame, vecCol: String,
      centroids: Seq[Array[Float]]): Double = {
    val cent = typedLit(centroids.map(_.toSeq))
    assignCells(embeddings, vecCol, centroids)
      .select(avg(cosine(col(vecCol), element_at(cent, col("cell_id") + 1))))
      .head().getDouble(0)
  }

  /** Materialize the IVF index: cell assignment computed ONCE, the table
    * written `partitionBy(cell_id)`. This is the 100 TB shape: the one-off
    * O(n·K·d) assignment is paid at build time, and every probe afterwards
    * prunes at the FILE level — Spark's partition discovery lists only the
    * probed cells' directories, so unprobed data is never opened, read, or
    * decoded (vs [[ivfTopK]], which still scans all rows to re-derive
    * cells). */
  def buildIvfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], path: String): Unit = {
    assignCells(embeddings.select(col(idCol), col(vecCol)), vecCol, centroids)
      // cluster by the partition key so each cell dir is written by one
      // task (see buildLshIndex — avoids tasks × K open files)
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    // the centroids persisted NEXT TO the index as raw float bits (exact
    // round trip — a decimal render could perturb a cell assignment):
    // cell ids are only meaningful against the EXACT centroids that
    // assigned them, and refreshIvfIndex must assign new vectors with
    // those, not a refit (the LSH/PQ metadata contract applied to IVF)
    StateDir.writeMeta(embeddings.sparkSession, path, StateDir.IvfMeta,
      "k" -> centroids.size, "dim" -> centroids.head.length,
      "bits" -> centroids.map(_.toSeq.map(java.lang.Float.floatToRawIntBits)))
  }

  /** Centroids read back from a [[buildIvfIndex]] metadata sidecar —
    * bit-exact. None for a pre-metadata index. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Seq[Array[Float]]] =
    StateDir.readMeta(spark, path, StateDir.IvfMeta).map { m =>
      scala.util.Try(m("bits").asInstanceOf[Seq[Seq[Long]]]
          .map(_.map(b => java.lang.Float.intBitsToFloat(b.toInt)).toArray))
        .getOrElse(throw new IllegalArgumentException(s"malformed IVF meta at $path: $m"))
    }

  /** Incremental maintenance for a [[buildIvfIndex]] layout — the
    * [[graft.operators.TextAnalysis.refreshTextIndex]] discipline for
    * the ANN family: assign ONLY the new vectors (with the bit-exact
    * stored centroids) and land them as a compact `_delta` segment
    * ([[AnnDeltaDir]]); the existing corpus is never rescanned, so an
    * append-heavy embedding table refreshes at the marginal cost of
    * the batch — not the index's partition count. Cell
    * assignment is per-row independent, so refresh ≡ rebuild over
    * old ∪ new exactly (spec-pinned). Precondition: new ids disjoint
    * from the indexed ids (same contract as every refresh). Requires
    * the metadata sidecar — refusing to guess centroids is the point.
    * Every `autoCompactEvery`-th refresh folds the per-cell file
    * accumulation via [[maybeAutoCompact]]; 0 disables. */
  def refreshIvfIndex(newEmbeddings: DataFrame, idCol: String,
      vecCol: String, path: String, autoCompactEvery: Int = 8): Unit = {
    val centroids = readIvfCentroids(newEmbeddings.sparkSession, path)
      .getOrElse(throw new IllegalArgumentException(
        s"no ${StateDir.IvfMeta} under $path — pre-metadata IVF indexes cannot " +
          "refresh (their build centroids are unknown); rebuild instead"))
    // delta segment, not a partitioned append (r10 lesson, see
    // [[AnnDeltaDir]]): a partitioned append pays committer work per
    // TOUCHED PARTITION DIR — a cost that tracks the index's partition
    // count, not the batch — so refreshes cost more than rebuilds. The
    // delta write costs a handful of files regardless of K; the
    // auto-compaction cadence folds it into the pruned main layout.
    assignCells(newEmbeddings.select(col(idCol), col(vecCol)), vecCol, centroids)
      .repartition(AnnDeltaFiles)
      .write.mode("append").parquet(s"$path/$AnnDeltaDir")
    maybeAutoCompact(newEmbeddings.sparkSession, path, idCol,
      Seq("cell_id"), autoCompactEvery)
  }

  /** Files per refresh landing in `_delta`: small enough that a probe's
    * extra listing/open cost between folds stays negligible. The writes
    * use repartition, not coalesce — coalesce propagates the 4-task cap
    * UPSTREAM through the whole encode (scan + cell/signature
    * assignment serialized into 4 tasks), while repartition pays one
    * delta-sized shuffle and keeps the encode at full parallelism. At
    * fleet scale a refresh batch is delta-sized by definition; a caller
    * ingesting truly huge batches should rebuild or lower the
    * compaction cadence instead. */
  private final val AnnDeltaFiles = 4

  /** The refresh-vs-refit go/no-go, decided from the numbers
    * [[embeddingDrift]] produces ([[SkewJoin.decide]]'s
    * profile-then-decide discipline applied to index maintenance):
    * [[refreshIvfIndex]] deliberately reuses the build-time centroids
    * (bit-exact sidecar — cell ids are only meaningful against them),
    * which is exactly right while the embedding distribution holds and
    * exactly wrong once it shifts — new vectors then straddle stale cell
    * boundaries, nprobe cells stop covering the true neighbors, and
    * recall decays silently (spec-measured on a planted-offset fixture).
    * The decision stat is the max per-dimension |mean shift| between the
    * INDEXED vectors and the incoming batch — d rows per side cross the
    * wire, nothing corpus-sized. */
  final case class RefitDecision(maxAbsShift: Double, meanAbsShift: Double,
      threshold: Double, refit: Boolean)

  def refitDecide(newEmbeddings: DataFrame, idCol: String, vecCol: String,
      indexPath: String, shiftThreshold: Double = 0.05): RefitDecision = {
    require(shiftThreshold > 0, s"shiftThreshold must be positive, got $shiftThreshold")
    val spark = newEmbeddings.sparkSession
    val indexed = readAnnIndex(spark, indexPath, idCol)
    val row = embeddingDrift(indexed, newEmbeddings, vecCol)
      .agg(max(abs(col("shift"))).as("mx"), avg(abs(col("shift"))).as("mn"))
      .head()
    // null aggregates = no common dimensions (empty side) — nothing to
    // measure, keep the cheap refresh path
    val mx = Option(row.getAs[Double]("mx")).getOrElse(0.0)
    val mn = Option(row.getAs[Double]("mn")).getOrElse(0.0)
    RefitDecision(mx, mn, shiftThreshold, mx >= shiftThreshold)
  }

  /** Incremental IVF maintenance that reads the drift profile and picks
    * its own physical shape (the [[SkewJoin.autoSalted]] analog): below
    * `shiftThreshold` the cheap [[refreshIvfIndex]] append (stored
    * centroids, new-rows-only cost); at or past it a full REFIT —
    * re-fit k centroids over survivors ∪ new (same k as the stored
    * sidecar), rebuild into a staging sibling, swap in with one rename,
    * tombstones folded and cleared. Either way the index afterwards
    * covers old ∪ new exactly; only cell geometry differs. Returns the
    * decision so callers can log/alert on refits. Precondition: new ids
    * disjoint from the indexed ids (the refresh contract). */
  def refreshIvfIndexAuto(newEmbeddings: DataFrame, idCol: String,
      vecCol: String, path: String, shiftThreshold: Double = 0.05,
      iterations: Int = 5): RefitDecision = {
    val spark = newEmbeddings.sparkSession
    val decision = refitDecide(newEmbeddings, idCol, vecCol, path, shiftThreshold)
    if (!decision.refit) refreshIvfIndex(newEmbeddings, idCol, vecCol, path)
    else {
      val k = readIvfCentroids(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"no ${StateDir.IvfMeta} under $path — rebuild instead")).size
      val all = readAnnIndex(spark, path, idCol)
        .select(col(idCol), col(vecCol))
        .unionByName(newEmbeddings.select(col(idCol), col(vecCol)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cents = fitCentroids(all, idCol, vecCol, k, iterations)
        val staging = s"${path}_refitting"
        buildIvfIndex(all, idCol, vecCol, cents, staging)
        StateDir.swap(StateDir.fs(spark, path), path, staging, "refreshIvfIndexAuto")
      } finally all.unpersist()
    }
    decision
  }

  /** Top-k over a [[buildIvfIndex]] table. The probe knows its `nprobe`
    * cell ids up front, so it reads exactly those `cell_id=` directories
    * ([[annSegmentsPruned]], the r12 LSH listing fix generalized here,
    * guide §6): no eager listing of all K cell dirs before the partition
    * filter prunes — the wrong shape once K grows past the demo's 8
    * cells. The `cell_id IN (...)` predicate still applies (it re-states
    * the dir choice for main rows and prunes the natively-stored `_delta`
    * segment). The PQ probe deliberately does NOT get this treatment:
    * [[buildPqIndex]] writes no partition dirs at all — ADC scans the
    * whole code table by design (compression, not pruning, is PQ's
    * lever), so there is nothing to prune. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      idCol: String, vecCol: String, centroids: Seq[Array[Float]],
      probe: Array[Float], k: Int, nprobe: Int = 2): DataFrame = {
    val cells = nearestCells(centroids, probe, nprobe)
    StateDir.withoutTombstones(spark,
        annSegmentsPruned(spark, indexPath,
          cells.map(c => s"cell_id=$c"),
          col("cell_id").isin(cells: _*)),
        indexPath, AnnTombstoneDir, idCol)
      .select(col(idCol), round(cosine(col(vecCol), typedLit(probe.toSeq)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------- random-hyperplane LSH

  /** `nBits` seeded ±1 (Rademacher) hyperplanes for sign-random-projection
    * LSH. Deterministic for a (seed, dim, nBits) triple — the same planes
    * regenerate at query time against a signature table built earlier, so
    * nothing but the seed needs storing.
    *
    * Components come from [[graft.functions.NeutralHash]] (bit 0 of
    * md5-lower64 of "lsh:seed:bit:dim") rather than a JVM Gaussian
    * stream: sign projections against Rademacher vectors are an equally
    * valid SRP family (the dot-product sign is what matters, not the
    * component distribution), and ±1.0 components make every
    * plane·vector product EXACT in double — an external SQL engine
    * replays the signatures bit-for-bit via `list_dot_product` with the
    * same plane literals, which is how q_sim_lsh gains a full DuckDB
    * oracle instead of a rows-only check. */
  def signPlanes(dim: Int, nBits: Int, seed: Long): Seq[Array[Float]] = {
    require(nBits >= 1 && nBits <= 63, s"nBits must be in [1,63], got $nBits")
    Seq.tabulate(nBits)(b => Array.tabulate(dim)(d =>
      if ((graft.functions.NeutralHash.lower64(s"lsh:$seed:$b:$d") & 1L) == 1L) 1f
      else -1f))
  }

  /** Packed sign-bit signature of `vec` under `planes`: bit i is set iff
    * dot(vec, plane_i) >= 0 — ONE fused codegen'd loop over the whole
    * plane matrix (graft.functions.SignProjection) rather than nBits
    * composed dot expressions (whose generated code grows with
    * nBits×dim and threatens the codegen method limits at 12×6 planes).
    * Null / dimension-mismatched vectors carry no signature (null). */
  def lshSignature(vec: Column, planes: Seq[Array[Float]]): Column =
    graft.functions.VectorFunctions.signProjection(vec, planes)

  private def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    d
  }

  /** Candidate rows for `probe` under multi-table sign-random-projection
    * LSH: `nTables` independent `nBits`-bit signatures (planes seeded
    * `seed + t`), a row is a candidate if ANY table buckets it with the
    * probe. Recall for a neighbor at angle θ is
    * `1 - (1 - (1 - θ/π)^nBits)^nTables` — more tables buy recall, more
    * bits buy precision (smaller buckets). The whole predicate is a
    * map-side conjunction of codegen'd dot products; at scale the
    * signature columns are materialized once next to the vectors (cf.
    * [[buildIvfIndex]] — a bucket-partitioned layout makes each probe a
    * point lookup on nTables buckets) instead of recomputed per probe. */
  def lshCandidates(embeddings: DataFrame, vecCol: String,
      probe: Array[Float], nBits: Int = 6, nTables: Int = 12,
      seed: Long = 7L): DataFrame = {
    require(nTables >= 1, s"nTables must be positive, got $nTables")
    val hit = (0 until nTables).map { t =>
      val planes = signPlanes(probe.length, nBits, seed + t)
      lshSignature(col(vecCol), planes) === lit(probeSignature(planes, probe))
    }.reduce(_ || _)
    // null vectors carry no signature (their dot is null → every bit
    // clears to signature 0) and must not surface as bucket-0 candidates
    embeddings.filter(col(vecCol).isNotNull && hit)
  }

  /** Approximate cosine top-k via [[lshCandidates]] + exact cosine rerank
    * (id tiebreak). Complements [[ivfTopK]]: no centroid fit, tunable
    * recall/scan-fraction via (nBits, nTables), suited to high-similarity
    * retrieval (near-dup hunting) where (1-θ/π)^nBits stays large. */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      probe: Array[Float], k: Int, nBits: Int = 6, nTables: Int = 12,
      seed: Long = 7L): DataFrame =
    lshCandidates(embeddings, vecCol, probe, nBits, nTables, seed)
      .select(col(idCol), round(cosine(col(vecCol), typedLit(probe.toSeq)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  private def probeSignature(planes: Seq[Array[Float]],
      probe: Array[Float]): Long =
    planes.zipWithIndex
      .map { case (p, i) => if (dotLocal(p, probe) >= 0d) 1L << i else 0L }
      .sum

  /** Materialize the multi-table LSH index: ONE pass over the vectors
    * explodes each row into its nTables (table, bucket) assignments and
    * writes `partitionBy(table, bucket)` — the standard L-fold space
    * trade of multi-table LSH, paid once at build time. Probes then
    * become nTables point lookups with genuine FILE pruning (both
    * `table` and `bucket` are directory columns), the same story as
    * [[buildIvfIndex]] — unprobed buckets are never opened or decoded.
    * Only (seed, nBits, nTables) need remembering: the planes
    * regenerate at query time. */
  def buildLshIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nBits: Int = 6, nTables: Int = 12,
      seed: Long = 7L, dim: Int = 0): Unit = {
    // pass dim explicitly at scale to skip the inference job (one extra
    // pass over the lineage just to read one vector's length)
    val d =
      if (dim > 0) dim
      else {
        val firstDim = embeddings.filter(col(vecCol).isNotNull)
          .select(size(col(vecCol))).head(1)
        require(firstDim.nonEmpty,
          "buildLshIndex: no non-null vectors to index")
        firstDim.head.getInt(0)
      }
    val assignments = (0 until nTables).map { t =>
      val planes = signPlanes(d, nBits, seed + t)
      struct(lit(t).as("table"),
        lshSignature(col(vecCol), planes).as("bucket"))
    }
    // null vectors have no signature — indexing them into bucket 0 of
    // every table would surface them as candidates with NULL cosine.
    // Cluster rows by the partition key before the dynamic-partition
    // write: without it EVERY task opens a file in EVERY (table, bucket)
    // dir it sees — tasks × nTables·2^nBits files (committer churn at any
    // scale, tiny-file explosion at 100 TB); clustered, each dir is
    // written by exactly one task.
    embeddings.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
        explode(array(assignments: _*)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
      .repartition(col("table"), col("bucket"))
      .write.mode("overwrite").partitionBy("table", "bucket").parquet(path)
    StateDir.writeMeta(embeddings.sparkSession, path, StateDir.LshMeta,
      "dim" -> d, "nBits" -> nBits, "nTables" -> nTables, "seed" -> seed)
  }

  /** Index parameters persisted next to the data: a probe with different
    * (dim, nBits, nTables, seed) regenerates planes that no longer match
    * the stored signatures and silently returns wrong buckets — the
    * metadata turns that mismatch into an error at probe time. */
  private def readLshMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Map[String, Long]] =
    StateDir.readMeta(spark, path, StateDir.LshMeta)
      .map(_.collect { case (k, v: Long) => k -> v })

  private final val AnnTombstoneDir = "_tombstones"

  /** Refresh segment sidecar dir — the Lucene small-segment answer to
    * the committer cost that made append-style refreshes more expensive
    * than full rebuilds (measured r10: an LSH refresh committing one
    * file into each of nTables×2^nBits = 768 partition dirs cost 14.2 s
    * where the full rebuild cost 3.1 s). Refreshes now land as a few
    * UNPARTITIONED files under `path/_delta` (the underscore keeps them
    * invisible to plain parquet reads of the main layout); probes union
    * the segment in ([[annSegments]]), and the existing auto-compaction
    * cadence folds it into the partitioned main layout — after which
    * the partition-pruned probe cost is restored for those rows. Between
    * folds a probe scans the whole (refresh-batch-sized) delta instead
    * of pruning it; that is the deliberate trade: refresh cost must
    * track the BATCH, probe cost stays amortized by the fold. */
  private final val AnnDeltaDir = "_delta"

  /** `main` ∪ the `_delta` refresh segment (if present). The main
    * layout's partition-dir columns come back typed by directory-name
    * inference while the delta stores them natively, so the delta side
    * is aligned (column order and types) to the main schema before the
    * union — predicates pushed through the union still partition-prune
    * the main side. */
  private def withDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, main: DataFrame): DataFrame =
    ParquetState.readSegment(spark, s"$path/$AnnDeltaDir").fold(main)(delta =>
      main.unionByName(delta.select(
        main.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)))

  /** Main segment ∪ `_delta`. Recovers a crashed compaction swap first
    * (the read of a half-swapped dir would otherwise fail before any
    * probe-side recovery ran). */
  private def annSegments(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    StateDir.recover(StateDir.fs(spark, path), path)
    withDelta(spark, path, ParquetState.read(spark, path))
  }

  /** [[annSegments]] restricted to KNOWN partition directories — the
    * probe-side listing fix (guide §6): `spark.read.parquet(root)` of a
    * wide layout eagerly lists EVERY partition dir before the partition
    * filter prunes the scan (LSH: nTables×2^nBits = 768 dirs → a
    * distributed listing job plus a footer-inference job per probe,
    * measured at sf0.1 as most of q_sim_lsh_indexed's wall). A probe
    * that already knows its (partition → value) pairs reads exactly
    * those dirs (driver-side existence checks, no listing job); `pred`
    * still applies — it re-states the dir choice for the main rows and
    * prunes the natively-stored delta segment. Falls back to the full
    * main layout when no probed dir exists (the all-empty-buckets edge
    * keeps its schema from the main layout). */
  private def annSegmentsPruned(spark: org.apache.spark.sql.SparkSession,
      path: String, partDirs: Seq[String],
      pred: Column): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = StateDir.fs(spark, path)
    StateDir.recover(fs, path)
    val existing = partDirs.filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(p, d)))
    val main =
      if (existing.isEmpty) ParquetState.read(spark, path)
      else ParquetState.reader(spark, s"$path/${existing.head}")
        .option("basePath", path)
        .parquet(existing.map(d => s"$path/$d"): _*)
    withDelta(spark, path, main).filter(pred)
  }

  /** The visible rows of an ANN layout: main ∪ `_delta` refresh segment,
    * tombstones anti-joined out — what every probe and compaction sees.
    * Public so audits/tests read the layout through the same lens
    * instead of a plain `spark.read.parquet(path)` (which misses
    * unfolded refreshes and still shows tombstoned rows). */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): DataFrame =
    StateDir.withoutTombstones(spark, annSegments(spark, path), path,
      AnnTombstoneDir, idCol)

  /** The Lucene merge discipline for append-style index refreshes:
    * every refresh appends at least one file per touched partition
    * (measured: an sf0.1 LSH refresh adds one file to each of the
    * touched (table, bucket) dirs), so a refresh-heavy corpus
    * accumulates small files WITHOUT BOUND until something folds them.
    * This bumps the persisted refresh counter and, every
    * `autoCompactEvery`-th refresh, runs [[compactAnnIndex]] (which
    * also folds tombstones) and resets the counter — the reset is
    * written BEFORE the compaction so the carried-over sidecar in the
    * swapped-in layout already reads 0. Counter rides a sidecar, not
    * memory, so SEQUENTIAL refreshes from different sessions/jobs share
    * one cadence. SINGLE-WRITER contract (the refresh contract itself):
    * a refresh racing a triggered compaction could append files the
    * compaction scan never saw and the swap then discards — serialize
    * writers per index path; concurrent PROBES are safe (they read the
    * live dir, and the swap is rename-atomic with crash recovery). */
  private def maybeAutoCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, partitionCols: Seq[String],
      autoCompactEvery: Int): Unit = {
    if (autoCompactEvery <= 0) return
    // the counter sidecar is `_*.json`, so compactAnnIndex carries it over
    val n = StateDir.readMeta(spark, path, StateDir.RefreshCount)
      .flatMap(_.get("refreshes")).collect { case c: Long => c.toInt }.getOrElse(0) + 1
    def count(c: Int): Unit =
      StateDir.writeMeta(spark, path, StateDir.RefreshCount, "refreshes" -> c)
    if (n >= autoCompactEvery) {
      count(0)
      compactAnnIndex(spark, path, idCol, partitionCols)
    } else count(n)
  }

  /** Tombstone delete for ANY materialized ANN layout ([[buildIvfIndex]]
    * / [[buildLshIndex]] / [[buildPqIndex]]) — the
    * [[TextAnalysis.deleteFromTextIndex]] discipline: the layouts are
    * partition-major (cell / table+bucket) or unpartitioned, so physical
    * removal of one vector costs a partition rewrite; a delete instead
    * appends ids to `path/_tombstones` (O(ids); the underscore keeps it
    * invisible to plain parquet reads of the index), probes anti-join
    * them out (exact visibility immediately), and [[compactAnnIndex]]
    * folds them in physically. Ids are stored under the INDEX's id
    * column name — pass the same `idCol` the index was built with. */
  def deleteFromAnnIndex(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(s"$path/$AnnTombstoneDir")

  /** Fold tombstones in and rewrite an ANN layout — one scan of the
    * index (never the raw embedding table), staged and swapped in via
    * [[StateDir.swap]] (rename-aside → rename-in → drop-aside; a crash
    * anywhere is replayed by [[StateDir.recover]] at the next lifecycle
    * entry — never a missing index), tombstones cleared. `partitionCols` must
    * match the layout (`cell_id` for IVF, `table`/`bucket` for LSH,
    * empty for the PQ code table); assignments are per-row, so the
    * compacted index is row-identical to one built over the survivors
    * (spec-pinned). */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, partitionCols: Seq[String]): Unit = {
    // readAnnIndex folds the `_delta` refresh segment and the tombstones
    // into the rewrite (recovering a half-done swap first); the swap
    // drops the old dir, so the compacted layout is purely partitioned
    // main-segment again
    val surviving = readAnnIndex(spark, path, idCol)
    val staging = s"${path}_compacting"
    val w0 = (if (partitionCols.nonEmpty)
        surviving.repartition(partitionCols.map(col): _*)
      else surviving)
      .write.mode("overwrite")
    (if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0)
      .parquet(staging)
    // metadata sidecars live INSIDE the dir and are invisible to the
    // parquet scan — carry them over before the swap
    StateDir.copySidecars(spark, path, staging)
    StateDir.swap(StateDir.fs(spark, path), path, staging, "compactAnnIndex")
  }

  /** Incremental maintenance for a [[buildLshIndex]] layout: the stored
    * (dim, nBits, nTables, seed) regenerate the SAME planes, new vectors
    * explode into their nTables (table, bucket) assignments, and the
    * rows land as a compact `_delta` segment ([[AnnDeltaDir]]) probes
    * union in — per-row independent signatures make refresh ≡ rebuild
    * over old ∪ new exactly (spec-pinned). Requires the metadata sidecar
    * (a guessed seed would sign against different planes and corrupt the
    * buckets silently). Precondition: new ids disjoint from the indexed
    * ids.
    *
    * Every `autoCompactEvery`-th refresh triggers [[compactAnnIndex]]
    * ([[maybeAutoCompact]]), folding the delta segment into the
    * partitioned main layout — bounding both the delta scan a probe
    * pays between folds and the small-file accumulation. 0 disables
    * (callers owning their own compaction cadence). */
  def refreshLshIndex(newEmbeddings: DataFrame, idCol: String,
      vecCol: String, path: String, autoCompactEvery: Int = 8): Unit = {
    val spark = newEmbeddings.sparkSession
    val meta = readLshMeta(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no ${StateDir.LshMeta} under $path — pre-metadata LSH indexes cannot " +
          "refresh (their plane parameters are unknown); rebuild instead"))
    val d = meta("dim").toInt
    val nBits = meta("nBits").toInt
    val nTables = meta("nTables").toInt
    val seed = meta("seed")
    val assignments = (0 until nTables).map { t =>
      val planes = signPlanes(d, nBits, seed + t)
      struct(lit(t).as("table"),
        lshSignature(col(vecCol), planes).as("bucket"))
    }
    // delta segment (see [[AnnDeltaDir]]): the old partitioned append
    // committed one file into each touched (table, bucket) dir —
    // nTables×2^nBits committer operations per refresh, measured MORE
    // expensive than a full rebuild at every SF (r10 judge: 14.2 s
    // refresh vs 3.1 s rebuild at sf0.1). The delta write costs
    // AnnDeltaFiles files total; the fold restores partition pruning.
    newEmbeddings.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
        explode(array(assignments: _*)).as("tb"))
      .select(col(idCol), col(vecCol),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
      .repartition(AnnDeltaFiles)
      .write.mode("append").parquet(s"$path/$AnnDeltaDir")
    maybeAutoCompact(spark, path, idCol, Seq("table", "bucket"),
      autoCompactEvery)
  }

  /** Top-k over a [[buildLshIndex]] table: the probe's nTables
    * (table, bucket) pairs form a partition-column predicate, so the scan
    * carries `PartitionFilters` and lists only the probed buckets'
    * directories; ids hitting several tables dedup before the exact
    * cosine rerank. Must be called with the SAME (nBits, nTables, seed)
    * the index was built with — validated against the metadata file
    * [[buildLshIndex]] writes (pre-metadata indexes skip the check). */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String, vecCol: String,
      probe: Array[Float], k: Int, nBits: Int = 6, nTables: Int = 12,
      seed: Long = 7L): DataFrame = {
    readLshMeta(spark, indexPath).foreach { meta =>
      val asked = Map("dim" -> probe.length.toLong, "nBits" -> nBits.toLong,
        "nTables" -> nTables.toLong, "seed" -> seed)
      val mismatched = asked.filter { case (k2, v) => meta.get(k2).exists(_ != v) }
      require(mismatched.isEmpty,
        s"lshTopKIndexed: probe parameters ${mismatched.keys.mkString(", ")} " +
          s"do not match the index at $indexPath (built with $meta, " +
          s"probed with $asked) — regenerated planes would not match the " +
          "stored signatures")
    }
    val sigs = (0 until nTables).map { t =>
      t -> probeSignature(signPlanes(probe.length, nBits, seed + t), probe)
    }
    val pred = sigs.map { case (t, sig) =>
      col("table") === t && col("bucket") === sig
    }.reduce(_ || _)
    StateDir.withoutTombstones(spark,
        annSegmentsPruned(spark, indexPath,
          sigs.map { case (t, sig) => s"table=$t/bucket=$sig" }, pred),
        indexPath, AnnTombstoneDir, idCol)
      .dropDuplicates(idCol)
      .select(col(idCol), round(cosine(col(vecCol), typedLit(probe.toSeq)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** All-pairs cosine near-dups, exact, via broadcast-matrix blocking:
    * the full (id, vec, norm) set rides to every task as a broadcast
    * (n·d floats — gate on size), and each partition runs a tight
    * primitive loop over its rows × the broadcast block emitting only
    * id<id pairs above threshold. No 12.5M-row join materialization —
    * the O(n²·d) flops happen in-register. For sets too big to
    * broadcast, [[embeddingNearDupPairs]] is the cell-blocked path.
    *
    * Rounding matches the join form exactly: ascending-index double
    * accumulation, dot/(|a||b|), then BigDecimal HALF_UP at 6 dp. */
  def bruteNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val spark = embeddings.sparkSession
    val rows = embeddings.select(col(idCol).cast("long"), col(vecCol))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("id_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cos",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val encoder = org.apache.spark.sql.Encoders.row(schema)

    val all: Array[(Long, Array[Float])] = rows.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)
    }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(all)

    def norm(v: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) { val x = v(i).toDouble; acc += x * x; i += 1 }
      math.sqrt(acc)
    }

    // HALF_UP at 6 dp moves a value by at most 5e-7, so any raw cosine
    // below (threshold - 5e-7) cannot round up across the threshold —
    // the cheap primitive compare prunes ~all of the O(n²) pairs BEFORE
    // the exact BigDecimal rounding (which would otherwise allocate per
    // pair and dominate the kernel); survivors still round exactly, so
    // boundary semantics are bit-identical to rounding everything
    val guard = threshold - 5e-7
    rows.mapPartitions { it =>
      val block = bc.value
      val norms = block.map(p => norm(p._2))
      it.flatMap { r =>
        val idA = r.getLong(0)
        val vecA = r.getSeq[Float](1).toArray
        val nrmA = norm(vecA)
        val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        var j = 0
        while (j < block.length) {
          val (idB, vecB) = block(j)
          if (idA < idB) {
            var dot = 0.0; var k = 0
            while (k < vecA.length) { dot += vecA(k).toDouble * vecB(k).toDouble; k += 1 }
            val raw = dot / (nrmA * norms(j))
            if (raw >= guard) {
              val cos = java.math.BigDecimal.valueOf(raw)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (cos >= threshold)
                out += org.apache.spark.sql.Row(idA, idB, cos)
            }
          }
          j += 1
        }
        out.iterator
      }
    }(encoder)
  }

  /** The join-based brute formulation (kept as the reference
    * implementation the broadcast form is verified against in specs). */
  def bruteNearDupPairsJoin(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // precompute each row's norm ONCE (O(n·d)) so the quadratic pair stage
    // is a single dot product per pair, not dot + two norms
    val withNorm = embeddings.select(col(idCol), col(vecCol),
      l2Norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      col("nrm").as("nrm_a"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Size-adaptive near-dup pairs — the registered inventory path.
    *
    * Exact all-pairs cosine is inherently O(n²): no blocking scheme is both
    * exact and sub-quadratic at a 0.45 threshold. The scale strategy is
    * therefore a gate, not a single algorithm:
    *   - while the (id, vec) set fits a broadcast budget (default 128 MB,
    *     ~250k 128-dim vectors), run the exact broadcast kernel
    *     ([[bruteNearDupPairs]]) — O(n²·d) flops in-register, zero shuffle;
    *   - beyond the budget, switch to the IVF-cell-blocked pair join
    *     ([[embeddingNearDupPairs]]) with centroids drawn as a deterministic
    *     hash-ordered sample — same-cell pairs only (standard blocked-ANN
    *     dedup, approximate recall), but each cell's pair join is local and
    *     the whole thing scales horizontally.
    * The gate reads only count + a max-size probe — no full-table driver
    * collect on either path; centroid selection collects at most k·d
    * scalar aggregate rows (fitted) or k vectors (sampled).
    *
    * The budget bounds executor MEMORY, deliberately not compute: the
    * kernel's O(n²·d) flops parallelize horizontally (zero shuffle), so
    * on a wide cluster the in-budget exact path stays fast long after a
    * single machine would crawl (measured: 100 k × 64-d = 5·10⁹ pairs
    * ≈ 102 s on local[32], trivially spread on 1000 executors). A
    * small-cluster deployment that prefers approximate-but-cheap earlier
    * lowers `broadcastBudgetBytes` to flip to the IVF path sooner. */
  def nearDupPairsAuto(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, broadcastBudgetBytes: Long = 128L << 20,
      maxCells: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    val n = embeddings.count()
    // max over the table (null-safe): an empty table or all-null column
    // routes to the trivially-correct brute path instead of crashing on
    // head() of an empty result
    val dim = Option(embeddings.select(max(size(col(vecCol)))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    val bytes = n * (dim.toLong * 4 + 24) // floats + per-row object overhead
    if (bytes <= broadcastBudgetBytes) {
      bruteNearDupPairs(embeddings, idCol, vecCol, threshold)
    } else {
      // enough cells that one cell's rows stay task-sized (~budget/8 bytes),
      // at least one per core so the pair joins saturate the cluster — but
      // never so many that cells average fewer than ~16 rows (degenerate
      // blocking), and HARD-capped at maxCells: k otherwise grows linearly
      // with the corpus, and anything k-sized (the centroid literal every
      // task evaluates, the k·d fit aggregate, a k-vector sample) must stay
      // scalar relative to the driver and the per-row assignment cost.
      // Past the cap cells simply exceed the per-task ideal and the pair
      // joins spill — degraded, not broken.
      val perCellBytes = math.max(broadcastBudgetBytes / 8, 1L << 20)
      val wanted = math.max(spark.sparkContext.defaultParallelism.toLong,
        bytes / perCellBytes + 1)
      val k = math.min(math.min(wanted, math.max(1L, n / 16)), maxCells.toLong).toInt
      // two Lloyd's iterations tighten the cells around the data's real
      // clusters, raising same-cell recall over a raw hash-ordered sample;
      // with k capped, the fit's k·d driver aggregate stays scalar-sized
      val centroids = fitCentroids(embeddings, idCol, vecCol, k, iterations = 2)
      embeddingNearDupPairs(embeddings, idCol, vecCol, centroids, threshold)
    }
  }

  /** All near-duplicate pairs by embedding cosine ≥ threshold, bucketed by
    * IVF cell so the pair join is per-cell, not global (same-cell pairs
    * only — approximate, standard blocked-ANN dedup). */
  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], threshold: Double): DataFrame = {
    val cent = typedLit(centroids.map(_.toSeq))
    val assigned = embeddings
      .withColumn("cell_id", cellIdExpr(col(vecCol), cent, centroids.size))
    // ids cast to long like the brute kernel does (Similarity.bruteNearDupPairs),
    // so both sides of nearDupPairsAuto's size gate emit the same id type and
    // downstream consumers (Dedup.dedupClusters' union-find reads longs) see
    // one contract regardless of which path the table size selected
    val a = assigned.select(col("cell_id"), col(idCol).cast("long").as("id_a"),
      col(vecCol).as("vec_a"), l2Norm(col(vecCol)).as("nrm_a"))
    val b = assigned.select(col("cell_id"), col(idCol).cast("long").as("id_b"),
      col(vecCol).as("vec_b"), l2Norm(col(vecCol)).as("nrm_b"))
    a.join(b, Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("raw",
        dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      // prune on the raw primitive compare BEFORE the per-row BigDecimal
      // round (same 5e-7 HALF_UP guard band as the broadcast kernel —
      // identical results, the round runs only on near-threshold rows)
      .filter(col("raw") >= threshold - 5e-7)
      .withColumn("cos", round(col("raw"), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Incremental embedding dedup: cosine near-dup pairs of NEW vectors
    * vs an EXISTING corpus ONLY — the daily-increment shape, mirroring
    * [[Dedup.dedupAgainstCorpus]] for text. The existing×existing
    * quadrant (the overwhelming bulk at 100 TB) is never compared: both
    * sides block by IVF cell and only same-cell new×existing pairs are
    * scored (standard blocked-ANN dedup, approximate recall — identical
    * blocking to [[embeddingNearDupPairs]]). At scale the existing
    * side's assignment is the already-materialized [[buildIvfIndex]]
    * table, so an increment pays O(|new|) assignment plus keyed joins.
    * Returns (id_new, id_old, cos). */
  def nearDupAgainstCorpus(newEmb: DataFrame, existingEmb: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Array[Float]],
      threshold: Double): DataFrame = {
    val cent = typedLit(centroids.map(_.toSeq))
    def assigned(df: DataFrame, side: String) = df
      .withColumn("cell_id", cellIdExpr(col(vecCol), cent, centroids.size))
      .select(col("cell_id"), col(idCol).cast("long").as(s"id_$side"),
        col(vecCol).as(s"vec_$side"), l2Norm(col(vecCol)).as(s"nrm_$side"))
    assigned(newEmb, "new").join(assigned(existingEmb, "old"), Seq("cell_id"))
      .withColumn("raw",
        dot(col("vec_new"), col("vec_old")) / (col("nrm_new") * col("nrm_old")))
      // same 5e-7 HALF_UP guard band as the other cosine kernels
      .filter(col("raw") >= threshold - 5e-7)
      .withColumn("cos", round(col("raw"), 6))
      .filter(col("cos") >= threshold)
      .select("id_new", "id_old", "cos")
  }

  /** Semantic decontamination hits: corpus vectors whose cosine to ANY
    * eval-set vector reaches `threshold` — the embedding-space
    * complement of [[Dedup.contaminationHits]]' n-gram check (a
    * paraphrased eval item shares no 3-gram but sits next to its source
    * in embedding space). EXACT by construction: decontamination must
    * not hinge on a blocking scheme's recall, so the (small, by
    * definition) eval side broadcasts and every corpus vector scores
    * against all of it map-side — one corpus scan, |eval|× codegen'd
    * cosines per row, zero shuffle of the corpus (the
    * [[batchTopK]] probe discipline). Returns (id, n_hits, max_cos)
    * for contaminated corpus rows only. */
  def semanticContaminationHits(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val probes = broadcast(evalSet.filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("_ev")))
    corpus.filter(col(vecCol).isNotNull)
      .crossJoin(probes)
      .withColumn("_cos", round(cosine(col(vecCol), col("_ev")), 6))
      .filter(col("_cos") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), max(col("_cos")).as("max_cos"))
  }

  /** SemDeDup-style semantic deduplication: cosine near-dup pairs →
    * connected components → keep only each component's min-id root (plus
    * every row in no component). Returns the surviving rows of `emb`
    * unchanged.
    *
    * Scale (100 TB): pair generation is [[nearDupPairsAuto]] (exact
    * broadcast kernel under the budget, IVF-cell-blocked past it),
    * clustering is [[Dedup.dedupClusters]] (driver union-find for small
    * graphs, distributed label propagation past the heap-derived
    * threshold), and the final step is a keyed left-anti join — the loser
    * set is usually far smaller than the corpus, so AQE turns it into a
    * broadcast join when it fits. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    semanticDedupFrom(emb, idCol,
      nearDupPairsAuto(emb, idCol, vecCol, threshold))

  /** [[semanticDedup]] from a precomputed (id_a, id_b) pair frame —
    * callers running several embedding-dedup ops should compute the
    * pairs once, persist them, and feed both consumers. */
  def semanticDedupFrom(emb: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = Dedup.dedupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    emb.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- product quantization

  /** Split codebook rows into per-subspace codebooks for product
    * quantization (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search" — public): codebook m holds each row's m-th
    * contiguous `dim/numSub` slice. The inventory convention mirrors
    * [[fitCentroids]]-free IVF: codebook rows are data vectors (the
    * first K of the table), so an external SQL engine can re-derive the
    * codebooks and replay the whole quantization. */
  def pqCodebooksFromRows(rows: Seq[Array[Float]], numSub: Int): Seq[Seq[Array[Float]]] = {
    require(rows.nonEmpty, "pqCodebooksFromRows: no codebook rows")
    val dim = rows.head.length
    require(numSub >= 1 && dim % numSub == 0,
      s"pqCodebooksFromRows: dim $dim not divisible into $numSub subspaces")
    val subDim = dim / numSub
    Seq.tabulate(numSub)(m => rows.map(_.slice(m * subDim, (m + 1) * subDim)))
  }

  /** Nearest-codebook-entry index for subspace `m` (0-based), by squared
    * L2 distance with min-index tiebreak. The |a|²-free expansion
    * |c|² − 2·a·c keeps every comparison a pure dot product:
    * [[graft.functions.VectorExpressions VectorDot]] accumulates
    * ascending exactly like DuckDB's `list_dot_product`, and |c|² is a
    * driver-computed literal from the same floats — so the assigned
    * codes are bit-identical across engines (the IVF argmax story,
    * rounded at 9 dp for tie robustness).
    *
    * This composed form is the REFERENCE semantics only (spec'd equal to
    * the fused expression): production paths use
    * [[graft.functions.PqAssign]], whose one fused loop stays inside
    * whole-stage codegen where this numSub×K expression tree blows
    * Janino's method-size limit and falls back to interpretation. */
  private[graft] def pqCodeExpr(vec: Column, codebook: Seq[Array[Float]],
      m: Int, subDim: Int): Column = {
    val sub = slice(vec, m * subDim + 1, subDim)
    val scores = array(codebook.map { c =>
      round(lit(dotLocal(c, c)) -
        lit(2.0) * graft.functions.VectorFunctions.vecDot(sub, typedLit(c.toSeq)), 9)
    }: _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** PQ code assignment: every vector becomes `numSub` (subspace, code)
    * rows. This is the 100 TB compression path for embedding tables — a
    * 64-dim float32 vector (256 B) becomes numSub=8 byte-sized codes
    * (32× smaller), and downstream ADC scoring ([[adcTopK]]) reads ONLY
    * the code table. Pure map-side projection against broadcast-sized
    * codebook literals: no shuffle, no driver state, scales as a scan.
    * Null vectors carry no codes (dropped, like the ANN indexes). */
  def pqCodes(embeddings: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    embeddings.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        graft.functions.VectorFunctions.pqAssign(col(vecCol), codebooks).as("codes"))
      .select(col(idCol), posexplode(col("codes")))
      .select(col(idCol), col("pos").as("m"), col("col").as("code"))
  }

  /** Packed PQ codes, one row per vector: (id, codes array<int>) — the
    * form a materialized code table stores ([[adcTopKFromCodes]] scans
    * it instead of the vectors; 32× less IO at 100 TB). */
  def pqPackedCodes(embeddings: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    embeddings.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        graft.functions.VectorFunctions.pqAssign(col(vecCol), codebooks).as("codes"))
  }

  /** Deterministic fingerprint of a codebook set (md5 over the float
    * bits in order): codes in a materialized table are only meaningful
    * against the EXACT codebooks that assigned them, so the probe path
    * refuses a mismatched set instead of silently scoring garbage (the
    * [[buildLshIndex]] metadata contract applied to PQ). */
  private def pqFingerprint(codebooks: Seq[Seq[Array[Float]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(4)
    codebooks.foreach(_.foreach(_.foreach { f =>
      buf.clear(); buf.putFloat(f); md.update(buf.array())
    }))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Materialize the packed code table ([[pqPackedCodes]]) plus codebook
    * metadata: the steady-state 100 TB ANN shape — later probes scan
    * numSub ints per row instead of the 32×-larger vectors, and never
    * touch the embedding table at all. No partitionBy: ADC scans the
    * WHOLE code table by design (compression, not pruning, is PQ's
    * lever; combine with [[buildIvfIndex]] cells when both are wanted). */
  def buildPqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Array[Float]]], path: String): Unit = {
    pqPackedCodes(embeddings, idCol, vecCol, codebooks)
      .write.mode("overwrite").parquet(path)
    StateDir.writeMeta(embeddings.sparkSession, path, StateDir.PqMeta,
      "numSub" -> codebooks.size, "subDim" -> codebooks.head.head.length,
      "codesPerSub" -> codebooks.head.size, "fp" -> pqFingerprint(codebooks))
  }

  /** Stored codebook fingerprint of a [[buildPqIndex]] table (None for
    * a pre-metadata table). */
  private def readPqFingerprint(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[String] =
    StateDir.readMeta(spark, indexPath, StateDir.PqMeta)
      .flatMap(_.get("fp")).collect { case fp: String => fp }

  /** Incremental maintenance for a [[buildPqIndex]] table: encode ONLY
    * the new vectors and append their packed code rows — the existing
    * code table is never rescanned. The caller's codebooks are
    * fingerprint-validated against the index metadata first (REQUIRED
    * here, unlike the probe's best-effort check: appending codes
    * assigned by foreign codebooks corrupts the table for every later
    * probe). Per-row independent encoding makes refresh ≡ rebuild over
    * old ∪ new exactly (spec-pinned). Precondition: new ids disjoint
    * from the indexed ids. */
  def refreshPqIndex(newEmbeddings: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[Array[Float]]], path: String,
      autoCompactEvery: Int = 8): Unit = {
    val fp = readPqFingerprint(newEmbeddings.sparkSession, path)
      .getOrElse(throw new IllegalArgumentException(
        s"no ${StateDir.PqMeta} under $path — pre-metadata PQ tables cannot " +
          "refresh (their codebook fingerprint is unknown); rebuild instead"))
    require(fp == pqFingerprint(codebooks),
      s"refreshPqIndex: codebooks do not match the index at $path " +
        s"(built with fingerprint $fp) — appending foreign-coded rows " +
        "would corrupt every later probe")
    // delta segment + fold cadence (see [[AnnDeltaDir]]): even on this
    // unpartitioned layout a direct append lands one file per task of
    // the new batch, and PQ previously had NO fold at all — the one
    // layout where small files accumulated without bound
    pqPackedCodes(newEmbeddings, idCol, vecCol, codebooks)
      .repartition(AnnDeltaFiles)
      .write.mode("append").parquet(s"$path/$AnnDeltaDir")
    maybeAutoCompact(newEmbeddings.sparkSession, path, idCol,
      Seq.empty, autoCompactEvery)
  }

  /** [[adcTopKFromCodes]] over a [[buildPqIndex]] table, with the
    * codebook fingerprint validated against the index metadata (probing
    * a code table with codebooks other than the ones that assigned the
    * codes silently returns wrong neighbors — made an error instead;
    * pre-metadata tables skip the check). */
  def adcTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String,
      codebooks: Seq[Seq[Array[Float]]], probe: Array[Float], k: Int): DataFrame = {
    readPqFingerprint(spark, indexPath).foreach { fp =>
      require(fp == pqFingerprint(codebooks),
        s"adcTopKIndexed: codebooks do not match the index at $indexPath " +
          s"(built with fingerprint $fp) — its codes were " +
          "assigned by different codebooks and would score wrong neighbors")
    }
    adcTopKFromCodes(
      readAnnIndex(spark, indexPath, idCol),
      idCol, "codes", codebooks, probe, k)
  }

  /** Distributed per-subspace Lloyd's fitting for PQ codebooks (the
    * trained form; [[pqCodebooksFromRows]] over raw data rows is the
    * untrained baseline). Init = sub-slices of a deterministic
    * hash-ordered k-row sample; each iteration assigns every (row,
    * subspace) to its nearest code map-side against the broadcast
    * codebook literals, then computes per-(subspace, code, dimension)
    * means with ordinary partial+final aggregation — ALL subspaces in
    * ONE job, and only numSub·k·subDim (sum, count) rows reach the
    * driver per iteration regardless of corpus size (the
    * [[fitCentroids]] contract). Squared-L2 assignment + mean update =
    * standard k-means per subspace. Empty cells keep their previous
    * code vector. Fully deterministic. */
  def fitPqCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
      numSub: Int, k: Int, iterations: Int = 5): Seq[Seq[Array[Float]]] = {
    val valid = embeddings.filter(col(vecCol).isNotNull)
    val initRows = valid
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    var books = pqCodebooksFromRows(initRows, numSub)
    val subDim = books.head.head.length
    for (_ <- 0 until iterations) {
      val codes = graft.functions.VectorFunctions.pqAssign(col(vecCol), books)
      val mc = array(books.indices.map { m =>
        struct(lit(m).as("m"),
          element_at(codes, m + 1).as("code"),
          slice(col(vecCol), m * subDim + 1, subDim).as("sub"))
      }: _*)
      val sums = valid
        .select(explode(mc).as("a"))
        .select(col("a.m"), col("a.code"), posexplode(col("a.sub")))
        .groupBy("m", "code", "pos")
        .agg(sum(col("col").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect() // numSub·k·subDim rows — driver-safe at any corpus size
      val byKey = sums.map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getDouble(3), r.getLong(4))).toMap
      books = books.zipWithIndex.map { case (cb, m) =>
        cb.zipWithIndex.map { case (old, c) =>
          if (byKey.contains((m, c, 0))) {
            Array.tabulate(subDim) { p =>
              val (s, n) = byKey((m, c, p))
              (s / n).toFloat
            }
          } else old
        }
      }
    }
    books
  }

  /** Mean squared quantization error of `codebooks` over the table —
    * the number a PQ fit is judged by (lower = tighter codes). */
  def pqQuantizationError(embeddings: DataFrame, vecCol: String,
      codebooks: Seq[Seq[Array[Float]]]): Double = {
    val subDim = codebooks.head.head.length
    val codes = graft.functions.VectorFunctions.pqAssign(col(vecCol), codebooks)
    val errs = codebooks.indices.map { m =>
      val sub = slice(col(vecCol), m * subDim + 1, subDim)
      val cbLit = typedLit(codebooks(m).map(_.toSeq))
      val cvec = element_at(cbLit, element_at(codes, m + 1) + 1)
      aggregate(zip_with(sub, cvec, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (a, e) => a + e)
    }
    embeddings.filter(col(vecCol).isNotNull)
      .select(avg(errs.reduce(_ + _)).as("mse"))
      .head().getDouble(0)
  }

  /** [[adcTopK]] over a pre-materialized packed code table (the
    * steady-state 100 TB shape: the scan reads numSub bytes per row,
    * never the vectors). Bit-identical to the re-deriving form when the
    * codes came from the same codebooks. */
  def adcTopKFromCodes(codes: DataFrame, idCol: String, codesCol: String,
      codebooks: Seq[Seq[Array[Float]]], probe: Array[Float], k: Int): DataFrame = {
    val lutLit = typedLit(adcLut(codebooks, probe))
    val score = codebooks.indices.map { m =>
      element_at(element_at(lutLit, m + 1),
        element_at(col(codesCol), m + 1) + 1)
    }.reduce(_ + _)
    codes
      .select(col(idCol), round(score / lit(1000000.0), 6).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col(idCol))
      .limit(k)
  }

  /** The per-probe ADC lookup table in integer micro-units (HALF_UP,
    * Spark `round` semantics — exact partial sums under any order). */
  private def adcLut(codebooks: Seq[Seq[Array[Float]]],
      probe: Array[Float]): Seq[Seq[Long]] = {
    val subDim = codebooks.head.head.length
    require(probe.length == subDim * codebooks.size,
      s"ADC: probe dim ${probe.length} != ${subDim * codebooks.size}")
    codebooks.zipWithIndex.map { case (cb, m) =>
      val pm = probe.slice(m * subDim, (m + 1) * subDim)
      cb.map(c => java.math.BigDecimal.valueOf(dotLocal(pm, c) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }
  }

  /** Asymmetric-distance (ADC) top-k by approximate inner product:
    * score(v) ≈ probe·v = Σ_m probe_m · codebook[m][code_m(v)] — the dot
    * product decomposes exactly over subspaces, so the per-probe cost is
    * one numSub·K lookup table (computed driver-side, scalar) plus ONE
    * table lookup per (row, subspace). At 100 TB the scan side is the
    * 32×-compressed code table; here codes are re-derived map-side from
    * the vectors (the [[ivfTopK]] scan-form convention).
    *
    * LUT entries are integer micro-units (round(dot·1e6) HALF_UP, the
    * same BigDecimal semantics as Spark's `round`): integer partial sums
    * are exact under ANY accumulation order, so an external SQL engine
    * replays the scores bit-for-bit without relying on float summation
    * order. Ordering ties break by id; k rows via TakeOrdered, never a
    * global sort. */
  def adcTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Array[Float]]], probe: Array[Float], k: Int): DataFrame =
    adcTopKFromCodes(pqPackedCodes(embeddings, idCol, vecCol, codebooks),
      idCol, "codes", codebooks, probe, k)
}
