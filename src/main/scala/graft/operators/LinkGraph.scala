package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics over a web corpus (EXTENSION, SURVEY.md §2.K):
  * PageRank over the host graph that [[UrlOps.extractLinks]] produces —
  * the standard crawl-prioritization / quality-prior signal for a
  * training-data pipeline (hosts with high rank ≈ well-linked sources).
  *
  * Scale design: the edge list and rank vector are both DataFrames keyed
  * on the node id; one iteration = one equi-join (edges ⋈ ranks on src —
  * co-partitioned after the first shuffle, and the out-degree is
  * pre-folded INTO the edge table so the join is single) + one keyed sum
  * (dst). Iteration count is fixed and small, so the whole run is
  * O(iters) shuffles of |edges| rows — no driver-side adjacency, no
  * per-node collect; the only driver scalar is the node count. Each
  * iteration's rank frame is persisted and the previous unpersisted so
  * lineage stays O(1) deep (localCheckpoint would also work; persist
  * keeps recomputation cheap on executor loss at these sizes).
  */
object LinkGraph {

  /** Simplified-damping PageRank (the classic
    * `r' = (1-d)/n + d · Σ_in r/outdeg` update; dangling mass evaporates
    * rather than redistributing — documented, engine-replayable, and the
    * variant Spark's own GraphX example uses). Edges are deduplicated;
    * nodes = src ∪ dst.
    *
    * @return one row per node: (node, rank) after `iterations` updates
    *         from the uniform 1/n start. Ranks are raw doubles — round
    *         at the consumption site for cross-engine hashing.
    */
  /** @param materializeEvery persist + force every k-th iteration (and
    *        the last) so lineage depth stays O(k) joins while short runs
    *        pay only ONE eager action beyond the node count — a
    *        per-iteration force would bill fixed job-scheduling overhead
    *        ×iterations, which dominates on small graphs */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      materializeEvery: Int = 8): DataFrame = {
    require(iterations >= 1, "pageRank needs >= 1 iteration")
    require(materializeEvery >= 1, "materializeEvery must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // the one driver scalar
    require(n > 0, "pageRank on an empty graph")
    // out-degree folded into the edge table once: each iteration's join
    // is then a single equi-join on src
    val withDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    var materialized: Option[DataFrame] = None
    val teleport = (1.0 - damping) / n
    for (i <- 1 to iterations) {
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("m"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + lit(damping) * coalesce(col("m"), lit(0.0))).as("rank"))
      if (i % materializeEvery == 0 || i == iterations) {
        val p = next.persist(StorageLevel.MEMORY_AND_DISK)
        p.count() // force before dropping the previous checkpoint
        materialized.foreach(_.unpersist(blocking = false))
        materialized = Some(p)
        ranks = p
      } else ranks = next
    }
    // final ranks are materialized; the shared inputs can go (block loss
    // just recomputes lineage from the source)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    withDeg.unpersist(blocking = false)
    ranks
  }

  /** Common-neighbor Jaccard similarity between left-side nodes of a
    * (bipartite or general) edge set — link prediction / co-occurrence
    * similarity: suppliers similar because they ship the same parts,
    * hosts similar because they link the same targets (Liben-Nowell &
    * Kleinberg 2003's strongest unsupervised predictor family).
    *
    * Distributed shape: an inverted-index self-join, NOT an all-pairs
    * scan — group edges by the shared neighbor, emit wedge pairs, count
    * per pair. A neighbor shared by d nodes yields d² wedge rows, so the
    * classic blow-up is a hub neighbor; `maxNeighborDegree` drops hub
    * neighbors BEFORE the join (the hot-shingle df cap from the dedup
    * family — hubs carry near-zero similarity signal and quadratic cost).
    * Degrees and the Jaccard denominator are computed over the SAME
    * capped edge set, so the result is exact for the declared universe
    * and the oracle replays it relationally.
    *
    * @return (node_a, node_b, n_common, n_union, jaccard) for pairs with
    *         >= minCommon shared neighbors; jaccard left unrounded */
  def jaccardNeighbors(edges: DataFrame, srcCol: String, dstCol: String,
      maxNeighborDegree: Long, minCommon: Long): DataFrame = {
    val e = edges
      .select(col(srcCol).as("n"), col(dstCol).as("nbr"))
      .where(col("n").isNotNull && col("nbr").isNotNull)
      .distinct()
    // cap hub neighbors before the wedge join (d² rows per neighbor)
    // deliberately NOT pinned: kept feeds three consumers (deg + both
    // wedge sides) and the formatted plan shows the subtree per consumer
    // — but AQE's runtime stage reuse already absorbs the recompute,
    // and a localCheckpoint was MEASURED WORSE at sf5 (82 → 134 s: the
    // materialized 29 M-row frame breaks whole-stage pipelining into the
    // wedge join). Simpler shape kept with the numbers recorded
    // (BASELINE.md r8 batch 2) — and no caller-side unpersist contract
    // (the r7 ADVICE cache-leak class) is created either
    // pin the wedge join's parallelism (r12, guide §2.5/§1.2): wedge rows
    // are bytes-tiny (two ids) but the self-join on the shared neighbor
    // emits up to cap² rows per key from a few-MB input, so AQE's
    // byte-based coalescing starved the stage (measured at sf0.1: 5
    // tasks on 32 cores, 5.4 MB in → 28.5 MB of wedges). One
    // REPARTITION_BY_NUM exchange on the join key (exempt from AQE
    // coalescing, reused by BOTH wedge sides) holds the session's
    // shuffle-partition count — the cluster's own value at scale, where
    // these shuffles exceed coalescing targets anyway.
    val n = Parallelism.sessionShufflePartitions(edges.sparkSession)
    val kept = e.join(
        e.groupBy("nbr").agg(count(lit(1)).as("ndeg"))
          .filter(col("ndeg") <= maxNeighborDegree)
          .select("nbr"),
        Seq("nbr"))
      .repartition(n, col("nbr"))
    val deg = kept.groupBy("n").agg(count(lit(1)).as("deg"))
    // shuffled-hash, not sort-merge: both wedge sides share the pinned
    // exchange, so SMJ's only addition is two per-task sorts of the
    // kept-edge set. Build-side memory contract (SHJ builds cannot
    // spill): the build is this partition's slice of the kept-edge set —
    // two-long rows, per-key bounded by maxNeighborDegree (hot hubs are
    // filtered out ABOVE this join), so per-task memory is
    // (edges/partition)·~24 B with no single key exceeding the cap.
    val common = kept.select(col("nbr"), col("n").as("node_a"))
      .hint("shuffle_hash")
      .join(kept.select(col("nbr"), col("n").as("node_b")), Seq("nbr"))
      .filter(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    val out = common
      .join(deg.select(col("n").as("node_a"), col("deg").as("deg_a")), Seq("node_a"))
      .join(deg.select(col("n").as("node_b"), col("deg").as("deg_b")), Seq("node_b"))
      .select(col("node_a"), col("node_b"), col("n_common"),
        (col("deg_a") + col("deg_b") - col("n_common")).as("n_union"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union"))
    out
  }

  /** [[jaccardNeighbors]] with a per-node result bound — the 100 TB
    * registered form: each canonical left node keeps only its k BEST
    * pairs (jaccard descending, node_b ascending tie-break), so the
    * result is ≤ k·|nodes| rows no matter how dense the similarity
    * graph gets. The selection runs as ONE bounded-heap aggregate
    * ([[graft.functions.MinKByAgg]]) with map-side partial aggregation —
    * the shuffle into the final ranking carries at most k rows per node
    * per mapper, where the window formulation
    * (`row_number() OVER (PARTITION BY node_a ORDER BY ...) <= k`)
    * would shuffle and sort EVERY surviving pair. The jaccard ranking
    * key is an exact IEEE division of exact integer counts, so an
    * external engine replays the selection with that window bit-equally.
    *
    * @return (node_a, rank, node_b, n_common, n_union, jaccard): rank is
    *         1-based within node_a in (jaccard desc, node_b asc) order */
  def jaccardNeighborsTopK(edges: DataFrame, srcCol: String, dstCol: String,
      maxNeighborDegree: Long, minCommon: Long, k: Int): DataFrame =
    jaccardTopKFromPairs(
      jaccardNeighbors(edges, srcCol, dstCol, maxNeighborDegree, minCommon), k)

  /** The top-k cut alone, over an existing [[jaccardNeighbors]] pair
    * frame — so a caller that computes (or persists) the pair set once
    * can serve both the full ranking and the bounded form from ONE wedge
    * join (the pair set is the expensive stage; the heap is O(pairs)). */
  def jaccardTopKFromPairs(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"jaccardTopKFromPairs needs k >= 1, got $k")
    pairs.groupBy(col("node_a"))
      .agg(graft.functions.MinKByAgg.minKByAgg(
        // ascending (-jaccard, node_b) == jaccard desc, node_b asc;
        // double negation is exact, so the rank order replays anywhere
        struct((-col("jaccard")).as("nj"), col("node_b").as("tb")),
        struct(col("node_b"), col("n_common"), col("n_union"),
          col("jaccard")), k).as("_top"))
      .select(col("node_a"), posexplode(col("_top")).as(Seq("_pos", "_p")))
      .select(col("node_a"), (col("_pos") + 1).cast("long").as("rank"),
        col("_p.node_b").as("node_b"), col("_p.n_common").as("n_common"),
        col("_p.n_union").as("n_union"), col("_p.jaccard").as("jaccard"))
  }

  /** Exact triangle count over an undirected graph — the degree-ordered
    * edge-iterator algorithm: canonicalize and dedup edges, orient each
    * edge from its lower-(degree, node) endpoint to the higher, then
    * each triangle has EXACTLY ONE node with two outgoing edges, so
    * wedges (two out-edges of one node, deduped by t₁ < t₂) closed
    * against the undirected edge set count each triangle once.
    *
    * The orientation is the scale move: out-degree in the oriented DAG
    * is ≤ √(2m) for every node, so the wedge join generates at most
    * O(m^1.5) rows no matter how skewed the raw degree distribution is
    * — orienting by node id alone would square the hottest hub.
    *
    * @param edges frame with two node columns (any direction, dups and
    *              self-loops tolerated: self-loops are dropped)
    * @return one row: (n_nodes, n_edges, n_triangles) */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val pairs = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = pairs
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        col("u")).otherwise(col("v")).as("s"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        col("v")).otherwise(col("u")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedge enumeration is the same bytes-tiny/CPU-explosive shape as
    // jaccardNeighbors' join — pin its parallelism (see the note there).
    // SHJ build-side contract: oriented edges point low→high
    // (degree, id) rank, so a node's out-degree is ≤ √(2·|E|) (it only
    // points at nodes of ≥ its own degree) — the degree-orientation
    // bound that keeps any one build key sub-quadratic.
    val n = Parallelism.sessionShufflePartitions(edges.sparkSession)
    val orientedN = oriented.repartition(n, col("s"))
    val wedges = orientedN.select(col("s"), col("t").as("t1"))
      .hint("shuffle_hash")
      .join(orientedN.select(col("s"), col("t").as("t2")), Seq("s"))
      .filter(col("t1") < col("t2"))
    val tri = wedges.join(pairs,
      pairs("u") === least(col("t1"), col("t2")) &&
        pairs("v") === greatest(col("t1"), col("t2")))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
    val out = nodes.crossJoin(nEdges)
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
    // force the one-row result while inputs are persisted, then hand back
    // a LITERAL frame — a consumer re-executing the returned plan after
    // unpersist would otherwise recompute the whole wedge join uncached
    val row = out.collect()
    pairs.unpersist(blocking = false)
    oriented.unpersist(blocking = false)
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(row: _*), out.schema)
  }
}
