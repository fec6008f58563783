package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator mirroring the driver fixtures'
  * schemas and distributions (TESTDATA.md: TPC-H-ish star schema +
  * events/documents/embeddings) at ANY scale factor — built for the sf1+
  * scaling runs the small driver fixtures stop at.
  *
  * Everything derives from `xxhash64(id, tag)` column expressions over
  * `spark.range`: no RNG state, no driver-side data, embarrassingly
  * parallel — the generator itself scales to cluster-sized corpora
  * (generating 100 TB of test corpus IS a distributed job).
  *
  * Planted structure (what the dedup/ANN operators need to be
  * non-trivial, mirroring the driver fixtures): every 500th+1 document
  * is a NEAR-dup of its predecessor (one appended word, 3-gram Jaccard
  * ≈ 0.95), every 500th+2 an EXACT dup; every 250th+1 embedding is a
  * near-dup of its predecessor (cos ≈ 0.99); embeddings cluster around
  * 10 hash-derived label centroids.
  *
  * Usage: `runMain graft.GenData <outDir> <sf>`.
  */
object GenData {

  // uniform int in [0, m) / uniform double in [0, 1), keyed by (id, tag)
  private def ui(id: Column, tag: String, m: Int): Column =
    pmod(xxhash64(id, lit(tag)), lit(m.toLong)).cast("int")
  private def uf(id: Column, tag: String): Column =
    pmod(xxhash64(id, lit(tag)), lit(1000000L)).cast("double") / 1e6

  // 30 common words + 370 synthetic tokens: big enough that long docs do
  // NOT saturate the vocabulary — with a tiny vocab every long doc shares
  // one identical word SET, which collapses SimHash signatures into one
  // giant bucket and turns candidate generation quadratic (a data
  // artifact no real corpus has)
  private val vocab = Seq("query", "merge", "stream", "group", "agg", "data",
    "row", "big", "column", "a", "hash", "value", "vector", "window", "fast",
    "scan", "join", "sort", "filter", "the", "of", "index", "batch", "shard",
    "plan", "cache", "spill", "key", "range", "slow") ++
    (0 until 370).map(i => s"tok$i")

  private val mktsegments =
    Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("signup", "click", "purchase", "error", "view")
  private val partAdjs = Seq("large", "hot", "blue", "old", "cold", "small",
    "red", "new")
  private val partNouns = Seq("ring", "bolt", "plate", "screw", "gear", "cap")
  private val partTypes = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
    "MEDIUM", "PROMO")
  private val langs = Seq("en", "en", "en", "en", "de", "es", "zh", "fr")

  private def pick(id: Column, tag: String, xs: Seq[String]): Column =
    element_at(typedLit(xs), ui(id, tag, xs.size) + 1)

  private def ts(base: String, id: Column, tag: String, maxDays: Int): Column =
    to_timestamp(date_add(lit(base).cast("date"), ui(id, tag, maxDays)))

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      ui(col("id"), "cnat", 25).as("c_nationkey"),
      round(uf(col("id"), "cbal") * 11000 - 1000, 2).as("c_acctbal"),
      pick(col("id"), "cseg", mktsegments).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      ui(col("id"), "snat", 25).as("s_nationkey"),
      round(uf(col("id"), "sbal") * 11000 - 1000, 2).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(pick(col("id"), "padj", partAdjs), lit(" "),
        pick(col("id"), "pnoun", partNouns)).as("p_name"),
      concat(lit("Brand#"), ui(col("id"), "pbrand", 25)).as("p_brand"),
      pick(col("id"), "ptype", partTypes).as("p_type"),
      (ui(col("id"), "psize", 50) + 1).as("p_size"),
      round(lit(900.0) + uf(col("id"), "pprice") * 100, 2).as("p_retailprice"))

  def orders(spark: SparkSession, n: Long, customers: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit("ocust")), lit(customers)).as("o_custkey"),
      pick(col("id"), "ostat", Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + uf(col("id"), "oprice") * 499000, 2).as("o_totalprice"),
      ts("1995-01-01", col("id"), "odate", 2405).as("o_orderdate"),
      pick(col("id"), "opri", priorities).as("o_orderpriority"))

  def lineitem(spark: SparkSession, n: Long, ordersN: Long, partsN: Long,
      suppliersN: Long): DataFrame =
    spark.range(n).select(
      pmod(xxhash64(col("id"), lit("lord")), lit(ordersN)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit("lpart")), lit(partsN)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit("lsupp")), lit(suppliersN)).as("l_suppkey"),
      (ui(col("id"), "lno", 7) + 1).as("l_linenumber"),
      (ui(col("id"), "lqty", 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + uf(col("id"), "lprice") * 99100, 2).as("l_extendedprice"),
      (ui(col("id"), "ldisc", 11).cast("double") / 100).as("l_discount"),
      (ui(col("id"), "ltax", 9).cast("double") / 100).as("l_tax"),
      pick(col("id"), "lflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick(col("id"), "lstat", Seq("F", "O")).as("l_linestatus"),
      ts("1995-01-02", col("id"), "lship", 2500).as("l_shipdate"))

  def events(spark: SparkSession, n: Long, users: Long): DataFrame = {
    // ts = epoch NANOS as BIGINT: the driver fixtures carry parquet
    // TIMESTAMP(NANOS), which graft.sources.Tables loads via
    // legacy.parquet.nanosAsLong + timestamp_micros(ts div 1000) — a
    // plain long-nanos column takes the IDENTICAL load path (Spark
    // cannot write TIMESTAMP(NANOS) itself). 1704067200 = 2024-01-01 UTC.
    val secs = lit(1704067200L) +
      pmod(xxhash64(col("id"), lit("ets")), lit(2592000L))
    val nanos = secs * lit(1000000000L) +
      ui(col("id"), "etsf", 1000000).cast("long") * lit(1000L)
    spark.range(n).select(
      col("id").as("event_id"),
      nanos.as("ts"),
      pmod(xxhash64(col("id"), lit("euser")), lit(users)).as("user_id"),
      pick(col("id"), "etype", eventTypes).as("event_type"),
      round(uf(col("id"), "eval") * 561, 2).as("value"),
      concat(lit("{\"k\": "), ui(col("id"), "eprops", 100), lit("}")).as("props"))
  }

  /** Documents with planted near/exact dup structure: text derives from a
    * BASE id (id%500==1 → predecessor + one word; ==2 → exact copy of
    * id-2), so dedup finds real pairs at every scale. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val base = when(pmod(col("id"), lit(500L)) === 1L, col("id") - 1)
      .when(pmod(col("id"), lit(500L)) === 2L, col("id") - 2)
      .otherwise(col("id"))
    val nWords = ui(base, "nw", 100) + 8
    val words = transform(sequence(lit(0), nWords - 1),
      i => element_at(typedLit(vocab),
        pmod(xxhash64(base, i, lit("w")), lit(vocab.size.toLong)).cast("int") + 1))
    val baseText = concat_ws(" ", words)
    val text = when(pmod(col("id"), lit(500L)) === 1L,
        concat(baseText, lit(" mutated")))
      .otherwise(baseText)
    spark.range(n).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(base, "lang", langs).as("lang"),
      concat(lit("src"), ui(base, "src", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Embeddings with a WEAK label signal (mirroring the driver fixtures:
    * within-label mean cosine ≈ 0, so cosine-threshold pair sets stay
    * SPARSE — near-dup pairs come from the planted structure, not from
    * every same-label pair clearing 0.45, which would make pair
    * generation quadratic in cluster size); every 250th+1 vector is a
    * near-dup of its predecessor (tiny perturbation). */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val nearDup = pmod(col("id"), lit(250L)) === 1L
    val base = when(nearDup, col("id") - 1).otherwise(col("id"))
    val label = ui(base, "lab", 10)
    val vec = transform(sequence(lit(0), lit(dim - 1)), d => {
      val cent = (pmod(xxhash64(label, d, lit("cent")), lit(1000L))
        .cast("double") / 1000 - 0.5) * 0.15
      val noise = (pmod(xxhash64(base, d, lit("nz")), lit(1000L))
        .cast("double") / 1000 - 0.5) * 0.5
      val jitter = when(nearDup,
        (pmod(xxhash64(col("id"), d, lit("jit")), lit(1000L))
          .cast("double") / 1000 - 0.5) * 0.01).otherwise(0.0)
      (cent + noise + jitter).cast("float")
    })
    spark.range(n).select(
      col("id").as("vec_id"), vec.as("embedding"), label.as("label"))
  }

  /** Write every table for scale factor `sf` (sf=1 → 6M lineitem).
    * `only` restricts to a table subset (scale probes over one table —
    * e.g. a 2 M-doc documents corpus — need not pay a 240 M-row
    * lineitem write). */
  def writeAll(spark: SparkSession, outDir: String, sf: Double,
      only: Set[String] = Set.empty): Unit = {
    def rows(base: Long): Long = math.max(1L, (base * sf).toLong)
    val custN = rows(150000)
    val suppN = rows(10000)
    val partN = rows(200000)
    val ordN = rows(1500000)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region(spark),
      "nation" -> nation(spark),
      "customer" -> customer(spark, custN),
      "supplier" -> supplier(spark, suppN),
      "part" -> part(spark, partN),
      "orders" -> orders(spark, ordN, custN),
      "lineitem" -> lineitem(spark, rows(6000000), ordN, partN, suppN),
      "events" -> events(spark, rows(1000000), rows(15000)),
      "documents" -> documents(spark, rows(50000)),
      "embeddings" -> embeddings(spark, rows(20000)))
    tables.foreach { case (name, df) =>
      if (only.isEmpty || only.contains(name))
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfStr = args(1)
    val only =
      if (args.length > 2) args(2).split(',').map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty[String]
    val spark = graft.run.GraftSession.fromEnv()
    writeAll(spark, outDir, sfStr.toDouble, only)
    spark.stop()
  }
}
