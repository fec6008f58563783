package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** What one measured iteration produced. `latencyS` is the time the user
  * waits for the iteration's result; probes are timed separately. */
final case class Iter(latencyS: Double, inputRecords: Long, inputBytes: Long,
    storedBytes: Long, probeMs: Seq[Double])

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, tr: Tracer,
    counter: Counter)

/** Attempted / failed tally over timed calls, probes and checks. */
final class Counter {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Counts one check; false is a failure with `what` recorded. */
  def check(what: String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  def call(): Unit = attempted += 1
}

trait Workload {
  def name: String
  /** Generates the inputs under a fresh `root` and performs the initial
    * load or index build. The harness times it. */
  def setup(root: String): Unit
  /** One iteration (a day's load, a landed batch) followed by `probes`
    * closed-loop probes from one client thread. */
  def iterate(probes: Int): Iter
  /** Probes per measured iteration. */
  def probesPerIter: Int
  /** Iterations a window measures at least. The warm-up runs as many
    * untimed, with half the probes. */
  def minIters: Int
  /** Iterations after which the workload's state repeats: a day, or a
    * compaction cycle. A traced run traces one cycle. */
  def cycle: Int
  /** Probe number `i` against the current state, a pure function of the
    * seed, the state and `i`; milliseconds. */
  def probe(i: Int): Double
  /** End-of-run correctness checks, counted by the harness. */
  def verify(): Unit
  /** What this seed produced: sizes, delta counts. */
  def record: Map[String, Any]
}

object Common {

  /** Uniform int in [0, m), a pure function of (id, seed, tag). */
  def ui(id: Column, seed: Long, tag: String, m: Int): Column =
    pmod(xxhash64(id, lit(s"$seed:$tag")), lit(m.toLong)).cast("int")

  /** Uniform double in [0, 1). */
  def uf(id: Column, seed: Long, tag: String): Column =
    pmod(xxhash64(id, lit(s"$seed:$tag")), lit(1000000L)).cast("double") / 1e6

  /** Order-insensitive content hash of a frame: row count plus the sum of
    * per-row xxhash64 over the columns in name order. */
  def frameHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Bytes of regular files under `dir` (0 when it does not exist). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
  }

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Minimal JSON rendering for the result line and the side files. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case (a, b) => json(Seq(a, b))
    case other => json(other.toString)
  }

  def listDirs(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val st = Files.list(p)
      try st.iterator().asScala.toSeq finally st.close()
    }
  }
}

/** Seeded synthetic inputs, shaped like the program's own corpus
  * generator: texts over a 400-word vocabulary with planted exact and
  * near duplicates, a shared footer span, and clustered embeddings. */
object Gen {
  import Common._

  private val vocab: Seq[String] = Seq("query", "merge", "stream", "group", "agg", "data",
    "row", "big", "column", "a", "hash", "value", "vector", "window", "fast",
    "scan", "join", "sort", "filter", "the", "of", "index", "batch", "shard",
    "plan", "cache", "spill", "key", "range", "slow") ++ (0 until 370).map(i => s"tok$i")
  private val footer = " subscribe to the weekly data digest for more"

  /** Documents `from until from + n`: every 50th+1 a near duplicate of its
    * predecessor (one appended word), every 50th+2 an exact copy of the
    * doc two before it, every 7th carries the footer span. */
  def docs(spark: SparkSession, from: Long, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val base = when(pmod(id, lit(50L)) === 1L, id - 1)
      .when(pmod(id, lit(50L)) === 2L, id - 2).otherwise(id)
    val nWords = ui(base, seed, "nw", 60) + 8
    val words = transform(sequence(lit(0), nWords - 1), i =>
      element_at(typedLit(vocab),
        pmod(xxhash64(base, i, lit(s"$seed:w")), lit(vocab.size.toLong)).cast("int") + 1))
    val text0 = concat_ws(" ", words)
    val text1 = when(pmod(base, lit(7L)) === 3L, concat(text0, lit(footer))).otherwise(text0)
    val text = when(pmod(id, lit(50L)) === 1L, concat(text1, lit(" mutated"))).otherwise(text1)
    spark.range(from, from + n).select(
      id.as("doc_id"), text.as("text"),
      concat(lit("src"), ui(base, seed, "src", 8)).as("source"))
  }

  /** Unit-scale embeddings around `clusters` seeded centres. */
  def vectors(spark: SparkSession, from: Long, n: Long, seed: Long, dim: Int,
      clusters: Int): DataFrame =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      vectorExpr(col("id"), seed, dim, clusters, "v").as("embedding"))

  /** Probe vectors drawn the same way as the corpus (tag keeps them apart). */
  def probeVector(seed: Long, key: Long, dim: Int, clusters: Int): Array[Float] = {
    def h(s: String): Double =
      (graft.functions.NeutralHash.lower64(s) & 0xfffffL).toDouble / 0x100000L
    val c = (h(s"$seed:probe-cluster:$key") * clusters).toInt
    Array.tabulate(dim)(d =>
      ((centre(seed, c, d) + (h(s"$seed:probe:$key:$d") - 0.5) * 0.6)).toFloat)
  }

  private def centre(seed: Long, c: Int, d: Int): Double =
    (graft.functions.NeutralHash.lower64(s"$seed:centre:$c:$d") & 0xfffffL).toDouble /
      0x100000L - 0.5

  private def vectorExpr(id: Column, seed: Long, dim: Int, clusters: Int,
      tag: String): Column = {
    val cl = ui(id, seed, s"$tag-cluster", clusters)
    val centres = typedLit(Seq.tabulate(clusters, dim)((c, d) => centre(seed, c, d)))
    transform(sequence(lit(0), lit(dim - 1)), d =>
      (element_at(element_at(centres, cl + 1), d + 1) +
        (pmod(xxhash64(id, d, lit(s"$seed:$tag-noise")), lit(1000L)).cast("double") /
          1000 - 0.5) * 0.6).cast("float"))
  }
}
