package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ListMap
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.meta.MetaJson

/** The on-disk protocol of the directories the library owns — the text
  * and ANN index layouts, streaming state and the tables [[graft.operators.Layout]]
  * rewrites in place:
  *   - JSON sidecars (`_*.json`) next to the data, written and read
  *     through [[MetaJson]] — flat objects whose key order is the
  *     caller's;
  *   - the crash-safe whole-directory [[swap]] and its [[recover]]y;
  *   - the tombstone anti-join every tombstoned layout applies;
  *   - the "does this dir hold state / an index yet?" probes.
  *
  * Names and keys are on-disk contract: index dirs written by earlier
  * builds must keep reading back. */
object StateDir {

  /** Sidecar names, one per index family, plus the ANN refresh counter. */
  final val IvfMeta = "_ivf_index_meta.json"
  final val LshMeta = "_lsh_index_meta.json"
  final val PqMeta = "_pq_index_meta.json"
  final val TextMeta = "_text_index_meta.json"
  final val RefreshCount = "_refresh_count.json"

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write sidecar `name` under `dir` as one compact JSON object with the
    * fields in the given order. */
  def writeMeta(spark: SparkSession, dir: String, name: String,
      fields: (String, Any)*): Unit = {
    val out = fs(spark, dir).create(new Path(dir, name), true)
    try out.write(MetaJson.render(ListMap(fields: _*)).getBytes(UTF_8))
    finally out.close()
  }

  /** Sidecar `name` under `dir` (numbers come back as Long/Double); None
    * when it is absent. A half-done [[swap]] is finished first — in the
    * crash state where live is moved aside, the sidecar reads as absent. */
  def readMeta(spark: SparkSession, dir: String,
      name: String): Option[Map[String, Any]] =
    if (!hasMeta(spark, dir, name)) None
    else {
      val p = new Path(dir, name)
      val in = fs(spark, dir).open(p)
      val raw = try new String(in.readAllBytes(), UTF_8) finally in.close()
      scala.util.Try(MetaJson.parse(raw)).toOption match {
        case Some(m: Map[_, _]) => Some(m.asInstanceOf[Map[String, Any]])
        case _ => throw new IllegalArgumentException(s"malformed $name under $dir: $raw")
      }
    }

  /** Does `dir` hold sidecar `name` — for an index's own sidecar, the
    * build-vs-refresh probe? Recovers a half-done [[swap]] first, as
    * [[readMeta]] does. */
  def hasMeta(spark: SparkSession, dir: String, name: String): Boolean = {
    val f = fs(spark, dir)
    recover(f, dir)
    f.exists(new Path(dir, name))
  }

  /** Copy every `_*.json` sidecar of `from` into `to` — the metadata a
    * rewrite staged from the data scan alone would otherwise drop. */
  def copySidecars(spark: SparkSession, from: String, to: String): Unit = {
    val f = fs(spark, from)
    f.listStatus(new Path(from))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_")
        && s.getPath.getName.endsWith(".json"))
      .foreach(s => FileUtil.copy(f, s.getPath, f, new Path(to, s.getPath.getName),
        false, spark.sparkContext.hadoopConfiguration))
  }

  /** Does `dir` hold committed parquet state? Recursive — a state dir
    * seeded with a `partitionBy()` layout keeps its files in
    * subdirectories, and reading such a dir as absent would bootstrap
    * empty state over it — and blind to Hadoop-hidden names the whole
    * way down: the uncommitted `_temporary` tree of a crashed write
    * is not state, and counting it would make every later read a
    * schema-inference failure where a clean bootstrap was right. */
  def hasParquetData(spark: SparkSession, dir: String): Boolean =
    ParquetState.committedParquet(spark, dir).hasNext

  /** `rows` without the ids listed in `dir`'s tombstone set `tombDir`
    * (the layout's own name for it), joined on `idCol`. */
  def withoutTombstones(spark: SparkSession, rows: DataFrame, dir: String,
      tombDir: String, idCol: String): DataFrame =
    ParquetState.readSegment(spark, s"$dir/$tombDir")
      .fold(rows)(t => rows.join(t, Seq(idCol), "left_anti"))

  private def sibling(path: String, suffix: String): Path =
    new Path(path.stripSuffix("/") + suffix)

  /** Crash-safe whole-directory replacement of `path` by `staging`:
    * rename live ASIDE (`<path>_preswap`), rename staging IN, delete the
    * aside copy — there is never a moment with no copy on disk (a
    * delete-then-rename crash leaves the directory missing for good).
    * [[recover]] finishes either interrupted half. Single-writer
    * contract: serialize rewrites per path. */
  def swap(fs: FileSystem, path: String, staging: String, op: String): Unit = {
    val live = new Path(path)
    val aside = sibling(path, "_preswap")
    if (fs.exists(aside)) fs.delete(aside, true) // stale, completed swap
    if (!fs.rename(live, aside))
      throw new java.io.IOException(s"$op: could not move $path aside")
    if (!fs.rename(new Path(staging), live)) {
      fs.rename(aside, live) // restore the pre-swap copy, then fail
      throw new java.io.IOException(s"$op: staging swap failed under $path")
    }
    fs.delete(aside, true)
  }

  /** Replay a [[swap]] left half-done. Live missing + aside present: the
    * crash hit between the two renames — move a surviving
    * `<path>_compacting` copy in (it was complete before the swap
    * began), else restore the aside copy and let the rewrite re-run
    * later. Live present + aside present: the swap completed but its
    * cleanup did not — drop the aside copy. Idempotent; every lifecycle
    * entry of a swapped dir calls it. */
  def recover(fs: FileSystem, path: String): Unit = {
    val live = new Path(path)
    val aside = sibling(path, "_preswap")
    if (!fs.exists(aside)) return
    if (!fs.exists(live)) {
      val staging = sibling(path, "_compacting")
      if (fs.exists(staging)) fs.rename(staging, live)
      if (!fs.exists(live) && !fs.rename(aside, live))
        throw new java.io.IOException(s"recover: cannot restore $path from $aside")
    }
    fs.delete(aside, true)
  }
}
