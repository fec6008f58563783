package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.StateDir

/** Physical-layout operators (EXTENSION, SURVEY.md §2.K): Z-order
  * (Morton) clustering keys for multi-dimensional data skipping, and
  * small-file compaction planning. The reference's scale mechanism is
  * directory partition pruning (`etl_manager/meta.py:473-479`); these
  * are the two layout tools that extend pruning WITHIN a partition —
  * sort files by a Z-order key so parquet min/max row-group stats prune
  * on BOTH dimensions, and re-bin undersized partitions so the file
  * count stays bounded as increments accumulate.
  */
object Layout {

  /** Morton (Z-order) key: interleave the low `bits` bits of `x` and
    * `y` (x on even positions, y on odd). Sorting/range-partitioning by
    * this key clusters rows so any small Z-range covers a small
    * axis-aligned rectangle in (x, y) — parquet min/max stats then
    * prune selective predicates on EITHER column, where a plain sort on
    * x leaves y unclustered. Pure bit arithmetic on longs (32 codegen'd
    * terms at the default 16 bits) — replays bit-equal in any engine.
    * Inputs must be non-negative and < 2^bits (caller masks/buckets
    * first: coordinates, hash buckets, day numbers...).
    */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** Per-Z-bucket clustering evidence: bucket rows by the top bits of
    * their Z-key (`bucketShift` = how many low bits to drop) and report
    * each bucket's row count and (x, y) bounding box. A well-clustered
    * layout shows SMALL boxes — exactly what parquet row-group min/max
    * stats would expose to the scan pruner. One map-side projection +
    * one keyed agg; all-integer output.
    */
  def zorderBucketStats(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16, bucketShift: Int = 26): DataFrame = {
    val z = zorderKey(col(xCol).cast("long"), col(yCol).cast("long"), bits)
    df.select(shiftright(z, bucketShift).as("z_bucket"),
        col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
      .groupBy("z_bucket")
      .agg(count(lit(1)).as("n"),
        min("_x").as("min_x"), max("_x").as("max_x"),
        min("_y").as("min_y"), max("_y").as("max_y"))
  }

  /** Small-file compaction plan: given a partition inventory
    * (`partCol`, `sizeCol` — rows or bytes), assign each partition (in
    * `partCol` order) to a compaction bin by greedy running total:
    * `bin = floor(cumulative_size_before / target)`. Adjacent
    * partitions land in the same output file until it reaches ~target —
    * the standard "coalesce a month of small increments" maintenance
    * pass. The window runs over the partition INVENTORY (thousands of
    * rows — metadata, not data), never over the table itself; the
    * rewrite it plans is then one `repartitionByRange(bin)` write.
    * Output: partCol, size, bin (all integers).
    */
  def compactionPlan(inventory: DataFrame, partCol: String, sizeCol: String,
      targetSize: Long): DataFrame = {
    require(targetSize > 0, s"targetSize must be positive, got $targetSize")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(partCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inventory
      .withColumn("_cum", sum(col(sizeCol)).over(w) - col(sizeCol))
      .withColumn("bin", floor(col("_cum") / lit(targetSize)).cast("long"))
      .select(col(partCol), col(sizeCol), col("bin"))
  }

  /** The inventory SOURCE for [[compactionPlan]]: every data file under
    * `root` as (file, bytes, mtime_ms), `file` relative to the root so
    * plans are location-portable. The listing is DISTRIBUTED: top-level
    * entries enumerate on the driver (one RPC), then each task walks its
    * subtree — at 100 TB a table has millions of files across thousands
    * of partition dirs, and a driver-only recursive walk is the hidden
    * serial bottleneck of naive maintenance jobs (Spark's own
    * InMemoryFileIndex parallelizes the same way past a threshold).
    * Hidden files and commit markers (`_SUCCESS`, dotfiles) are skipped.
    * Output is metadata-sized; feed it straight to [[compactionPlan]]
    * (bins by bytes) — files sorted by relative path keeps partition
    * siblings adjacent, so bins respect directory locality. */
  def fileInventory(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val fs = rootPath.getFileSystem(conf.value)
    val rootUri = fs.makeQualified(rootPath).toUri
    val top = fs.listStatus(rootPath).toSeq
    val (dirs, files) = top.partition(_.isDirectory)
    def rel(p: Path): String =
      rootUri.relativize(p.toUri).getPath
    def keep(name: String): Boolean =
      !name.startsWith("_") && !name.startsWith(".")
    val topRows = files.filter(f => keep(f.getPath.getName))
      .map(f => (rel(f.getPath), f.getLen, f.getModificationTime))
    val dirStrs = dirs.filter(d => keep(d.getPath.getName))
      .map(_.getPath.toString)
    val subRows = spark.sparkContext
      .parallelize(dirStrs, math.max(1, math.min(dirStrs.size, 64)))
      .flatMap { dir =>
        val p = new Path(dir)
        val dfs = p.getFileSystem(conf.value)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        val it = dfs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          if (keep(f.getPath.getName))
            out += ((rootUri.relativize(f.getPath.toUri).getPath,
              f.getLen, f.getModificationTime))
        }
        out
      }
    import spark.implicits._
    (spark.createDataset(topRows) union subRows.toDS())
      .toDF("file", "bytes", "mtime_ms")
  }

  /** End-to-end small-file maintenance plan for a table directory:
    * [[fileInventory]] → [[compactionPlan]] binned by bytes. Each
    * output row is (file, bytes, bin); the rewrite is then "read the
    * files of each bin, write one output file per bin". */
  def compactionPlanForPath(spark: org.apache.spark.sql.SparkSession,
      root: String, targetBytes: Long): DataFrame =
    compactionPlan(fileInventory(spark, root), "file", "bytes", targetBytes)

  /** EXECUTE a Z-order clustered rewrite of the parquet table under
    * `root`: range-partition the rows by their Morton key (so each of
    * the `nFiles` output files owns one contiguous Z-range), sort
    * within each file by the same key (so parquet ROW-GROUP min/max
    * stats are tight, not just file-level), and swap the clustered copy
    * in with the staged-rename discipline of [[compactFiles]]. After
    * the rewrite a selective predicate on EITHER interleaved dimension
    * prunes most files/row-groups — the within-partition data-skipping
    * complement to the reference's directory pruning
    * (`etl_manager/meta.py:473-479`), and the piece
    * [[zorderBucketStats]] only PLANNED until now.
    *
    * Shape: one distributed `repartitionByRange` + per-partition sort —
    * range boundaries come from Spark's reservoir sample over the key
    * (metadata-sized), the shuffle is the one any clustering rewrite
    * pays, and nothing table-sized touches the driver. Schema is
    * unchanged: the key is recomputed as an expression on both sides of
    * the exchange, never materialized as a column. Crash safety as in
    * [[compactFiles]]: failure before the swap leaves `root` untouched,
    * the staging sibling is rebuilt from scratch on the next run, and a
    * crash inside the swap is finished on the next entry.
    *
    * `zKey` builds the Morton key from the table's own columns (compose
    * [[zorderKey]] with the caller's normalize-then-interleave scaling —
    * both dimensions must span comparable bit widths or Z-order
    * degenerates on the narrow axis).
    */
  def zorderCluster(spark: org.apache.spark.sql.SparkSession,
      root: String, zKey: DataFrame => Column, nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be positive, got $nFiles")
    val fs = StateDir.fs(spark, root)
    StateDir.recover(fs, root)
    val staging = s"${root.stripSuffix("/")}_zordering"
    val df = spark.read.parquet(root)
    val z = zKey(df)
    df.repartitionByRange(nFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(staging)
    StateDir.swap(fs, root, staging, "zorderCluster")
  }

  /** Per-FILE clustering evidence for an executed layout: group rows by
    * their source file ([[org.apache.spark.sql.functions.input_file_name]])
    * and report each file's row count and (x, y) bounding box — the
    * exact min/max the parquet footer exposes to the scan pruner, read
    * back from the data itself. Sum of per-file box areas ÷ (global
    * area × files) is the fraction of the key space a random
    * point-predicate still has to scan; [[zorderCluster]] drives it
    * toward 1/nFiles on both dimensions at once, where a single-column
    * sort only shrinks one. One projection + one keyed agg, file-count
    * sized output. */
  def zorderFileStats(df: DataFrame, x: Column, y: Column): DataFrame =
    df.select(input_file_name().as("file"),
        x.cast("long").as("_x"), y.cast("long").as("_y"))
      .groupBy("file")
      .agg(count(lit(1)).as("n"),
        min("_x").as("min_x"), max("_x").as("max_x"),
        min("_y").as("min_y"), max("_y").as("max_y"))

  /** EXECUTE the compaction plan: rewrite the parquet table under `root`
    * so each output file holds exactly one plan bin (~`targetBytes` of
    * input), with the staged-swap discipline of
    * [[TextAnalysis.compactTextIndex]] — write to a staging sibling,
    * verify nothing mid-flight serves from it, swap it in, leave no
    * tombstones behind. Returns the executed
    * plan (file, bytes, bin — pinned before the rewrite, since the old
    * inventory is unreadable after it).
    *
    * Shape: ONE distributed job — every row tags itself with its source
    * file ([[org.apache.spark.sql.functions.input_file_name]]), joins
    * the broadcast metadata-sized plan for its bin, and the write
    * clusters by bin (`repartition(bin)` + dynamic `partitionBy`), so
    * each bin's file is written by exactly one task — never a driver
    * loop over the table's data. The only driver-side file work is the
    * flatten renames, one per OUTPUT file (totalBytes/targetBytes — the
    * minimum any compactor pays) plus the swap's two renames.
    *
    * Semantics notes: row identity is exact (spec-pinned hash-equal
    * read-back). A Hive-partitioned input is supported, but its
    * partition COLUMNS materialize into the compacted files (the
    * directory encoding flattens — schema-on-read is unchanged);
    * callers wanting to keep a partitioned layout compact each
    * partition directory separately, exactly as the reference scopes
    * destructive maintenance to one partition path
    * (`etl_manager/meta.py:769-791` delete_data_in_database). Crash
    * safety: a failure before the swap leaves `root` untouched and the
    * staging sibling is rebuilt from scratch on the next run
    * (mode=overwrite); the swap itself is [[graft.sources.StateDir.swap]],
    * and a crash inside it is finished on the next entry here. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession,
      root: String, targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = StateDir.fs(spark, root)
    StateDir.recover(fs, root)
    // pin the plan BEFORE the rewrite: its lineage lists the files being
    // replaced, and a lazy re-evaluation after the swap would read the
    // compacted listing instead
    val plan = compactionPlanForPath(spark, root, targetBytes).localCheckpoint()
    if (plan.isEmpty) return plan
    val rootUri = fs.makeQualified(rootPath).toUri
    // input_file_name() is a url-encoded URI ("file:///…", "hdfs://nn/…");
    // the plan's paths are decoded and root-relative — normalize the same
    // way: strip scheme+authority, url-decode, drop the root prefix
    val relFile = substring(
      url_decode(regexp_replace(input_file_name(),
        "^[a-zA-Z0-9+.\\-]+:(//[^/]*)?", "")),
      rootUri.getPath.length + 2, Int.MaxValue)
    val staging = s"${root.stripSuffix("/")}_compacting"
    spark.read.parquet(root)
      .withColumn("_cf_file", relFile)
      .join(broadcast(plan.select(col("file").as("_cf_file"),
        col("bin").as("_cf_bin"))), Seq("_cf_file"))
      .drop("_cf_file")
      .repartition(col("_cf_bin"))
      .write.mode("overwrite").partitionBy("_cf_bin").parquet(staging)
    // flatten: each bin dir holds exactly one file (clustered write);
    // rename it to a deterministic top-level name, drop the bin dirs
    val stagingPath = new Path(staging)
    fs.listStatus(stagingPath).filter(_.isDirectory).foreach { d =>
      val bin = d.getPath.getName.stripPrefix("_cf_bin=").toLong
      val parts = fs.listStatus(d.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"compactFiles: bin $bin wrote ${parts.length} files, expected 1")
      if (!fs.rename(parts.head.getPath,
          new Path(stagingPath, f"part-$bin%06d.parquet")))
        throw new java.io.IOException(
          s"compactFiles: flatten rename failed for bin $bin under $staging")
      fs.delete(d.getPath, true)
    }
    StateDir.swap(fs, root, staging, "compactFiles")
    plan
  }
}
