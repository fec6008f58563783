package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hand-computed contracts for the entity-resolution and layout
  * operators: the q-gram blocking recall guarantee (including the
  * adversarial hot-gram case the rare-prefix choice exists for), exact
  * Morton bit interleaving, clustering evidence at the file level, and
  * greedy compaction binning. */
class FuzzyLayoutSpec extends SparkTestBase {

  import spark.implicits._

  // ------------------------------------------------------------ fuzzy join

  test("qgramFuzzyJoin equals the brute theta join (sub/ins/del cases)") {
    val left = Seq((1L, "kitten"), (2L, "flaw"), (3L, "apple"), (4L, "zzzz"))
      .toDF("lid", "ls")
    val right = Seq(
      (10L, "sitten"),  // 1 substitution from kitten
      (11L, "flaws"),   // 1 insertion from flaw
      (12L, "appl"),    // 1 deletion from apple
      (13L, "orange"),  // far from everything
    ).toDF("rid", "rs")
    val fast = FuzzyJoin.qgramFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 1)
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    val brute = left.crossJoin(right)
      .withColumn("dist", levenshtein(col("ls"), col("rs")).cast("long"))
      .filter(col("dist") <= 1)
      .select("lid", "rid", "dist")
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    assert(fast == brute)
    assert(fast.map(t => (t._1, t._2)) == Seq((1L, 10L), (2L, 11L), (3L, 12L)))
  }

  test("qgramFuzzyJoin recall survives the hot-shared-prefix adversary") {
    // every string shares the hot prefix grams; the only distance-1
    // pairs differ in the final character. If blocking dropped pairs
    // whose rare grams miss (e.g. kept only ONE gram), this would fail.
    val names = (0 until 50).map(i => (i.toLong, f"aaaaaaaaaa$i%02d"))
    val left = names.toDF("lid", "ls")
    val right = names.map { case (i, s) => (i + 1000L, s) }.toDF("rid", "rs")
    val fast = FuzzyJoin.qgramFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 1)
    val brute = left.crossJoin(right)
      .filter(levenshtein(col("ls"), col("rs")) <= 1)
    assert(fast.count() == brute.count())
    // sanity: distance-1 cross matches exist (e.g. ...a01 vs ...a00 family)
    assert(fast.filter(col("dist") === 1).count() > 0)
  }

  test("qgramFuzzyJoin maxDist=0 degenerates to the exact string join") {
    val left = Seq((1L, "abc"), (2L, "abd")).toDF("lid", "ls")
    val right = Seq((10L, "abc"), (11L, "xyz")).toDF("rid", "rs")
    val out = FuzzyJoin.qgramFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 10L, 0L)))
  }

  test("qgramFuzzyJoin finds short-string pairs below the pigeonhole bound") {
    // the r7 falsifier: 'abcde' has grams {abc,bcd,cde}, 'abde' has
    // {abd,bde} — NO shared gram, yet lev = 1. The pigeonhole guarantee
    // (some of q·d+1 distinct grams survives d edits) needs > q·d
    // distinct grams to exist; left strings at or below that bound must
    // route through the guaranteed deletion-neighborhood fallback or the
    // pair is silently dropped (the pre-r7 behavior).
    val left = Seq((1L, "abcde"), (2L, "ab"), (3L, "x")).toDF("lid", "ls")
    val right = Seq((10L, "abde"), (11L, "b"), (12L, "xy"), (13L, "qqqq"))
      .toDF("rid", "rs")
    val fast = FuzzyJoin.qgramFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 1)
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    val brute = left.crossJoin(right)
      .withColumn("dist", levenshtein(col("ls"), col("rs")).cast("long"))
      .filter(col("dist") <= 1)
      .select("lid", "rid", "dist")
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    assert(fast == brute)
    assert(fast.contains((1L, 10L, 1L)), "the no-shared-gram pair must be found")
  }

  test("qgramFuzzyJoin equals brute on an ALL-short corpus (fallback-only path)") {
    // every left string is at/below the q·(d+1)-1 length cap, so the
    // whole join flows through the fallback block — mixed lengths on the
    // right check the length cap keeps true partners
    val left = (0 until 26).map(i => (i.toLong, ('a' + i).toChar.toString * 3))
      .toDF("lid", "ls")
    val right = (0 until 26).map(i => (100L + i, ('a' + i).toChar.toString * 4))
      .toDF("rid", "rs")
    val fast = FuzzyJoin.qgramFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 1)
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    val brute = left.crossJoin(right)
      .withColumn("dist", levenshtein(col("ls"), col("rs")).cast("long"))
      .filter(col("dist") <= 1)
      .select("lid", "rid", "dist")
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    assert(fast == brute)
    assert(fast.size == 26)
  }

  // ------------------------------------------- deletion-neighborhood join

  test("DeletionVariants: zero-runs collapse, k<=d levels, maxLen throws loudly") {
    import org.apache.spark.unsafe.types.UTF8String
    def vs(s: String, d: Int, maxLen: Int = 64): Set[String] = {
      val arr = graft.functions.DeletionVariants
        .variants(UTF8String.fromString(s), d, maxLen)
      (0 until arr.numElements()).map(arr.getUTF8String(_).toString).toSet
    }
    // d=0: just the string
    assert(vs("abc", 0) == Set("abc"))
    // d=1 on distinct chars: the string + len single-deletions
    assert(vs("abc", 1) == Set("abc", "bc", "ac", "ab"))
    // zero-run collapse: deleting ANY of the three 0s yields one variant
    assert(vs("a000b", 1) == Set("a000b", "000b", "a00b", "a000"))
    // d=2 contains d=1 (up-to semantics), plus the two-deletion layer
    assert(vs("abcd", 2).contains("abcd") && vs("abcd", 2).contains("bcd")
      && vs("abcd", 2).contains("cd") && vs("abcd", 2).contains("bd"))
    val e = intercept[IllegalArgumentException] {
      vs("x" * 65, 1)
    }
    assert(e.getMessage.contains("65-char"))
  }

  test("deletionFuzzyJoin equals the brute theta join (sub/ins/del, d=1 and d=2)") {
    val left = Seq((1L, "kitten"), (2L, "flaw"), (3L, "apple"), (4L, "zzzz"))
      .toDF("lid", "ls")
    val right = Seq((10L, "sitten"), (11L, "flaws"), (12L, "appl"),
      (13L, "orange"), (14L, "kittey")).toDF("rid", "rs")
    for (d <- Seq(1, 2)) {
      val fast = FuzzyJoin.deletionFuzzyJoin(left, right, "lid", "ls", "rid", "rs", d)
        .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
      val brute = left.crossJoin(right)
        .withColumn("dist", levenshtein(col("ls"), col("rs")).cast("long"))
        .filter(col("dist") <= d)
        .select("lid", "rid", "dist")
        .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
      assert(fast == brute, s"maxDist=$d")
    }
  }

  test("deletionFuzzyJoin equals qgramFuzzyJoin on the low-entropy serial adversary") {
    // zero-padded serials: every q-gram is corpus-hot (the case that made
    // gram blocking quadratic on the customer fixture) — both blockings
    // must still agree exactly with each other (same no-false-negative
    // guarantee, same verify)
    val names = (0 until 60).map(i => (i.toLong, f"Customer#$i%09d"))
    val left = names.toDF("lid", "ls")
    val right = names.map { case (i, s) => (i + 1000L, s) }.toDF("rid", "rs")
    val del = FuzzyJoin.deletionFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 1)
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    val gram = FuzzyJoin.qgramFuzzyJoin(left, right, "lid", "ls", "rid", "rs", 1)
      .orderBy("lid", "rid").as[(Long, Long, Long)].collect().toSeq
    assert(del == gram)
    assert(del.nonEmpty)
  }

  // --------------------------------------------------- sorted neighborhood

  test("sortedNeighborhoodJoin matches the row_number definition exactly") {
    val rows = Seq(
      (1L, "alpha"), (2L, "alphb"), (3L, "alphq"), (4L, "beta"),
      (5L, "betas"), (6L, "gamma"), (7L, "gamna"), (8L, "delta"),
      (9L, "aleph"), (10L, "alpha")).toDF("id", "s")
    val w = 3; val d = 2
    val out = FuzzyJoin.sortedNeighborhoodJoin(rows, "id", "s", col("s"), w, d)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    // reference: global row_number over (s, id), pairs within w-1 ranks
    val ranked = rows.orderBy("s", "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).zipWithIndex
    val expected = (for {
      ((ida, sa), ra) <- ranked
      ((idb, sb), rb) <- ranked
      if rb > ra && rb - ra <= w - 1
      dist = {
        // tiny reference levenshtein
        val m = Array.tabulate(sa.length + 1, sb.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length).toLong
      }
      if dist <= d
    } yield (ida, idb, dist)).sorted.toSeq
    assert(out == expected)
  }

  test("sortedNeighborhoodJoin finds pairs ACROSS partition boundaries") {
    // 40 near-identical strings forced into many partitions: with
    // window=4, most neighborhoods straddle a range-partition edge —
    // a per-partition-only implementation would lose those pairs
    val rows = (0 until 40).map(i => (i.toLong, f"name$i%03d")).toDF("id", "s")
    val out = FuzzyJoin.sortedNeighborhoodJoin(
      rows, "id", "s", col("s"), window = 4, maxDist = 3, partitions = 13)
    // every consecutive pair differs in <= 3 chars -> all (w-1)*n - edge
    // pairs qualify: ranks 0..39, pairs (r, r+1..r+3) = 3*40 - (1+2+3)
    assert(out.count() == 3 * 40 - 6)
  }

  test("sortedNeighborhoodJoin excludes null keys and null ids up front") {
    val rows = Seq((1L, "aa"), (2L, "ab"), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val out = FuzzyJoin.sortedNeighborhoodJoin(rows, "id", "s", col("s"), 2, 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 1L)))
  }

  test("sortedNeighborhood keeps NON-NUMERIC string ids intact (r7 falsifier)") {
    // pre-r7 the id column was cast("long"): a string id like "cust-a"
    // became NULL, every row was excluded, and the join silently
    // returned empty instead of erroring. The id is an opaque payload —
    // it must survive in its original type.
    val rows = Seq(("cust-a", "alpha"), ("cust-b", "alphb"), ("cust-z", "zzzz"))
      .toDF("id", "s")
    val out = FuzzyJoin.sortedNeighborhoodJoin(rows, "id", "s", col("s"), 2, 1)
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("cust-a", "cust-b", 1L)))
    // multi-pass canonicalization (least/greatest) works on strings too
    val multi = FuzzyJoin.sortedNeighborhoodMultiPass(
        rows, "id", "s", Seq(col("s"), reverse(col("s"))), 2, 1)
      .as[(String, String, Long)].collect().toSeq
    assert(multi == Seq(("cust-a", "cust-b", 1L)))
  }

  test("sortedNeighborhoodMultiPass: the reverse pass recalls the leading-char typo") {
    // "aaaaaz" vs "baaaaz" (dist 1) sort far apart FORWARD (fillers
    // between); reversed ("zaaaaa"/"zaaaab") they are adjacent. A single
    // forward pass must miss the pair; the multi-pass must find it.
    val fillers = (0 until 20).map(i => (100L + i, f"am$i%03d"))
    val rows = (Seq((1L, "aaaaaz"), (2L, "baaaaz")) ++ fillers).toDF("id", "s")
    val single = FuzzyJoin.sortedNeighborhoodJoin(
        rows, "id", "s", col("s"), window = 3, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(!single.contains((1L, 2L, 1L)), "forward pass should miss it")
    val multi = FuzzyJoin.sortedNeighborhoodMultiPass(
        rows, "id", "s", Seq(col("s"), reverse(col("s"))),
        window = 3, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(multi.contains((1L, 2L, 1L)), s"reverse pass should recall it: $multi")
    // canonicalized union is a superset of the single pass
    assert(single.map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3))
      .subsetOf(multi))
  }

  // ------------------------------------------------------- jaro-winkler

  test("JaroWinkler matches DuckDB's jaro_winkler_similarity on pinned cases") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      graft.functions.JaroWinkler.jaroWinkler(
        UTF8String.fromString(a), UTF8String.fromString(b))
    // values captured from DuckDB v1.0 jaro_winkler_similarity — full
    // double precision, compared EXACTLY (the replay contract)
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") == 0.8962962962962964)
    assert(jw("CRATE", "TRACE") == 0.7333333333333334)     // jaro > 0.7, prefix 0
    assert(jw("abcdxxxxxx", "abcdyyyyyy") == 0.6)          // no boost at jaro <= 0.7
    assert(jw("abcdefxxxx", "abcdefyyyy") == 0.8400000000000001) // prefix capped at 4
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("", "") == 0.0)                               // DuckDB convention
    assert(jw("a", "b") == 0.0)
    assert(jw("aaaaa", "aaaa") == 0.96)
  }

  test("sortedNeighborhoodJaroWinkler scores window pairs, respects threshold") {
    val rows = Seq(
      (1L, "martha"), (2L, "marhta"), (3L, "marsha"), (4L, "zzzzz"))
      .toDF("id", "s")
    val out = FuzzyJoin.sortedNeighborhoodJaroWinkler(
        rows, "id", "s", col("s"), window = 4, minSim = 0.9)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    // sort order: marhta(2), marsha(3), martha(1), zzzzz(4); all three
    // m-names pair within the window, zzzzz matches nothing at 0.9
    assert(out.map(r => (r._1, r._2)) == Seq((2L, 1L), (2L, 3L), (3L, 1L)))
    assert(out.forall(_._3 >= 0.9))
  }

  // ------------------------------------------------------------ z-order

  test("zorderKey interleaves bits exactly (x even positions, y odd)") {
    // x=3 (011), y=5 (101), 3 bits:
    // pos0=x0=1, pos1=y0=1, pos2=x1=1, pos3=y1=0, pos4=x2=0, pos5=y2=1
    // -> 100111b = 39
    val out = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zorderKey(col("x"), col("y"), 3).as("z"))
      .as[Long].head()
    assert(out == 39L)
  }

  test("z-order buckets cover small (x, y) boxes — the data-skipping property") {
    // suppkey (0..9 at sf0.001) scales ×20 so both dimensions use
    // comparable bit widths — Z-order degenerates on the narrow axis of
    // a mismatched pair (the normalize-then-interleave rule)
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .withColumn("supp_scaled", col("l_suppkey").cast("long") * 20)
    val stats = Layout.zorderBucketStats(li, "l_partkey", "supp_scaled", 8, 10)
      .withColumn("wx", col("max_x") - col("min_x"))
      .withColumn("wy", col("max_y") - col("min_y"))
    val (gx, gy) = li.agg(
      (max("l_partkey") - min("l_partkey")).cast("long"),
      (max("supp_scaled") - min("supp_scaled")).cast("long"))
      .as[(Long, Long)].head()
    val (mx, my) = stats.agg(max("wx"), max("wy")).as[(Long, Long)].head()
    assert(stats.count() > 4, "bucketShift too coarse to say anything")
    // every bucket's box is a fraction of the global range on BOTH axes
    assert(mx <= gx / 2, s"x not clustered: bucket width $mx vs global $gx")
    assert(my <= gy / 2, s"y not clustered: bucket width $my vs global $gy")
  }

  test("files written in z-key ranges carry narrow min/max on both columns") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .withColumn("zkey", Layout.zorderKey(
        col("l_partkey").cast("long"), col("l_suppkey").cast("long") * 20, 8))
    val dir = java.nio.file.Files.createTempDirectory("zsort").toString
    li.repartitionByRange(8, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(dir)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).cast("long").as("wx"),
        (max("l_suppkey") - min("l_suppkey")).cast("long").as("wy"))
    val (gx, gy) = li.agg(
      (max("l_partkey") - min("l_partkey")).cast("long"),
      (max("l_suppkey") - min("l_suppkey")).cast("long"))
      .as[(Long, Long)].head()
    import org.apache.spark.sql.Row
    val Row(ax: Double, ay: Double) = perFile.agg(avg("wx"), avg("wy")).head()
    // a plain sort on partkey would leave suppkey at full range in every
    // file; z-ranges bound BOTH averages well below the global widths
    assert(ax < gx * 0.8, s"avg file partkey width $ax vs global $gx")
    assert(ay < gy * 0.8, s"avg file suppkey width $ay vs global $gy")
  }

  test("zorderCluster executes the rewrite: row identity, per-file boxes shrink on both axes (r8)") {
    val root = java.nio.file.Files.createTempDirectory("zc").toString + "/t"
    // uniform (x, y) over [0,1024)^2 written in 8 key-UNCORRELATED files:
    // every file starts out covering the full box on both axes
    val df = spark.range(40000).select(col("id"),
      pmod(hash(col("id")), lit(1024)).as("x"),
      pmod(hash(col("id") + 500000), lit(1024)).as("y"))
    df.repartition(8).write.parquet(root)
    val before = spark.read.parquet(root).orderBy("id").collect().toSeq
    val preScan = {
      val q = spark.read.parquet(root).filter(col("x").between(0, 127))
      q.collect()
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    assert(preScan > 35000L,
      s"uncorrelated layout must defeat row-group pruning, scan read $preScan")
    Layout.zorderCluster(spark, root,
      t => Layout.zorderKey(t("x"), t("y"), 10), nFiles = 8)
    // (a) row identity — the rewrite is invisible to readers
    val after = spark.read.parquet(root).orderBy("id").collect().toSeq
    assert(after == before, "z-order rewrite changed the data")
    assert(!new java.io.File(s"${root}_zordering").exists(),
      "staging must be swapped away")
    // (b) per-file bounding boxes now cover a small fraction of the key
    // space on BOTH axes — the footer stats the scan pruner sees
    val stats = Layout.zorderFileStats(spark.read.parquet(root),
        col("x"), col("y"))
      .withColumn("area", (col("max_x") - col("min_x") + 1) *
        (col("max_y") - col("min_y") + 1))
    assert(stats.count() == 8L, "clustered rewrite must keep nFiles files")
    import org.apache.spark.sql.Row
    val Row(avgArea: Double) = stats.agg(avg("area")).head()
    assert(avgArea < 1024.0 * 1024.0 * 0.35,
      s"files not clustered: avg box area $avgArea of ${1024 * 1024}")
    // (c) a selective slice on ONE dimension now touches few files and
    // parquet min/max stats skip most row groups at scan time. The ideal
    // 8-segment z-curve puts {x < 1/8} in exactly 4 segments (top-3 z
    // bits y9 0 y8), but repartitionByRange cuts at SAMPLED quantiles,
    // so one file can straddle a quadrant boundary — allow one straddler
    // rather than pinning the sampler.
    val sliceFiles = spark.read.parquet(root).filter(col("x").between(0, 127))
      .select(input_file_name()).distinct().count()
    assert(sliceFiles <= 5L, s"x-slice touched $sliceFiles of 8 files")
    val postScan = {
      val q = spark.read.parquet(root).filter(col("x").between(0, 127))
      q.collect()
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    // each ~5000-row file is one row group, so the pruned scan reads
    // sliceFiles × ~5000 rows: ≤ 5 files → < 27.5k vs ~40k unpruned
    assert(postScan < 27500L,
      s"row-group pruning did not engage after clustering: scan read $postScan")
  }

  test("zorderCluster: crash debris before the swap leaves the original readable; rerun converges (r8)") {
    val root = java.nio.file.Files.createTempDirectory("zcc").toString + "/t"
    spark.range(1000).select(col("id"),
      pmod(hash(col("id")), lit(64)).as("x"),
      pmod(hash(col("id") + 7), lit(64)).as("y"))
      .repartition(4).write.parquet(root)
    val before = spark.read.parquet(root).orderBy("id").collect().toSeq
    // a run that died between staging write and swap
    spark.range(13).write.parquet(s"${root}_zordering")
    assert(spark.read.parquet(root).orderBy("id").collect().toSeq == before)
    Layout.zorderCluster(spark, root,
      t => Layout.zorderKey(t("x"), t("y"), 6), nFiles = 2)
    assert(spark.read.parquet(root).orderBy("id").collect().toSeq == before)
    assert(!new java.io.File(s"${root}_zordering").exists(),
      "stale staging must be rebuilt and swapped away")
  }

  // ------------------------------------------------------------ compaction

  test("fileInventory: distributed listing equals the java.nio walk; plan binning composes (r7)") {
    val root = java.nio.file.Files.createTempDirectory("inv").toString
    // a partitioned-table-shaped tree: two partition dirs + a top-level
    // file + commit markers that must be skipped
    spark.range(100).withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(s"$root/t")
    val inv = Layout.fileInventory(spark, s"$root/t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // reference: plain recursive walk
    import scala.jdk.CollectionConverters._
    val expected = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/t"))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith("_")
        || p.getFileName.toString.startsWith("."))
      .map(p => (java.nio.file.Paths.get(s"$root/t").relativize(p).toString,
        java.nio.file.Files.size(p)))
      .toMap
    assert(inv == expected, s"inventory mismatch:\n$inv\nvs\n$expected")
    assert(inv.nonEmpty && inv.keys.forall(_.startsWith("p=")),
      s"relative partition-dir paths expected: ${inv.keys}")
    // the end-to-end plan bins every file exactly once
    val plan = Layout.compactionPlanForPath(spark, s"$root/t", targetBytes = 1L << 20)
      .collect()
    assert(plan.map(_.getString(0)).toSet == expected.keySet)
    assert(plan.forall(_.getLong(2) == 0L), "tiny fixture fits one bin")
  }

  test("compactFiles executes the plan: row-identical rewrite, one file per bin (r8)") {
    val root = java.nio.file.Files.createTempDirectory("cf").toString + "/t"
    // 40 small files of a flat table — the accumulated-increments shape
    spark.range(20000).select(col("id"), (col("id") % 97).as("v"),
        concat(lit("row"), col("id")).as("s"))
      .repartition(40).write.parquet(root)
    val before = spark.read.parquet(root).orderBy("id").collect().toSeq
    // per-bin expected row counts, derived from the pre-rewrite files
    val planRows = Layout.compactionPlanForPath(spark, root, targetBytes = 64L << 10)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val nBins = planRows.values.toSet.size
    assert(nBins > 1 && nBins < 40,
      s"fixture must genuinely coalesce: $nBins bins from 40 files")
    val rowsPerFile = spark.read.parquet(root)
      .groupBy(input_file_name().as("f")).count().collect()
      .map(r => r.getString(0).split("/").last -> r.getLong(1)).toMap
    val expectedPerBin = planRows.groupBy(_._2)
      .map { case (bin, fs) =>
        bin -> fs.keys.toSeq.map(f => rowsPerFile(f.split("/").last)).sum }
    val executed = Layout.compactFiles(spark, root, targetBytes = 64L << 10)
    // the returned plan was pinned pre-rewrite
    assert(executed.collect().map(r => r.getString(0) -> r.getLong(2)).toMap == planRows)
    // (a) row identity — hash-equal read-back
    val after = spark.read.parquet(root).orderBy("id").collect().toSeq
    assert(after == before, "compaction changed the data")
    // (b) the physical layout matches the plan's bins exactly: one
    // deterministically-named file per bin, holding that bin's rows
    val inv = Layout.fileInventory(spark, root).collect().map(_.getString(0)).toSeq
    assert(inv.sorted == planRows.values.toSet.toSeq.sorted.map(b => f"part-$b%06d.parquet"),
      s"post-rewrite inventory $inv does not match the plan's bins")
    val afterPerFile = spark.read.parquet(root)
      .groupBy(input_file_name().as("f")).count().collect()
      .map(r => r.getString(0).split("/").last.stripPrefix("part-")
        .stripSuffix(".parquet").toLong -> r.getLong(1)).toMap
    assert(afterPerFile == expectedPerBin,
      s"per-bin row counts diverged: $afterPerFile vs $expectedPerBin")
  }

  test("compactFiles: crash debris before the swap leaves the original readable; rerun converges (r8)") {
    val root = java.nio.file.Files.createTempDirectory("cfc").toString + "/t"
    spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
      .repartition(10).write.parquet(root)
    val before = spark.read.parquet(root).orderBy("id").collect().toSeq
    // simulate a run that died between staging write and swap: a stale
    // staging sibling full of half-written junk
    val staging = s"${root}_compacting"
    spark.range(13).write.parquet(s"$staging/_cf_bin=0")
    // the live table is untouched by the debris
    assert(spark.read.parquet(root).orderBy("id").collect().toSeq == before)
    // rerun rebuilds staging from scratch (mode=overwrite) and completes
    Layout.compactFiles(spark, root, targetBytes = 1L << 20)
    assert(spark.read.parquet(root).orderBy("id").collect().toSeq == before)
    assert(!new java.io.File(staging).exists(), "staging must be swapped away")
    assert(Layout.fileInventory(spark, root).count() == 1L,
      "tiny table compacts to the plan's single bin")
  }

  test("compactFiles / zorderCluster: a crash between the swap's two renames loses no table") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val dir = java.nio.file.Files.createTempDirectory("cfx").toString
    val root = s"$dir/t"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    spark.range(1000).select(col("id"), (col("id") % 7).as("v"),
        pmod(hash(col("id")), lit(64)).as("x"), pmod(hash(col("id") + 7), lit(64)).as("y"))
      .repartition(10).write.parquet(root)
    val before = spark.read.parquet(root).orderBy("id").collect().toSeq
    // the compacted staging copy, made from a twin of the table
    FileUtil.copy(fs, new Path(root), fs, new Path(s"$dir/twin"), false, conf)
    Layout.compactFiles(spark, s"$dir/twin", targetBytes = 1L << 20)
    // crash after the first rename: staging complete, live moved aside
    FileUtil.copy(fs, new Path(s"$dir/twin"), fs, new Path(s"${root}_compacting"), false, conf)
    assert(fs.rename(new Path(root), new Path(s"${root}_preswap")))
    Layout.compactFiles(spark, root, targetBytes = 1L << 20)
    assert(spark.read.parquet(root).orderBy("id").collect().toSeq == before)
    assert(!fs.exists(new Path(s"${root}_preswap")) && !fs.exists(new Path(s"${root}_compacting")))
    // the same crash with no staged copy left: the aside copy comes back
    assert(fs.rename(new Path(root), new Path(s"${root}_preswap")))
    Layout.zorderCluster(spark, root,
      t => Layout.zorderKey(t("x"), t("y"), 6), nFiles = 2)
    assert(spark.read.parquet(root).orderBy("id").collect().toSeq == before)
    assert(!fs.exists(new Path(s"${root}_preswap")))
  }

  test("compactFiles on a Hive-partitioned input materializes partition columns, keeps rows (r8)") {
    val root = java.nio.file.Files.createTempDirectory("cfp").toString + "/t"
    spark.range(2000).select(col("id"), (col("id") % 3).as("p"))
      .repartition(8).write.partitionBy("p").parquet(root)
    val before = spark.read.parquet(root).select("id", "p")
      .orderBy("id").collect().toSeq
    Layout.compactFiles(spark, root, targetBytes = 1L << 20)
    // schema-on-read unchanged; the partition column now lives IN the files
    val after = spark.read.parquet(root).select("id", "p")
      .orderBy("id").collect().toSeq
    assert(after == before, "partitioned-input compaction lost rows or partition values")
    val inv = Layout.fileInventory(spark, root).collect().map(_.getString(0))
    assert(inv.forall(!_.contains("=")), s"directories flattened: ${inv.toSeq}")
  }

  test("compactionPlan: greedy running-total binning in partition order") {
    val inv = Seq(("p1", 10L), ("p2", 10L), ("p3", 10L), ("p4", 10L))
      .toDF("part", "n")
    val out = Layout.compactionPlan(inv, "part", "n", targetSize = 25L)
      .orderBy("part").as[(String, Long, Long)].collect().toSeq
    // cumulative-before: 0, 10, 20, 30 -> bins 0, 0, 0, 1
    assert(out == Seq(("p1", 10L, 0L), ("p2", 10L, 0L), ("p3", 10L, 0L), ("p4", 10L, 1L)))
  }

  test("compactionPlan: an oversized partition occupies its own bin range") {
    val inv = Seq(("a", 100L), ("b", 5L), ("c", 5L)).toDF("part", "n")
    val out = Layout.compactionPlan(inv, "part", "n", targetSize = 30L)
      .orderBy("part").as[(String, Long, Long)].collect().toSeq
    // cumulative-before: 0, 100, 105 -> bins 0, 3, 3
    assert(out == Seq(("a", 100L, 0L), ("b", 5L, 3L), ("c", 5L, 3L)))
  }
}
