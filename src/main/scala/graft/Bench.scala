package graft

import org.apache.spark.sql.SparkSession
import graft.meta.MetaJson.quote

object Bench {

  /** (name, seconds, error, consumesSharedStage, warmStageHit) */
  final case class QueryResult(name: String, sec: Double,
      err: Option[String], shared: Boolean, warm: Boolean)

  /** Run every query against the noop sink (forces full evaluation of
    * every column of every row — count() would let Spark skip
    * projections entirely). A failed query surfaces as an error entry,
    * never as a fast time: swallowing it would let a regression IMPROVE
    * the total. Warm-stage tracking: the first query touching a shared
    * persisted stage (Queries.sharedStages) pays its materialization,
    * later ones ride the cache — the flag makes per-query numbers
    * interpretable. Returns per-query results plus the separately-charged
    * one-off index build times (stage name -> seconds). Builds run before
    * the first consuming query, so indexed-probe timings are steady-state
    * cost — the 100 TB reading of an index: amortized build, per-probe
    * pruning. */
  def runQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : (Seq[QueryResult], Seq[(String, Double)]) = {
    val stagesSeen = scala.collection.mutable.Set.empty[String]
    val buildTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = queries.sortBy(_._1).map { case (name, fn) =>
      val stages = Queries.sharedStages.getOrElse(name, Nil)
      stages.filter(st => Queries.indexBuilds.contains(st) && !stagesSeen.contains(st))
        .foreach { st =>
          val b0 = System.nanoTime()
          // a failed build stays uncounted and unseen: the consuming query
          // then re-attempts it inline and reports the error itself
          try {
            Queries.indexBuilds(st)(spark, sfDir)
            buildTimes(st) = (System.nanoTime() - b0) / 1e9
            stagesSeen += st
          } catch { case _: Throwable => () }
        }
      val warm = stages.nonEmpty && stages.forall(stagesSeen.contains)
      val t0 = System.nanoTime()
      // the timed jobs (never the builds above) carry the query name as
      // their job group, so a stage listener can attribute them
      spark.sparkContext.setJobGroup(name, name)
      val err = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally spark.sparkContext.clearJobGroup()
      // a FAILED stage-paying query did not materialize the shared
      // stage — marking it seen would mislabel later consumers warm
      // while they pay the cold build
      if (err.isEmpty) stagesSeen ++= stages
      QueryResult(name, (System.nanoTime() - t0) / 1e9, err, stages.nonEmpty, warm)
    }
    (results, buildTimes.toSeq)
  }

  /** JIT/codegen/IO-path warm-up so the first timed query doesn't absorb
    * session startup: exercise codegen, a shuffle, and the parquet reader
    * (via the 5-row region table — no meaningful data cached). */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("id", "id * 2 AS x")
      .groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
      .count().write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"${sfDir.stripSuffix("/")}/region.parquet")
      .write.format("noop").mode("overwrite").save()
  }

  /** The one-line bench JSON. Success entries stay plain numbers (the
    * driver's established contract); only FAILED queries become
    * `{"sec":..,"err":..}` objects, with a nonzero top-level `errors`
    * counter. Warm/cold flags ride in a sibling `shared_stage_hit` map so
    * dedup-family timings are interpretable without changing the
    * `queries` schema. */
  def renderJson(results: Seq[QueryResult], sfDir: String,
      indexBuilds: Seq[(String, Double)] = Nil): String = {
    val qs = results.map(entry(_)).mkString("{", ",", "}")
    val sharedFlags = results.collect { case r if r.shared =>
      "\"" + r.name + "\":" + r.warm
    }.mkString("{", ",", "}")
    val builds = indexBuilds.map { case (st, sec) => "\"" + st + "\":" + sec }
      .mkString("{", ",", "}")
    header(results, indexBuilds) + s""""index_build":$builds,""" +
      s""""shared_stage_hit":$sharedFlags,"queries":$qs,"sf":${quote(sfDir)}}"""
  }

  /** The leading `metric/value/unit/errors` fields both lines share. Index
    * builds are real work this run did: the total includes them
    * (comparable across rounds), while per-query numbers stay probe-only. */
  private def header(results: Seq[QueryResult], indexBuilds: Seq[(String, Double)]): String =
    s"""{"metric":"total","value":${results.map(_.sec).sum + indexBuilds.map(_._2).sum},""" +
      s""""unit":"sec","errors":${results.count(_.err.isDefined)},"""

  /** One `queries` entry: plain seconds, or `{sec, err}` for a failure. */
  private def entry(r: QueryResult, errChars: Int = Int.MaxValue): String =
    "\"" + r.name + "\":" + r.err.fold(r.sec.toString)(m =>
      s"""{"sec":${r.sec},"err":${quote(m.take(errChars))}}""")

  /** Stdout-budgeted final line. The harness that captures our stdout
    * keeps only a ~2 KB TAIL, so the 267-query full line arrives
    * mid-truncated and parses as nothing. This line keeps the driver's
    * schema (metric/value/unit/errors/queries/sf) but trims `queries` to
    * every FAILED query plus the slowest successes that fit the budget —
    * the entries a per-round delta reader actually wants — and points at
    * `detail` (the sibling file carrying the untrimmed JSON). */
  def renderCompactJson(results: Seq[QueryResult], sfDir: String,
      indexBuilds: Seq[(String, Double)], detailPath: String,
      budgetBytes: Int = 1800): String = {
    val ordered = (results.filter(_.err.isDefined) ++
      results.filter(_.err.isEmpty).sortBy(-_.sec)).map(entry(_, errChars = 80))
    def render(qs: Seq[String], omitted: Int): String =
      header(results, indexBuilds) +
        s""""queries_total":${results.size},"queries_omitted":$omitted,""" +
        s""""detail":${quote(detailPath)},""" +
        s""""queries":${qs.mkString("{", ",", "}")},"sf":${quote(sfDir)}}"""
    // grow the included set until the rendered line would exceed budget
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < ordered.length &&
        render(kept.toSeq :+ ordered(i),
          results.size - kept.size - 1).length <= budgetBytes) {
      kept += ordered(i); i += 1
    }
    render(kept.toSeq, results.size - kept.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.run.GraftSession.fromEnv()
    // Silence the "No Partition Defined for Window operation!" wall in the
    // BENCH tail only (r12 VERDICT item 5): every global window in the
    // inventory is bounded-input by construction and individually audited
    // (Retrieval ranks top-k outputs, Sampling windows a merged histogram,
    // Layout windows a metadata inventory) — hundreds of repeats of the
    // same benign line drown any REAL unpartitioned-window regression.
    // Scoped to the bench session alone: Verify, ScaleProbe, tests and
    // production sessions keep the warning, so a new offender still
    // surfaces where plans are inspected.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    warmUp(spark, sfDir)
    val (results, builds) = runQueries(spark, sfDir, SparkEntry.selectedQueries)
    // full per-query detail goes to a FILE (survives any stdout tailing);
    // stdout carries the budget-bounded line the capture window can hold
    val detail = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_full.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(detail),
      (renderJson(results, sfDir, builds) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Two stdout lines (r12 VERDICT item 1): FIRST the full un-budgeted
    // line with the complete 282-entry per-query map (a full-stdout
    // line-wise JSON reader gets every query), LAST the budget-bounded
    // summary (so a reader that only keeps a ~2 KB stdout tail still finds
    // one complete parseable line — the ~50 slowest queries + totals).
    // Either line alone satisfies the metric/value/unit/errors/queries/sf
    // schema. Same timings, same methodology; only stdout rendering
    // changed (plus build.sbt's StdoutOutput, which drops the "[info] "
    // prefix sbt's logger put in front of every line for 12 rounds).
    println(renderJson(results, sfDir, builds))
    println(renderCompactJson(results, sfDir, builds, detail))
    spark.stop()
  }
}
