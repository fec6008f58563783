package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import graft.meta.TableMeta
import graft.catalog.GraftCatalog

/** In-process job runner — the analog of the reference's Glue job
  * orchestration (`etl_manager/etl.py:45-743`, SURVEY.md §2.I). The
  * remote-cluster lifecycle (package → upload → create_job → poll →
  * cleanup) collapses to: run query functions against a SparkSession
  * under a wall-clock budget, writing parquet/csv/... sinks.
  *
  * The reference's cost-cap-as-timeout semantics are ported verbatim:
  * timeout_minutes = 60 * costCap / (hourlyRate * dpuPerWorker * workers)
  * (`etl.py:87-90,138-152`).
  */
object GraftJob {

  /** $0.44/DPU-hour (etl.py:87) and the $20 default cap (etl.py:88). */
  val WorkerHourlyCost = 0.44
  val MaximumCostCap = 20.0

  /** Worker types and DPU factors (etl.py:266-279). */
  val AllowedWorkerTypes: Map[String, Double] = Map(
    "G.025X" -> 0.25, "G.1X" -> 1.0, "G.2X" -> 2.0, "G.4X" -> 4.0, "G.8X" -> 8.0)

  /** etl.py:138-152: derived timeout in minutes; reference test values
    * (tests/test_tests.py:169-199): 2×G.1X → 1363, 5×G.2X → 272,
    * 40×G.1X → 68. */
  def timeoutMinutes(workers: Int = 2, workerType: String = "G.1X",
      costCap: Double = MaximumCostCap): Int = {
    val dpu = AllowedWorkerTypes.getOrElse(workerType,
      throw new IllegalArgumentException(
        s"worker_type must be one of ${AllowedWorkerTypes.keys.toSeq.sorted.mkString(", ")}"))
    (60.0 * costCap / (WorkerHourlyCost * dpu * workers)).toInt
  }

  sealed trait JobResult { def name: String }
  final case class JobSucceeded(name: String, rows: Long, seconds: Double) extends JobResult
  final case class JobFailed(name: String, error: Throwable) extends JobResult
  final case class JobTimedOut(name: String, budgetSeconds: Double) extends JobResult

  /** Job-run states mirroring the reference's Glue status vocabulary
    * (`etl.py:640-698` `job_status`/`wait_for_completion`). */
  sealed trait JobState
  case object Running extends JobState
  final case class Completed(results: Seq[JobResult]) extends JobState
  final case class Aborted(error: Throwable) extends JobState

  /** Handle for an asynchronously-running job — the in-process analog of
    * the reference's run_job + poll loop. */
  final class JobHandle private[run] (
      fut: scala.concurrent.Future[Seq[JobResult]]) {

    /** Non-blocking status probe (`job_status`). */
    def status: JobState = fut.value match {
      case None => Running
      case Some(scala.util.Success(r)) => Completed(r)
      case Some(scala.util.Failure(e)) => Aborted(e)
    }

    /** `wait_for_completion` (etl.py:663-698): poll until the run leaves
      * Running, at `pollSeconds` intervals. The reference raises typed
      * errors for failed/timeout states; here per-query outcomes are the
      * JobResult values and only a run-level crash raises. */
    def waitForCompletion(pollSeconds: Double = 1.0): Seq[JobResult] = {
      while (status == Running)
        Thread.sleep(math.max(1L, (pollSeconds * 1000).toLong))
      status match {
        case Completed(r) => r
        case Aborted(e) => throw e
        case Running => throw new IllegalStateException("unreachable")
      }
    }
  }

  /** [[run]] on a background thread, returning a pollable [[JobHandle]] —
    * the reference's non-blocking `run_job()` shape. */
  def runAsync(
      spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String,
      outDir: String,
      sinkFormat: String = "parquet",
      workers: Int = 2,
      workerType: String = "G.1X",
      costCap: Double = MaximumCostCap): JobHandle =
    new JobHandle(scala.concurrent.Future {
      run(spark, queries, sfDir, outDir, sinkFormat, workers, workerType, costCap)
    }(scala.concurrent.ExecutionContext.global))

  /** One job = a named set of queries written to sinks under `outDir`.
    * Sequential like the reference's serialized Athena refreshes
    * (CHANGELOG.md:145); the wall-clock budget spans the whole job and is
    * checked between queries + enforced on the running query. */
  def run(
      spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String,
      outDir: String,
      sinkFormat: String = "parquet",
      workers: Int = 2,
      workerType: String = "G.1X",
      costCap: Double = MaximumCostCap): Seq[JobResult] = {
    // the runner keeps seconds precision; timeoutMinutes' int truncation
    // exists only for parity with the reference's Glue API field
    val dpu = AllowedWorkerTypes.getOrElse(workerType,
      throw new IllegalArgumentException(
        s"worker_type must be one of ${AllowedWorkerTypes.keys.toSeq.sorted.mkString(", ")}"))
    val budgetSec = 3600.0 * costCap / (WorkerHourlyCost * dpu * workers)
    val jobStart = System.nanoTime()
    def elapsed = (System.nanoTime() - jobStart) / 1e9
    // unique per RUN: concurrent runAsync jobs may execute the same query
    // names, and a shared group id would let one run's cost-cap kill
    // cancel the other's in-flight query
    val runToken = java.util.UUID.randomUUID().toString.take(8)

    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (elapsed > budgetSec) JobTimedOut(name, budgetSec)
      else {
        val t0 = System.nanoTime()
        // enforce the budget ON the running query, not just between
        // queries: run the action under a job group and cancel it when the
        // remaining budget is exhausted (the reference's cost-cap kill)
        val group = s"graftjob-$runToken-$name"
        // set by the timeout path BEFORE it cancels: a Future that has not
        // yet started sees the flag and never submits its first job, so a
        // 1 ms-budget timeout cannot leave a zombie query running (the
        // cancel would otherwise fire before setJobGroup and kill nothing)
        val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
        try {
          val remainingMs = math.max(1L, ((budgetSec - elapsed) * 1000).toLong)
          val work = scala.concurrent.Future {
            // the job group must be set on the thread that RUNS the Spark
            // actions: local properties are inherited at thread creation
            // only, so a reused pool thread would otherwise carry a stale
            // or absent group and cancelJobGroup would cancel nothing
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
            // re-check the flag at every stage boundary, not just on
            // entry: driver-side planning (fn builds the frame, possibly
            // running eager sizing jobs) can outlive the cancel/drain
            // loop — cancelJobGroup finds nothing RUNNING, the timeout
            // path returns JobTimedOut, and without these checks the
            // late starter would still submit its sink write afterwards
            def checkBudget(): Unit =
              if (timedOut.get()) throw new InterruptedException(s"$name budget exhausted")
            try {
              checkBudget()
              val df = fn(spark, sfDir)
              checkBudget()
              val sink = TableMeta(name.replaceAll("[^a-z0-9_]", "_"), s"$name/",
                dataFormat = sinkFormat)
              GraftCatalog.writeTable(df, sink.copy(columns = Seq.empty),
                s"${outDir.stripSuffix("/")}/$name", mode = "overwrite")
              checkBudget()
              val sinkDir = s"${outDir.stripSuffix("/")}/$name"
              (sinkFormat match {
                case "parquet" => graft.sources.ParquetState.read(spark, sinkDir)
                case "csv" | "csv_quoted_nodate" => spark.read.format("csv").load(sinkDir)
                case f => spark.read.format(f).load(sinkDir)
              }).count()
            } finally spark.sparkContext.clearJobGroup()
          }(scala.concurrent.ExecutionContext.global)
          val rows = scala.concurrent.Await.result(work,
            scala.concurrent.duration.Duration(remainingMs, "ms"))
          JobSucceeded(name, rows, (System.nanoTime() - t0) / 1e9)
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            timedOut.set(true)
            // repeat the cancel briefly: a job submitted between the flag
            // check and the first cancel still gets killed
            // scope the drain check to THIS group — other concurrent runs'
            // active jobs are none of our business (getJobIdsForGroup also
            // lists finished jobs, so filter to RUNNING)
            val tracker = spark.sparkContext.statusTracker
            def groupRunning: Boolean = tracker.getJobIdsForGroup(group)
              .exists(id => tracker.getJobInfo(id)
                .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
            var tries = 0
            while (tries < 20) {
              spark.sparkContext.cancelJobGroup(group)
              if (!groupRunning) tries = 20
              else { Thread.sleep(100); tries += 1 }
            }
            JobTimedOut(name, budgetSec)
          case e: Throwable => JobFailed(name, e)
        }
      }
    }
  }

  /** Execute a PACKAGED job's staged .sql resources — the reference
    * lifecycle's execution half (`job.py` scripts read their .sql files
    * from the staged S3 folder and run them via Athena/Spark; SURVEY
    * §3.2-3.3). Each `<name>.sql` in the staged resources folder runs as
    * query `<name>` against whatever tables/views the caller registered
    * (e.g. [[graft.catalog.GraftCatalog.registerDatabase]]), writing a
    * sink per query under `outDir`, under the same cost-cap budget as
    * [[run]]. Files execute in name order (the reference's serialized
    * refreshes). */
  def runStagedSql(
      spark: SparkSession,
      pkg: JobPackage,
      outDir: String,
      sinkFormat: String = "parquet",
      workers: Int = 2,
      workerType: String = "G.1X",
      costCap: Double = MaximumCostCap): Seq[JobResult] = {
    val staged = pkg.stageJobFolder
    val st = java.nio.file.Files.list(staged)
    val sqls = try st.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".sql"))
      .toSeq.sortBy(_.getFileName.toString)
    finally st.close()
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      sqls.map { p =>
        val name = p.getFileName.toString.stripSuffix(".sql")
        val text = java.nio.file.Files.readString(p)
        name -> ((s: SparkSession, _: String) => s.sql(text))
      }.toMap
    run(spark, queries, sfDir = "", outDir, sinkFormat, workers, workerType, costCap)
  }

  /** Post-job schema registration: infer TableMeta for every sink written
    * by [[run]] (the reference's tablemeta_from_parquet_meta path feeding
    * a new database, meta.py:1038-1060). */
  def inferSinkMetas(spark: SparkSession, outDir: String): Seq[TableMeta] = {
    val root = java.nio.file.Paths.get(outDir)
    if (!java.nio.file.Files.isDirectory(root)) return Seq.empty
    val st = java.nio.file.Files.list(root)
    val out = scala.collection.mutable.ArrayBuffer.empty[TableMeta]
    try {
      val dirs = st.iterator()
      while (dirs.hasNext) {
        val d = dirs.next()
        if (java.nio.file.Files.isDirectory(d)) {
          val name = d.getFileName.toString.toLowerCase.replaceAll("[^a-z0-9_]", "_")
          try out += GraftCatalog.tableMetaFromParquet(
            spark, name, s"$name/", d.toString)
          catch { case _: Exception => () }
        }
      }
    } finally st.close()
    out.toSeq
  }
}
