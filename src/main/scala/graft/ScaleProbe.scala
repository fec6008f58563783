package graft

import org.apache.spark.scheduler._
import graft.meta.MetaJson.quote
import scala.collection.mutable

/** Same-session cross-SF scaling probe (dev tool): times a query subset
  * over SEVERAL fixture dirs in ONE JVM, with per-query repeats, so
  * sf-to-sf ratios are free of the two artifacts that have repeatedly
  * poisoned cross-SF reads on this box (BASELINE.md methodology notes):
  * cold-JVM warmup scaling with data touched, and box-load contamination
  * between separate runs. Repeats split one-off cost (first run pays
  * index builds + JIT) from steady-state (later runs are the number a
  * 100 TB capacity read should use).
  *
  * Timing, build charging, error capture and the noop sink are
  * [[Bench.runQueries]]'s; a stage listener attributes the timed jobs
  * (Bench tags them with the query's job group) to operator scopes.
  *
  * Usage: `runMain graft.ScaleProbe <q1,q2,...> <dir1,dir2,...> [repeats]`
  * Output: one JSON line per (query, dir, rep) with the index-build cost
  * charged separately on rep 0, mirroring Bench's contract, each followed
  * by that rep's slowest stages.
  */
object ScaleProbe {

  /** Completed stages of the jobs in job group `group` (Bench.runQueries
    * tags each timed query with its name), as (wall s, task s, table line). */
  private final class StageLedger extends SparkListener {
    private var group = ""
    private val wanted = mutable.Set.empty[Int]
    private val rows = mutable.ArrayBuffer.empty[(Double, Double, String)]

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        wanted ++= js.stageIds
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      if (wanted(si.stageId)) {
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1e3).getOrElse(0.0)
        val m = si.taskMetrics
        val task = m.executorRunTime / 1e3
        // label each stage by the OPERATOR scopes of its RDD chain (the
        // callsite-based stage name is useless under AQE: every stage
        // reports the thread-pool callsite) — rddInfos run leaf-to-root,
        // so this reads as the stage's pipeline
        val ops = si.rddInfos.flatMap(r => r.scope.map(_.name))
          .filterNot(_.startsWith("WholeStageCodegen")).distinct.take(8)
        // attempt + RDD-id range disambiguate a retried stage from two
        // distinct stages over the same shuffle
        val ids = si.rddInfos.map(_.id)
        val label = (if (ops.nonEmpty) ops.mkString(">") else si.name.split('\n').head.take(60)) +
          s" [a${si.attemptNumber()}/r${ids.min}-${ids.max}]"
        def mb(bytes: Long) = bytes / 1048576.0
        rows += ((wall, task, f"  st ${si.stageId}%4d wall=$wall%6.2f task=$task%7.2f " +
          f"n=${si.numTasks}%3d in=${mb(m.inputMetrics.bytesRead)}%7.1fM " +
          f"sr=${mb(m.shuffleReadMetrics.totalBytesRead)}%7.1fM " +
          f"sw=${mb(m.shuffleWriteMetrics.bytesWritten)}%7.1fM  $label"))
      }
    }

    /** Start collecting for `g`, dropping what earlier groups left. */
    def reset(g: String): Unit = synchronized { group = g; wanted.clear(); rows.clear() }

    def snapshot(): Seq[(Double, Double, String)] = synchronized(rows.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val dirs = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = graft.run.GraftSession.fromEnv()
    Bench.warmUp(spark, dirs.head)
    val ledger = new StageLedger
    spark.sparkContext.addSparkListener(ledger)
    for (dir <- dirs; name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; see SparkEntry.queries"))
      for (rep <- 0 until repeats) {
        ledger.reset(name)
        // index builds are idempotent per (session, dir): rep 0 pays
        // them, later reps hit the cache and are not charged
        val (Seq(r), builds) = Bench.runQueries(spark, dir, Seq(name -> fn))
        // listener events are async (no public drain API)
        Thread.sleep(300)
        val ss = ledger.snapshot()
        println(f"""{"q":"$name","dir":${quote(dir)},"rep":$rep,"sec":${r.sec}%.2f""" +
          (if (rep == 0 && builds.nonEmpty) f""","build_sec":${builds.map(_._2).sum}%.2f""" else "") +
          r.err.map(m => s""","err":${quote(m)}""").getOrElse("") + "}")
        println(f"  nstages=${ss.size} stagewallsum=${ss.map(_._1).sum}%.2f " +
          f"tasktimesum=${ss.map(_._2).sum}%.2f")
        ss.sortBy(-_._1).take(18).foreach(s => println(s._3))
      }
    }
    spark.stop()
  }
}
