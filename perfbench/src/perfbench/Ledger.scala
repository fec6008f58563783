package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call: a public function of the program together with the
  * action that forces its output. Times are wall-clock milliseconds, the
  * clock Spark stamps on job and stage events. */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long, wallNs: Long)

/** A completed stage attempt as the ledger keeps it. */
final case class StageRec(stageId: Int, submitMs: Long, doneMs: Long,
    taskMs: Long, shuffleWrite: Long, spill: Long, input: Long, scopes: String)

/** Totals of every call made under one span name. */
final case class SpanTotals(name: String, calls: Int, wallS: Double, driverS: Double,
    stages: Int, taskS: Double, shuffleWriteMb: Double, spillMb: Double,
    inputMb: Double, topStages: Seq[(String, Double)],
    actions: Seq[(String, Int)]) {
  private def per(x: Double): Double = if (calls == 0) 0.0 else x / calls
  /** Per-call means: the numbers the per-layer metrics report. */
  def perCall(kind: String): Double = kind match {
    case "wall_s" => per(wallS)
    case "driver_s" => per(driverS)
    case "stages" => per(stages.toDouble)
    case "task_s" => per(taskS)
    case "shuffle_write_mb" => per(shuffleWriteMb)
    case "spill_mb" => per(spillMb)
    case "input_mb" => per(inputMb)
    case other => throw new IllegalArgumentException(s"unknown span kind $other")
  }
}

/** Bytes of RDD blocks (persist and localCheckpoint) held right now, and
  * the peak since the last reset. Cheap enough to stay installed in
  * untraced runs, where it feeds `pinned_mb_peak`. */
final class BlockMeter extends SparkListener {
  private val held = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockId.name}@${info.blockManagerId.executorId}"
      total -= held.getOrElse(key, 0L)
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (bytes > 0) held(key) = bytes else held.remove(key)
      total += bytes
      peak = math.max(peak, total)
    }
  }

  def resetPeak(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized { peak }
}

/** The stage ledger: a SparkListener plus a QueryExecutionListener that
  * keep jobs, completed stages (labelled by their RDD operator scopes)
  * and the actions every call ran, all in memory. Jobs are assigned to
  * the span named by the `perfbench.span` local property when it is set
  * and still open at submission; jobs submitted from threads that never
  * saw the property (the runner's futures, stream executions) fall to
  * the span whose interval holds their submission time. The client is
  * one thread and spans never overlap, so that fallback is exact. */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Option[Long], Seq[Int])]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private var failedTasks = 0
  private val actions = mutable.ArrayBuffer.empty[(Long, String)]

  def addSpan(s: Span): Unit = synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.SpanProp)))
    jobs += ((e.time, prop.map(_.toLong), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) synchronized { failedTasks += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    // the stage's pipeline read leaf to root, codegen wrappers dropped
    val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name))
      .filterNot(_.startsWith("WholeStageCodegen")).distinct.take(6).mkString(">")
    synchronized {
      stages += StageRec(si.stageId,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.bytesRead, scopes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += ((System.currentTimeMillis() - durationNs / 1000000L, funcName)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { actions += ((System.currentTimeMillis(), s"$funcName(failed)")) }

  private def spanAt(t: Long): Option[Span] =
    spans.find(s => s.startMs <= t && t <= s.endMs)

  /** Failed tasks seen so far, whatever span they fell in. */
  def failedTaskCount: Int = synchronized { failedTasks }

  /** Per span name totals. Call after the listener bus has drained. */
  def totals(): Map[String, SpanTotals] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val stageSpan = mutable.HashMap.empty[Int, Long]
    jobs.foreach { case (t, prop, stageIds) =>
      val owner = prop.flatMap(byId.get).filter(s => s.startMs <= t && t <= s.endMs)
        .orElse(spanAt(t))
      owner.foreach(s => stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s.id)))
    }
    val stagesBySpan = stages.toSeq.groupBy(st => stageSpan.get(st.stageId))
    def stagesOf(s: Span): Seq[StageRec] = stagesBySpan.getOrElse(Some(s.id), Nil)
    val actionsBySpan = actions.toSeq.groupBy { case (t, _) => spanAt(t).map(_.id) }
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      val driverS = ss.map { s =>
        val covered = Ledger.unionMs(stagesOf(s)
          .map(st => (math.max(st.submitMs, s.startMs), math.min(st.doneMs, s.endMs))))
        math.max(0.0, s.wallNs / 1e9 - covered / 1e3)
      }.sum
      val st = ss.flatMap(stagesOf)
      val top = st.groupBy(_.scopes).toSeq
        .map { case (sc, xs) => (sc, xs.map(_.taskMs).sum / 1e3) }
        .sortBy(-_._2).take(3)
      val acts = ss.flatMap(s => actionsBySpan.getOrElse(Some(s.id), Nil)).map(_._2)
        .groupBy(identity).toSeq.map { case (a, xs) => (a, xs.size) }.sortBy(_._1)
      name -> SpanTotals(name, ss.size, ss.map(_.wallNs / 1e9).sum, driverS,
        st.size, st.map(_.taskMs).sum / 1e3, st.map(_.shuffleWrite).sum / 1048576.0,
        st.map(_.spill).sum / 1048576.0, st.map(_.input).sum / 1048576.0, top, acts)
    }
  }
}

object Ledger {
  val SpanProp = "perfbench.span"

  /** Milliseconds covered by the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Wall-clocks the client's calls. With tracing on, each call also
  * becomes a ledger span and carries its id in the SparkContext local
  * property; with tracing off it is a bare timer. */
final class Tracer(sc: SparkContext, val ledger: Ledger) {
  @volatile var on = false
  private var nextId = 0L

  def apply[T](name: String)(body: => T): (T, Double) = {
    nextId += 1
    val id = nextId
    if (on) sc.setLocalProperty(Ledger.SpanProp, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      if (on) {
        ledger.addSpan(Span(id, name, startMs, System.currentTimeMillis(),
          System.nanoTime() - t0))
        sc.setLocalProperty(Ledger.SpanProp, null)
      }
    }
  }

  /** Times `body` and returns only the seconds. */
  def time(name: String)(body: => Any): Double = apply(name)(body)._2
}
