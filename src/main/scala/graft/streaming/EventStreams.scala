package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface over the `events` table (SURVEY.md §2.J —
  * EXTENSION; the reference has no streaming). Each operator is declared
  * once as a transformation over an unbounded DataFrame, so the SAME code
  * runs in batch (t2 oracle checks, Queries.scala) and incrementally here.
  *
  * Scale notes: file-source streaming with `maxFilesPerTrigger` gives
  * bounded micro-batches; watermarks bound state; all aggregations below
  * are keyed so state is partitioned across executors.
  */
/** Explicit state carried by [[EventStreams.userRunningTotals]]. */
final case class UserTotals(n: Long, total: Double)

/** Explicit state carried by [[EventStreams.userFunnel]]: ascending
  * microsecond timestamps of the funnel steps reached so far. */
final case class FunnelProgress(reachedTs: List[Long])

/** Explicit state carried by [[EventStreams.userSessions]]: the user's
  * sessions so far, chronological, as (start_us, end_us, n_events). */
final case class SessionAcc(sessions: List[(Long, Long, Long)])

object EventStreams {

  /** The events stream from parquet files: the batch-identical source.
    * `ts` normalization mirrors [[graft.sources.Tables.load]] — the
    * fixture has shipped as TIMESTAMP(NANOS) (read as long nanos) and as
    * TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ); both
    * normalize to session-TZ TIMESTAMP so watermarks/windows see one
    * type. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream sources discover files under a DIRECTORY; the fixture is
    // a single file, so stage a symlink dir (no data copy)
    val staged = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
    import org.apache.spark.sql.types.{LongType, TimestampType}
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour counts by event type, 2h watermark for late data. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Session windows: 30-minute inactivity gap per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"))
      .select(col("user_id"), col("session_start"), col("n_events"))

  /** Late/duplicate event drop: watermark + dropDuplicates on event_id
    * (SURVEY §2.J q_dedup_watermark streaming form). State is bounded by
    * the watermark horizon. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

  /** Stream-stream interval join: purchases joined to the same user's
    * signups within the preceding hour. Both sides carry watermarks so
    * Spark can bound the join state (rows older than the interval +
    * watermark are evicted) — the state-bounded streaming join shape. */
  def purchaseSignupJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "2 hours")
    purchases.join(signups,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "user_id", "p_ts", "signup_id", "s_ts")
  }

  /** Stream-static enrichment join (SURVEY §2.J): the streaming fact side
    * joined to a STATIC dimension. No watermark or state store involved —
    * the static side's PLAN re-executes per micro-batch, but a
    * file-backed dim keeps its snapshot file listing, so picking up new
    * dim files needs a re-created DataFrame (or a table format with
    * refreshable metadata), not just the next trigger. With the
    * broadcast hint the stream side never shuffles: each micro-batch is
    * a map-side hash probe, the shape that holds when the stream is the
    * 100 TB side. */
  def enrichWithDimension(events: DataFrame, dim: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .join(broadcast(dim), Seq("user_id"), "left")

  /** Custom keyed state (SURVEY §2.J / builder north star:
    * `KeyValueGroupedDataset.mapGroupsWithState` for semantics window
    * functions can't express). Per-user running totals carried in explicit
    * state across micro-batches; state is partitioned by key across
    * executors and checkpointed. */
  def userRunningTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[UserTotals, (Long, Long, Double)](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update(UserTotals(n, total))
          (user, n, math.rint(total * 100) / 100)
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Incremental strict-ordered funnel (the streaming twin of
    * [[graft.operators.EventAnalytics.funnelUsers]]): per-user state =
    * the ascending timestamps of steps reached so far; each micro-batch
    * sorts the user's NEW events by event time and advances the state
    * machine greedily (earliest qualifying event per step — provably the
    * same choice the batch cascade's min-aggregations make, because
    * taking an earlier step-k timestamp never disqualifies a later
    * step-k+1 candidate).
    *
    * Cross-batch caveat, documented not hidden: an event arriving in a
    * LATER micro-batch with an event time before an already-consumed
    * decision cannot retroactively rewrite the funnel — the standard
    * streaming-funnel trade (per-user in-order delivery, or a final
    * batch reconciliation, restores exactness). State is O(steps) longs
    * per user, partitioned by the user key across executors.
    */
  def userFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    require(steps.nonEmpty && steps.distinct == steps, s"bad funnel steps: $steps")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("user_id").cast("long"), unix_micros(col("ts")), col("event_type"))
      .as[(Long, Long, String)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[FunnelProgress, (Long, Int, Option[Long], Option[Long])](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelProgress]) =>
          var ts = state.getOption.map(_.reachedTs).getOrElse(Nil)
          // ties sort by type too, for a deterministic scan order; strict
          // `>` means tied events can never advance past step 1 anyway
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, t, tpe) =>
            val k = ts.size
            if (k < steps.size && tpe == steps(k) && (k == 0 || t > ts.last))
              ts = ts :+ t
          }
          state.update(FunnelProgress(ts))
          (user, ts.size, ts.headOption, ts.lastOption)
      }
      .toDF("user_id", "steps_reached", "first_us", "last_us")
  }

  /** Incremental gap-based sessionization (the streaming twin of
    * [[graft.operators.ChangeCapture.sessionize]]): per-user state is
    * the session list so far; each micro-batch sorts the user's NEW
    * events by (event time, event id), extends the open session while
    * the gap to its end stays ≤ `gapSeconds` (strictly larger opens a
    * new one — same boundary as the batch form), and re-emits the
    * user's sessions in Update mode, so the LAST emission per
    * (user, session_idx) is the converged truth (n_events and end_us
    * are monotone across batches under in-order delivery).
    *
    * Cross-batch caveat, documented not hidden: an event arriving in a
    * later micro-batch with an event time before the open session's end
    * folds INTO that session (it cannot retroactively split or re-order
    * history) — the standard trade; per-user in-order delivery restores
    * exactness, which the streaming==batch spec exercises across paced
    * micro-batches. State is O(sessions) per user here so the twin is
    * exactly comparable to batch; a production deployment that only
    * needs CLOSED sessions emits them on close (event-time timeout) and
    * keeps O(1) state.
    */
  def userSessions(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val typed = events.select(
      col("user_id").cast("long"), unix_micros(col("ts")),
      col("event_id").cast("long"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, (Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionAcc]) =>
          var sessions = state.getOption.map(_.sessions).getOrElse(Nil)
          val newTs = rows.toSeq.sortBy(r => (r._2, r._3)).map(_._2)
          newTs.foreach { ts =>
            sessions match {
              case init :+ last if ts - last._2 <= gapUs =>
                sessions = init :+ ((last._1, math.max(last._2, ts), last._3 + 1))
              case _ =>
                sessions = sessions :+ ((ts, ts, 1L))
            }
          }
          state.update(SessionAcc(sessions))
          sessions.iterator.zipWithIndex.map { case ((s0, s1, n), i) =>
            (user, (i + 1).toLong, s0, s1, n)
          }
      }
      .toDF("user_id", "session_idx", "start_us", "end_us", "n_events")
  }

  /** Run any of the above to completion over the existing files and return
    * the result table (Trigger.AvailableNow = drain-then-stop; the
    * streaming execution path, not a batch rewrite). outputMode is
    * operator-dependent and therefore required: "complete" for the
    * windowed aggregations, "append" for dedupEvents, "update" for
    * mapGroupsWithState. */
  def runAvailableNow(spark: SparkSession, out: DataFrame, name: String,
      outputMode: String): DataFrame = {
    val checkpoint = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
    val query: StreamingQuery = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.table(name)
  }
}
