package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization of the events stream: a session is a run of
  * a user's events with < `gapSeconds` between consecutive events.
  *
  * Batch form: the classic lag + running-sum-of-boundaries window pair —
  * two window functions over one shuffle on user_id, no state, fully
  * SQL-expressible (oracle-checked). Timestamps are floored to epoch
  * seconds FIRST so the gap comparison and the session bounds are
  * engine-portable integers (the raw column is nanos in parquet, micros
  * in Spark).
  *
  * Streaming form: `flatMapGroupsWithState` with event-time timeout —
  * per-user state is one (start, last, count) triple, emitted and
  * cleared when the watermark passes last+gap. State size is O(active
  * users), independent of history length — the property that matters at
  * 100 TB/day event volumes.
  */
object Sessionize {

  /** Batch sessionization. Output: one row per session with integer
    * second bounds and the event count.
    */
  def sessions(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val ts = col("ts").cast("long")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__ts_s"), col("event_id"))
    val runFrame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), ts.as("__ts_s"))
      .withColumn("__prev", lag(col("__ts_s"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          col("__ts_s") - col("__prev") > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new_session")).over(runFrame))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__ts_s")).as("start_s"),
        max(col("__ts_s")).as("end_s"))
  }

  // ---- streaming form ----

  final case class Event(user_id: Long, event_id: Long, ts: Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, start_s: Long, end_s: Long, n_events: Long)

  /** Streaming sessionization with event-time timeout. Emits a session
    * once the watermark passes its last event + gap.
    */
  def sessionizeStream(events: Dataset[Event], gapSeconds: Long = 1800L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.last, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              cur match {
                case Some(s) if t - s.last <= gapSeconds =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapSeconds) * 1000 + 1)
            }
            closed.result().iterator
          }
      }
  }

  /** Drive the streaming sessionizer over the bounded events file and
    * return rows matching the BATCH exhibit's schema
    * (user_id, session_id, n_events, start_s, end_s) — so the declared
    * streaming query shares q_sessionize's oracle verbatim.
    *
    * End-of-stream flush: event-time timeouts fire on the GLOBAL
    * watermark, so ONE sentinel event (synthetic user −1) placed
    * 2·gap past the corpus max advances the watermark beyond every
    * real session's last+gap and flushes ALL user states; the
    * sentinel's own session is dropped from the snapshot. session_id
    * is re-derived from the emitted (disjoint, per-user) session
    * bounds by start order — numbering is presentation, not state.
    *
    * Arrival-order contract: in-batch sorting handles disorder WITHIN
    * a micro-batch; across batches a user's events must not regress in
    * event time past the watermark delay (the bounded file lands in
    * one micro-batch here, so the exhibit is exact under any file
    * layout).
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String,
      gapSeconds: Long = 1800L): DataFrame = {
    // The flush sentinel reserves user_id −1 and the snapshot drops
    // user_id < 0, so a corpus with negative ids (or no rows at all —
    // the max(ts) below would be null) must fail LOUDLY, not lose data.
    val bounds = graft.sources.Tables.events(spark, sfDir)
      .agg(max(col("ts").cast("long")).as("max_ts"),
        min(col("user_id").cast("long")).as("min_uid")).head()
    require(!bounds.isNullAt(0), s"events at $sfDir is empty — nothing to sessionize")
    require(!bounds.isNullAt(1),
      s"events at $sfDir has only NULL user_id values — nothing to sessionize")
    require(bounds.getLong(1) >= 0L,
      s"events at $sfDir has negative user_id ${bounds.getLong(1)}; " +
        "the streaming flush sentinel reserves user_id -1")
    val maxTsS = bounds.getLong(0)
    val snapshot = StreamingRun.withStatePartitions(spark) { s =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val fileEvents = StreamingRun.tableStream(s, sfDir, "events")
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          col("ts").cast("timestamp").as("ts"))
        .as[Event]
      val sentinel =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
      StreamingRun.drain(
        sessionizeStream(fileEvents.union(sentinel.toDS()), gapSeconds).toDF(),
        feeds = Seq(() => sentinel.addData(Event(-1L, -1L,
          new Timestamp((maxTsS + 2 * gapSeconds + 10) * 1000)))))
    }
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("start_s"))
    snapshot.where(col("user_id") >= 0L)
      .withColumn("session_id", row_number().over(byStart).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_s"), col("end_s"))
  }
}
