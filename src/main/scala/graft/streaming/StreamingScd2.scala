package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Continuous SCD2 maintenance — the streaming twin of
  * `ops/Scd2.historyFromChangeLog`: a changelog stream folds into
  * type-2 validity intervals as it arrives; a version row is emitted
  * the moment its successor CLOSES it, and the open version per key
  * lives in state.
  *
  * State is one (value, valid_from) pair per key — O(live keys),
  * independent of history length: the property a 100 TB/day dimension
  * feed needs (the closed history streams straight to the sink; only
  * the open frontier is held). Arrival-order contract mirrors
  * Sessionize: in-batch sorting absorbs disorder WITHIN a micro-batch;
  * across batches a key's changes must not regress in event time past
  * the watermark delay — the same append-only contract the batch
  * `Scd2.applyChanges` documents.
  *
  * The bounded-snapshot exhibit flushes open versions through an
  * event-time timeout driven past the corpus by a sentinel row (the
  * Sessionize device); a production maintainer would instead leave
  * open versions in state (or compact them to a changelog topic) —
  * the timeout is the snapshot mechanism, not the operator semantics.
  */
object StreamingScd2 {

  final case class Change(user_id: Long, event_id: Long, ts: Timestamp,
      ts_us: Long, value: String)
  final case class Open(value: String, validFrom: Long)
  final case class Version(user_id: Long, event_type: String,
      valid_from: Long, valid_to: java.lang.Long, is_current: Int)

  /** Fold a keyed changelog stream into SCD2 versions. `horizonSec`
    * bounds how long a key may stay silent before its open version is
    * flushed as current (the snapshot device — see object doc).
    */
  def scd2Stream(changes: Dataset[Change],
      horizonSec: Long): Dataset[Version] = {
    import changes.sparkSession.implicits._
    changes
      .withWatermark("ts", s"$horizonSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Open, Version](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[Change], state: GroupState[Open]) =>
          if (state.hasTimedOut) {
            val o = state.get
            state.remove()
            Iterator.single(Version(key, o.value, o.validFrom, null, 1))
          } else {
            val sorted = rows.toSeq.sortBy(c => (c.ts_us, c.event_id))
            var cur = state.getOption
            var lastTs = 0L
            val closed = Seq.newBuilder[Version]
            sorted.foreach { c =>
              lastTs = math.max(lastTs, c.ts_us)
              cur match {
                case Some(o) if o.value == c.value => // run continues
                case Some(o) =>
                  closed += Version(key, o.value, o.validFrom, c.ts_us, 0)
                  cur = Some(Open(c.value, c.ts_us))
                case None =>
                  cur = Some(Open(c.value, c.ts_us))
              }
            }
            cur.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp(
                lastTs / 1000000L * 1000L + horizonSec * 1000L + 1L)
            }
            closed.result().iterator
          }
      }
  }

  /** Drive the streaming maintainer over the bounded events file
    * (each user's event_type as the tracked attribute) and return rows
    * in q_scd2_history's exact schema — the declared streaming query
    * shares the batch oracle verbatim, proving fold ≡ rebuild.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val horizonSec = 86400L
    val bounds = graft.sources.Tables.events(spark, sfDir)
      .agg(max(col("ts").cast("long")).as("max_ts"),
        min(col("user_id").cast("long")).as("min_uid")).head()
    require(!bounds.isNullAt(0), s"events at $sfDir is empty")
    require(!bounds.isNullAt(1) && bounds.getLong(1) >= 0L,
      s"events at $sfDir has negative/NULL user_id; " +
        "the streaming flush sentinel reserves user_id -1")
    val maxTsS = bounds.getLong(0)
    val snapshot = StreamingRun.withStatePartitions(spark) { s =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val fileChanges = StreamingRun.tableStream(s, sfDir, "events")
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          col("ts").cast("timestamp").as("ts"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type").as("value"))
        .as[Change]
      val sentinel =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Change]
      val flushS = maxTsS + 2L * horizonSec + 10L
      StreamingRun.drain(
        scd2Stream(fileChanges.union(sentinel.toDS()), horizonSec).toDF(),
        feeds = Seq(() => sentinel.addData(Change(-1L, -1L,
          new Timestamp(flushS * 1000L), flushS * 1000000L, "__sentinel"))))
    }
    snapshot.where(col("user_id") >= 0L)
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("is_current"))
  }
}
