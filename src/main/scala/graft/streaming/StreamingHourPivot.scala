package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.HourPivot

/** The hour pivot as a continuous query (Structured Streaming).
  *
  * The reference has no streaming surface (its "streaming" is bounded
  * batch iteration — pivot_all_files.py:2); this is the extended
  * engine's continuous variant (SURVEY §2.9/§7): the same 24
  * `count(when(hour === h, 1))` aggregates over HourPivot's UTC
  * hour-of-day expression — `pivot()` is unsupported on streams, the
  * count(when) form works in both modes, which is exactly why HourPivot
  * uses it.
  *
  * Two shapes:
  *  - `pivotStream`: the unbounded transform (watermark + tumbling
  *    date bucket) for a real deployment — caller attaches a sink and
  *    output mode. State is bounded by the watermark: group keys older
  *    than (max event time − delay) are finalized and evicted.
  *  - `runBatchEquivalent`: drives the SAME streaming plan over a
  *    bounded file source with a memory sink in complete mode and
  *    returns the result — lets the DuckDB oracle hash-check the
  *    streaming operator against the batch semantics.
  */
object StreamingHourPivot {

  /** Unbounded hour-pivot transform with a watermark for state
    * eviction. Late rows beyond `watermarkDelay` are dropped in
    * append/update modes.
    *
    * The date bucket is `window(ts, "1 day")`, NOT `to_date(ts)`: only
    * the window expression's output attribute carries the event-time
    * watermark metadata through the projection, so Spark can build the
    * state-eviction predicate (and append mode can finalize groups). A
    * `to_date` group key loses the metadata → unbounded state and no
    * append output. The window start is re-projected to a plain date
    * AFTER the aggregate, which preserves eviction (the predicate is
    * bound at the aggregation node). The window is epoch-aligned, so
    * its start is a UTC midnight, read back with `HourPivot.utcDate` in
    * the frame of `HourPivot.hourOfDay`. Hour
    * columns are HourPivot's 24 `count(when)` aggregates — `pivot()` is
    * unsupported on streams.
    */
  def pivotStream(events: DataFrame, tsCol: Column, keys: Seq[String],
      watermarkDelay: String = "1 hour",
      dateColName: String = "event_date"): DataFrame = {
    val withWm = events.withWatermark(tsCol.toString, watermarkDelay)
    val aggs = HourPivot.hourCounts(col("__hour"))
    withWm
      .select((tsCol +: HourPivot.hourOfDay(tsCol).as("__hour") +:
        keys.map(col)): _*)
      .groupBy(window(tsCol, "1 day") +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((HourPivot.utcDate(col("window.start")).as(dateColName) +:
        keys.map(col)) ++ HourPivot.hourCols.map(col): _*)
  }

  /** Execute the streaming pivot over the bounded events file and
    * return the final table (complete output mode, memory sink,
    * processAllAvailable → deterministic batch-equivalent result).
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.drain(pivotStream(
        StreamingRun.tableStream(s, sfDir, "events"), col("ts"),
        Seq("event_type")), "complete")
    }
}
