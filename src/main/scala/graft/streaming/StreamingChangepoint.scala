package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous changepoint localization — the streaming face of
  * `ops/Changepoint.bestSplit`: day-grain counts per key are
  * maintained as ONE streaming aggregation (state = |keys| × |days|,
  * bounded by the calendar, the same O(state) contract as the
  * key-skew monitor), and the two-segment objective fold runs on the
  * counts SNAPSHOT through the identical batch code path
  * (`bestSplitFromDaily`). This is a drift monitor's serving shape:
  * "when did traffic change level" refreshes continuously without
  * re-scanning history.
  *
  * The memory-sink snapshot is the test-equivalence shim; a
  * deployment writes the complete-mode day counts to a keyed sink and
  * folds that table on read. The emitted rows must equal the batch
  * answer whatever the arrival order — the shared oracle hash-checks
  * it.
  */
object StreamingChangepoint {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      val daily = StreamingRun.tableStream(s, sfDir, "events")
        .groupBy(col("event_type").as("__k"),
          to_date(col("ts")).as("__d"))
        .agg(count(lit(1)).as("__v"))
      graft.ops.Changepoint.bestSplitFromDaily(
        StreamingRun.drain(daily, "complete"))
        .withColumnRenamed("key", "event_type")
    }

  /** The CUSUM control chart on the same continuously-maintained
    * day-grain counts — "which day would the chart have alarmed",
    * refreshing per micro-batch; the fold runs on the snapshot
    * through the identical batch code path (cusumFromDaily).
    */
  def runCusumBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    StreamingForecast.dailySnapshot(spark, sfDir,
      graft.ops.Changepoint.cusumFromDaily(_, "event_type",
        refDays = 7, slackPpm = 100000L, hPpm = 2000000L))
}
