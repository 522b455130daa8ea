package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join: purchases joined to the clicks of the
  * same user within a time tolerance, both sides unbounded streams.
  *
  * This is the continuous twin of graft.ops.RangeJoin (the batch
  * bucketed interval join): Spark's native stream-stream inner join
  * handles the interval predicate directly — BOTH sides carry a
  * watermark and the join condition bounds event time on both sides,
  * which is exactly what the state-cleanup planner needs: each side
  * buffers only rows inside (max event time − watermark − tolerance),
  * so state is bounded regardless of stream length. No banding/explode
  * needed here — the streaming join's per-key state store plays the
  * role the time buckets play in batch.
  *
  * The reference has no streaming surface; this extends SURVEY §2.9's
  * continuous-query family to joins.
  */
object StreamingJoin {

  /** (user_id, purchase_id, click_id, dt_us) for clicks within
    * `toleranceSec` of each purchase by the same user. Inner join →
    * append mode; watermarks bound both sides' state.
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      toleranceSec: Long, watermarkDelay: String = "1 hour"): DataFrame = {
    val p = purchases
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val c = clicks
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    p.join(c,
        col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $toleranceSec SECONDS") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $toleranceSec SECONDS"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("p_ts"))).as("dt_us"))
  }

  /** Drive the streaming join over the bounded events file (two
    * independent file-source scans of the same data, one per side) and
    * return the joined table — append mode + processAllAvailable makes
    * the result deterministic and batch-equivalent, so the DuckDB
    * oracle hash-checks the streaming operator against plain SQL.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String,
      toleranceSec: Long = 600L, sliceMod: Option[Long] = None): DataFrame = {
    def slice(df: DataFrame): DataFrame =
      sliceMod.fold(df)(m => df.where(col("user_id") % m === 0))
    StreamingRun.withStatePartitions(spark) { s =>
      val purchases = slice(StreamingRun.tableStream(s, sfDir, "events")
        .where(col("event_type") === "purchase"))
      val clicks = slice(StreamingRun.tableStream(s, sfDir, "events")
        .where(col("event_type") === "click"))
      StreamingRun.drain(purchaseClickJoin(purchases, clicks, toleranceSec))
    }
  }
}
