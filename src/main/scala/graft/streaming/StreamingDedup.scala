package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous exact deduplication — the streaming face of the dedup
  * family (the batch face is `text/Dedup.exactKeepers`): emit the first
  * occurrence of each key, with state bounded by the event-time
  * watermark (`dropDuplicatesWithinWatermark`: a key's state is evicted
  * once the watermark passes its event time + delay, so duplicates
  * arriving within the delay window are suppressed and state is
  * O(keys-per-window), not O(all-keys-ever)).
  *
  * Determinism note: WHICH physical row is emitted per key follows
  * processing order (not event order), so deterministic consumers
  * project the key columns only — the emitted key SET equals batch
  * `SELECT DISTINCT` regardless of arrival order. That projection is
  * what `runBatchEquivalent` declares and the oracle hash-checks.
  */
object StreamingDedup {

  /** Unbounded transform: first row per key within the watermark. */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Drive the streaming dedup over the bounded events file; returns
    * the distinct (user_id, event_type) key set for the oracle compare.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.drain(dedupStream(
        StreamingRun.tableStream(s, sfDir, "events"),
        Seq("user_id", "event_type"), "ts")
        .select(col("user_id"), col("event_type")))
    }
  }
}
