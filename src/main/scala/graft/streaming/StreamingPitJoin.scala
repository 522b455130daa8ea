package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Stream-STATIC point-in-time enrichment — the ingest-time face of
  * `ops/Scd2.pointInTimeJoin`, and the one join rung the streaming
  * registry lacked: facts arrive as an unbounded stream and pick up
  * the attribute version valid at their own event time from a STATIC
  * (batch-maintained) SCD2 history. Spark plans a stream-static join
  * stateless — the static side is a plain relation re-read per
  * micro-batch (or broadcast when small), NO state store, no
  * watermark needed: exactly the feature-store serving contract where
  * the dimension snapshot updates nightly while facts stream.
  *
  * The batch-equivalence driver builds the history from the bounded
  * events file (the q_scd2_pit derivation), streams the same events
  * as facts, and the enriched stream must hash-match q_scd2_pit's
  * batch oracle verbatim.
  */
object StreamingPitJoin {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val changelog = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    // static side: materialized once, the nightly-snapshot contract
    val history = Pin(graft.ops.Scd2.historyFromChangeLog(
      changelog, Seq("user_id"), "ts_us", "event_id", Seq("event_type")))
    StreamingRun.withStatePartitions(spark) { s =>
      val facts = StreamingRun.tableStream(s, sfDir, "events")
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      val h = history
        .select(col("user_id").as("h_user_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
      StreamingRun.drain(facts.join(h,
        facts("user_id") === col("h_user_id") &&
          facts("ts_us") >= col("valid_from") &&
          (col("valid_to").isNull || facts("ts_us") < col("valid_to")),
        "left")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"), col("valid_from")))
    }
  }
}
