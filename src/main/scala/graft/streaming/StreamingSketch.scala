package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous Count-Min sketch maintenance — the streaming face of
  * `graft.ops.Sketches` (the hour-pivot proof applied to a sketch):
  * the d×256 counter table is ONE streaming groupBy aggregate whose
  * state is bounded by the sketch geometry itself (≤ d·256 groups,
  * corpus-independent — the rare stateful query that needs no
  * watermark to stay bounded). Run over the bounded documents file in
  * complete mode, the final counter table must equal the batch sketch
  * row-for-row whatever the arrival partitioning — the shared DuckDB
  * oracle hash-checks it.
  *
  * This is the deployment shape of a sketch: counters maintained
  * continuously at ingest, snapshot served to estimate queries — the
  * batch `cmsHeavyHitters` estimate join consumes exactly this table.
  */
object StreamingSketch {

  /** Unbounded transform: the (j, bucket, n) counter stream (same
    * bucket derivation as Sketches — md5-portable).
    */
  def sketchStream(docs: DataFrame, textCol: String, d: Int): DataFrame = {
    val key = col("__key")
    docs
      .select(explode(graft.text.TextFunctions.tokens(col(textCol)))
        .as("__key"))
      .select(posexplode(array((0 until d).map(j =>
        substring(md5(concat_ws(":", lit(j.toString), key)), 1, 2)): _*))
        .as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Continuous HyperLogLog maintenance — same deployment shape as the
    * CMS stream, same boundedness argument: the register table IS the
    * aggregation state (≤ sources × 256 MAX-groups, corpus-independent,
    * no watermark needed). `Sketches.hllRegisters` is stateless
    * transforms + one max-aggregate, so the STREAMING register build is
    * literally the batch operator applied to an unbounded frame — the
    * strongest batch/stream parity claim available. The raw estimate is
    * computed batch-side on the final snapshot (it is a read of the
    * served sketch, not part of ingest).
    */
  def runHllBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val snapshot = StreamingRun.withStatePartitions(spark) { s =>
      val items = StreamingRun.tableStream(s, sfDir, "documents")
        .where(length(trim(col("text"))) > 0)
        .select(col("source"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("term"))
      StreamingRun.drain(
        graft.ops.Sketches.hllRegisters(items, "term", Seq("source")),
        "complete")
    }
    graft.ops.Sketches.hllEstimate(snapshot, Seq("source"))
  }

  /** Drive the streaming sketch over the bounded documents file and
    * return the final counter table (complete mode, memory sink).
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String,
      d: Int = 4): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.drain(sketchStream(
        StreamingRun.tableStream(s, sfDir, "documents"), "text", d),
        "complete")
    }
}
