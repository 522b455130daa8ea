package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous key-skew monitoring — the streaming face of
  * `ops/Profiling.keySkewAudit`: per-key event counts are maintained
  * as ONE streaming aggregation (state size = |live keys|, the same
  * O(keys) contract as the SCD2 store), and the audit fold — lean
  * global rank, exact Gini, max/top-decile shares — runs on the counts
  * SNAPSHOT through the identical batch code path
  * (`keySkewAuditFromCounts`). This is the shape of a partitioning
  * health monitor: the skew readout a router consults before choosing
  * salting factors refreshes continuously as traffic shifts, without
  * ever re-scanning history.
  *
  * Production note: the memory-sink snapshot here is the
  * test-equivalence shim (bounded by |keys|); a deployment writes the
  * complete-mode counts to a keyed sink and folds that table on read.
  * The emitted row must equal the batch audit whatever the arrival
  * order — the shared oracle hash-checks it.
  */
object StreamingKeySkew {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingRun.withStatePartitions(spark) { s =>
      val counts = StreamingRun.tableStream(s, sfDir, "events")
        .groupBy(col("user_id").as("__key"))
        .agg(count(lit(1)).as("__c"))
      graft.ops.Profiling.keySkewAuditFromCounts(
        StreamingRun.drain(counts, "complete"))
    }
  }
}
