package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous shuffle-strategy advice — the streaming face of
  * `ops/Profiling.aggKeyAdvice` (the StreamingKeySkew pattern): per-key
  * counts for each candidate grouping key are maintained as ONE
  * streaming aggregation with O(|keys|) state, and the advice fold
  * (`aggKeyAdviceFromCounts`) runs on the counts SNAPSHOT through the
  * identical batch code path. This is a partition router's live
  * control input: as traffic skew shifts, the broadcast/salt/plain
  * decision refreshes without re-scanning history.
  *
  * The emitted rows must equal the batch advisor whatever the arrival
  * order — the shared oracle hash-checks it.
  */
object StreamingAdvice {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val candidates = Seq("user_id" -> "user_id",
      "event_type" -> "event_type")
    StreamingRun.withStatePartitions(spark) { s =>
      candidates.map { case (name, c) =>
        val counts = StreamingRun.tableStream(s, sfDir, "events")
          .groupBy(col(c).as("__k"))
          .agg(count(lit(1)).as("__c"))
        graft.ops.Profiling.aggKeyAdviceFromCounts(
          StreamingRun.drain(counts, "complete"), name, parallelism = 32)
      }.reduce(_ unionByName _)
    }
  }
}
