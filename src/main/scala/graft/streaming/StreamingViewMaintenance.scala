package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Continuous materialized-view maintenance — the streaming face of
  * `ops/SnapshotDiff.maintainSumAgg` (the lakehouse "keep the
  * aggregate table fresh from the change feed" pattern): the
  * maintained (group → count, sum) view IS the state of one streaming
  * groupBy aggregation over CHANGE FLOW rows (group, ±1, ±value).
  * The seed view arrives as its own flow rows, changesets stream in
  * afterward — each micro-batch folds its deltas into the running
  * state, the base table is never rescanned, and state is bounded by
  * GROUP cardinality (view-sized, corpus-independent — no watermark
  * needed, the sketch-stream boundedness argument).
  *
  * The batch-equivalence driver replays q_incremental_agg's exact
  * derivation (v1 seed aggregate, v1→v2 changeset) as two file-source
  * increments — seed flows first, change flows landing AFTER the
  * first drain — and the final snapshot must hash-match the DIRECT
  * aggregate of v2: the same maintain(agg(v1), diff(v1,v2)) ≡ agg(v2)
  * law, now proven for the continuous maintainer.
  */
object StreamingViewMaintenance {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    // q_incremental_agg's exact batch derivation
    val cents = col("o_totalprice").cast(DecimalType(12, 2))
      .multiply(lit(100)).cast("long")
    val base = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("cents"))
    val v1 = base.where(col("o_orderkey") % 89 =!= 0)
    val v2 = base.where(col("o_orderkey") % 97 =!= 0)
      .withColumn("cents", when(col("o_orderkey") % 13 === 0,
        col("cents") + 1000L).otherwise(col("cents")))
    val seedFlows = v1.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val changeFlows = graft.ops.SnapshotDiff.changeFlows(
      graft.ops.SnapshotDiff.diff(v1, v2,
        Seq("o_orderkey"), Seq("o_orderpriority", "cents")),
      "o_orderpriority", "cents")

    val srcRoot = Files.createTempDirectory("graft_view_src")
    try {
    val src = srcRoot.toString
    seedFlows.write.mode("append").parquet(src)
    val snapshot = StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.drain(
        s.readStream.schema(seedFlows.schema).parquet(src)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s")),
        "complete",
        // drain 1 materializes the seed view; the changeset lands after
        // it and drain 2 folds it in
        feeds = Seq(() => changeFlows.write.mode("append").parquet(src)))
    }
    // the snapshot is driver-resident, so the temp flow source can go
    // (repeated invocations — bench min-of-N, multi-SF sweeps — must
    // not accumulate in /tmp); the finally covers failed drains too
    snapshot.where(col("n") > 0)
      .select(col("o_orderpriority"), col("n").as("n_orders"),
        col("s").as("sum_cents"))
    } finally StreamingRun.deleteRecursively(srcRoot)
  }
}
