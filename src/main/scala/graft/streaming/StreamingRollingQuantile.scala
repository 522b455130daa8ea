package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Continuous rolling-quantile maintenance — the streaming face of
  * `ops/Resample.rollingQuantile`: the per-(key, day, value) DAILY
  * DISTRIBUTION is the state of one streaming groupBy count (state
  * bounded by |keys|·|days|·|distinct values|, distribution-sized —
  * never raw-row-sized), and the trailing-window merge + exact-rank
  * quantile is a distribution-sized batch post-pass over the
  * maintained snapshot (`rollingQuantileFromDaily` — byte-identical
  * code path with the batch operator).
  *
  * The batch-equivalence driver replays q_rolling_median's derivation
  * as two file-source increments split by event_id parity (so BOTH
  * drains touch most (type, day) groups — the fold must ADD counts
  * into existing state, not just append new groups) and the final
  * snapshot's quantiles must hash-match the batch oracle.
  */
object StreamingRollingQuantile {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    val rows = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("__day"),
        col("value").cast(DecimalType(12, 2)).as("__v"),
        col("event_id"))
    val srcRoot = Files.createTempDirectory("graft_rollq_src")
    try {
      val src = srcRoot.toString
      val even = rows.where(col("event_id") % 2 === 0).drop("event_id")
      even.write.mode("append").parquet(src)
      val snapshot = StreamingRun.withStatePartitions(spark) { s =>
        StreamingRun.drain(
          s.readStream.schema(even.schema).parquet(src)
            .groupBy(col("event_type"), col("__day"), col("__v"))
            .agg(count(lit(1)).as("__n")),
          "complete",
          // drain 1 folds the even event_ids; the odd ones land after
          // it and drain 2 must fold them INTO the existing state
          feeds = Seq(() => rows.where(col("event_id") % 2 =!= 0)
            .drop("event_id").write.mode("append").parquet(src)))
      }
      graft.ops.Resample.rollingQuantileFromDaily(
          snapshot, Seq("event_type"), windowDays = 7, num = 1L, den = 2L)
        .select(col("event_type"), col("win_day"), col("n_obs"),
          col("q").cast("double").as("med"))
    } finally StreamingRun.deleteRecursively(srcRoot)
  }
}
