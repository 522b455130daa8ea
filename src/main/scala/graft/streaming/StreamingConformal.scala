package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Conformal
import graft.sources.Tables
import graft.util.Pin

/** Continuous conformal-coverage monitoring — the streaming face of
  * `ops/Conformal`: thresholds are frozen ONCE from the batch
  * calibration slice (a corpus-level order statistic — the StreamingLm
  * frozen-model ladder), then arriving test events are checked against
  * the broadcast threshold table and their (n_test, n_covered) tallies
  * are maintained as ONE streaming aggregation with |groups| state.
  * This is the drift alarm a model-gated pipeline runs in production:
  * if live coverage sags below the calibrated level, exchangeability
  * broke — the input distribution moved — and the threshold needs
  * re-calibration.
  *
  * The memory-sink snapshot is the test-equivalence shim (bounded by
  * |groups|); the final fold computes coverage and must equal the
  * batch readout whatever the arrival order — the shared oracle
  * hash-checks it.
  */
object StreamingConformal {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val eb = Tables.events(spark, sfDir).select(col("event_type"),
      col("user_id"), col("value").cast(DecimalType(12, 2)).as("score"))
    // frozen model frame: |groups| rows
    val thr = Pin(Conformal.threshold(
      eb.where(pmod(col("user_id"), lit(5)) === 0),
      Seq("event_type"), "score", covNum = 9, covDen = 10))
    StreamingRun.withStatePartitions(spark) { s =>
      val tallies = StreamingRun.tableStream(s, sfDir, "events")
        .where(pmod(col("user_id"), lit(5)) =!= 0)
        .select(col("event_type"),
          col("value").cast(DecimalType(12, 2)).as("score"))
        .join(thr, Seq("event_type"))
        .groupBy(col("event_type"), col("n_cal"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("score") <= col("qhat"), 1L).otherwise(0L))
            .as("n_covered"))
      StreamingRun.drain(tallies, "complete").select(col("event_type"),
        col("n_cal"), col("qhat").cast("double").as("qhat"),
        col("n_test"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
    }
  }
}
