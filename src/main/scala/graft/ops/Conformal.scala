package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split-conformal calibration (Vovk et al.; the distribution-free
  * prediction-interval recipe): given a held-out calibration set of
  * nonconformity scores, the per-group threshold
  *
  *   q̂ = the k-th smallest score, k = ceil((n+1)·cov)
  *
  * guarantees P(new score ≤ q̂) ≥ cov for exchangeable data — the
  * model-agnostic uncertainty gate a filtering pipeline puts in front
  * of model-scored data ("keep only docs the quality model is
  * ≥90%-confident about", "flag values outside the 90% band").
  *
  * Engine-replayable: cov is a rational covNum/covDen so
  * k = (covNum·(n+1) + covDen − 1) div covDen is pure integer; the
  * k-th order statistic is the smallest value whose CDF count reaches
  * k — the GroupQuantile distribution-walk (aggregate the (group,
  * value) DISTRIBUTION, window over distinct values only, broadcast
  * the per-group thresholds back). The calibration set never sorts.
  * When k > n (group too small for the requested coverage) q̂ is NULL:
  * conformal honestly has no finite guarantee there.
  *
  * Scale: one distinct-pair aggregate + windows over per-group
  * distinct values + a broadcast threshold table; the coverage check
  * is one partial→final aggregate over the test slice. Score should
  * be exact-typed (DECIMAL/integer) so thresholds replay exactly.
  */
object Conformal {

  /** Per-group conformal thresholds from a calibration frame:
    * (groupCols…, n_cal, qhat). */
  def threshold(cal: DataFrame, groupCols: Seq[String],
      scoreCol: String, covNum: Int, covDen: Int): DataFrame = {
    require(covNum > 0 && covNum < covDen,
      s"coverage must be in (0,1): $covNum/$covDen")
    val dist = cal.groupBy(groupCols.map(col) :+
        col(scoreCol).as("__v"): _*)
      .agg(count(lit(1)).as("__n"))
    val wCdf = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v"))
    val wTot = Window.partitionBy(groupCols.map(col): _*)
    dist
      .withColumn("__cum", sum(col("__n")).over(wCdf))
      .withColumn("__tot", sum(col("__n")).over(wTot))
      .withColumn("__k",
        expr(s"($covNum * (__tot + 1) + ${covDen - 1}) div $covDen"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__tot")).as("n_cal"),
        min(when(col("__cum") >= col("__k"), col("__v"))).as("qhat"))
  }

  /** Empirical coverage of the thresholds on a test frame:
    * (groupCols…, n_cal, qhat, n_test, n_covered, coverage). The
    * conformal law says coverage ≥ covNum/covDen in expectation.
    */
  def coverage(test: DataFrame, thresholds: DataFrame,
      groupCols: Seq[String], scoreCol: String): DataFrame =
    // hint kept: thresholds is priced at its input's size (else test builds)
    test.join(broadcast(thresholds), groupCols)
      .groupBy(groupCols.map(col) :+ col("n_cal") :+ col("qhat"): _*)
      .agg(count(lit(1)).as("n_test"),
        sum(when(col(scoreCol) <= col("qhat"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_test").cast("double"))
}
