package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Decision-stump split finding: the best threshold t on an integral
  * feature, minimizing the weighted Gini impurity of the two sides
  * `f <= t` / `f > t` against a categorical label — the inner loop of
  * every tree learner, and on its own the standard "which cheap
  * feature best separates good from bad documents" probe a curation
  * pipeline runs before training anything.
  *
  * Weighted Gini — n − Σc nL_c²/nL − Σc nR_c²/nR — is evaluated as a
  * QUANTIZED integer objective: each ratio goes through one integral
  * division at x10^6 scale (`gini_x1e6 = n·10^6 − (A·10^6 div nL) −
  * (B·10^6 div nR)`, A/B the squared class-count sums via
  * DECIMAL(38)), so the argmin and its tiebreak (smallest threshold)
  * replay identically on any engine — the Changepoint objective
  * pattern. BIGINT bound: n ≤ ~9.2e12 rows keeps n·10^6 in LONG.
  *
  * Scale shape: ONE (feature, label) hash aggregate collapses the
  * corpus; everything after runs on the distinct-value grid. The
  * per-class prefix windows span all candidate thresholds in one
  * partition, so the threshold count is GUARDED (`maxThresholds`) —
  * continuous features must be bucketed upstream (the GroupQuantile
  * equal-frequency pattern), exactly as tree learners quantize to
  * histogram bins.
  */
object SplitFinder {

  /** Top-k candidate splits: `(threshold, n_left, n_right, gini_x1e6,
    * rank)`, best (lowest impurity) first; thresholds that put zero
    * rows on either side are excluded. */
  def bestGiniSplits(df: DataFrame, featureCol: String, labelCol: String,
      k: Int = 3, maxThresholds: Long = 100000L): DataFrame = {
    require(k >= 1)
    val cnt = Pin(df.groupBy(col(featureCol).as("__v"), col(labelCol).as("__c"))
      .agg(count(lit(1)).as("__n"))) // feeds the guard, the grid, and totals
    val nVals = cnt.select(col("__v")).distinct().count()
    require(nVals <= maxThresholds,
      s"bestGiniSplits: $nVals distinct $featureCol values exceed the " +
        s"$maxThresholds-threshold cap — bucket the feature upstream " +
        "(GroupQuantile equal-frequency bins) before split finding")
    val grid = cnt.select(col("__v")).distinct()
      .crossJoin(cnt.select(col("__c")).distinct())
      .join(cnt, Seq("__v", "__c"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val classTotals = cnt.groupBy(col("__c")).agg(sum(col("__n")).as("__tot"))
    val wc = Window.partitionBy(col("__c")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val perValue = grid
      .withColumn("__cum", sum(col("__n")).over(wc))
      // hint kept: classTotals is a grouped aggregate, priced at cnt's size
      .join(broadcast(classTotals), Seq("__c"))
      .groupBy(col("__v"))
      .agg(
        sum(col("__cum")).as("__nl"),
        sum(col("__tot") - col("__cum")).as("__nr"),
        sum(expr("cast(__cum as decimal(38,0)) * __cum")).as("__a"),
        sum(expr("cast(__tot - __cum as decimal(38,0)) * (__tot - __cum)"))
          .as("__b"))
      .where(col("__nl") > 0 && col("__nr") > 0)
      .withColumn("gini_x1e6",
        (col("__nl") + col("__nr")) * lit(1000000L) -
          expr("(__a * 1000000) div __nl") -
          expr("(__b * 1000000) div __nr"))
    val w = Window.orderBy(col("gini_x1e6"), col("__v"))
    perValue
      .withColumn("rank", row_number().over(w)) // bounded: guarded grid
      .where(col("rank") <= k)
      .select(col("__v").as("threshold"), col("__nl").as("n_left"),
        col("__nr").as("n_right"), col("gini_x1e6"),
        col("rank").cast("int").as("rank"))
  }
}
