package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the fasttext-shaped step of a
  * curation pipeline (CCNet/Gopher style): train a token-level linear
  * classifier on weakly labeled docs (a trusted-source flag, a
  * heuristic gate), then score the whole corpus and keep what scores
  * like the positive class. Naive-Bayes flavored: each token's weight
  * is its smoothed positive-class probability, a document's score the
  * mean weight of its tokens.
  *
  * Determinism contract: weights and scores are INTEGER ppm
  * (parts-per-million, floor division) — w(t) = 10⁶·(n_pos+1) div
  * (n_pos+n_neg+2), score = Σw div n_tokens. A float log-odds sum
  * would be shuffle-order-dependent (doubles don't associate);
  * BIGINT sums are order-free, so any engine replays the exact score
  * (the k-means/PageRank determinism trade).
  *
  * Scale: training is one explode → (term) aggregate — exchanges carry
  * (term, two longs), vocabulary-sized output. Scoring broadcasts the
  * model and partial-aggregates per doc map-side; the per-doc shuffle
  * carries (id, count, sum) only. No UDFs anywhere.
  */
object QualityClassifier {

  val Scale = 1000000L
  /** OOV weight: the uninformative prior (½ in ppm). */
  val Prior: Long = Scale / 2

  /** Train per-token ppm weights from labeled docs. `label` must be a
    * boolean column (true = positive class). Output: (term, n_pos,
    * n_neg, w_ppm).
    */
  def trainTokenWeights(docs: DataFrame, textCol: String,
      label: Column): DataFrame =
    docs.where(length(trim(col(textCol))) > 0)
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"),
        label.as("pos"))
      .groupBy(col("term"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
      .withColumn("w_ppm",
        expr(s"$Scale * (n_pos + 1) div (n_pos + n_neg + 2)"))

  /** Score docs against a trained model: mean token weight in ppm,
    * OOV tokens at the prior. Output: (idCol, n_tokens, score_ppm,
    * pred_pos) — pred_pos is score above the uninformative prior.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame): DataFrame = {
    // hint kept: weights is a grouped aggregate, priced at its input's size
    val model = broadcast(weights.select(col("term"), col("w_ppm")))
    docs.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .join(model, Seq("term"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w_ppm"), lit(Prior))).as("w_sum"))
      .select(col("id").as(idCol), col("n_tokens"),
        expr("w_sum div n_tokens").as("score_ppm"))
      .withColumn("pred_pos", col("score_ppm") >= Prior)
  }
}
