package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword search over a document corpus — the retrieval primitive
  * of a data-curation stack (query-driven corpus slicing, contamination
  * forensics, eval-set mining).
  *
  * Scoring uses the BM25 saturation shape with a LOG-FREE idf: the
  * standard `ln((N - df + 0.5)/(df + 0.5))` is replaced by the raw odds
  * `(N - df + 0.5)/(df + 0.5)`. Rationale: every arithmetic step here
  * (add, mul, div on doubles) is exactly specified by IEEE 754, so with
  * a pinned evaluation order the score is bit-identical on any engine —
  * whereas `ln` goes through libm and may differ in the last ulp
  * between runtimes, which a hash-compare would flag. The odds form
  * keeps the df-monotonicity BM25 needs (rare term ⇒ larger factor)
  * and makes the whole ranking oracle-checkable. Deployments that want
  * the classic log damping can wrap the factor; the plan shape is
  * unchanged.
  *
  * Scale shape (the part that matters at 100 TB): the token explosion
  * is filtered to the query terms BEFORE the (doc, term) aggregate, so
  * the shuffle carries only rows for the q query terms (≤ q·N, not the
  * corpus token count); df is a q-row aggregate; corpus stats (N,
  * avgdl) ride a single-row broadcast cross join; the final top-k is
  * TakeOrderedAndProject. Documents never shuffle their text — only
  * (id, counts).
  */
object Bm25 {

  /** Per-term BM25 weight with the pinned evaluation order (must stay
    * textually parallel to the SQL the declared query carries):
    * `odds(df) * ((tf * (k1+1)) / (tf + k1 * ((1-b) + b * (dl / avgdl))))`.
    */
  private def weight(tf: Column, df: Column, dl: Column, avgdl: Column,
      n: Column, k1: Double, b: Double): Column =
    ((n - df + lit(0.5)) / (df + lit(0.5))) *
      ((tf * lit(k1 + 1)) / (tf + lit(k1) * (lit(1 - b) + lit(b) * (dl / avgdl))))

  /** Top-k documents for a bag of query terms. Output:
    * (doc_id, bm25 DOUBLE) ordered by (bm25 DESC, doc_id) — total
    * order, exact-deterministic scores.
    */
  def search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct)
    val dl = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .where(col("term").isin(terms.map(_.asInstanceOf[Any]): _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = tf
      // hint kept: dfreq is a grouped aggregate, priced at tf's size
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("w", weight(col("tf"), col("df"), col("dl"),
        col("avgdl"), col("n"), k1, b))
    // one column per query term, then a FIXED-ORDER sum: double addition
    // is not associative, so the reduction order is part of the spec
    val piv = w.groupBy(col("doc_id"))
      .pivot("term", terms)
      .agg(first(col("w")))
    val score = terms.map(t => coalesce(col(s"`$t`"), lit(0.0)))
      .reduceLeft(_ + _)
    dl.join(piv, Seq("doc_id"), "left")
      .select(col("doc_id"), score.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
