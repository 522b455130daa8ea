package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Collocation mining: which adjacent word pairs co-occur far more
  * than their marginals predict — "New York", "machine learning" —
  * the phrase-detection pass (word2vec's phrase step, Gensim Phrases)
  * a corpus pipeline runs before vocabulary induction so multi-word
  * units become single tokens.
  *
  * Scoring is the PMI lift p(xy)/(p(x·)p(·y)) over the BIGRAM
  * distribution, made engine-replayable the repo's usual way (no
  * libm log, no distributed wide division): staged integer floor
  * division in ppm,
  *
  *   lift_ppm = ((n_xy · 10^6) div n_x · B) div n_y
  *
  * where n_x / n_y are the first-/second-position marginals and B the
  * total bigram count. The staging keeps every intermediate ≤
  * max(10^6·n_xy, 10^6·B) — long-safe to ~9×10^12 bigrams (≈ 10 T
  * tokens); past that, lift the two multiplications to DECIMAL(38,0).
  * A minimum-support floor kills the hapax pairs whose lift is pure
  * noise (and arbitrarily large).
  *
  * Scale shape: ONE corpus-sized shuffle (the bigram count, pinned —
  * it feeds the two marginal aggregates and the final join), two
  * vocabulary-sized equi-joins for the marginals, and a
  * TakeOrderedAndProject top-k. The corpus never sorts.
  */
object Collocations {

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): build
    * the adjacent-token co-occurrence graph over the corpus (window 2,
    * stopwords and self-loops dropped, symmetric distinct edges) and
    * rank tokens by fixed-point integer PageRank (Graph.pageRank —
    * deterministic, oracle-replayable trajectory). Top-k keywords by
    * (rank DESC, token ASC) — a unique total order.
    *
    * Scale shape: adjacent pairs are MAP-SIDE (one transform+explode
    * off each doc's token array — the Collocations build); the edge
    * distinct is one shuffle keyed by (src,dst); per PageRank round,
    * rank mass shuffles as (id, long) pairs — vocabulary-sized, never
    * corpus-sized. The final top-k is a TakeOrderedAndProject.
    */
  def textRankKeywords(df: DataFrame, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and"),
      iters: Int = 3, topK: Int = 50): DataFrame = {
    val adj = df
      .select(TextFunctions.tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("a"),
          element_at(col("__toks"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(!col("a").isin(stopwords: _*) &&
        !col("b").isin(stopwords: _*) && col("a") =!= col("b"))
    // checkpoint BEFORE the symmetric union: it references `adj`
    // twice, and nodes + every PageRank round re-read the edge set
    val edges = Pin(adj.select(col("a").as("src"), col("b").as("dst"))
      .union(adj.select(col("b").as("a"), col("a").as("b"))
        .select(col("a").as("src"), col("b").as("dst")))
      .distinct())
    val nodes = edges.select(col("src").as("token")).distinct()
    graft.graph.Graph.pageRank(edges, nodes, "token", iters = iters)
      .orderBy(col("rank").desc, col("token"))
      .limit(topK)
  }

  /** Top-k collocations: (w1, w2, n_xy, n_x, n_y, lift_ppm), ordered
    * by lift then (w1, w2). */
  def topCollocations(df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 2 && topK >= 1)
    // tokens are PROJECTED before the pair transform — an inline
    // tokens(...) expression inside the lambda re-runs the regex
    // split for every element_at (2 per pair; measured 14x: 6.1 s →
    // 0.43 s for the explode at sf0.1)
    val big = Pin(df
      .select(TextFunctions.tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_xy"))) // feeds marginals + total + final join
    val nx = big.groupBy(col("w1")).agg(sum(col("n_xy")).as("n_x"))
    val ny = big.groupBy(col("w2")).agg(sum(col("n_xy")).as("n_y"))
    val bRow = big.agg(sum(col("n_xy"))).head()
    require(!bRow.isNullAt(0),
      "topCollocations: no bigrams in input (empty corpus or all docs < 2 tokens)")
    val b = bRow.getLong(0)
    big.where(col("n_xy") >= minCount)
      .join(nx, Seq("w1")).join(ny, Seq("w2"))
      .withColumn("lift_ppm",
        expr(s"(((n_xy * 1000000) div n_x) * ${b}L) div n_y"))
      .orderBy(desc("lift_ppm"), col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"),
        col("n_y"), col("lift_ppm"))
  }
}
