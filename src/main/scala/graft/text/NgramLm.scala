package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** N-gram language-model scoring — the KenLM-shaped fluency filter of
  * a curation pipeline (CCNet trains a 5-gram LM on Wikipedia and
  * buckets CommonCrawl by perplexity; the reference pipeline has no
  * counterpart — this is north-star scope). A bigram model with
  * add-one smoothing is trained on a trusted slice, then every doc is
  * scored by its mean bigram conditional likelihood: fluent text built
  * from the trusted distribution scores high, gibberish and
  * boilerplate-mangled text score low.
  *
  * Determinism contract (the k-means/PageRank/QualityClassifier
  * trade): all likelihoods are INTEGER ppm via floor division —
  * cond(w₂|w₁) = 10⁶·(c₁₂+1) div (c₁+V), backoff for an unseen
  * bigram 10⁶ div (c₁+V), OOV history 10⁶ div V; a doc's score is
  * Σcond div n_bigrams. BIGINT sums are shuffle-order-free, so any
  * engine replays the exact score. Headroom: 10⁶·(c₁₂+1) overflows
  * long only past c₁₂ ≈ 9·10¹² occurrences of ONE bigram — far above
  * a 100 TB corpus's hottest pair.
  *
  * Scale shape: training is two token-explode aggregates whose
  * exchanges carry (term, long) — vocabulary-sized outputs; the
  * pinned model broadcasts while its measured size fits the planner's
  * threshold. Scoring is map-side bigram explode + two
  * broadcast joins + one per-doc partial-agg shuffle carrying
  * (id, count, sum). No UDFs; bigram assembly is a codegen'd HOF.
  */
object NgramLm {

  val Scale = 1000000L

  /** Adjacent word pairs of a token array as "w1 w2" strings (tokens
    * are whitespace-split, so the single-space join is unambiguous);
    * < 2 tokens → empty array. `element_at` is 1-based.
    */
  def wordBigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))

  /** Trained model: (bigram, backoff, vocab) frames. `bigram` is
    * (pair, cond_ppm) for observed pairs; `backoff` is (w, bo_ppm)
    * for seen histories with unseen continuations; `vocab` is the
    * 1-row (v) distinct-unigram count (joined in, never collected).
    */
  final case class Model(bigram: DataFrame, backoff: DataFrame,
      vocab: DataFrame)

  def train(trusted: DataFrame, textCol: String): Model = {
    val tok = trusted.where(length(trim(col(textCol))) > 0)
      .select(TextFunctions.tokens(col(textCol)).as("t"))
    // Pinned: the unigram table feeds three consumers (vocab count,
    // bigram smoothing join, backoff), and the model frames' measured
    // sizes let the planner broadcast them into score()'s joins while
    // they fit. All three are vocabulary-sized, the pinning contract.
    val uni = Pin(tok.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1")))
    val vocab = Pin(uni.agg(count(lit(1)).as("v")))
    val big = tok.where(size(col("t")) >= 2)
      .select(explode(wordBigrams(col("t"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c12"))
    val bigram = Pin(big
      .join(uni, substring_index(col("pair"), " ", 1) === col("w"))
      .crossJoin(vocab)
      .select(col("pair"),
        expr(s"$Scale * (c12 + 1) div (c1 + v)").as("cond_ppm")))
    val backoff = Pin(uni.crossJoin(vocab)
      .select(col("w"), expr(s"$Scale div (c1 + v)").as("bo_ppm")))
    Model(bigram, backoff, vocab)
  }

  /** Score docs: mean bigram conditional likelihood in ppm. Docs with
    * < 2 tokens have no bigrams and are absent from the output (they
    * carry no evidence either way — gate them with the heuristic
    * quality score instead). Output: (idCol, n_bigrams, lm_score_ppm).
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame = {
    // fanOut: the bigram explode + model lookups are the per-row-
    // expensive stage; a single-split file would run it on one core
    // (AmplificationAudit caught 5.7 s/1-task at sf0.1)
    // tokens MUST be projected before the bigram transform: an inline
    // tokens(...) inside the lambda re-runs the regex split for every
    // element_at — 2 splits per bigram (measured 14x on collocations,
    // the same explode shape)
    graft.ops.Partitioning.fanOut(
        docs.where(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(wordBigrams(col("__toks"))).as("pair"))
      .join(model.bigram, Seq("pair"), "left")
      .withColumn("w1", substring_index(col("pair"), " ", 1))
      .join(model.backoff.withColumnRenamed("w", "w1"),
        Seq("w1"), "left")
      .crossJoin(model.vocab)
      .withColumn("w_ppm",
        coalesce(col("cond_ppm"), col("bo_ppm"), expr(s"$Scale div v")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w_ppm")).as("w_sum"))
      .select(col("id").as(idCol), col("n_bigrams"),
        expr("w_sum div n_bigrams").as("lm_score_ppm"))
  }

  // ----------------------- trigram LM with stupid backoff (Brants '07)

  /** Adjacent word triples as "w1 w2 w3"; < 3 tokens → empty array. */
  def wordTrigrams(toks: Column): Column =
    when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => concat(element_at(toks, i), lit(" "),
          element_at(toks, i + 1), lit(" "), element_at(toks, i + 2))))

  /** Stupid-backoff trigram model (Brants et al. 2007 — the scheme
    * DESIGNED for MapReduce-scale LMs: no discounting mass to
    * normalize, so each level is one independent count ratio and the
    * whole model trains in three counting aggregates):
    *
    *   S(w₃|w₁w₂) = c₁₂₃/c₁₂          if the trigram was seen
    *              = α·c₂₃/c₂           else if "w₂ w₃" was seen
    *              = α²·c₃/N            else if w₃ was seen
    *              = α²·1/V             else (OOV)
    *
    * with α = 0.4 = 2/5 kept RATIONAL so every level is one integer
    * floor division in ppm: L1 = 10⁶·c₁₂₃ div c₁₂, L2 = 2·10⁶·c₂₃
    * div (5·c₂), L3 = 4·10⁶·c₃ div (25·N), L4 = 4·10⁶ div (25·V) —
    * engine-exact. LONG headroom: 4·10⁶·c₃ overflows past c₃ ≈
    * 2.3·10¹² occurrences of one token — the hottest stopword of a
    * ~50 TB trusted slice; cast the numerators to DECIMAL(38) past
    * that (documented, not needed at any test SF).
    *
    * Frames are n-gram-vocabulary-sized and pinned (the train()
    * multi-consumer contract).
    */
  final case class SbModel(trigram: DataFrame, bigramCond: DataFrame,
      unigramCond: DataFrame, vocab: DataFrame)

  def trainStupidBackoff(trusted: DataFrame, textCol: String): SbModel = {
    val tok = trusted.where(length(trim(col(textCol))) > 0)
      .select(TextFunctions.tokens(col(textCol)).as("t"))
    val uni = Pin(tok.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1")))
    val totals = Pin(uni.agg(count(lit(1)).as("v"), sum(col("c1")).as("n")))
    val big = Pin(tok.where(size(col("t")) >= 2)
      .select(explode(wordBigrams(col("t"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c12")))
    val tri = tok.where(size(col("t")) >= 3)
      .select(explode(wordTrigrams(col("t"))).as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("c123"))
    // L1: trigram cond against its HISTORY bigram "w1 w2"
    val trigram = Pin(tri
      .withColumn("pair", substring_index(col("tri"), " ", 2))
      .join(big, Seq("pair"))
      .select(col("tri"), expr(s"$Scale * c123 div c12").as("l1_ppm")))
    // L2: α-scaled bigram cond of the SUFFIX "w2 w3" against c(w2)
    val bigramCond = Pin(big
      .withColumn("w", substring_index(col("pair"), " ", 1))
      .join(uni, Seq("w"))
      .select(col("pair"),
        expr(s"2 * $Scale * c12 div (5 * c1)").as("l2_ppm")))
    // L3: α²-scaled unigram relative frequency
    val unigramCond = Pin(uni.crossJoin(totals)
      .select(col("w"), expr(s"4 * $Scale * c1 div (25 * n)").as("l3_ppm")))
    SbModel(trigram, bigramCond, unigramCond, totals)
  }

  /** Mean stupid-backoff trigram score per doc in ppm; docs with < 3
    * tokens are absent (no trigram evidence — the bigram scorer's
    * contract extended). Output: (idCol, n_trigrams, sb_score_ppm).
    */
  def scoreStupidBackoff(docs: DataFrame, idCol: String, textCol: String,
      model: SbModel): DataFrame = {
    graft.ops.Partitioning.fanOut(
        docs.where(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(wordTrigrams(col("__toks"))).as("tri"))
      // one split, reused — never re-split per lookup (the HOF rule's
      // projection cousin)
      .withColumn("__parts", split(col("tri"), " "))
      .withColumn("__suffix", concat(element_at(col("__parts"), 2),
        lit(" "), element_at(col("__parts"), 3)))
      .withColumn("__w3", element_at(col("__parts"), 3))
      .drop("__parts")
      .join(model.trigram, Seq("tri"), "left")
      .join(model.bigramCond.withColumnRenamed("pair", "__suffix"),
        Seq("__suffix"), "left")
      .join(model.unigramCond.withColumnRenamed("w", "__w3"),
        Seq("__w3"), "left")
      .crossJoin(model.vocab)
      .withColumn("w_ppm", coalesce(col("l1_ppm"), col("l2_ppm"),
        col("l3_ppm"), expr(s"4 * $Scale div (25 * v)")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("w_ppm")).as("__s"))
      .select(col("id").as(idCol), col("n_trigrams"),
        expr("__s div n_trigrams").as("sb_score_ppm"))
  }
}
