package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Association statistics over (basket, item) data — support,
  * confidence, and lift for item pairs, the classic market-basket /
  * co-click signal a curation pipeline uses to find correlated
  * sources, templates, or near-boilerplate item combinations.
  *
  * Scale shape (the a-priori property does the work): item counts are
  * ONE hash aggregate; items below `minItemCount` are dropped BEFORE
  * the pair self-join — an infrequent item can never belong to a
  * frequent pair, so the quadratic stage only ever sees the frequent
  * vocabulary. The pair join itself is keyed on the basket id (the
  * `coOccurrenceEdges` shape, same basket-size cap guard: per-basket
  * cost is |basket|², which the cap keeps bounded), and the pair
  * aggregate is partial→final on (a, b). The basket total crosses as
  * a broadcast one-row frame.
  *
  * Determinism: counts are exact BIGINTs; lift and confidence are one
  * fixed IEEE double tree each over those counts —
  * lift = (n_ab·n)/(n_a·n_b), confidence = n_ab/n_a — identical
  * cross-engine.
  */
object Association {

  /** Unordered frequent-pair lift table: (item_a < item_b, n_ab, n_a,
    * n_b, lift, confidence) with confidence for the a→b direction.
    * `minItemCount` prunes items before the pair join (a-priori);
    * `minPairCount` prunes the output.
    */
  def pairLift(df: DataFrame, groupCol: String, itemCol: String,
      minItemCount: Long = 2L, minPairCount: Long = 2L,
      maxGroupSize: Long = 10000L): DataFrame = {
    // checkpointed: the distinct basket frame feeds the guard job, the
    // item counts, BOTH pair-join sides, and the basket total — five
    // consumers; without the cut each would replay the distinct
    // (the coOccurrenceEdges rule)
    val g = Pin(df.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct())
    val worst = g.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx")).head()
    if (!worst.isNullAt(0)) {
      val mx = worst.getLong(0)
      require(mx <= maxGroupSize,
        s"pairLift: largest $groupCol basket has $mx distinct items " +
          s"(cap $maxGroupSize) — the pair join would emit ~${mx * mx} " +
          "pairs for that basket alone; cap or sample upstream")
    }
    val frequent = g.groupBy(col("i")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minItemCount)
    val fg = g.join(frequent, Seq("i"))
    val pairs = fg.select(col("g"), col("i").as("a"), col("c").as("n_a"))
      .join(fg.select(col("g"), col("i").as("b"), col("c").as("n_b")),
        Seq("g"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairCount)
    val n = g.agg(countDistinct(col("g")).as("__n"))
    pairs.crossJoin(n)
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("__n")) /
          (col("n_a").cast("double") * col("n_b"))).as("lift"),
        (col("n_ab").cast("double") / col("n_a")).as("confidence"))
  }

  /** Frequent item TRIPLES by a-priori candidate generation (Agrawal &
    * Srikant, VLDB'94): a triple can only be frequent if all three of
    * its sub-pairs are — so candidates come from joining frequent
    * pairs on their shared prefix ((a,b)⋈(a,c), b<c) and semi-joining
    * the closure pair (b,c), and only THEN does support counting touch
    * basket data: basket pair instances (the |basket|²-bounded join,
    * cap-guarded) semi-restrict to candidate prefixes, extend by one
    * (basket, item) EQUI-join probing c's membership, and aggregate.
    * The |basket|³ three-way self-join never happens — the counting
    * cost is Σ (candidate-prefix instances), which the pair-level
    * support threshold already bounded.
    *
    * Output: (item_a < item_b < item_c, n_abc, n_ab, n_ac, n_bc,
    * conf_ppm = 10⁶·n_abc div n_ab — confidence of (a,b)→c, one
    * integral division, engine-exact).
    */
  def frequentTriples(df: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long = 2L, maxGroupSize: Long = 10000L): DataFrame = {
    require(minSupport >= 1)
    val g = Pin(df.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct())
    val worst = g.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx")).head()
    if (!worst.isNullAt(0)) {
      val mx = worst.getLong(0)
      require(mx <= maxGroupSize,
        s"frequentTriples: largest $groupCol basket has $mx distinct " +
          s"items (cap $maxGroupSize) — cap or sample upstream")
    }
    val frequent = g.groupBy(col("i")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minSupport)
    // feeds the pair join twice + the c-probe
    val fg = Pin(g.join(frequent.select(col("i")), Seq("i"), "left_semi"))
    val freqPairs = Pin(fg.select(col("g"), col("i").as("a"))
      .join(fg.select(col("g"), col("i").as("b")), Seq("g"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)) // candidates read it 3x, supports 3x
    val cand = freqPairs.select(col("a"), col("b"))
      .join(freqPairs.select(col("a"), col("b").as("c")), Seq("a"))
      .where(col("b") < col("c"))
      .join(freqPairs.select(col("a").as("b"), col("b").as("c")),
        Seq("b", "c"), "left_semi")
    val inst = fg.select(col("g"), col("i").as("a"))
      .join(fg.select(col("g"), col("i").as("b")), Seq("g"))
      .where(col("a") < col("b"))
    val triples = inst.join(cand, Seq("a", "b"))
      .join(fg.select(col("g"), col("i").as("c")), Seq("g", "c"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_abc"))
      .where(col("n_abc") >= minSupport)
    triples
      .join(freqPairs.withColumnsRenamed(Map("n_ab" -> "__nab")),
        Seq("a", "b"))
      .join(freqPairs.select(col("a"), col("b").as("c"),
        col("n_ab").as("__nac")), Seq("a", "c"))
      .join(freqPairs.select(col("a").as("b"), col("b").as("c"),
        col("n_ab").as("__nbc")), Seq("b", "c"))
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("c").as("item_c"), col("n_abc"),
        col("__nab").as("n_ab"), col("__nac").as("n_ac"),
        col("__nbc").as("n_bc"),
        expr("(1000000 * n_abc) div __nab").as("conf_ppm"))
  }

  /** Item-item nearest neighbors from co-occurrence — the classic
    * item-based collaborative-filtering primitive ("customers who
    * bought X also bought Y"), scored by set cosine
    * `cos = n_ab / sqrt(n_a · n_b)`.
    *
    * The score ships as SQUARED cosine in ppm — `n_ab²·10^6 div
    * (n_a·n_b)` — which is monotone in cosine (all terms positive), so
    * the top-k ranking is identical, while staying in exact integer
    * arithmetic (no sqrt, engine-exact). The multiply goes through
    * DECIMAL(38): n_ab² alone overflows LONG once a pair co-occurs in
    * ~3e9 baskets, reachable at 100 TB.
    *
    * Scale shape: the same single basket-keyed pair join as
    * [[pairLift]] (a-priori item pruning BEFORE the join, basket-size
    * cap guard), then each item's candidate list is ranked by ONE
    * window partitioned per item — bounded by that item's co-occurring
    * items, never corpus-wide.
    *
    * Output: `(item, neighbor, n_ab, n_item, n_neighbor, cos2_ppm,
    * rank)` with `rank <= k`, ties broken (cos2 desc, n_ab desc,
    * neighbor asc).
    */
  def itemNeighbors(df: DataFrame, groupCol: String, itemCol: String,
      k: Int, minItemCount: Long = 2L, minPairCount: Long = 2L,
      maxGroupSize: Long = 10000L): DataFrame = {
    require(k >= 1)
    // r16: pin the pair table before mirroring — the union's two
    // branches otherwise re-run pairLift's FINAL aggregate (1.2M
    // pre-filter rows / 19.7 MB exchange read per branch at sf0.1,
    // Bench's stage rows) to produce a few-thousand-row table twice; the
    // pin is minPairCount-filtered, so it is tiny by construction
    val pairs = Pin(pairLift(df, groupCol, itemCol, minItemCount,
      minPairCount, maxGroupSize)
      .select(col("item_a"), col("item_b"), col("n_ab"),
        col("n_a"), col("n_b")))
    val mirrored = pairs.unionByName(
      pairs.select(col("item_b").as("item_a"), col("item_a").as("item_b"),
        col("n_ab"), col("n_b").as("n_a"), col("n_a").as("n_b")))
    // both sides of the division ride DECIMAL(38): n_ab² AND n_a·n_b
    // overflow a LONG at the same ~3e9-count scale, and a wrapped
    // denominator silently corrupts the ranking
    val scored = mirrored.withColumn("cos2_ppm",
      expr("(cast(n_ab as decimal(38,0)) * n_ab * 1000000) " +
        "div (cast(n_a as decimal(38,0)) * n_b)"))
    val w = Window.partitionBy(col("item_a"))
      .orderBy(col("cos2_ppm").desc, col("n_ab").desc, col("item_b"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("n_ab"), col("n_a").as("n_item"), col("n_b").as("n_neighbor"),
        col("cos2_ppm"), col("rank").cast("int").as("rank"))
  }
}
