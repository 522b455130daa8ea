package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-evaluation statistics over scored rows — the readouts a
  * classifier-driven curation pipeline (quality gates, contamination
  * filters, centroid discriminators) is judged by.
  */
object Eval {

  /** EXACT distributed ROC AUC via the Mann-Whitney rank-sum with
    * midranks — no sampling, no trapezoid approximation, no
    * single-partition sort:
    *
    *   AUC = (R⁺ − nPos(nPos+1)/2) / (nPos·nNeg)
    *
    * where R⁺ is the midrank sum of the positives under an ascending
    * score order. Ranks come from [[Ranking.globalRankLean]] with a
    * unique tiebreaker, so a tie group occupies CONSECUTIVE ranks and
    * its midrank is (min+max)/2 — the whole sum stays integral as
    * 2·R⁺ = Σ_groups pos·(min+max). Every term is an exact integer
    * (DECIMAL(38,0) against overflow); AUC is ONE int/int division —
    * cross-engine deterministic. NULL when either class is empty.
    *
    * Shape at scale: one lean rank (literal range bounds, no
    * materialization, recompute-safe), one groupBy(score) over the
    * ranked rows, one final fold of the |distinct scores|-sized group
    * frame. Nothing global-sorts and nothing is quadratic in rows.
    *
    * `labelCol` must be 0/1 (castable to long); `tieCol` any unique
    * column completing the total order.
    */
  def aucExact(df: DataFrame, scoreCol: String, labelCol: String,
      tieCol: String): DataFrame = {
    // pinned: five passes consume this frame (the lean rank's
    // count/sample/bucket jobs + the group and final folds) — without
    // the pin each would recompute the caller's scoring pipeline (the
    // skew audit measured that mistake at 2x; see SCALE_NOTES). The
    // pinned form is three narrow columns, the cheapest thing here.
    val base = df.select(col(scoreCol).as("__s"),
      col(labelCol).cast("long").as("__y"), col(tieCol).as("__t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = Ranking.globalRankLean(base,
      Seq(col("__s"), col("__t")), "__r")
    val groups = ranked.groupBy(col("__s")).agg(
      min(col("__r")).as("__lo"), max(col("__r")).as("__hi"),
      sum(col("__y")).as("__pos"), count(lit(1)).as("__n"))
    val np: Column = col("n_pos").cast("decimal(38,0)")
    val nn: Column = col("n_neg").cast("decimal(38,0)")
    groups.agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__n") - col("__pos")).as("n_neg"),
        sum(col("__pos").cast("decimal(19,0)") *
          (col("__lo") + col("__hi")).cast("decimal(19,0)")).as("__rs2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__rs2").cast("decimal(38,0)") - np * (np + 1))
            .cast("double") /
            (lit(2).cast("decimal(38,0)") * np * nn).cast("double"))
          .as("auc"))
  }

  /** Murphy decomposition of the Brier score — the calibration
    * readout that splits a probabilistic classifier's error into WHAT
    * KIND of bad it is:
    *
    *   brier ≈ reliability − resolution + uncertainty
    *
    * reliability = Σ n_k(p̄_k − ȳ_k)²/N  (miscalibration — fixable by
    * recalibrating), resolution = Σ n_k(ȳ_k − ȳ)²/N (discrimination —
    * only a better model buys more), uncertainty = ȳ(1−ȳ) (the data's
    * floor). Bins k are fixed-width over the ppm score
    * (`score div binWidth`).
    *
    * Determinism: scores are integer ppm; brier is EXACT
    * (Σ(p−10⁶y)² div N through DECIMAL(38)); the three decomposition
    * terms use ppm-QUANTIZED bin means (each mean one integral
    * division, then integer squares — the Changepoint ×10³ rule), so
    * every output replays on any engine. The identity holds up to
    * that ppm quantization; it is reported, never asserted.
    *
    * One (bin)-keyed aggregate over the scored frame + a 1-row
    * reduce; all ×10¹² term SUMS ride DECIMAL(38) (the ppm²-family
    * rule — a LONG carrier would wrap past N≈9.2e6 scored rows);
    * outputs land back in BIGINT via the integral `div`.
    *
    * Input: (scoreCol ppm LONG 0..10⁶, labelCol BOOLEAN). Output one
    * row: (n, base_rate_ppm, brier_x1e12, reliability_x1e12,
    * resolution_x1e12, uncertainty_x1e12).
    */
  def brierDecomposition(df: DataFrame, scoreCol: String,
      labelCol: String, binWidth: Long = 100000L): DataFrame = {
    require(binWidth >= 1)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val scored = df
      .select(expr(s"$scoreCol div $binWidth").as("__bin"),
        col(scoreCol).as("__p"),
        col(labelCol).cast("long").as("__y"))
    val tot = scored
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("__spos"))
      .withColumn("base_rate_ppm", expr("__spos * 1000000 div n"))
    val bins = scored
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("__nk"),
        sum(col("__p")).as("__sp"),
        sum(col("__y")).as("__sy"),
        sum((col("__p") - col("__y") * 1000000L).cast(dec) *
          (col("__p") - col("__y") * 1000000L)).as("__se"))
      .withColumn("__pbar", expr("__sp div __nk"))
      .withColumn("__ybar", expr("__sy * 1000000 div __nk"))
    bins.crossJoin(tot)
      .groupBy(col("n"), col("base_rate_ppm"))
      .agg(sum(col("__se")).as("__se"),
        // nk·(Δppm)² is ~1e12 per bin-weighted row — a LONG sum wraps
        // silently past N≈9.2e6 scored rows, so lift to DECIMAL(38)
        // like every other ppm²-family sum in the repo (same values,
        // wider carrier; `div` still lands the output in BIGINT)
        sum(col("__nk").cast(dec) * (col("__pbar") - col("__ybar")) *
          (col("__pbar") - col("__ybar"))).as("__rel"),
        sum(col("__nk").cast(dec) *
          (col("__ybar") - col("base_rate_ppm")) *
          (col("__ybar") - col("base_rate_ppm"))).as("__res"))
      .select(col("n"), col("base_rate_ppm"),
        expr("cast(__se div n as bigint)").as("brier_x1e12"),
        expr("__rel div n").as("reliability_x1e12"),
        expr("__res div n").as("resolution_x1e12"),
        expr("base_rate_ppm * (1000000 - base_rate_ppm)")
          .as("uncertainty_x1e12"))
  }

  /** Exact RBO weight table for p = 9/10, truncation depth k ≤ 10:
    * RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·overlap_d/d has common
    * denominator 10^k·2520 (2520 = lcm(1..10)), so each depth
    * contributes the INTEGER weight 9^{d−1}·10^{k−d}·(2520/d) — the
    * nDCG pinned-log-table move applied to geometric weights: no
    * cross-engine pow(), no floats anywhere.
    */
  private[graft] def rboWeights(depth: Int): (IndexedSeq[Long], Long) = {
    require(depth >= 1 && depth <= 10, s"depth must be in [1,10], got $depth")
    val w = (1 to depth).map(d =>
      (BigInt(9).pow(d - 1) * BigInt(10).pow(depth - d) *
        (2520 / d)).toLong)
    (w, (BigInt(10).pow(depth) * 2520).toLong)
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
    * two rankings of the same items, truncated at `depth` — the
    * top-weighted "do these two ranking signals agree" statistic
    * (correlations over full ranks weight the tail equally; RBO decays
    * by p^d, matching how consumers read a top-k).
    *
    *   overlap_d = |top_d(A) ∩ top_d(B)| counts items whose
    *   max(posA, posB) ≤ d; RBO@k = (1−p)·Σ p^{d−1}·overlap_d/d,
    *   p = 9/10, emitted ×10⁶ by one integral division over the
    *   pinned weight table (engine-exact; the extrapolated RBO_ext
    *   tail term is intentionally omitted — truncated RBO by spec).
    *
    * Scale shape: both rankings are per-key windows (partitioned,
    * never global), the position join is an equi-join on (key, id)
    * over ≤ depth rows per key per side, and the depth spine is a
    * map-side explode of a k-literal array — everything past the two
    * rank windows is bounded by |keys|·depth, not by data.
    *
    * Output: (key..., n_common, rbo_x1e6).
    */
  def rankBiasedOverlap(df: DataFrame, keyCols: Seq[String], idCol: String,
      scoreA: Column, scoreB: Column, depth: Int = 10): DataFrame = {
    val keys = keyCols.map(col)
    import org.apache.spark.sql.expressions.Window
    def top(score: Column, posName: String) = df
      .withColumn(posName, row_number().over(
        Window.partitionBy(keys: _*).orderBy(score.desc, col(idCol))))
      .where(col(posName) <= depth)
      .select(keys :+ col(idCol) :+ col(posName): _*)
    rboFromRankings(top(scoreA, "__pa"), top(scoreB, "__pb"),
      keyCols, idCol, "__pa", "__pb", depth)
  }

  /** RBO over two ALREADY-RANKED frames — (keys..., id, position)
    * with positions 1-based and ≤ depth on each side (e.g. the output
    * of two knnJoin/top-k runs). The entry point when the two
    * rankings come from different score columns over different
    * candidate sets, where a shared scored frame doesn't exist.
    */
  def rboFromRankings(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      idCol: String, posColA: String, posColB: String,
      depth: Int): DataFrame = {
    val (w, den) = rboWeights(depth)
    val keys = keyCols.map(col)
    val aa = a.select(keys :+ col(idCol) :+ col(posColA).as("__pa"): _*)
      .where(col("__pa") <= depth)
    val bb = b.select(keys :+ col(idCol) :+ col(posColB).as("__pb"): _*)
      .where(col("__pb") <= depth)
    // Key universe = keys present in EITHER ranking: an inner-join-only
    // fold would drop exactly the keys whose two top-k lists share zero
    // items — the strongest-disagreement keys the statistic exists to
    // surface (ADVICE r12). Those keys must report n_common = 0, rbo 0.
    // |keys|-sized frame, one extra distinct + left join — never
    // data-sized.
    val keyUniverse = aa.select(keys: _*).union(bb.select(keys: _*))
      .distinct()
    val joined = aa.join(bb, keyCols :+ idCol)
      .withColumn("__m", greatest(col("__pa"), col("__pb")))
    val weightCase = (1 to depth)
      .map(d => s"WHEN $d THEN ${w(d - 1)}L").mkString(" ")
    val terms = joined
      .select(keys :+ col("__m") :+
        explode(sequence(col("__m").cast("int"), lit(depth))).as("__d"): _*)
      .withColumn("__w", expr(s"CASE __d $weightCase END"))
    // identical rankings score 1−p^k truncated (the mass past depth k
    // is unobserved); rbo_norm rescales so full agreement reads 10⁶
    val wMax = (1 to depth).map(d => w(d - 1) * d).sum
    val perKey = terms.groupBy(keys: _*)
      .agg(sum(col("__w")).as("__num"),
        // every surviving item emits exactly one row at __d = depth
        sum(when(col("__d") === depth, 1L).otherwise(0L)).as("n_common"))
      .withColumn("rbo_x1e6",
        expr(s"(cast(__num as decimal(38,0)) * 1000000) div ${den}L")
          .cast("long"))
      .withColumn("rbo_norm_x1e6",
        expr(s"(cast(__num as decimal(38,0)) * 1000000) div ${wMax}L")
          .cast("long"))
    keyUniverse.join(perKey, keyCols, "left")
      .select(keys :+
        coalesce(col("n_common"), lit(0L)).as("n_common") :+
        coalesce(col("rbo_x1e6"), lit(0L)).as("rbo_x1e6") :+
        coalesce(col("rbo_norm_x1e6"), lit(0L)).as("rbo_norm_x1e6"): _*)
  }
}
