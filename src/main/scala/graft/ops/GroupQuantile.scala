package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group quantile-threshold filtering — the quality-gate primitive
  * for corpus curation: "drop the bottom quartile of documents by
  * quality score, per language" and friends.
  *
  * The naive shape (`percent_rank` over a window partitioned by group)
  * globally SORTS every row of every group — at 100 TB that is a full
  * shuffle + sort of the corpus to compute what is really a handful of
  * per-group threshold VALUES. This implementation exploits that the
  * interesting score columns are low-cardinality per group (quality
  * scores, star ratings, bucketed lengths): it aggregates the
  * (group, value) DISTRIBUTION first (partial-agg shuffle of distinct
  * pairs only), walks the tiny per-group CDF with a window over the
  * aggregate, and broadcasts the resulting per-group threshold back as
  * a join — the corpus itself never shuffles and never sorts.
  *
  * Threshold semantics: the lower type-1 quantile — the smallest value
  * v in the group with P(X <= v) >= p; rows with value >= v survive.
  * For p = 0.25 that drops strictly-below-quartile rows: ties AT the
  * threshold survive, matching the usual "keep anything at least as
  * good as the cutoff" curation rule, and keeping results exactly
  * reproducible in ANY engine (no rank-among-ties ambiguity).
  *
  * For genuinely continuous high-cardinality scores, the distribution
  * agg degenerates toward corpus size; switch the threshold step to
  * `approx_percentile` per group (same broadcast-join shape, bounded
  * memory) and accept the sketch's rank error instead.
  */
object GroupQuantile {

  /** Keep rows whose `value` is at or above their group's `p`-quantile
    * (lower/type-1). `df` must not already contain the temp columns
    * `__gq_cum`/`__gq_tot`/`__gq_thr`.
    *
    * TWO-CONSUMER caveat: `df` feeds both the threshold aggregate and
    * the filter join-back, so an EXPENSIVE `value` expression
    * evaluates twice. MEASURED (CurationProbe three-way A/B, 5M wide
    * text docs, quiet box): the double eval is the thing to BEAT, not
    * an obvious bug — unpinned 949.9 s < fat pin (persist the scored
    * corpus) 1,017.7 s < narrow (id, group, score) pin + left-semi
    * join-back 1,244.2 s. A regex-grade score costs about one
    * corpus move per pass, so both materialization "fixes" pay more
    * in corpus movement (block-manager serialization / join shuffle)
    * than the recompute they save — and at a high keep rate the
    * semi-join moves the whole corpus to drop a sliver.
    *
    * The LOW-KEEP regime is now measured too (GatePinProbe, r14 — the
    * cell the r12 law prescribed without evidence): at p = 0.99 (keep
    * ~1%, 2M wide docs) the ordering INVERTS — narrow (id, group,
    * score) pin + join-back 23.9 s < fat pin 25.7 s < unpinned 81.8 s
    * with a scorer costing 9.6× a corpus move, and still 6.2 < 10.0 <
    * 19.5 s with a near-regex scorer (1.5× a move). The mechanism: at
    * a low keep rate the surviving-id set BROADCASTS, so the join-back
    * is a map-side corpus scan instead of the corpus-text shuffle that
    * sank it at 99% keep — the keep rate, not the scorer, is what
    * flips the join-back from corpus-shuffle to broadcast. So the
    * decision rule, both halves measured: LOW keep rate → narrow pin +
    * broadcast join-back (gain grows with scorer cost); HIGH keep
    * rate → let the score evaluate twice, every materialization
    * "fix" pays more corpus movement than it saves.
    *
    * Measurement footnote (GatePinDiag): keep hot-path score
    * expressions CODEGEN-ABLE. A higher-order-function lambda scorer
    * evaluated at 0.3 s or 9–10 s for the SAME plan depending on where
    * in the session it ran (reproducible) — interpreted HOF cost is
    * unstable by evaluation context, which both slows pipelines and
    * poisons A/B measurements.
    */
  def filterAtQuantile(df: DataFrame, groupCols: Seq[Column],
      value: Column, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"quantile must be in (0,1), got $p")
    val gNames = groupCols.zipWithIndex.map { case (_, i) => s"__gq_g$i" }
    val keyed = df.select(
      groupCols.zip(gNames).map { case (c, n) => c.as(n) } :+
        value.as("__gq_v"): _*)
    val dist = keyed.groupBy(gNames.map(col) :+ col("__gq_v"): _*)
      .agg(count(lit(1)).as("__gq_n"))
    // per-group CDF over the DISTRIBUTION (rows = distinct values per
    // group — tiny), not over the corpus
    val wCdf = Window.partitionBy(gNames.map(col): _*).orderBy(col("__gq_v"))
    val wTot = Window.partitionBy(gNames.map(col): _*)
    val thr = dist
      .withColumn("__gq_cum", sum(col("__gq_n")).over(wCdf))
      .withColumn("__gq_tot", sum(col("__gq_n")).over(wTot))
      .where(col("__gq_cum") >= lit(p) * col("__gq_tot"))
      .groupBy(gNames.map(col): _*)
      .agg(min(col("__gq_v")).as("__gq_thr"))
    // hint kept: thr (one row per group) is priced at its input's size
    df.join(broadcast(thr),
        groupCols.zip(gNames).map { case (c, n) => c === thr(n) }
          .reduce(_ && _))
      .where(value >= col("__gq_thr"))
      .drop(thr.columns: _*)
  }

  /** Assign each row a quantile BUCKET per group (CCNet's
    * perplexity-bucket step generalized): `ps` ascending quantiles cut
    * each group into ps.size+1 buckets; a row's bucket is the number
    * of its group's thresholds its value meets (same lower/type-1
    * threshold and tie rule as filterAtQuantile, so bucket membership
    * is engine-exact for exact-valued scores). ALL thresholds come
    * from ONE distribution aggregate + one conditional-min pass — the
    * corpus never sorts, the threshold table broadcasts.
    */
  def bucketAtQuantiles(df: DataFrame, groupCols: Seq[Column],
      value: Column, ps: Seq[Double],
      outCol: String = "bucket"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1) &&
      ps == ps.sorted && ps.distinct == ps,
      s"quantiles must be ascending distinct in (0,1), got $ps")
    val gNames = groupCols.zipWithIndex.map { case (_, i) => s"__gq_g$i" }
    val keyed = df.select(
      groupCols.zip(gNames).map { case (c, n) => c.as(n) } :+
        value.as("__gq_v"): _*)
    val dist = keyed.groupBy(gNames.map(col) :+ col("__gq_v"): _*)
      .agg(count(lit(1)).as("__gq_n"))
    val wCdf = Window.partitionBy(gNames.map(col): _*).orderBy(col("__gq_v"))
    val wTot = Window.partitionBy(gNames.map(col): _*)
    val thr = dist
      .withColumn("__gq_cum", sum(col("__gq_n")).over(wCdf))
      .withColumn("__gq_tot", sum(col("__gq_n")).over(wTot))
      .groupBy(gNames.map(col): _*)
      .agg(
        min(when(col("__gq_cum") >= lit(ps.head) * col("__gq_tot"),
          col("__gq_v"))).as("__gq_t0"),
        ps.tail.zipWithIndex.map { case (p, i) =>
          min(when(col("__gq_cum") >= lit(p) * col("__gq_tot"),
            col("__gq_v"))).as(s"__gq_t${i + 1}")
        }: _*)
    // hint kept: thr is priced at its input's size (else a sort-merge join)
    df.join(broadcast(thr),
        groupCols.zip(gNames).map { case (c, n) => c === thr(n) }
          .reduce(_ && _))
      .withColumn(outCol,
        ps.indices.map(i =>
          when(value >= col(s"__gq_t$i"), 1).otherwise(0))
          .reduce(_ + _))
      .drop(thr.columns: _*)
  }

  /** Winsorized (clamped-tail) group statistics — the robust mean a
    * metrics pipeline reports when a handful of outliers would
    * otherwise own the average: per group, every value is clamped into
    * [t_lo, t_hi] (the pLo / pHi type-1 quantile thresholds, same
    * lower-threshold tie rule as the rest of this module) and the
    * clamped mean is taken. `value` should be exact-typed (DECIMAL /
    * integer) — the clamped sum then reduces order-independently and
    * the mean is ONE final double division.
    *
    * Same shape as filterAtQuantile: thresholds come from ONE
    * distribution aggregate + CDF windows over DISTINCT values, the
    * per-group threshold table broadcasts back, and the clamped mean
    * is one partial→final aggregate. The corpus never sorts.
    */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String],
      value: Column, pLo: Double, pHi: Double): DataFrame = {
    require(pLo > 0 && pLo < pHi && pHi < 1,
      s"need 0 < pLo < pHi < 1, got ($pLo, $pHi)")
    val keyed = df.select(groupCols.map(col) :+ value.as("__v"): _*)
    val dist = keyed.groupBy(groupCols.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__n"))
    val wCdf = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v"))
    val wTot = Window.partitionBy(groupCols.map(col): _*)
    val thr = dist
      .withColumn("__cum", sum(col("__n")).over(wCdf))
      .withColumn("__tot", sum(col("__n")).over(wTot))
      .groupBy(groupCols.map(col): _*)
      .agg(
        min(when(col("__cum") >= lit(pLo) * col("__tot"), col("__v")))
          .as("__tlo"),
        min(when(col("__cum") >= lit(pHi) * col("__tot"), col("__v")))
          .as("__thi"))
    // hint kept: thr is priced at its input's size (else the fact side builds)
    keyed.join(broadcast(thr), groupCols)
      .select(groupCols.map(col) ++ Seq(col("__tlo"), col("__thi"),
        least(greatest(col("__v"), col("__tlo")), col("__thi"))
          .as("__w")): _*)
      .groupBy(groupCols.map(col) :+ col("__tlo") :+ col("__thi"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__w")).as("__s"))
      .select(groupCols.map(col) ++ Seq(col("n"),
        col("__tlo").cast("double").as("t_lo"),
        col("__thi").cast("double").as("t_hi"),
        (col("__s").cast("double") / col("n")).as("winsorized_mean")): _*)
  }

  /** Robust outlier audit per group: median + MAD (median absolute
    * deviation) via the SAME distribution-aggregate threshold walk —
    * the corpus never sorts — then an outlier count at `|x − med| >
    * k·MAD`. The robust twin of the z-score audit: one wild value
    * can't move the fence, so this is the readout to trust when the
    * data is the thing under suspicion.
    *
    * Both medians are lower/type-1 (smallest v with cum ≥ tot/2 — the
    * filterAtQuantile tie rule; integer inputs stay integers, no
    * two-middle averaging ambiguity). `value` must be exact integers
    * (quantize money to cents first). Two distribution aggregates +
    * two broadcast join-backs; the input is consumed three times, so
    * pin upstream if `value` is expensive — the NARROW projection,
    * not the corpus (the filterAtQuantile caveat).
    *
    * Output: `(groups…, n, median, mad, n_outliers)`.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String],
      value: Column, k: Long = 3L): DataFrame =
    madFromDistribution(
      df.select(groupCols.map(col) :+ value.as("__v"): _*)
        .groupBy(groupCols.map(col) :+ col("__v"): _*)
        .agg(count(lit(1)).as("__n")),
      groupCols, k)

  /** [[madOutliers]] over an ALREADY-aggregated (groups…, __v, __n)
    * value DISTRIBUTION — median, MAD, and the fence count are all
    * pure functions of the distribution, so the corpus is touched
    * exactly ONCE (the single distribution aggregate above) and the
    * three statistics fold over group-bounded frames. This is also
    * the streaming entry point: maintain the distribution as
    * aggregation state (bounded by the value grid — quantize money to
    * cents first) and fold the snapshot.
    */
  def madFromDistribution(dist: DataFrame, groupCols: Seq[String],
      k: Long = 3L): DataFrame = {
    require(k >= 1)
    val wCdf = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v"))
    val wTot = Window.partitionBy(groupCols.map(col): _*)
    def median(d: DataFrame, out: String): DataFrame = d
      .withColumn("__cum", sum(col("__n")).over(wCdf))
      .withColumn("__tot", sum(col("__n")).over(wTot))
      .groupBy(groupCols.map(col): _*)
      .agg(min(when(col("__cum") * 2 >= col("__tot"), col("__v"))).as(out))
    val med = median(dist, "median")
    // hint kept: med and mad are grouped aggregates, priced at dist's size
    val devDist = dist.join(broadcast(med), groupCols)
      .select(groupCols.map(col) :+
        abs(col("__v") - col("median")).as("__v") :+ col("__n"): _*)
      .groupBy(groupCols.map(col) :+ col("__v"): _*)
      .agg(sum(col("__n")).as("__n"))
    val mad = median(devDist, "mad")
    devDist.withColumnRenamed("__v", "__dev")
      // hint kept: mad, as med above
      .join(broadcast(mad), groupCols)
      .groupBy(groupCols.map(col) :+ col("mad"): _*)
      .agg(sum(col("__n")).as("n"),
        sum(when(col("__dev") > col("mad") * k, col("__n"))
          .otherwise(0L)).as("n_outliers"))
      // hint kept: med, as above
      .join(broadcast(med), groupCols)
      .select(groupCols.map(col) ++
        Seq(col("n"), col("median"), col("mad"), col("n_outliers")): _*)
  }
}
