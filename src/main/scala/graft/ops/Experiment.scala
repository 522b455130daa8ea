package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A/B experiment readout: per metric group, Welch's two-sample z-test
  * between arms — the decision table every event-logged experiment
  * (and every data-mix ablation measured by an online metric) ends in.
  *
  * Determinism (the registry's exact-decimal rule): all MOMENTS (n,
  * Σx, Σx²) accumulate in exact DECIMAL — x is quantized to
  * DECIMAL(12,2) once, x² is the exact decimal product — so the
  * reduction is order-independent. The final means / variances / z are
  * then ONE fixed tree of IEEE double ops over those exact inputs;
  * any engine replaying the same tree bit-matches.
  *
  * Shape at scale: one partial→final hash aggregate over (group) with
  * both arms' moments as conditional sums — a single shuffle of
  * 6-column moment rows, no per-arm self-join, no window. 100 TB of
  * events reduce to |groups| rows before anything non-associative
  * happens.
  */
object Experiment {

  /** Two-sample z-test per `groupCol`. `armCol` must be 0 (control)
    * or 1 (treatment). Output: group, n_a, n_b, mean_a, mean_b, z —
    * z NULL when either arm has < 2 observations or both variances
    * are zero.
    */
  def twoSampleZ(df: DataFrame, groupCol: String, armCol: String,
      valCol: String): DataFrame = {
    val x = col(valCol).cast(DecimalType(12, 2))
    def arm(a: Int, c: Column): Column = when(col(armCol) === a, c)
    val agg = df.groupBy(col(groupCol)).agg(
      count(arm(0, lit(1))).as("n_a"),
      count(arm(1, lit(1))).as("n_b"),
      sum(arm(0, x)).as("s_a"),
      sum(arm(1, x)).as("s_b"),
      sum(arm(0, x * x)).as("ss_a"),
      sum(arm(1, x * x)).as("ss_b"))
    // Every division guards its divisor with nullif: under ANSI mode
    // (Spark 4 default) a degenerate group (empty arm, n = 1) would
    // otherwise FAIL THE JOB with DIVIDE_BY_ZERO — and codegen's
    // subexpression elimination can hoist se out of the when() that
    // textually guards it, so short-circuiting cannot be relied on.
    def mean(s: String, n: String): Column =
      col(s).cast("double") / nullif(col(n), lit(0L))
    // sample variance from exact moments: (Σx² − (Σx)²/n) / (n−1);
    // NULL (not an error) when n < 2
    def variance(ss: String, s: String, n: String): Column =
      (col(ss).cast("double") -
        col(s).cast("double") * col(s).cast("double") /
          nullif(col(n), lit(0L))) /
        nullif(col(n) - lit(1L), lit(0L))
    // Each variance clamped at 0: double rounding can push a
    // near-zero variance slightly negative, which would make se NaN —
    // and Spark sorts NaN ABOVE all numbers, so `NaN > 0.0` is TRUE
    // and z would emit NaN instead of the documented NULL. greatest()
    // also absorbs the n<2 NULL (greatest(NULL, 0.0) = 0.0); the
    // n_a/n_b >= 2 gate below still nulls z for those groups.
    val se = sqrt(
      greatest(variance("ss_a", "s_a", "n_a"), lit(0.0)) /
        nullif(col("n_a"), lit(0L)) +
      greatest(variance("ss_b", "s_b", "n_b"), lit(0.0)) /
        nullif(col("n_b"), lit(0L)))
    agg.select(col(groupCol), col("n_a"), col("n_b"),
      mean("s_a", "n_a").as("mean_a"),
      mean("s_b", "n_b").as("mean_b"),
      when(col("n_a") >= 2L && col("n_b") >= 2L && !isnan(se) && se > 0.0,
        (mean("s_a", "n_a") - mean("s_b", "n_b")) / se).as("z"))
  }

  /** Difference-in-differences: the panel-structure estimate
    * (post_T − pre_T) − (post_C − pre_C) that removes level AND
    * shared-trend confounds a raw arm comparison keeps — the readout
    * for rollouts that switch on at a known time instead of being
    * randomized per user.
    *
    * Determinism: the four cell means come from exact DECIMAL(12,2)
    * sums and BIGINT counts (one conditional aggregate — a single
    * partial→final shuffle of 8 moment columns); the estimate is ONE
    * fixed double tree over them. Output: one row with the four cell
    * means, the two deltas, and did = delta_t − delta_c.
    */
  def diffInDifferences(df: DataFrame, armCol: Column, postCol: Column,
      value: Column): DataFrame = {
    val v = value.cast(DecimalType(12, 2))
    def cell(arm: Int, post: Boolean, c: Column): Column =
      when(armCol === arm && (if (post) postCol else !postCol), c)
    val m = df.agg(
      sum(cell(1, post = false, v)).as("s_t0"),
      count(cell(1, post = false, lit(1))).as("n_t0"),
      sum(cell(1, post = true, v)).as("s_t1"),
      count(cell(1, post = true, lit(1))).as("n_t1"),
      sum(cell(0, post = false, v)).as("s_c0"),
      count(cell(0, post = false, lit(1))).as("n_c0"),
      sum(cell(0, post = true, v)).as("s_c1"),
      count(cell(0, post = true, lit(1))).as("n_c1"))
    def mean(s: String, n: String): Column =
      col(s).cast("double") / col(n).cast("double")
    m.select(
        mean("s_t0", "n_t0").as("mean_treat_pre"),
        mean("s_t1", "n_t1").as("mean_treat_post"),
        mean("s_c0", "n_c0").as("mean_ctrl_pre"),
        mean("s_c1", "n_c1").as("mean_ctrl_post"),
        col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"))
      .withColumn("delta_treat",
        col("mean_treat_post") - col("mean_treat_pre"))
      .withColumn("delta_ctrl",
        col("mean_ctrl_post") - col("mean_ctrl_pre"))
      .withColumn("did", col("delta_treat") - col("delta_ctrl"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): adjust each
    * unit's experiment metric by its PRE-period covariate,
    * y_adj = y − θ·(x − x̄), θ = cov(x,y)/var(x) — the standard trick
    * that shrinks experiment CIs using history instead of more
    * traffic. Emits θ and the variance-reduction ratio
    * var(y_adj)/var(y) = 1 − ρ² per arm-blind pool, plus per-arm
    * adjusted means (the numbers a readout actually compares).
    *
    * Determinism: all five moments (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact DECIMAL sums in ONE aggregate; θ and the ratios are a
    * fixed double tree. At 100 TB: one shuffle of moment rows, then
    * one broadcast of the 1-row θ frame back across the units for
    * the adjusted-mean pass (second aggregate, also one shuffle).
    */
  def cupedAdjust(df: DataFrame, unitMetric: Column, unitCovariate: Column,
      armCol: Column): DataFrame = {
    val y = unitMetric.cast(DecimalType(12, 2))
    val x = unitCovariate.cast(DecimalType(12, 2))
    val m = df.agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"),
      sum(y * y).as("syy"))
    val stats = m.select(col("n"),
      col("sx").cast("double").as("sx"),
      col("sy").cast("double").as("sy"),
      col("sxy").cast("double").as("sxy"),
      col("sxx").cast("double").as("sxx"),
      col("syy").cast("double").as("syy"))
      .withColumn("nD", col("n").cast("double"))
      .withColumn("cov_xy",
        col("sxy") / col("nD") - (col("sx") / col("nD")) * (col("sy") / col("nD")))
      .withColumn("var_x",
        col("sxx") / col("nD") - (col("sx") / col("nD")) * (col("sx") / col("nD")))
      .withColumn("var_y",
        col("syy") / col("nD") - (col("sy") / col("nD")) * (col("sy") / col("nD")))
      .withColumn("theta", col("cov_xy") / col("var_x"))
      .withColumn("var_ratio",
        lit(1.0) - (col("cov_xy") * col("cov_xy")) /
          (col("var_x") * col("var_y")))
      .withColumn("mean_x", col("sx") / col("nD"))
    val th = stats.select(col("theta"), col("mean_x"), col("var_ratio"))
    // adjusted mean from EXACT per-arm sums — never a row-wise double
    // sum (order-dependent): Σ(y−θ(x−x̄))/n = ȳ_arm − θ·(x̄_arm − x̄)
    df.select(armCol.as("arm"), y.as("__y"), x.as("__x"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_arm"),
        sum(col("__y")).as("__sy"), sum(col("__x")).as("__sx"))
      .crossJoin(th)
      .withColumn("mean_raw",
        col("__sy").cast("double") / col("n_arm").cast("double"))
      .withColumn("mean_adj",
        col("mean_raw") - col("theta") *
          (col("__sx").cast("double") / col("n_arm").cast("double") -
            col("mean_x")))
      .select(col("arm"), col("n_arm"), col("theta"), col("var_ratio"),
        col("mean_raw"), col("mean_adj"))
  }

  /** Pearson χ² contingency cells between two categorical columns:
    * per (a, b) cell the observed count, the independence-expected
    * count (row·col/grand) and the χ² contribution (o−e)²/e. Observed
    * counts and margins are exact BIGINTs; expected/contribution are
    * one fixed double tree over them. Σ contribution = the χ²
    * statistic at (|a|−1)(|b|−1) dof.
    *
    * Shape: one (a,b) aggregate collapses the corpus to the
    * contingency table; margins re-aggregate THAT table (never the
    * corpus) and join back broadcast.
    */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("observed"))
    val rowT = cells.groupBy(col(aCol)).agg(sum(col("observed")).as("__rt"))
    val colT = cells.groupBy(col(bCol)).agg(sum(col("observed")).as("__ct"))
    val grand = cells.agg(sum(col("observed")).as("__g"))
    val e = col("__rt").cast("double") * col("__ct") / col("__g")
    // hint kept: the margins are grouped aggregates, priced at df's size
    cells.join(broadcast(rowT), Seq(aCol))
      .join(broadcast(colT), Seq(bCol))
      .crossJoin(grand)
      .select(col(aCol), col(bCol), col("observed"),
        e.as("expected"),
        ((col("observed") - e) * (col("observed") - e) / e)
          .as("contribution"))
  }

  /** Cohen's kappa — chance-corrected agreement between two label
    * columns over an arbitrary shared domain (annotator vs annotator,
    * heuristic vs declared metadata, model vs gold). With n rows,
    * A = #(a = b) agreements, and marginal counts r_l (a = l),
    * c_l (b = l):
    *
    *   kappa = (A·n − Σ_l r_l·c_l) / (n² − Σ_l r_l·c_l)
    *
    * — the usual (p_o − p_e)/(1 − p_e) multiplied through by n², so
    * every term is an exact integer (DECIMAL(38,0) against overflow)
    * and kappa is ONE int/int division: cross-engine deterministic.
    * NULL when the denominator is zero (both raters constant — chance
    * agreement is 1 and kappa is undefined). NULL labels count as a
    * label value on their own side but never agree (SQL equality).
    *
    * Shape: one (a,b) aggregate collapses the corpus to the
    * contingency cells; marginals and the kappa fold re-aggregate THAT
    * |domain|²-bounded table — after the first shuffle nothing touches
    * the corpus again.
    */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val totals = cells.agg(
      sum(col("__o")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__o"))).as("__agree"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__r"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__c"))
    val pe = ra.join(cb, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__r").cast("decimal(19,0)") *
        col("__c").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
        .as("__pe"))
    val n38 = col("__n").cast("decimal(38,0)")
    totals.crossJoin(pe)
      .select(
        col("__n").as("n"),
        coalesce(col("__agree"), lit(0L)).as("n_agree"),
        when(n38 * n38 - col("__pe") =!= lit(0),
          (coalesce(col("__agree"), lit(0L)).cast("decimal(38,0)") * n38 -
            col("__pe")).cast("double") /
            (n38 * n38 - col("__pe")).cast("double"))
          .as("kappa"))
  }
}
