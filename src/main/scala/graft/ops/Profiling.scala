package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Column-level data profiling and snapshot-over-snapshot drift — the
  * DQ companion to SnapshotDiff (which diffs ROWS) and Expectations
  * (which gates CHECKS): per column, row/null/distinct counts, and the
  * version-to-version deltas that catch silent upstream schema decay
  * (a field going sparse, an enum collapsing, an id column suddenly
  * repeating) before it poisons a training run.
  *
  * Scale shape: one aggregate pass per snapshot — n_rows, per-column
  * non-null counts, and per-column exact distincts in a single agg
  * (Spark plans multi-distinct via Expand: ONE scan, one shuffle of
  * the expanded key stream; for very wide tables profile in column
  * batches). The long-format unpivot happens on the 1-row aggregate
  * output, not on data. Drift joins two |cols|-row profiles — free.
  */
object Profiling {

  /** Long-format profile: (col_name, n_rows, n_nulls, n_distinct) —
    * n_distinct counts distinct NON-NULL values, exact.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(col("__n"), explode(array(cols.map(c =>
        struct(lit(c).as("col_name"),
          (col("__n") - col(s"__nn_$c")).as("n_nulls"),
          col(s"__nd_$c").as("n_distinct"))): _*)).as("__p"))
      .select(col("__p.col_name").as("col_name"), col("__n").as("n_rows"),
        col("__p.n_nulls").as("n_nulls"),
        col("__p.n_distinct").as("n_distinct"))
  }

  /** Drift between two snapshots of one schema: per column, both
    * profiles side by side plus null_rate_delta (v2 − v1) and
    * distinct_ratio (v2/v1) — each ONE fixed IEEE double tree over
    * exact counts, cross-engine identical. distinct_ratio is NULL
    * when v1 had no distinct values.
    */
  def profileDrift(v1: DataFrame, v2: DataFrame,
      cols: Seq[String]): DataFrame = {
    val a = columnProfile(v1, cols)
      .select(col("col_name"), col("n_rows").as("n_rows_v1"),
        col("n_nulls").as("n_nulls_v1"),
        col("n_distinct").as("n_distinct_v1"))
    val b = columnProfile(v2, cols)
      .select(col("col_name"), col("n_rows").as("n_rows_v2"),
        col("n_nulls").as("n_nulls_v2"),
        col("n_distinct").as("n_distinct_v2"))
    a.join(b, Seq("col_name"))
      .withColumn("null_rate_delta",
        col("n_nulls_v2").cast("double") / nullif(col("n_rows_v2"), lit(0L)) -
          col("n_nulls_v1").cast("double") / nullif(col("n_rows_v1"), lit(0L)))
      .withColumn("distinct_ratio",
        col("n_distinct_v2").cast("double") /
          nullif(col("n_distinct_v1"), lit(0L)))
  }

  /** Key-distribution skew audit — the diagnostic you run BEFORE
    * choosing a partitioning/salting strategy for a join or groupBy on
    * `keyCol`: how many keys, how concentrated (exact Gini over key
    * frequencies, share of the heaviest key, share of the top decile
    * of keys). One row out.
    *
    * Exactness: with per-key counts c_i ranked ascending 1..n (ties
    * broken by key — the i·c_i sum is invariant to order within a tie
    * run), Gini = (2·Σ i·c_i − (n+1)·Σc) / (n·Σc). Every term is an
    * exact integer (DECIMAL(38,0) against overflow at the 100 TB
    * tier); each output share is ONE int/int division — cross-engine
    * deterministic. The rank is [[Ranking.globalRankLean]] — the
    * counts frame is |keys|-sized and this is a single rank-only pass,
    * exactly the lean variant's case (no materialization, literal
    * range bounds).
    *
    * Scale shape: one count shuffle on the key (map-side combined),
    * then everything downstream is |keys|-sized; the final aggregate
    * is one pass over the ranked counts frame.
    */
  def keySkewAudit(df: DataFrame, keyCol: String): DataFrame =
    keySkewAuditFromCounts(
      df.groupBy(col(keyCol).as("__key")).agg(count(lit(1)).as("__c")))

  /** The audit fold over an ALREADY-counTED (\_\_key, __c) frame — the
    * entry point for continuously-maintained counts (the streaming
    * twin keeps per-key counts as aggregation state and folds the
    * snapshot through this same code path).
    *
    * The counts frame is pinned (it is |keys|-sized — cheap) because
    * FIVE passes consume it: the lean rank's count/sample/bucket-count
    * jobs plus the totals and final folds. Unpinned, each pass would
    * recompute the corpus-sized count aggregation upstream — SkewProbe
    * measured 15.1 s vs 4.5 s at 50M events / 615k keys on exactly
    * that mistake.
    */
  def keySkewAuditFromCounts(counts0: DataFrame): DataFrame = {
    val counts = counts0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val ranked = Ranking.globalRankLean(counts,
      Seq(col("__c"), col("__key")), "__rk")
    val totals = ranked.agg(
      count(lit(1)).as("__n"),
      sum(col("__c")).as("__t"),
      max(col("__c")).as("__maxc"),
      sum(col("__rk").cast("decimal(19,0)") *
        col("__c").cast("decimal(19,0)")).as("__s1"))
    val dec = org.apache.spark.sql.functions.floor(
      (col("__n") + lit(9)) / lit(10.0)).cast("long")
    ranked.crossJoin(totals)
      .agg(
        max(col("__n")).as("__nk"),
        max(col("__t")).as("__tt"),
        max(col("__maxc")).as("__mx"),
        max(col("__s1")).as("__ss1"),
        sum(when(col("__rk") > col("__n") - dec, col("__c"))).as("__td"))
      .select(
        col("__nk").as("n_keys"),
        col("__tt").as("n_rows"),
        (col("__mx").cast("double") / col("__tt").cast("double"))
          .as("max_share"),
        (col("__td").cast("double") / col("__tt").cast("double"))
          .as("top_decile_share"),
        ((lit(2).cast("decimal(38,0)") * col("__ss1") -
          (col("__nk") + 1).cast("decimal(38,0)") *
            col("__tt").cast("decimal(38,0)")).cast("double") /
          (col("__nk").cast("decimal(38,0)") *
            col("__tt").cast("decimal(38,0)")).cast("double")).as("gini"))
  }

  /** Shuffle-strategy advisor for grouped aggregation: for each
    * candidate grouping key, measure the exact per-key mass profile
    * and emit the partitioning decision a router would make BEFORE
    * launching the job — the auto-tuning step that turns the skew
    * audit into action (`ops/Salting.saltedAgg` is the remedy it
    * prescribes).
    *
    * Rule (pure integer, engine-replayable): with target parallelism
    * P, a single key carrying more than 1/P of the rows caps scaling
    * at its one reducer, so
    *
    *   mass_share_ppm = max_freq · 10^6 div n_rows
    *   advice = 'salted_two_stage' if mass_share_ppm ≥ 10^6 div P
    *            else 'plain_hash'
    *   salt_factor = clamp(mass_share_ppm div (10^6 div P), 2, P)
    *
    * i.e. split the hottest key into enough salt buckets that its
    * residual per-bucket mass sinks back under the 1/P line.
    *
    * Scale: one count-aggregate per candidate (partial combine; the
    * shuffle carries distinct keys only) folded to a single stats row
    * — the advisor costs a fraction of the job it plans.
    */
  def aggKeyAdvice(df: DataFrame,
      candidates: Seq[(String, Column)], parallelism: Int): DataFrame = {
    require(candidates.nonEmpty)
    candidates.map { case (name, key) =>
      aggKeyAdviceFromCounts(
        df.groupBy(key.as("__k")).agg(count(lit(1)).as("__c")),
        name, parallelism)
    }.reduce(_ unionByName _)
  }

  /** The advice fold over an ALREADY-counted (__k, __c) frame — the
    * entry point for continuously-maintained counts (the streaming
    * twin keeps per-key counts as aggregation state, the same pattern
    * as keySkewAuditFromCounts).
    */
  def aggKeyAdviceFromCounts(counts: DataFrame, name: String,
      parallelism: Int): DataFrame = {
    require(parallelism >= 2)
    val thr = 1000000L / parallelism
    counts
      .agg(sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        max(col("__c")).as("max_freq"))
      .select(lit(name).as("group_key"), col("n_rows"),
        col("n_distinct"), col("max_freq"),
        // decimal(38) multiply: max_freq * 1e6 overflows LONG once a
        // single key exceeds ~9.2e12 rows — reachable at 100 TB (the
        // Gini fold's bound, applied here); div returns BIGINT
        expr("(cast(max_freq as decimal(38,0)) * 1000000) div n_rows")
          .as("mass_share_ppm"))
      .withColumn("advice",
        when(col("mass_share_ppm") >= thr, lit("salted_two_stage"))
          .otherwise(lit("plain_hash")))
      .withColumn("salt_factor",
        when(col("mass_share_ppm") >= thr,
          least(lit(parallelism.toLong),
            greatest(lit(2L), expr(s"mass_share_ppm div $thr"))))
          .otherwise(lit(1L)))
  }

  /** Two-sample Kolmogorov–Smirnov drift, EXACT, per group: the
    * classic "did this feature's distribution move between the
    * reference and current populations" test the drift family was
    * missing (profileDrift sees null/distinct decay, chi2 sees
    * categorical shifts, L1 token drift sees vocab mass — KS sees a
    * CONTINUOUS column's shape move).
    *
    * D = max over v of |F_a(v) − F_b(v)| is computed as a RATIONAL:
    * max |cumA(v)·N_b − cumB(v)·N_a| over the pooled distinct values,
    * divided once at the end — integer arithmetic throughout (the
    * l1_drift discipline: libm-free, engine-exact), so the DOUBLE is
    * the same IEEE value on any engine. `ks_num` ships alongside for
    * fully-integer downstream thresholds (reject at α: compare
    * ks_num² · (N_a+N_b) against c(α)² · N_a·N_b · (N_a+N_b) — still
    * integer).
    *
    * Scale shape: one count shuffle on (group, value, pop) — map-side
    * combined, distribution-sized output (distinct values per group,
    * NOT corpus rows; the GroupQuantile caveat applies — bucket
    * genuinely continuous doubles first, and [[guardKsDomain]] now
    * makes that contract BINDING: past `domainCap` pooled distinct
    * values the call throws and names [[ksDriftBucketed]] instead of
    * silently paying a corpus-sized window sort); then a window cumsum
    * and a max over that distribution frame. The overflow bound is the
    * l1_drift one: cum·N products need N_a·N_b < 2^63, i.e. both
    * populations under ~3e9 rows per group — past that, lift to
    * DECIMAL(38,0).
    *
    * Output: (group..., n_a, n_b, ks_num, ks) with
    * ks = ks_num / (n_a·n_b) ∈ [0, 1].
    */
  def ksDrift(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      popCol: Column, domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val counts = guardedDriftCounts(df, groupCols, valueCol, popCol,
      domainCap, "ksDrift")
    ksFromCounts(counts, groupCols)
  }

  /** Hard cap on pooled distinct (group, value) pairs a KS/rank-sum
    * fold will window over before [[guardKsDomain]] stops it. 2^20
    * distinct values is far past any bucketed/discretized feature and
    * a MEASURED ~3× over the fold's flat (scan-bound) floor — past it
    * the wall grows linearly in the domain as the single-task window
    * sort takes over, reaching 27× the floor at all-distinct on a
    * 20M-row group while ksDriftBucketed holds the floor on the same
    * input (KsDomainProbe (removed; see 7b19d2b); SCALE_NOTES "domain cap is now a
    * measured boundary").
    */
  val DefaultKsDomainCap: Long = 1L << 20

  /** The bounded-domain contract, ENFORCED (r14 verdict #4): the
    * KS/MWU window cumsum is distribution-sized only while the value
    * domain is bounded — a caller passing raw 64-bit doubles on a
    * 100 TB corpus would get a corpus-sized single-task sort per
    * group. The scaladoc warned; this probe makes the hazard binding
    * (the nearDupClusters convention: a measured cliff THROWS with
    * the remediation named, it does not degrade silently).
    *
    * Cost shape: one limit-bounded count over the counts aggregation.
    * The limit bounds what moves AFTER the shuffle (≤ cap + 1 rows);
    * the map-side scan + partial aggregation of the input does re-run
    * once for the probe — the price of firing BEFORE the window sort
    * executes, same trade windowDerivation makes. `cap <= 0` disables
    * the probe for deployments that have already bucketed
    * (ksDriftBucketed sets it, having bounded the domain by
    * construction) or that accept the window cost knowingly.
    */
  private[graft] def guardKsDomain(counts: DataFrame, cap: Long,
      caller: String): Unit = {
    if (cap > 0) {
      val probed =
        counts.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
      if (probed > cap)
        throw new IllegalStateException(
          s"[$caller] over $cap distinct (group, value) pairs — the " +
            "exact KS/rank-sum window is distribution-sized only " +
            "while the value domain is bounded; bucket the value " +
            "first (Profiling.ksDriftBucketed) or raise domainCap " +
            "if the window sort is a cost you accept")
    }
  }

  /** KS drift over an EQUAL-WIDTH-BUCKETED value — the scale path for
    * genuinely continuous domains (raw doubles, timestamps,
    * micro-priced amounts) where [[ksDrift]]'s exact per-value window
    * would stop at the domain guard. The value is coarsened to
    * `buckets` equal-width bins over the global [min, max] (one scalar
    * aggregate, driver-held), then the EXACT rational KS fold runs on
    * the bin ids: the result is the true KS statistic of the bucketed
    * distributions — a lower bound on the continuous D (coarsening can
    * only merge CDF evaluation points, never widen a gap) — with the
    * same engine-exact integer discipline, and state bounded by
    * `buckets` per group BY CONSTRUCTION, so the domain guard is
    * statically satisfied and disabled.
    *
    * Bin arithmetic is plain IEEE double ops (width = (max−min)/k;
    * id = min(k−1, ⌊(v−min)/width⌋)) so an oracle replays it
    * bit-identically; a degenerate max==min domain lands everything in
    * bin 0 (D = 0, the honest answer for a constant column).
    */
  def ksDriftBucketed(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, popCol: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets: $buckets")
    val vals = df.select(valueCol.cast("double").as("__raw"))
      .filter(col("__raw").isNotNull)
    val mm = vals.agg(min(col("__raw")), max(col("__raw"))).head()
    require(!mm.isNullAt(0), "ksDriftBucketed: no non-null values")
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val bucketed =
      if (mx == mn) lit(0L)
      else least(lit(buckets - 1L),
        floor((valueCol.cast("double") - lit(mn)) /
          lit((mx - mn) / buckets)))
    ksDrift(
      df.filter(valueCol.isNotNull)
        .withColumn("__bucket", bucketed),
      groupCols, col("__bucket"), popCol, domainCap = 0L)
  }

  /** The KS fold over a pre-built distribution frame (group...,
    * `__v`, `__na`, `__nb`) — split out so continuously-maintained
    * count state (the streaming twin) folds through the SAME code as
    * the batch scan.
    */
  def ksFromCounts(counts: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    counts
      .withColumn("__ca", sum(col("__na")).over(w))
      .withColumn("__cb", sum(col("__nb")).over(w))
      .withColumn("__ta", sum(col("__na")).over(wAll))
      .withColumn("__tb", sum(col("__nb")).over(wAll))
      .groupBy(g: _*)
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        max(abs(col("__ca") * col("__tb") - col("__cb") * col("__ta")))
          .as("ks_num"))
      .withColumn("ks",
        col("ks_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
  }

  /** Two-sample Cramér–von Mises per group, EXACT: the
    * integrated-square companion completing the drift-test triple —
    * KS sees the max CDF gap (sensitive to one sharp localized move),
    * MWU sees direction, CvM weighs EVERY gap (sensitive to diffuse
    * shifts spread across the whole distribution that never open one
    * large gap).
    *
    * With ties, the statistic over the pooled multiset is
    * ω² = (n_a·n_b / N²) · Σ_v m_v (F_a(v) − F_b(v))²  (N = n_a+n_b,
    * m_v = pooled multiplicity at v). Substituting the integer gap
    * D_v = ca_v·n_b − cb_v·n_a = n_a·n_b·(F_a − F_b):
    * cvm_num = Σ_v m_v·D_v² and ω² = cvm_num / (n_a·n_b·N²) — all
    * integers until one final division (the family discipline).
    *
    * Overflow bound — TIGHTER than the siblings' ~3e9: cvm_num is
    * worst-case N·(n_a·n_b)² (two fully separated populations hold the
    * max gap across the whole middle), which exceeds DECIMAL(38,0) past
    * ~3e7 rows per population; typical overlapping distributions carry
    * far smaller gaps and reach ~1e9. Past the decimal ceiling the
    * exact-integer discipline gives out — and it gives out LOUDLY:
    * decimal overflow throws under ANSI semantics rather than shipping
    * a wrapped statistic. Monitors at that scale should CvM a per-key
    * sample (the statistic's power saturates long before 1e9 rows)
    * rather than trade away engine-exactness.
    *
    * Same counts shuffle, window frame, null discipline, and binding
    * [[guardKsDomain]] contract as [[ksDrift]].
    */
  def cvmDrift(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      popCol: Column, domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val counts = guardedDriftCounts(df, groupCols, valueCol, popCol,
      domainCap, "cvmDrift")
    cvmFromCounts(counts, groupCols)
  }

  /** The CvM fold over a pre-built distribution frame (the
    * [[ksFromCounts]] pattern — split out so continuously-maintained
    * count state folds through the SAME code as the batch scan).
    */
  def cvmFromCounts(counts: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    counts
      .withColumn("__ca", sum(col("__na")).over(w))
      .withColumn("__cb", sum(col("__nb")).over(w))
      .withColumn("__ta", sum(col("__na")).over(wAll))
      .withColumn("__tb", sum(col("__nb")).over(wAll))
      // D_v as DECIMAL(38,0) BEFORE squaring — long² overflows at
      // ~3e9·3e9 gaps; decimal² is checked by the analyzer instead
      .withColumn("__d",
        (col("__ca") * col("__tb") - col("__cb") * col("__ta"))
          .cast("decimal(38,0)"))
      .groupBy(g: _*)
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        sum(expr(
          "cast((__na + __nb) as decimal(38,0)) * cast(__d * __d as decimal(38,0))"))
          .cast("decimal(38,0)").as("cvm_num"))
      .withColumn("cvm",
        col("cvm_num").cast("double") /
          (col("n_a").cast("decimal(38,0)") * col("n_b") *
            (col("n_a") + col("n_b")) * (col("n_a") + col("n_b")))
            .cast("double"))
  }

  /** Shared (group, value) × population count builder for the drift
    * family: null-filtered (no CDF position, engine-divergent sort
    * placement), map-side combined, distribution-sized output.
    */
  private def driftCounts(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, popCol: Column): DataFrame = {
    val g = groupCols.map(col)
    df.select(g :+ valueCol.as("__v") :+ popCol.as("__p"): _*)
      .filter(col("__v").isNotNull)
      .groupBy(g :+ col("__v"): _*)
      .agg(
        sum(when(col("__p"), 1L).otherwise(0L)).as("__na"),
        sum(when(col("__p"), 0L).otherwise(1L)).as("__nb"))
  }

  /** r16: [[driftCounts]] + the domain guard over ONE materialization.
    * The guard used to probe the raw counts PLAN, re-running the input
    * scan + partial aggregation once per query (the documented price of
    * firing before the window sort — measured ~40% of each exact-drift
    * query at sf0.1); pinning the counts frame first keeps the fire-
    * before-the-hazard contract (the window still has not run) while
    * the guard's bounded count and the fold both read the pin. In the
    * VIOLATING case both shapes materialize one distribution-sized
    * frame before the throw — nothing new moves. With the guard
    * disabled (cap <= 0: ksDriftBucketed, domain bounded by
    * construction) there is no probe and therefore no double
    * execution — the un-pinned single-pass pipeline is kept.
    */
  private def guardedDriftCounts(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, popCol: Column, cap: Long,
      caller: String): DataFrame =
    if (cap > 0) {
      val counts = Pin(driftCounts(df, groupCols, valueCol, popCol))
      guardKsDomain(counts, cap, caller)
      counts
    } else driftCounts(df, groupCols, valueCol, popCol)

  /** Exact 1-D Wasserstein-1 (earth mover's) drift per group over an
    * INTEGER-SCALED value: the "HOW FAR did the distribution move"
    * member — KS gives the max CDF gap (unitless), W1 gives the area
    * between the CDFs, i.e. the average transport distance in the
    * value's own units, which is what a cost/latency/price monitor
    * actually wants to alarm on.
    *
    * W1 = ∫|F_a − F_b| dv = Σ_v (v⁺ − v)·|F_a(v) − F_b(v)| over the
    * pooled distinct values (v⁺ = next value; the CDFs are step
    * functions so the integral is exact). With the integer gap
    * D_v = ca·n_b − cb·n_a: w1_num = Σ (v⁺ − v)·|D_v| and
    * w1 = w1_num / (scale · n_a·n_b) — all integers until one final
    * division, provided the caller ships the value pre-scaled to
    * integers (a 2-decimal amount × 100) and passes the same `scale`.
    * The caller owns the scaling because ONLY the caller knows the
    * decimal width; scaling inside double arithmetic would re-open the
    * engine-exactness hole the family exists to close.
    *
    * Same counts shuffle, window frame, null discipline and binding
    * [[guardKsDomain]] contract as the siblings; products stay within
    * LONG for value spans × populations under ~2^63 and lift through
    * DECIMAL(38,0) in the sum.
    */
  def wassersteinDrift(df: DataFrame, groupCols: Seq[String],
      intValueCol: Column, popCol: Column, scale: Long = 1L,
      domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val counts = guardedDriftCounts(df, groupCols, intValueCol, popCol,
      domainCap, "wassersteinDrift")
    wassersteinFromCounts(counts, groupCols, scale)
  }

  /** The W1 fold over a pre-built distribution frame (the
    * [[ksFromCounts]] pattern, for the streaming twin).
    */
  def wassersteinFromCounts(counts: DataFrame, groupCols: Seq[String],
      scale: Long = 1L): DataFrame = {
    require(scale >= 1, s"scale: $scale")
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    counts
      .withColumn("__ca", sum(col("__na")).over(w))
      .withColumn("__cb", sum(col("__nb")).over(w))
      .withColumn("__ta", sum(col("__na")).over(wAll))
      .withColumn("__tb", sum(col("__nb")).over(wAll))
      .withColumn("__vnext", lead(col("__v"), 1).over(w))
      // the last value contributes zero width (both CDFs are 1 past
      // it) — keep the row rather than filter so a single-valued group
      // still emits its honest W1 = 0 instead of vanishing
      .withColumn("__seg",
        when(col("__vnext").isNotNull,
          ((col("__vnext") - col("__v")).cast("decimal(38,0)") *
            abs(col("__ca") * col("__tb") - col("__cb") * col("__ta"))
              .cast("decimal(38,0)")).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
      .groupBy(g: _*)
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        sum(col("__seg")).cast("decimal(38,0)").as("w1_num"))
      .withColumn("w1",
        col("w1_num").cast("double") /
          (lit(scale).cast("decimal(38,0)") * col("n_a") * col("n_b"))
            .cast("double"))
  }

  /** Mann–Whitney U (rank-sum) per group, EXACT with midrank tie
    * handling: the nonparametric "is population A stochastically
    * larger" companion to [[ksDrift]] (KS answers "did the shape
    * move"; U answers "in which direction"). All integers: midranks
    * double to stay integral (rank2 = first+last rank), so
    * u2_a = 2·U_a exactly; auc_ab = U_a / (n_a·n_b) = P(A > B) +
    * P(A = B)/2 — the common-language effect size — is one final
    * division of exact integers.
    *
    * Same distribution-sized scale shape and ~3e9-rows-per-group
    * overflow bound as [[ksDrift]] (rank sums reach N², lifted
    * through DECIMAL(38,0) in the fold).
    */
  def mannWhitneyU(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, popCol: Column,
      domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val counts = guardedDriftCounts(df, groupCols, valueCol, popCol,
      domainCap, "mannWhitneyU")
    mwuFromCounts(counts, groupCols)
  }

  /** The rank-sum fold over a pre-built distribution frame (the
    * [[ksFromCounts]] pattern, for the streaming twin).
    */
  def mwuFromCounts(rawCounts: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val counts = rawCounts
      .withColumn("__n", col("__na") + col("__nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
    counts
      .withColumn("__cum", sum(col("__n")).over(w))
      // 2×midrank of a tie block = first + last = 2·cum − n + 1
      .withColumn("__rank2", lit(2L) * col("__cum") - col("__n") + 1L)
      .groupBy(g: _*)
      .agg(
        sum(col("__na")).as("n_a"),
        sum(col("__nb")).as("n_b"),
        sum(expr(
          "cast(cast(__na as decimal(38,0)) * __rank2 as decimal(38,0))"))
          .as("__rs2a"))
      // 2·U_a = 2·R_a − n_a(n_a+1); DECIMAL(38,0) carries the N² term
      .withColumn("u2_a",
        (col("__rs2a") - col("n_a").cast("decimal(38,0)") *
          (col("n_a") + 1L)).cast("decimal(38,0)"))
      .withColumn("auc_ab",
        col("u2_a").cast("double") /
          (lit(2.0) * (col("n_a") * col("n_b")).cast("double")))
      .select(g :+ col("n_a") :+ col("n_b") :+
        col("u2_a").cast("long").as("u2_a") :+ col("auc_ab"): _*)
  }

  /** Rolling-reference KS drift TIME SERIES — the shape a deployed
    * monitor actually charts. [[ksDrift]] answers "did the
    * distribution move across ONE fixed split"; a monitor wants D per
    * evaluation day, each day comparing its trailing `curDays`-day
    * current window against the `refDays`-day reference window
    * immediately before it: for eval day e, reference =
    * [e − (refDays+curDays) + 1, e − curDays], current =
    * [e − curDays + 1, e]. Only days with FULLY populated windows
    * (e ≥ min_day + refDays + curDays − 1) are emitted — a partially
    * filled reference would alarm on window-fill, not drift.
    *
    * Mechanics: per-(group, day, value) counts (one map-side-combined
    * shuffle, distribution × active-days sized), a compact
    * eval-day frame joined by a day-range predicate (BroadcastNested-
    * Loop on a ~days-sized build side — the right plan for a tiny
    * theta join; each counts row lands in at most refDays+curDays
    * eval windows, so the expansion is bounded by the window span,
    * never the corpus), then the UNCHANGED exact-rational
    * [[ksFromCounts]] fold per (group, eval_day). The binding
    * [[guardKsDomain]] contract applies to the post-join frame
    * (domain × window-span rows per group).
    *
    * Output: (group..., eval_day, n_a, n_b, ks_num, ks), one row per
    * group × fully-windowed day — the chart a monitor renders, exact
    * on every point.
    */
  def ksDriftTimeseries(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, dayCol: Column, refDays: Int = 7,
      curDays: Int = 7,
      domainCap: Long = DefaultKsDomainCap): DataFrame = {
    require(refDays >= 1 && curDays >= 1, s"$refDays/$curDays")
    val span = refDays + curDays
    val g = groupCols.map(col)
    val dayCounts = df
      .select(g :+ valueCol.as("__v") :+ dayCol.as("__day"): _*)
      .filter(col("__v").isNotNull && col("__day").isNotNull)
      .groupBy(g :+ col("__v") :+ col("__day"): _*)
      .agg(count(lit(1)).as("__n"))
    // r15: the min-day scalar rides the PLAN (broadcast 1-row cross
    // join — the repo's 1-row-side pattern) instead of a driver-side
    // head(): the old form paid a full extra scan of `df` plus a
    // driver barrier before the real query could even be submitted
    val minDay = df.select(dayCol.as("__day"))
      .filter(col("__day").isNotNull)
      .agg(min(col("__day")).as("__mind"))
    val evalDays = df.select(dayCol.as("eval_day")).distinct()
      .crossJoin(minDay)
      .filter(col("eval_day") >= date_add(col("__mind"), span - 1))
      .select(col("eval_day"))
    ksTimeseriesFold(dayCounts, evalDays, groupCols, refDays, curDays,
      domainCap)
  }

  /** The time-series fold over a pre-built per-day distribution frame
    * (group..., `__v`, `__day`, `__n`) and an eval-day frame — the
    * [[ksFromCounts]] split, so the streaming twin's continuously
    * maintained day-windowed count state folds through the SAME
    * join + fold code as the batch scan.
    */
  def ksTimeseriesFold(dayCounts: DataFrame, evalDays: DataFrame,
      groupCols: Seq[String], refDays: Int, curDays: Int,
      domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val span = refDays + curDays
    val g = groupCols.map(col)
    // hint kept: evalDays is priced above dayCounts (else dayCounts builds)
    val joined = dayCounts.join(broadcast(evalDays),
      col("__day").between(date_sub(col("eval_day"), span - 1),
        col("eval_day")))
    // r16: pinned when guarded (the guardedDriftCounts rule) — the
    // guard probe otherwise re-runs the day-count scan + window join
    // once per query
    val countsPlan = joined
      .groupBy(g :+ col("eval_day") :+ col("__v"): _*)
      .agg(
        sum(when(col("__day") <= date_sub(col("eval_day"), curDays),
          col("__n")).otherwise(0L)).as("__na"),
        sum(when(col("__day") <= date_sub(col("eval_day"), curDays),
          lit(0L)).otherwise(col("__n"))).as("__nb"))
    val counts =
      if (domainCap > 0) Pin(countsPlan) else countsPlan
    guardKsDomain(counts, domainCap, "ksDriftTimeseries")
    // an empty reference or current window has no verdict (and its
    // 0/0 division is engine-divergent: Spark NaN, DuckDB NULL) —
    // a monitor emits nothing for that (group, day) rather than a
    // number that means "the window was empty"
    ksFromCounts(counts, groupCols :+ "eval_day")
      .filter(col("n_a") > 0 && col("n_b") > 0)
  }

  /** The KS REJECTION DECISION as exact integer arithmetic — the
    * promise the [[ksDrift]] scaladoc has carried since r14 ("compare
    * ks_num² against c²·n_a·n_b·N — still integer"), delivered.
    * Large-sample two-sample KS rejects at level α when
    * D > c(α)·√(N/(n_a·n_b)) with c(α) = √(ln(2/α)/2); squaring and
    * substituting D = ks_num/(n_a·n_b) gives the integer form
    *
    *   alarm ⇔ ks_num² · c2Den > c2Num · n_a·n_b·(n_a+n_b)
    *
    * where c² = c2Num/c2Den is the DECLARED rational critical
    * constant (default 36889/20000 = 1.84445 ≈ ln(40)/2 for
    * α = 0.05 — the constant is a published table value, the DECISION
    * given the constant is exact: no sqrt, no ln, no float compare
    * that two engines could round apart on a borderline day).
    *
    * Overflow: ks_num² reaches (n_a·n_b)² and then multiplies by
    * c2Den — DECIMAL(38,0) holds it for populations up to ~2.6e8 rows
    * per side (tighter than the fold's ~3e9; ANSI overflow throws
    * loudly). Monitors past that scale should alarm on a per-key
    * sample — the test's power saturates far earlier anyway.
    */
  def withKsAlarm(ks: DataFrame, c2Num: Long = 36889L,
      c2Den: Long = 20000L): DataFrame = {
    require(c2Num > 0 && c2Den > 0, s"$c2Num/$c2Den")
    ks.withColumn("alarm",
      col("ks_num").cast("decimal(38,0)") * col("ks_num") * c2Den >
        lit(c2Num).cast("decimal(38,0)") * col("n_a") * col("n_b") *
          (col("n_a") + col("n_b")))
  }

  /** Total variation distance per group over a CATEGORICAL column,
    * EXACT: the drift family's missing categorical DISTANCE. chi2
    * answers "is the composition shift statistically surprising"
    * (scale-dependent: at 100 TB everything is significant); TVD
    * answers "HOW MUCH of the probability mass moved" —
    * TVD = ½·Σ_c |p_a(c) − p_b(c)| ∈ [0, 1] is the fraction of rows
    * that would have to change category to equalize the mixes, the
    * number a composition monitor actually thresholds on (and, unlike
    * PSI, log-free — so the family's engine-exact integer discipline
    * holds: tvd_num = Σ_c |cnt_a(c)·n_b − cnt_b(c)·n_a|, one final
    * division by 2·n_a·n_b).
    *
    * A category present in only one population contributes its full
    * mass (cnt·n_other) — no smoothing constant to pick, another
    * advantage over PSI whose log blows up on empty cells.
    *
    * Scale shape: the shared [[driftCounts]] shuffle, then a
    * PARTITION-ONLY window (no ORDER BY — TVD needs totals, not
    * cumulatives, so there is no sort) and one final aggregate.
    * Categorical domains are small by nature but nothing stops a
    * caller passing an id column, so the binding [[guardKsDomain]]
    * contract applies unchanged. Overflow: each |term| ≤ 2·n_a·n_b,
    * and the SUM lifts through DECIMAL(38,0), so the ~3e9
    * rows-per-group family bound holds.
    *
    * Output: (group..., n_a, n_b, tvd) with tvd ∈ [0, 1].
    */
  def tvdDrift(df: DataFrame, groupCols: Seq[String], catCol: Column,
      popCol: Column, domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val counts = guardedDriftCounts(df, groupCols, catCol, popCol,
      domainCap, "tvdDrift")
    tvdFromCounts(counts, groupCols)
  }

  /** The TVD fold over a pre-built distribution frame (the
    * [[ksFromCounts]] pattern, for the streaming twin).
    */
  def tvdFromCounts(counts: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    counts
      .withColumn("__ta", sum(col("__na")).over(wAll))
      .withColumn("__tb", sum(col("__nb")).over(wAll))
      .groupBy(g: _*)
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        sum(abs(col("__na") * col("__tb") - col("__nb") * col("__ta"))
          .cast("decimal(38,0)")).cast("decimal(38,0)").as("__tvd_num"))
      .withColumn("tvd",
        col("__tvd_num").cast("double") /
          (lit(2).cast("decimal(38,0)") * col("n_a") * col("n_b"))
            .cast("double"))
      .select(g :+ col("n_a") :+ col("n_b") :+ col("tvd"): _*)
  }

  /** Kuiper V per group, EXACT: the two-tail / CYCLIC companion to
    * [[ksDrift]]. KS takes max |F_a − F_b| — one signed excursion; a
    * shift that moves mass INTO one tail and OUT of the other (or any
    * drift on a circular domain like hour-of-day, where "midnight" is
    * an arbitrary cut) splits its evidence into a positive and a
    * negative excursion and KS keeps only the larger. Kuiper keeps
    * both: V = D⁺ + D⁻ with D⁺ = max_v (F_a − F_b) and
    * D⁻ = max_v (F_b − F_a) — on a circular domain V is invariant to
    * where the cycle is cut, which no relabeling trick buys KS.
    *
    * Integer discipline: the signed gap D_v = ca·n_b − cb·n_a is the
    * family's rational CDF gap ×(n_a·n_b); both maxima are ≥ 0 because
    * the last pooled value always closes the gap to exactly 0 (both
    * CDFs reach 1), so dplus_num = max(D_v), dminus_num = max(−D_v),
    * kuiper_num = dplus_num + dminus_num, one final division. Overflow:
    * kuiper_num ≤ 2·n_a·n_b — LONG-safe for populations under ~2.1e9
    * rows per group (half the siblings' bound, the price of the sum).
    *
    * Same counts shuffle, window frame, null discipline and binding
    * [[guardKsDomain]] contract as [[ksDrift]].
    *
    * Output: (group..., n_a, n_b, dplus_num, dminus_num, kuiper_num,
    * kuiper) with kuiper = V ∈ [0, 1], same band as KS and V ≥ D
    * always: CDF monotonicity caps the sum (a D⁺ excursion of d₁ at
    * v₁ and a D⁻ of d₂ at v₂ > v₁ force G(v₂) ≥ d₁ + d₂, so
    * d₁ + d₂ ≤ 1; the mirrored order bounds F the same way), with
    * V = 1 attained exactly by disjoint supports.
    */
  def kuiperDrift(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, popCol: Column,
      domainCap: Long = DefaultKsDomainCap): DataFrame = {
    val counts = guardedDriftCounts(df, groupCols, valueCol, popCol,
      domainCap, "kuiperDrift")
    kuiperFromCounts(counts, groupCols)
  }

  /** The Kuiper fold over a pre-built distribution frame (the
    * [[ksFromCounts]] pattern, for the streaming twin).
    */
  def kuiperFromCounts(counts: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    counts
      .withColumn("__ca", sum(col("__na")).over(w))
      .withColumn("__cb", sum(col("__nb")).over(w))
      .withColumn("__ta", sum(col("__na")).over(wAll))
      .withColumn("__tb", sum(col("__nb")).over(wAll))
      .withColumn("__d", col("__ca") * col("__tb") - col("__cb") * col("__ta"))
      .groupBy(g: _*)
      .agg(
        max(col("__ta")).as("n_a"),
        max(col("__tb")).as("n_b"),
        max(col("__d")).as("dplus_num"),
        max(-col("__d")).as("dminus_num"))
      .withColumn("kuiper_num", col("dplus_num") + col("dminus_num"))
      .withColumn("kuiper",
        col("kuiper_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
  }
}
