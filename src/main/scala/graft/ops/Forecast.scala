package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forecast-baseline scoring for per-key daily series — the monitoring
  * primitive that tells a pipeline whether tomorrow's volume is
  * predictable from last week's (and therefore whether an alerting
  * threshold derived from seasonality is trustworthy).
  *
  * MASE (mean absolute scaled error) of the seasonal-naive forecast
  * `ŷ_d = y_{d-season}` against the naive forecast `ŷ_d = y_{d-1}`:
  *
  *   mase = (Σ|y_d − y_{d−s}| / n_s) / (Σ|y_d − y_{d−1}| / n_1)
  *
  * < 1e6 ppm means week-ago beats yesterday as a predictor — the
  * series is seasonal; ≥ 1e6 ppm means it is not.
  *
  * Scale shape: ONE partial-agg shuffle builds the (key, day) counts;
  * the dense day grid is a map-side `sequence` explode off a two-value
  * global aggregate (gap days must exist as zeros or the lag-7 pairs
  * silently skip them); the lag windows then run per key over
  * day-grain series — thousands of rows per key per decade, bounded by
  * retention, never by corpus size. All counts are BIGINTs; the final
  * score is ONE integral division (cross-multiplied means), so the
  * result is engine-exact with ~9.2e18 headroom (|err| sums are
  * bounded by total event count).
  */
object Forecast {

  /** Per-key MASE table: `(key, n_days, seasonal_abs_err,
    * naive_abs_err, mase_ppm)`. `mase_ppm` is null when the naive
    * denominator is zero (a constant series admits no scaling).
    */
  def seasonalNaiveMase(events: DataFrame, keyCol: String, tsCol: String,
      season: Int = 7): DataFrame =
    maseFromDaily(
      events.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("c")),
      keyCol, season)

  /** Dense (k, day, c) grid over the GLOBAL day span — gap days exist
    * as zeros, so lag-k pairs never silently skip them. The spine is
    * a map-side sequence off a two-value aggregate (Resample shape).
    */
  private[ops] def denseGrid(daily: DataFrame): DataFrame = {
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY")))
        .as("day"))
    daily.select(col("k")).distinct().crossJoin(spine)
      .join(daily, Seq("k", "day"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
  }

  /** The scoring fold over an ALREADY-aggregated (k, day, c) daily
    * frame — the entry point for continuously-maintained counts (the
    * streaming twin keeps day-grain counts as aggregation state, the
    * bestSplitFromDaily pattern).
    */
  def maseFromDaily(daily: DataFrame, keyOut: String,
      season: Int = 7): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    val grid = denseGrid(daily)
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
    val scored = grid
      .withColumn("c1", lag(col("c"), 1).over(w))
      .withColumn("cs", lag(col("c"), season).over(w))
    scored.groupBy(col("k").as(keyOut))
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("cs").isNotNull, abs(col("c") - col("cs"))))
          .as("seasonal_abs_err"),
        count(col("cs")).as("n_seasonal"),
        sum(when(col("c1").isNotNull, abs(col("c") - col("c1"))))
          .as("naive_abs_err"),
        count(col("c1")).as("n_naive"))
      .withColumn("mase_ppm",
        // decimal(38) multiply: err_sum · n · 1e6 overflows LONG once
        // the corpus passes ~9.2e6 events per day-count unit — the
        // Profiling/Gini bound, applied here; div returns BIGINT
        when(col("naive_abs_err") > 0 && col("n_seasonal") > 0,
          expr("(cast(seasonal_abs_err as decimal(38,0)) * n_naive " +
            "* 1000000) div (n_seasonal * naive_abs_err)")))
      .drop("n_seasonal", "n_naive")
  }

  /** EWMA volume monitor per key: a one-step-ahead exponentially-
    * weighted forecast band over the dense daily series — the classic
    * EWMA control chart (Roberts 1959), made ENGINE-EXACT by using
    * dyadic weights truncated at `lags`: the forecast for day d is
    *
    *   ewma(d) = Σ_{j=1..L} c_{d−j}·2^{L−j} / Σ_{j present} 2^{L−j}
    *
    * (weight halves per day of age; truncation at L=16 keeps every
    * term an exact integer — weight 2^{L−j} — instead of the
    * untruncated (1−α)^t power that no fixed-precision engine can
    * carry exactly). A day alarms HIGH when its count exceeds the
    * forecast by more than bandPpm (cross-multiplied in DECIMAL(38):
    * 10⁶·c·den > num·(10⁶+band)), LOW symmetrically.
    *
    * Scale shape: one day-grain partial-agg shuffle, then ONE window
    * pass per key (the L lag terms share a single sort) over the
    * calendar-bounded grid; per-key output row. The ±1 ppm
    * quantization of the reported level is definitional (one integral
    * division), not numerical.
    *
    * Output: (key, n_days, n_high, n_low, first_high_day,
    * first_low_day, ewma_next_x1e6) — ewma_next is the forecast for
    * the day AFTER the series ends (the serving number a threshold
    * would be set from).
    */
  def ewmaMonitor(events: DataFrame, keyCol: String, tsCol: String,
      lags: Int = 16, bandPpm: Long = 500000L): DataFrame =
    ewmaFromDaily(
      events.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("c")),
      keyCol, lags, bandPpm)

  /** The EWMA fold over an ALREADY-aggregated (k, day, c) daily frame
    * — the streaming-snapshot entry point (the maseFromDaily pattern).
    */
  def ewmaFromDaily(daily: DataFrame, keyOut: String, lags: Int = 16,
      bandPpm: Long = 500000L): DataFrame = {
    require(lags >= 1 && lags <= 62, s"lags must be in [1,62], got $lags")
    require(bandPpm > 0 && bandPpm < 1000000L,
      s"bandPpm must be in (0,1e6), got $bandPpm")
    val grid = denseGrid(daily)
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
    val num = (1 to lags)
      .map(j => coalesce(lag(col("c"), j).over(w), lit(0L)) *
        lit(1L << (lags - j)))
      .reduce(_ + _)
    val den = (1 to lags)
      .map(j => when(lag(col("c"), j).over(w).isNotNull,
        lit(1L << (lags - j))).otherwise(lit(0L)))
      .reduce(_ + _)
    // tomorrow's forecast includes the current day (lags 0..L-1) —
    // only consumed at the final grid day, but window functions share
    // the one per-key sort so the extra terms cost no extra pass
    val numNext = (1 to lags)
      .map(j => coalesce(lag(col("c"), j - 1).over(w), lit(0L)) *
        lit(1L << (lags - j)))
      .reduce(_ + _)
    val denNext = (1 to lags)
      .map(j => when(lag(col("c"), j - 1).over(w).isNotNull,
        lit(1L << (lags - j))).otherwise(lit(0L)))
      .reduce(_ + _)
    val wAll = Window.partitionBy(col("k"))
    val scored = grid
      .withColumn("__num", num)
      .withColumn("__den", den)
      .withColumn("__numn", numNext)
      .withColumn("__denn", denNext)
      .withColumn("__maxd", max(col("day")).over(wAll))
      // cross-multiplied band test in DECIMAL(38): c·den·1e6 vs
      // num·(1e6±band) — LONG would wrap past ~9.2e6 rows/day·2^L
      .withColumn("__hi", col("__den") > 0 &&
        expr("cast(c as decimal(38,0)) * __den * 1000000") >
          expr(s"cast(__num as decimal(38,0)) * ${1000000L + bandPpm}"))
      .withColumn("__lo", col("__den") > 0 &&
        expr("cast(c as decimal(38,0)) * __den * 1000000") <
          expr(s"cast(__num as decimal(38,0)) * ${1000000L - bandPpm}"))
    scored.groupBy(col("k").as(keyOut))
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("__hi"), 1L).otherwise(0L)).as("n_high"),
        sum(when(col("__lo"), 1L).otherwise(0L)).as("n_low"),
        date_format(min(when(col("__hi"), col("day"))), "yyyy-MM-dd")
          .as("first_high_day"),
        date_format(min(when(col("__lo"), col("day"))), "yyyy-MM-dd")
          .as("first_low_day"),
        min(when(col("day") === col("__maxd"), col("__numn"))).as("__numl"),
        min(when(col("day") === col("__maxd"), col("__denn"))).as("__denl"))
      .withColumn("ewma_next_x1e6",
        when(col("__denl") > 0,
          expr("(cast(__numl as decimal(38,0)) * 1000000) div __denl")
            .cast("long")))
      .drop("__numl", "__denl")
  }

  /** Day-of-week seasonal profile per key: for each weekday, the mean
    * daily volume relative to the overall mean, in exact ppm — WHAT
    * the weekly shape is, where MASE (above) answers whether the
    * shape is predictive. Cross-multiplied means keep it integer:
    *
    *   index_ppm(dow) = (10⁶ · Σ_dow c · n_all) div (Σ_all c · n_dow)
    *
    * over the DENSE grid (gap days count as zero-volume days in both
    * numerator and denominator — a sparse profile overstates quiet
    * weekdays). DECIMAL(38) carriers; one grid pass, |keys|·7 rows.
    */
  def dowProfile(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame =
    dowProfileFromDaily(
      events.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("c")),
      keyCol)

  /** The profile fold over an ALREADY-aggregated (k, day, c) daily
    * frame — the streaming-snapshot entry point.
    */
  def dowProfileFromDaily(daily: DataFrame, keyOut: String): DataFrame = {
    val grid = denseGrid(daily)
      // ISO weekday 1..7 (Monday = 1): Spark weekday() is 0=Monday,
      // DuckDB isodow() is 1=Monday — weekday+1 aligns them (Spark's
      // dayofweek() is 1=SUNDAY and DuckDB's is 0=Sunday: both wrong)
      .withColumn("__dow", expr("weekday(day) + 1"))
    val tot = grid.groupBy(col("k"))
      .agg(sum(col("c")).as("__tc"), count(lit(1)).as("__tn"))
    grid.groupBy(col("k"), col("__dow"))
      .agg(sum(col("c")).as("__dc"), count(lit(1)).as("__dn"))
      .join(tot, Seq("k"))
      .select(col("k").as(keyOut), col("__dow").as("dow"),
        col("__dn").as("n_days"), col("__dc").as("dow_events"),
        expr("(cast(__dc as decimal(38,0)) * __tn * 1000000) " +
          "div (__tc * __dn)").as("index_ppm"))
  }

  /** Theil–Sen trend per key over the dense daily series: the MEDIAN
    * of all pairwise day-count slopes — the robust level-trend
    * estimator (a breakdown point of ~29%: a burst of bot days can't
    * drag it the way it drags an OLS slope). Slopes are quantized to
    * ×10⁶ via one integral division per pair ((c₂−c₁)·10⁶ div Δdays —
    * the Changepoint replay rule), and the median is lower/type-1 over
    * that integer multiset, so the whole statistic is engine-exact.
    *
    * Scale shape: day-grain aggregate first; the pair self-join and
    * the rank window run per key over the CALENDAR-bounded dense
    * series (n_days² pairs per key — a decade of days is ~6.7M pairs,
    * a per-key constant independent of corpus size).
    *
    * Output: `(key, n_days, n_pairs, slope_x1e6)`.
    */
  def theilSenDailyTrend(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame =
    theilSenFromDaily(
      events.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("c")),
      keyCol)

  /** The slope fold over an ALREADY-aggregated (k, day, c) daily frame
    * — the streaming-snapshot entry point (the maseFromDaily pattern).
    */
  def theilSenFromDaily(daily: DataFrame, keyOut: String): DataFrame = {
    val keyCol = keyOut
    val grid = denseGrid(daily)
    val pairs = grid.select(col("k"), col("day").as("d1"), col("c").as("c1"))
      .join(grid.select(col("k"), col("day").as("d2"), col("c").as("c2")),
        Seq("k"))
      .where(col("d1") < col("d2"))
      .withColumn("slope_q",
        expr("(cast(c2 - c1 as decimal(38,0)) * 1000000) " +
          "div datediff(d2, d1)"))
    val w = Window.partitionBy(col("k"))
    val ranked = pairs
      .withColumn("__rn", row_number().over(
        w.orderBy(col("slope_q"), col("d1"), col("d2"))))
      .withColumn("__np", count(lit(1)).over(w))
    ranked.where(col("__rn") * 2 === col("__np") ||
        col("__rn") * 2 === col("__np") + 1) // lower median: ceil(np/2)
      .groupBy(col("k").as(keyCol))
      .agg(min(col("__np")).as("n_pairs"), min(col("slope_q")).as("slope_x1e6"))
      .join(grid.groupBy(col("k").as(keyCol))
        .agg(count(lit(1)).as("n_days")), Seq(keyCol))
      .select(col(keyCol), col("n_days"), col("n_pairs"), col("slope_x1e6"))
  }
}
