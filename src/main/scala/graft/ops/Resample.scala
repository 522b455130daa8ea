package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Time-series regularization — resample irregular observations onto a
  * fixed-step grid with forward-fill, the transform that turns event
  * streams into the aligned per-entity series every downstream
  * analysis (feature windows, anomaly scoring, per-entity drift)
  * assumes. Three steps, all relational:
  *
  *  1. BUCKET: floor each observation's epoch-micros to the step;
  *     keep the LATEST observation per (key, bucket) — deterministic
  *     via (ts, tiebreaker id) ordering, never "some value".
  *  2. GRID: per key, explode `sequence(min_bucket, max_bucket, step)`
  *     — a map-side generator off a two-long aggregate, so the dense
  *     grid never crosses a shuffle unmaterialized.
  *  3. FILL: left-join observations onto the grid and forward-fill
  *     with `last(ignoreNulls)` over (key, bucket) — the as-of-carry
  *     window AsOfJoin already uses.
  *
  * Buckets stay epoch-micros BIGINTs end to end (no timestamp
  * rendering ambiguity across engines). Per-key series length is
  * (span/step); one key with a year of seconds is a wide partition —
  * pick the step for the retention window, or sub-split hot keys.
  */
object Resample {

  /** Regularize to (keyCol, bucket_us, v_obs, v_ffill): one row per
    * key per step between that key's first and last observation.
    * v_obs is the latest observation in the bucket (null for gaps);
    * v_ffill carries the last non-null value forward. `idCol` breaks
    * equal-timestamp ties.
    */
  def resampleFfill(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valCol: String, stepUs: Long): DataFrame = {
    require(stepUs > 0)
    val obs = df.select(col(keyCol).as("k"),
      unix_micros(col(tsCol)).as("ts_us"), col(idCol).as("tie"),
      col(valCol).as("v"))
      .withColumn("bucket_us", expr(s"ts_us div ${stepUs}L * ${stepUs}L"))
    val latest = obs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k"), col("bucket_us"))
          .orderBy(col("ts_us").desc, col("tie").desc)))
      .where(col("rn") === 1)
      .select(col("k"), col("bucket_us"), col("v"))
    val grid = obs.groupBy(col("k"))
      .agg(min(col("bucket_us")).as("lo"), max(col("bucket_us")).as("hi"))
      .select(col("k"),
        explode(sequence(col("lo"), col("hi"), lit(stepUs))).as("bucket_us"))
    val ffill = last(col("v"), ignoreNulls = true).over(
      Window.partitionBy(col("k")).orderBy(col("bucket_us"))
        .rowsBetween(Window.unboundedPreceding, 0))
    // r15 (guide §2.5): pin the per-key exchange — the grid frame is
    // byte-tiny, so AQE coalesced the ffill window (and the anomaly
    // window downstream, which reuses this partitioning) into ONE
    // task: 3.3 s of q_series_anomaly's 4.6 s wall ran serially. A
    // user-pinned repartition is not coalescable — but at EXACTLY the
    // planner's width on the same key the optimizer deletes it as
    // redundant against the upstream agg exchange (measured: the pin
    // vanished from the plan and the coalesce returned), so pin at 2×
    // the planner width: never redundant, still hash-clustered by k
    // for both windows, and a width a cluster would tolerate on a
    // per-row-heavy window stage anyway.
    grid.join(latest, Seq("k", "bucket_us"), "left")
      .repartition(
        2 * df.sparkSession.sessionState.conf.numShufflePartitions,
        col("k"))
      .select(col("k").as(keyCol), col("bucket_us"),
        col("v").as("v_obs"), ffill.as("v_ffill"))
  }

  /** Rolling-window distinct actors (the WAU/rolling-reach metric):
    * for every calendar day, how many distinct `actorCol` values were
    * active in the trailing `windowDays` window, per key.
    *
    * Distinct does NOT partial-aggregate across sliding windows (a
    * user active twice in a window must count once), so the standard
    * shapes fail: a per-day distinct can't be summed, and a window
    * function over users would re-sort the corpus per day. Instead:
    * collapse to the DISTINCT (key, day, actor) frame once (one
    * shuffle, the only corpus-sized step), then each active-day row
    * COVERS the `windowDays` window-ending days it contributes to —
    * a map-side sequence explode (×w blowup of the collapsed frame,
    * the documented trade) — and one count-distinct per (key, day)
    * finishes. Days with no active window are emitted as 0 off the
    * dense spine (gap days must exist — a reach metric that skips
    * silent days overstates reach).
    *
    * Output: (key, day, distinct_actors) over the global day span.
    */
  def rollingDistinct(df: DataFrame, keyCol: String, tsCol: String,
      actorCol: String, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366)
    val ud = Pin(df.select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"),
        col(actorCol).as("u")).distinct()) // feeds bounds, keys, and the explode
    val bounds = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY")))
        .as("day"))
    val counts = ud
      .select(col("k"),
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1)))
          .as("day"), col("u"))
      .groupBy(col("k"), col("day"))
      .agg(countDistinct(col("u")).as("__du"))
    ud.select(col("k")).distinct().crossJoin(spine)
      .join(counts, Seq("k", "day"), "left")
      .select(col("k").as(keyCol), col("day"),
        coalesce(col("__du"), lit(0L)).as("distinct_actors"))
  }

  /** Windowed z-score anomaly flags over a regular per-key series —
    * entirely in INTEGER arithmetic so the flags are engine-exact:
    * values quantize to 1e-4 units (the vector-score trick), and the
    * z-test |v−μ| > z·σ is evaluated cross-multiplied as
    *
    *   (n·v − S)² > z² · (n·Q − S²)
    *
    * with S = Σv, Q = Σv² over the trailing `window` rows — no
    * division, no sqrt, no float accumulation anywhere. Warm-up rows
    * (fewer than `window` trailing points) are never flagged. Expects
    * resampleFfill's output shape; flags on v_ffill so gaps test
    * against the carried value. Magnitude headroom: |v_q| ≤ ~10⁹
    * keeps every term under 2⁶² for z ≤ 3, window ≤ 10⁴.
    *
    * Detectability bound: a lone outlier inside its own trailing
    * window tops out at z = (n−1)/√n (the point lifts the window's
    * mean and variance itself), so pick z < (window−1)/√window or the
    * flag can NEVER fire — z = 3 needs window ≥ 11; at window = 10,
    * z = 3 lands exactly on equality (hand-verified) and the strict
    * inequality stays false.
    *
    * Output: (keyCol, bucket_us, v_ffill, n_win, anomaly).
    */
  def anomalyFlags(series: DataFrame, keyCol: String, window: Int,
      z: Long = 3L): DataFrame = {
    require(window >= 2 && z >= 1)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket_us"))
      .rowsBetween(-(window - 1), 0)
    val q = round(col("v_ffill") * 10000).cast("long")
    series
      .withColumn("__q", q)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("__q")).over(w))
      .withColumn("__qq", sum(col("__q") * col("__q")).over(w))
      .select(col(keyCol), col("bucket_us"), col("v_ffill"),
        col("__n").as("n_win"),
        (col("__n") === window &&
          (col("__n") * col("__q") - col("__s")) *
            (col("__n") * col("__q") - col("__s")) >
            lit(z * z) *
              (col("__n") * col("__qq") - col("__s") * col("__s")))
          .as("anomaly"))
  }

  /** Exact trailing-window quantile per key per day — the robust
    * rolling statistic (median and friends) that mean-based windows
    * can't give you. The quantile is the rational num/den (type-1 /
    * lower: the smallest value whose cumulative count reaches
    * ⌈n·num/den⌉, compared as cum·den ≥ tot·num in exact integers), so
    * the whole computation is engine-exact for exact-valued inputs.
    *
    * Shape at scale (the hllRollingEstimate pattern): the corpus is
    * scanned ONCE into per-(key, day, value) distribution counts; the
    * trailing-window merge then runs on that distribution-sized frame
    * via a broadcast day-spine range join and re-aggregation — raw
    * rows never multiply by the window width. The CDF windows run per
    * (key, window-day) over distinct values only. Anchor days are the
    * days observed anywhere in the input (each key reports on every
    * spine day its trailing window touches).
    *
    * `dayCol` must be an integral day bucket (e.g.
    * `unix_micros(ts) div 86 400 000 000`) — integer day arithmetic
    * keeps the spine join and the oracle trivially aligned.
    */
  def rollingQuantile(df: DataFrame, keyCols: Seq[String],
      dayCol: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, windowDays: Int,
      num: Long, den: Long): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    require(num > 0 && num <= den, "quantile num/den must be in (0, 1]")
    val daily = df
      .select(keyCols.map(col) :+ dayCol.cast("long").as("__day") :+
        value.as("__v"): _*)
      .groupBy(keyCols.map(col) :+ col("__day") :+ col("__v"): _*)
      .agg(count(lit(1)).as("__n"))
    rollingQuantileFromDaily(daily, keyCols, windowDays, num, den)
  }

  /** The window-merge + quantile stage of [[rollingQuantile]], over an
    * already-built per-(key, __day, __v) count frame `daily` — public
    * so a continuously-maintained daily distribution (the streaming
    * twin's state) serves the identical read path.
    */
  def rollingQuantileFromDaily(daily: DataFrame, keyCols: Seq[String],
      windowDays: Int, num: Long, den: Long): DataFrame = {
    val spine = daily.select(col("__day").as("win_day")).distinct()
    // hint kept: spine is a distinct of daily, priced at daily's size
    val merged = daily
      .join(broadcast(spine),
        (col("win_day") - col("__day")).between(0, windowDays - 1))
      .groupBy(keyCols.map(col) :+ col("win_day") :+ col("__v"): _*)
      .agg(sum(col("__n")).as("__n"))
    val wCdf = Window
      .partitionBy(keyCols.map(col) :+ col("win_day"): _*)
      .orderBy(col("__v"))
    val wTot = Window.partitionBy(keyCols.map(col) :+ col("win_day"): _*)
    merged
      .withColumn("__cum", sum(col("__n")).over(wCdf))
      .withColumn("__tot", sum(col("__n")).over(wTot))
      .where(col("__cum") * lit(den) >= col("__tot") * lit(num))
      .groupBy(keyCols.map(col) :+ col("win_day"): _*)
      .agg(min(col("__v")).as("q"), max(col("__tot")).as("n_obs"))
  }
}
