package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.ops.HourPivot

/** The reference pipeline's capabilities re-expressed over the `events`
  * table: hour-of-day pivot counts per (date, key), low-count filtering,
  * and semi-structured (JSON) extraction.
  *
  * The hour pivot is the reference's one real query (hourly ride counts
  * per (taxi_type, date, place) with a minimum-total filter —
  * /root/reference/pivot_and_boostrap/pivot_utils.py:179-224). Here the
  * grouping key is (event_date, event_type). See graft.ops.HourPivot for
  * the operator; it is implemented as 24 `count(when(hour===h,1))`
  * columns over an integer UTC hour of day in ONE hash aggregate — a
  * single shuffle on the group keys, no distinct-value scan (what
  * `pivot()` without explicit values costs), and the same shape works
  * under Structured Streaming.
  */
object PipelineQueries {

  private val hourColsSql = (0 until 23 + 1).map(h =>
    s"CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) = $h THEN 1 ELSE 0 END) AS BIGINT) AS hour_$h")
    .mkString(",\n        ")

  private def hourPivotSql(having: String): String = s"""
      SELECT CAST(ts AS DATE) AS event_date, event_type,
        $hourColsSql
      FROM events
      GROUP BY CAST(ts AS DATE), event_type
      $having"""

  private val qPivot = QueryDef(
    "q_hour_pivot",
    (s, d) => HourPivot.pivot(
      Tables.events(s, d), col("ts"), Seq("event_type"), minTotal = None),
    Some(hourPivotSql("")),
    headline = true)

  private val qPivotMin = QueryDef(
    "q_hour_pivot_min20",
    (s, d) => HourPivot.pivot(
      Tables.events(s, d), col("ts"), Seq("event_type"), minTotal = Some(20L)),
    Some(hourPivotSql(
      "HAVING CAST(COUNT(*) AS BIGINT) >= 20")))

  /** Watermarked LATE-DATA hour pivot (streaming/StreamingLateData):
    * the one streaming exhibit that actually DROPS rows. Pre-final-day
    * clicks replay one whole stream-epoch late, after every other
    * event; Structured Streaming's window-granular rule — measured and
    * pinned in StreamingSpec: the late filter uses the PREVIOUS
    * batch's watermark (`eventTimeWatermarkForLateEvents`), here
    * ms(max non-click ts) − 3 days — merges the last ~3 days' late
    * clicks into their still-open windows and drops everything older.
    * APPEND output mode (each day×type row exactly once, when its
    * window is guaranteed complete — the mode for immutable downstream
    * sinks); far-future sentinel batches flush the trailing windows
    * and their own never-closed window self-excludes. The oracle
    * reproduces the drop rule in SQL (late clicks count iff their day
    * window's end > ms-floored max non-click ts − 3d), so the hash
    * gate checks the watermark semantics themselves, not just row
    * plumbing. Drop-vs-update behavior is pinned by fixture in
    * StreamingSpec.
    *
    * Why the wm CTE is over NON-CLICKS ONLY (r13 ADVICE adjudicated by
    * measurement): batch 2's late filter is the watermark derived from
    * batch 0's data alone — batches 0..N−2, the two-batch lag — NOT
    * the max over batches 0 and 1. WatermarkLagProbe (removed; see 7b19d2b) separates
    * the two candidates by 4 days and the probe row is KEPT; the
    * "late filter ... batches 0..N-2" StreamingSpec fixture pins it.
    */
  private val qStreamLatePivot = QueryDef(
    "q_stream_late_pivot",
    (s, d) => graft.streaming.StreamingLateData.runLateHourPivot(s, d),
    Some(s"""
      WITH nc AS (
        SELECT ts, event_type FROM events WHERE event_type <> 'click'),
      lastday AS (SELECT CAST(MAX(ts) AS DATE) AS d FROM events),
      wm AS (
        SELECT date_trunc('millisecond', MAX(ts)) - INTERVAL 3 DAY AS w
        FROM nc),
      kept AS (
        SELECT ts, event_type FROM nc
        UNION ALL
        SELECT e.ts, e.event_type FROM events e, lastday
        WHERE e.event_type = 'click' AND CAST(e.ts AS DATE) = lastday.d
        UNION ALL
        SELECT e.ts, e.event_type FROM events e, lastday, wm
        WHERE e.event_type = 'click' AND CAST(e.ts AS DATE) <> lastday.d
          AND CAST(e.ts AS DATE) + INTERVAL 1 DAY > wm.w)
      SELECT CAST(ts AS DATE) AS event_date, event_type,
        $hourColsSql
      FROM kept GROUP BY 1, 2"""))

  /** UPDATE-mode twin of q_stream_late_pivot (round-12 verdict #6 —
    * completes the output-mode decision matrix): same arrival replay,
    * same lagged-watermark drop rule, but update mode re-emits every
    * amended group per micro-batch. On this schedule each real
    * (day, type) group arrives in exactly one batch so it emits once
    * with full counts (identical rows to append), while the sentinel
    * group — which append can never finalize — is amended by BOTH
    * sentinel batches and emits twice, at count 1 and count 2. The
    * oracle reproduces the amendment waves in SQL: append's kept-set
    * aggregation UNION ALL one sentinel row per wave.
    */
  private val qStreamLatePivotUpdate = {
    val sentinelHourCols = (0 until 24).map(h =>
      s"CAST(CASE WHEN EXTRACT(hour FROM s.sts) = $h THEN waves.w ELSE 0 END AS BIGINT) AS hour_$h")
      .mkString(",\n          ")
    QueryDef(
      "q_stream_late_pivot_update",
      (s, d) => graft.streaming.StreamingLateData
        .runLateHourPivotUpdate(s, d),
      Some(s"""
        WITH nc AS (
          SELECT ts, event_type FROM events WHERE event_type <> 'click'),
        lastday AS (SELECT CAST(MAX(ts) AS DATE) AS d FROM events),
        wm AS (
          SELECT date_trunc('millisecond', MAX(ts)) - INTERVAL 3 DAY AS w
          FROM nc),
        kept AS (
          SELECT ts, event_type FROM nc
          UNION ALL
          SELECT e.ts, e.event_type FROM events e, lastday
          WHERE e.event_type = 'click' AND CAST(e.ts AS DATE) = lastday.d
          UNION ALL
          SELECT e.ts, e.event_type FROM events e, lastday, wm
          WHERE e.event_type = 'click' AND CAST(e.ts AS DATE) <> lastday.d
            AND CAST(e.ts AS DATE) + INTERVAL 1 DAY > wm.w),
        s AS (SELECT MAX(ts) + INTERVAL 10 DAY AS sts FROM events),
        waves AS (SELECT 1 AS w UNION ALL SELECT 2)
        SELECT CAST(ts AS DATE) AS event_date, event_type,
          $hourColsSql
        FROM kept GROUP BY 1, 2
        UNION ALL
        SELECT CAST(s.sts AS DATE) AS event_date,
          '__wm_sentinel' AS event_type,
          $sentinelHourCols
        FROM s CROSS JOIN waves"""))
  }

  /** Update mode with REAL amended groups (r13 verdict #8): in
    * q_stream_late_pivot_update every real (day, type) group arrives
    * in exactly one micro-batch, so only the sentinel exercises
    * re-emission. Here the non-click epoch arrives split at noon —
    * morning rows one batch, afternoon rows the next — so every group
    * with events on both sides emits TWO waves: the morning partial
    * (hour_12..23 all zero) and the amended full counts. The oracle
    * reproduces both waves per group in SQL (partial-where-morning ∪
    * full-where-afternoon), clicks/sentinel exactly as the update
    * twin. A green hash proves (a) afternoon rows merged CUMULATIVELY
    * into live state (a re-created-state bug would emit
    * afternoon-only counts), and (b) each amendment wave reached the
    * sink exactly once.
    */
  private val qStreamUpdateWaves = {
    val morningHourCols = (0 until 24).map(h =>
      if (h < 12)
        s"CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) = $h THEN 1 ELSE 0 END) AS BIGINT) AS hour_$h"
      else s"CAST(0 AS BIGINT) AS hour_$h")
      .mkString(",\n          ")
    val sentinelHourCols = (0 until 24).map(h =>
      s"CAST(CASE WHEN EXTRACT(hour FROM s.sts) = $h THEN waves.w ELSE 0 END AS BIGINT) AS hour_$h")
      .mkString(",\n          ")
    QueryDef(
      "q_stream_update_waves",
      (s, d) => graft.streaming.StreamingLateData
        .runLateHourPivotUpdateSplit(s, d),
      Some(s"""
        WITH nc AS (
          SELECT ts, event_type FROM events WHERE event_type <> 'click'),
        lastday AS (SELECT CAST(MAX(ts) AS DATE) AS d FROM events),
        wm AS (
          SELECT date_trunc('millisecond', MAX(ts)) - INTERVAL 3 DAY AS w
          FROM nc),
        keptclicks AS (
          SELECT e.ts, e.event_type FROM events e, lastday
          WHERE e.event_type = 'click' AND CAST(e.ts AS DATE) = lastday.d
          UNION ALL
          SELECT e.ts, e.event_type FROM events e, lastday, wm
          WHERE e.event_type = 'click' AND CAST(e.ts AS DATE) <> lastday.d
            AND CAST(e.ts AS DATE) + INTERVAL 1 DAY > wm.w),
        s AS (SELECT MAX(ts) + INTERVAL 10 DAY AS sts FROM events),
        waves AS (SELECT 1 AS w UNION ALL SELECT 2)
        SELECT CAST(ts AS DATE) AS event_date, event_type,
          $morningHourCols
        FROM nc GROUP BY 1, 2
        HAVING SUM(CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 ELSE 0 END) > 0
        UNION ALL
        SELECT CAST(ts AS DATE) AS event_date, event_type,
          $hourColsSql
        FROM nc GROUP BY 1, 2
        HAVING SUM(CASE WHEN EXTRACT(hour FROM ts) >= 12 THEN 1 ELSE 0 END) > 0
        UNION ALL
        SELECT CAST(ts AS DATE) AS event_date, event_type,
          $hourColsSql
        FROM keptclicks GROUP BY 1, 2
        UNION ALL
        SELECT CAST(s.sts AS DATE) AS event_date,
          '__wm_sentinel' AS event_type,
          $sentinelHourCols
        FROM s CROSS JOIN waves"""),
      // floor guards event_type collapse only (a degenerate epoch with
      // one non-click type would make the pivot vacuous). A missing
      // amendment wave is NOT this floor's job: the oracle emits both
      // waves per two-sided group, so a one-wave output fails the
      // row-count gate (fewer rows than the oracle) before any hash —
      // wave detection is already loud without a structural floor.
      minDistinct = Some(("event_type", 3L)))
  }

  /** Pivot⁻¹ (HourPivot.unpivot): melt the wide hour table back to
    * long (date, key, hour, n) rows — `stack` is a map-side generator,
    * so the inverse costs one scan with no shuffle beyond the pivot's
    * own. The oracle is the PLAIN long-form group-count, so a green row
    * proves pivot∘unpivot round-trips to the direct aggregation.
    */
  private val qUnpivot = QueryDef(
    "q_hour_unpivot",
    (s, d) => HourPivot.unpivot(
      HourPivot.pivot(Tables.events(s, d), col("ts"), Seq("event_type"),
        minTotal = None),
      Seq("event_type")),
    Some("""
      SELECT CAST(ts AS DATE) AS event_date, event_type,
        CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3"""))

  /** Shared oracle CTE block producing the regularized series — ONE
    * definition so the resample exhibit and the anomaly exhibit can
    * never drift (the sqlShingleCtes rule).
    */
  private val resampleCtes = """
      WITH obs AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
          epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us
        FROM events),
      lastv AS (
        SELECT user_id, bucket_us, value FROM (
          SELECT user_id, bucket_us, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, bucket_us
              ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM obs) t WHERE rn = 1),
      bounds AS (
        SELECT user_id, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi
        FROM obs GROUP BY 1),
      grid AS (
        SELECT user_id,
          unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
        FROM bounds),
      j AS (
        SELECT g.user_id, g.bucket_us, l.value AS v_obs
        FROM grid g LEFT JOIN lastv l
          ON l.user_id = g.user_id AND l.bucket_us = g.bucket_us),
      ser AS (
        SELECT user_id, bucket_us, v_obs,
          LAST_VALUE(v_obs IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY bucket_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
        FROM j)"""

  /** Time-series resample + forward-fill (ops/Resample): every user's
    * event values regularized to an hourly grid between their first
    * and last observation, gaps carried forward — buckets as
    * epoch-micros BIGINTs so both engines agree textually. Oracle:
    * generate_series grid + IGNORE NULLS window.
    */
  private val qResample = QueryDef(
    "q_resample_ffill",
    (s, d) => graft.ops.Resample.resampleFfill(
      Tables.events(s, d), "user_id", "ts", "event_id", "value",
      stepUs = 3600000000L),
    Some(resampleCtes + """
      SELECT user_id, bucket_us, v_obs, v_ffill FROM ser"""))

  /** Integer z-score anomaly flags over the regularized series
    * (Resample.anomalyFlags): trailing-24-bucket window, z = 3,
    * values quantized to 1e-4 units and the test cross-multiplied so
    * no division/sqrt/float touches the decision — the oracle replays
    * the exact BIGINT inequality.
    */
  private val qAnomaly = QueryDef(
    "q_series_anomaly",
    (s, d) => graft.ops.Resample.anomalyFlags(
      graft.ops.Resample.resampleFfill(
        Tables.events(s, d), "user_id", "ts", "event_id", "value",
        stepUs = 3600000000L),
      "user_id", window = 24, z = 3L),
    Some(resampleCtes + """,
      qz AS (
        SELECT user_id, bucket_us, v_ffill,
          CAST(round(v_ffill * 10000) AS BIGINT) AS q
        FROM ser),
      win AS (
        SELECT user_id, bucket_us, v_ffill, q,
          CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
          CAST(SUM(q) OVER w AS BIGINT) AS s,
          CAST(SUM(q * q) OVER w AS BIGINT) AS qq
        FROM qz WINDOW w AS (
          PARTITION BY user_id ORDER BY bucket_us
          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      SELECT user_id, bucket_us, v_ffill, n_win,
        (n_win = 24 AND
          (n_win * q - s) * (n_win * q - s) > 9 * (n_win * qq - s * s))
          AS anomaly
      FROM win"""))

  /** Trailing-7-day exact median of event value per event type
    * (Resample.rollingQuantile): the robust rolling statistic, with
    * the quantile decided by exact integer cross-multiplication over
    * DECIMAL-quantized values. The corpus aggregates ONCE into
    * per-(type, day, value) counts; the 7-day merge is a broadcast
    * day-spine range join over that distribution-sized frame — raw
    * rows never multiply by the window width.
    */
  private val qRollingMedian = QueryDef(
    "q_rolling_median",
    (s, d) => graft.ops.Resample.rollingQuantile(
        Tables.events(s, d), Seq("event_type"),
        expr("unix_micros(ts) div 86400000000"),
        col("value").cast(DecimalType(12, 2)),
        windowDays = 7, num = 1L, den = 2L)
      .select(col("event_type"), col("win_day"), col("n_obs"),
        col("q").cast("double").as("med")),
    rollingMedianOracle)

  /** Streaming twin of q_rolling_median
    * (StreamingRollingQuantile): the daily distribution is ONE
    * streaming groupBy count (distribution-sized state); the window
    * merge + exact-rank quantile reuse the batch operator's code path
    * over the maintained snapshot. Two event_id-parity increments
    * force the second drain to fold counts INTO existing groups;
    * shares the batch oracle verbatim.
    */
  private val qStreamRollingMedian = QueryDef(
    "q_stream_rolling_median",
    (s, d) => graft.streaming.StreamingRollingQuantile
      .runBatchEquivalent(s, d),
    rollingMedianOracle)

  private lazy val rollingMedianOracle: Option[String] = Some("""
      WITH e AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(value AS DECIMAL(12,2)) AS v
        FROM events),
      daily AS (
        SELECT event_type, day, v, CAST(COUNT(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2, 3),
      spine AS (SELECT DISTINCT day AS win_day FROM daily),
      merged AS (
        SELECT d.event_type, s.win_day, d.v, CAST(SUM(d.n) AS BIGINT) AS n
        FROM daily d JOIN spine s ON s.win_day - d.day BETWEEN 0 AND 6
        GROUP BY 1, 2, 3),
      cdf AS (
        SELECT event_type, win_day, v,
          SUM(n) OVER (PARTITION BY event_type, win_day ORDER BY v) AS cum,
          SUM(n) OVER (PARTITION BY event_type, win_day) AS tot
        FROM merged)
      SELECT event_type, win_day, CAST(MAX(tot) AS BIGINT) AS n_obs,
        CAST(MIN(v) AS DOUBLE) AS med
      FROM cdf WHERE cum * 2 >= tot * 1
      GROUP BY 1, 2""")

  private val qJson = QueryDef(
    "q_events_json_extract",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("k",
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k")),
    Some("""
      SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(MIN(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS min_k,
        CAST(MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
      FROM events GROUP BY event_type"""))

  /** Rolling distinct-user estimates by MERGING daily HLL registers
    * (ops/Sketches.hllRollingEstimate): raw events are scanned once
    * for the per-day register build; the trailing-3-day estimate is a
    * register-table merge (MAX per bucket over a day-spine join) —
    * the sketch-mergeability exhibit. Registers AND estimates replay
    * bit-exactly (dyadic sums).
    */
  private val qHllRolling = QueryDef(
    "q_hll_rolling_users",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      graft.ops.Sketches.hllRollingEstimate(
        graft.ops.Sketches.hllRegisters(ev, "user_id", Seq("day")),
        "day", windowDays = 3)
    },
    Some("""
      WITH u AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
      bits AS (
        SELECT day, substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS bucket,
          substr(md5(CAST(user_id AS VARCHAR)), 3, 8) AS tail
        FROM u),
      lzt AS (
        SELECT day, bucket, tail,
          length(regexp_extract(tail, '^0*')) AS lzc
        FROM bits),
      rho AS (
        SELECT day, bucket,
          CASE WHEN lzc = 8 THEN 33
            ELSE 1 + lzc * 4 +
              CASE WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 8 THEN 0
                   WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 4 THEN 1
                   WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 2 THEN 2
                   ELSE 3 END END AS rho
        FROM lzt),
      regs AS (
        SELECT day, bucket, MAX(rho) AS m_reg FROM rho GROUP BY 1, 2),
      spine AS (SELECT DISTINCT day AS win_day FROM regs),
      merged AS (
        SELECT s.win_day AS day, r.bucket, MAX(r.m_reg) AS m_reg
        FROM regs r JOIN spine s
          ON date_diff('day', r.day, s.win_day) BETWEEN 0 AND 2
        GROUP BY 1, 2),
      est AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_nonzero,
          SUM(CAST(1 AS DOUBLE) /
            CAST(CAST(1 AS BIGINT) << m_reg AS DOUBLE)) AS s
        FROM merged GROUP BY 1)
      SELECT day, n_nonzero,
        (CAST(0.7213 AS DOUBLE) /
          (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)) * 65536 /
          (s + CAST(256 - n_nonzero AS DOUBLE)) AS hll_raw_estimate
      FROM est"""))

  /** Streaming twin of q_hll_rolling_users: per-(day, bucket)
    * max-rho registers as streaming MAX-aggregate state (days x 256,
    * bounded by calendar x sketch — the approximate-reach answer to
    * rollingDistinct's user-sized frame); window merge + estimate
    * fold on the snapshot (shared oracle).
    */
  private val qStreamHllRolling = QueryDef(
    "q_stream_hll_rolling",
    (s, d) => graft.streaming.StreamingForecast
      .runHllRollingBatchEquivalent(s, d),
    qHllRolling.oracle)

  private val qValues = QueryDef(
    "q_events_value_stats",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("event_date"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double")
            .as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          countDistinct(col("user_id")).as("n_users")),
    Some("""
      SELECT event_type, CAST(ts AS DATE) AS event_date,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        MIN(value) AS min_value,
        MAX(value) AS max_value,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY event_type, CAST(ts AS DATE)"""))

  /** The hour pivot executed as a Structured Streaming query (complete
    * mode over the bounded file source) — hash-checked against the SAME
    * batch oracle, proving the streaming operator's batch equivalence.
    */
  private val qStream = QueryDef(
    "q_stream_hour_pivot",
    (s, d) => graft.streaming.StreamingHourPivot.runBatchEquivalent(s, d),
    Some(hourPivotSql("")))

  /** Continuous exact dedup (dropDuplicatesWithinWatermark) over the
    * bounded events stream — the emitted key set must equal batch
    * SELECT DISTINCT whatever the arrival order.
    */
  private val qStreamDedup = QueryDef(
    "q_stream_dedup_keys",
    (s, d) => graft.streaming.StreamingDedup.runBatchEquivalent(s, d),
    Some("SELECT DISTINCT user_id, event_type FROM events"))

  /** Exactly-once continuous file sink (StreamingFileSink): events
    * drained to parquet across a restart sequence — half the input,
    * a no-new-input restart on the same checkpoint, then the delta —
    * read back through the `_spark_metadata` commit log. Oracle is the
    * plain batch SELECT: row-level hash equality proves the commit-log
    * dedup (a re-emitted batch or a dropped delta changes the hash).
    */
  private val qStreamFileSink = QueryDef(
    "q_stream_file_sink",
    (s, d) => graft.streaming.StreamingFileSink.runBatchEquivalent(s, d),
    Some("SELECT event_id, user_id, event_type, value FROM events"))

  /** Stream-STREAM interval join (purchases ⋈ clicks within ±10 min per
    * user, both sides unbounded with watermark-bounded state) — the
    * continuous twin of q_range_join_purchase_click, hash-checked
    * against the same-shape plain-SQL join oracle: the streaming join
    * must emit exactly the batch result on bounded input.
    *
    * Declared on the user_id%3=0 slice: the symmetric-hash streaming
    * join is row-at-a-time against state stores (no codegen), ~15×
    * the batch join's per-row cost — an engine property, not a plan
    * flaw. The slice keeps the semantics check complete while the
    * bench measures the operator, not the state-store tax on rows that
    * prove nothing new. (At deployment scale the join is sized by
    * per-core row rate + watermark-bounded state, see SCALE_NOTES.)
    */
  private val qStreamJoin = QueryDef(
    "q_stream_join_purchase_click",
    (s, d) => graft.streaming.StreamingJoin.runBatchEquivalent(s, d, 600L,
      sliceMod = Some(3L)),
    Some("""
      WITH p AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase' AND user_id % 3 = 0),
      c AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'click' AND user_id % 3 = 0)
      SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        epoch_us(c.ts) - epoch_us(p.ts) AS dt_us
      FROM p JOIN c ON p.user_id = c.user_id
      WHERE abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 600000000"""))

  /** First-touch funnel conversion (ops/Funnel.funnelSummary):
    * view → click → purchase anchored at each user's earliest view,
    * strictly-ordered steps within a 7-day window — the product-
    * analytics step-drop-off table. Epoch-second integers; the oracle
    * replays the per-step min-after-previous chain with the same
    * first-touch anchoring.
    */
  private val qFunnel = QueryDef(
    "q_funnel_conversion",
    (s, d) => graft.ops.Funnel.funnelSummary(Tables.events(s, d),
      "user_id", "ts", "event_type",
      steps = Seq("view", "click", "purchase"), windowSec = 604800L),
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS ts, event_type
        FROM events),
      s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY 1),
      s2 AS (
        SELECT s1.user_id, s1.t1,
          MIN(CASE WHEN e.ts > s1.t1 AND e.ts <= s1.t1 + 604800
              THEN e.ts END) AS t2
        FROM s1 LEFT JOIN e
          ON e.user_id = s1.user_id AND e.event_type = 'click'
        GROUP BY 1, 2),
      s3 AS (
        SELECT s2.user_id, s2.t1, s2.t2,
          MIN(CASE WHEN s2.t2 IS NOT NULL AND e.ts > s2.t2
                AND e.ts <= s2.t1 + 604800 THEN e.ts END) AS t3
        FROM s2 LEFT JOIN e
          ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        GROUP BY 1, 2, 3)
      SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
        CAST(COUNT(t1) AS BIGINT) AS n_users FROM s3
      UNION ALL SELECT CAST(2 AS INT), 'click',
        CAST(COUNT(t2) AS BIGINT) FROM s3
      UNION ALL SELECT CAST(3 AS INT), 'purchase',
        CAST(COUNT(t3) AS BIGINT) FROM s3"""))

  /** Weekly cohort retention (ops/Funnel.cohortRetention): users
    * cohorted by the epoch-week of their first event, counted at each
    * later active-week offset — integer epoch-week arithmetic both
    * engines replay exactly.
    */
  private val qRetention = QueryDef(
    "q_cohort_retention",
    (s, d) => graft.ops.Funnel.cohortRetention(Tables.events(s, d),
      "user_id", "ts"),
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) // 1000000 // 604800 AS wk
        FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort_week FROM e GROUP BY 1),
      a AS (SELECT DISTINCT user_id, wk FROM e)
      SELECT f.cohort_week, CAST(a.wk - f.cohort_week AS INT) AS week_offset,
        CAST(COUNT(*) AS BIGINT) AS n_users
      FROM f JOIN a USING (user_id)
      GROUP BY 1, 2"""))

  /** Shared oracle for both SCD2 exhibits: the full-changelog type-2
    * history of each user's event_type attribute — run-collapse via
    * LAG-compare, valid_to via LEAD on the collapsed frame. Epoch-micro
    * integers; is_current as INT (no boolean columns cross the oracle).
    */
  private val scd2Oracle: Option[String] = Some("""
      WITH cl AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        FROM events),
      marked AS (
        SELECT user_id, ts_us, event_type, event_id,
          LAG(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        FROM cl),
      starts AS (
        SELECT user_id, event_type, ts_us AS valid_from, event_id
        FROM marked WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type, valid_from,
        LEAD(valid_from) OVER (
          PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
        CAST(CASE WHEN LEAD(valid_from) OVER (
          PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL
          THEN 1 ELSE 0 END AS INT) AS is_current
      FROM starts""")

  private def scd2ChangeLog(s: org.apache.spark.sql.SparkSession,
      d: String) =
    Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"),
      col("event_type"))

  private def scd2Out(h: org.apache.spark.sql.DataFrame) =
    h.select(col("user_id"), col("event_type"),
      col("valid_from"), col("valid_to"),
      col("is_current").cast("int").as("is_current"))

  /** SCD2 history build (ops/Scd2.historyFromChangeLog): the events
    * stream read as an append-only changelog of each user's
    * event_type attribute, collapsed into type-2 validity intervals.
    */
  private val qScd2 = QueryDef(
    "q_scd2_history",
    (s, d) => scd2Out(graft.ops.Scd2.historyFromChangeLog(
      scd2ChangeLog(s, d), Seq("user_id"), "ts_us", "event_id",
      Seq("event_type"))),
    scd2Oracle)

  /** SCD2 incremental MERGE (ops/Scd2.applyChanges): the changelog is
    * time-split at its midpoint (bounds broadcast-joined, no driver
    * collect), history built on the first half, the second half
    * applied as the nightly slice. Shares q_scd2_history's oracle —
    * apply(history(A), B) ≡ history(A ∪ B) is the merge-correctness
    * equivalence, hash-proven.
    */
  private val qScd2Apply = QueryDef(
    "q_scd2_apply",
    (s, d) => {
      val ev = scd2ChangeLog(s, d)
      val bounds = ev.agg(
        ((min(col("ts_us")) + max(col("ts_us"))) / 2)
          .cast("long").as("__cut"))
      val withCut = ev.crossJoin(bounds)
      val base = withCut.where(col("ts_us") < col("__cut")).drop("__cut")
      val delta = withCut.where(col("ts_us") >= col("__cut")).drop("__cut")
      val h = graft.ops.Scd2.historyFromChangeLog(
        base, Seq("user_id"), "ts_us", "event_id", Seq("event_type"))
      scd2Out(graft.ops.Scd2.applyChanges(
        h, delta, Seq("user_id"), "ts_us", "event_id", Seq("event_type")))
    },
    scd2Oracle)

  /** Streaming twin of q_scd2_history (StreamingScd2 —
    * flatMapGroupsWithState, O(live keys) state: one open version per
    * key; closed versions stream out as successors land). Driven over
    * the bounded events file with a sentinel watermark flush; shares
    * the batch oracle verbatim — continuous fold ≡ batch rebuild,
    * hash-proven.
    */
  private val qStreamScd2 = QueryDef(
    "q_stream_scd2",
    (s, d) => graft.streaming.StreamingScd2.runBatchEquivalent(s, d),
    scd2Oracle)

  /** Point-in-time SCD2 serve path (ops/Scd2.pointInTimeJoin): every
    * event enriched with the event_type version valid AT ITS OWN
    * timestamp — the feature-store as-of join, and the read path the
    * history exists for. One key-equi SMJ with the interval residual;
    * disjoint versions mean at most one match per fact. The facts here
    * are the same events the history was built from, so each event
    * lands inside a version by construction and the joined attribute
    * echoes the event's own type — the oracle proves interval
    * construction and lookup agree END TO END (a fact ts equal to a
    * version boundary must pick the NEW version, zero-length equal-ts
    * versions match nothing).
    */
  private val qScd2Pit = QueryDef(
    "q_scd2_pit",
    (s, d) => {
      val ev = scd2ChangeLog(s, d)
      val h = graft.ops.Scd2.historyFromChangeLog(
        ev, Seq("user_id"), "ts_us", "event_id", Seq("event_type"))
      graft.ops.Scd2.pointInTimeJoin(
        ev.select(col("user_id"), col("event_id"), col("ts_us")),
        h, Seq("user_id"), "ts_us", Seq("event_type"))
    },
    scd2PitOracle)

  /** Shared by the batch and stream-static PIT exhibits. */
  private lazy val scd2PitOracle: Option[String] = Some("""
      WITH cl AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        FROM events),
      marked AS (
        SELECT user_id, ts_us, event_type, event_id,
          LAG(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        FROM cl),
      starts AS (
        SELECT user_id, event_type, ts_us AS valid_from, event_id
        FROM marked WHERE prev IS NULL OR prev <> event_type),
      hist AS (
        SELECT user_id, event_type, valid_from,
          LEAD(valid_from) OVER (
            PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
        FROM starts)
      SELECT f.user_id, f.event_id, f.ts_us,
        h.event_type, h.valid_from
      FROM cl f LEFT JOIN hist h
        ON f.user_id = h.user_id
        AND f.ts_us >= h.valid_from
        AND (h.valid_to IS NULL OR f.ts_us < h.valid_to)""")

  /** RFM segmentation (ops/Segmentation.rfmSegments): every user
    * scored 1..5 on recency / frequency / monetary by equi-depth rank
    * — ranks via the distributed two-level prefix sum
    * (Ranking.globalRank), never a single-partition window. The oracle
    * replays the same (metric, user_id) total orders and floor
    * formula with plain ROW_NUMBERs.
    */
  private val qRfm = QueryDef(
    "q_rfm_segments",
    (s, d) => graft.ops.Segmentation.rfmSegments(
      Tables.events(s, d), "user_id", "ts", "value", buckets = 5),
    Some("""
      WITH m AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS freq,
          MAX(epoch_us(ts)) AS last_us,
          SUM(CAST(value AS DECIMAL(12,2))) AS mon
        FROM events GROUP BY 1),
      r AS (
        SELECT user_id, freq, mon,
          ROW_NUMBER() OVER (ORDER BY last_us, user_id) AS r_rn,
          ROW_NUMBER() OVER (ORDER BY freq, user_id) AS f_rn,
          ROW_NUMBER() OVER (ORDER BY mon, user_id) AS m_rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS nu
        FROM m),
      s AS (
        SELECT user_id, freq, CAST(mon AS DOUBLE) AS monetary,
          CAST(FLOOR((r_rn - 1) * 5 / nu) + 1 AS INT) AS r_score,
          CAST(FLOOR((f_rn - 1) * 5 / nu) + 1 AS INT) AS f_score,
          CAST(FLOOR((m_rn - 1) * 5 / nu) + 1 AS INT) AS m_score
        FROM r)
      SELECT user_id, freq, monetary, r_score, f_score, m_score,
        CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
          || '-' || CAST(m_score AS VARCHAR) AS segment
      FROM s"""))

  /** Key-distribution skew audit (ops/Profiling.keySkewAudit): the
    * pre-flight diagnostic for any join/groupBy on user_id — key
    * count, exact Gini over key frequencies, heaviest-key share, and
    * top-decile share. Frequencies rank through the NEW lean global
    * rank (Ranking.globalRankLean — literal range bounds, no
    * materialization); every share is one int/int division over exact
    * DECIMAL terms. The oracle replays the ranked-frequency algebra
    * with a plain ROW_NUMBER.
    */
  private val qKeySkew = QueryDef(
    "q_key_skew",
    (s, d) => graft.ops.Profiling.keySkewAudit(Tables.events(s, d), "user_id"),
    Some("""
      WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev
        FROM events GROUP BY 1),
      r AS (
        SELECT user_id, n_ev,
          ROW_NUMBER() OVER (ORDER BY n_ev, user_id) AS rn
        FROM c),
      tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nk,
          CAST(SUM(n_ev) AS BIGINT) AS t,
          CAST(MAX(n_ev) AS BIGINT) AS maxc,
          SUM(rn * n_ev) AS s1
        FROM r),
      topd AS (
        SELECT CAST(SUM(r.n_ev) AS BIGINT) AS td
        FROM r, tot
        WHERE r.rn > tot.nk - CAST(FLOOR((tot.nk + 9) / 10.0) AS BIGINT))
      SELECT nk AS n_keys, t AS n_rows,
        CAST(maxc AS DOUBLE) / CAST(t AS DOUBLE) AS max_share,
        CAST(td AS DOUBLE) / CAST(t AS DOUBLE) AS top_decile_share,
        CAST(2 * s1 - (nk + 1) * t AS DOUBLE) /
          CAST(nk * t AS DOUBLE) AS gini
      FROM tot, topd"""))

  /** Streaming twin of the skew audit (streaming/StreamingKeySkew):
    * counts as ONE continuous aggregation (O(live keys) state), audit
    * fold on the snapshot through the batch code path — shares
    * q_key_skew's oracle verbatim.
    */
  private val qStreamKeySkew = QueryDef(
    "q_stream_key_skew",
    (s, d) => graft.streaming.StreamingKeySkew.runBatchEquivalent(s, d),
    qKeySkew.oracle)

  /** Sketch-based join-size estimation (Sketches.cmsJoinSizeEstimate):
    * the even-event and odd-event user_id multisets each reduce to a
    * 4×256 CMS; the min-over-rows inner product estimates their
    * equi-join cardinality WITHOUT re-touching the corpus, compared
    * against the exact Σ ca·cb in one output row. The declared
    * overestimate_ratio is the estimate's collision inflation — the
    * number a join planner actually reads. All integers; one division.
    */
  private val qJoinSizeEst = QueryDef(
    "q_join_size_estimate",
    (s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.where(col("event_id") % 2 === 0).select(col("user_id"))
      val b = ev.where(col("event_id") % 2 === 1).select(col("user_id"))
      val est = graft.ops.Sketches.cmsJoinSizeEstimate(
        graft.ops.Sketches.cmsSketch(a, "user_id", d = 4),
        graft.ops.Sketches.cmsSketch(b, "user_id", d = 4))
      val truth = a.groupBy(col("user_id")).agg(count(lit(1)).as("__ca"))
        .join(b.groupBy(col("user_id")).agg(count(lit(1)).as("__cb")),
          Seq("user_id"))
        .agg(coalesce(sum(col("__ca").cast("decimal(19,0)") *
          col("__cb").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
          .cast("long").as("true_join"))
      est.crossJoin(truth)
        .withColumn("overestimate_ratio",
          when(col("true_join") > 0,
            col("est_join").cast("double") / col("true_join").cast("double")))
    },
    Some("""
      WITH a AS (SELECT user_id AS key FROM events WHERE event_id % 2 = 0),
      b AS (SELECT user_id AS key FROM events WHERE event_id % 2 = 1),
      js AS (SELECT unnest(range(0, 4)) AS j),
      ska AS (
        SELECT j, substr(md5(j || ':' || key), 1, 2) AS bucket,
          COUNT(*) AS n
        FROM a CROSS JOIN js GROUP BY 1, 2),
      skb AS (
        SELECT j, substr(md5(j || ':' || key), 1, 2) AS bucket,
          COUNT(*) AS n
        FROM b CROSS JOIN js GROUP BY 1, 2),
      ip AS (
        SELECT ska.j, SUM(ska.n * skb.n) AS ip
        FROM ska JOIN skb USING (j, bucket) GROUP BY 1),
      est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join FROM ip),
      ca AS (SELECT key, COUNT(*) AS c FROM a GROUP BY 1),
      cb AS (SELECT key, COUNT(*) AS c FROM b GROUP BY 1),
      tj AS (
        SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS true_join
        FROM ca JOIN cb USING (key))
      SELECT est_join, true_join,
        CASE WHEN true_join > 0
          THEN CAST(est_join AS DOUBLE) / CAST(true_join AS DOUBLE)
        END AS overestimate_ratio
      FROM est, tj"""))

  /** One set's HLL register pipeline in SQL (mirrors
    * Sketches.hllRegisters/hllEstimate over a user-id set CTE `src`).
    */
  private def sqlHllSet(src: String, tag: String): String = s"""
      bits_$tag AS (
        SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS bucket,
          substr(md5(CAST(user_id AS VARCHAR)), 3, 8) AS tail
        FROM $src),
      lzt_$tag AS (
        SELECT bucket, tail,
          length(regexp_extract(tail, '^0*')) AS lzc FROM bits_$tag),
      regs_$tag AS (
        SELECT bucket, MAX(CASE WHEN lzc = 8 THEN 33
          ELSE 1 + lzc * 4 +
            CASE WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 8 THEN 0
                 WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 4 THEN 1
                 WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 2 THEN 2
                 ELSE 3 END END) AS m_reg
        FROM lzt_$tag GROUP BY 1),
      est_$tag AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nonzero,
          SUM(CAST(1 AS DOUBLE) /
            CAST(CAST(1 AS BIGINT) << m_reg AS DOUBLE)) AS s
        FROM regs_$tag),
      v_$tag AS (
        SELECT (CAST(0.7213 AS DOUBLE) /
          (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)) * 65536 /
          (s + CAST(256 - n_nonzero AS DOUBLE)) AS e
        FROM est_$tag)"""

  /** HLL set algebra (Sketches.hllOverlap): viewers ∩ purchasers
    * estimated by inclusion–exclusion over register tables — the union
    * sketch is a MAX-merge of the per-set registers, raw events are
    * never re-joined. All three estimates are the dyadic-sum raw form,
    * so the oracle replays them bit-exactly.
    */
  private val qHllOverlap = QueryDef(
    "q_hll_overlap",
    (s, d) => {
      val ev = Tables.events(s, d)
      def regs(t: String) = graft.ops.Sketches.hllRegisters(
        ev.where(col("event_type") === t).select(col("user_id")),
        "user_id")
      graft.ops.Sketches.hllOverlap(regs("view"), regs("purchase"))
    },
    Some(s"""
      WITH ua AS (SELECT user_id FROM events WHERE event_type = 'view'),
      ub AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
      ${sqlHllSet("ua", "a")},
      ${sqlHllSet("ub", "b")},
      regs_u AS (
        SELECT bucket, MAX(m_reg) AS m_reg FROM (
          SELECT bucket, m_reg FROM regs_a
          UNION ALL SELECT bucket, m_reg FROM regs_b) t GROUP BY 1),
      est_u AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nonzero,
          SUM(CAST(1 AS DOUBLE) /
            CAST(CAST(1 AS BIGINT) << m_reg AS DOUBLE)) AS s
        FROM regs_u),
      v_u AS (
        SELECT (CAST(0.7213 AS DOUBLE) /
          (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)) * 65536 /
          (s + CAST(256 - n_nonzero AS DOUBLE)) AS e
        FROM est_u)
      SELECT v_a.e AS est_a, v_b.e AS est_b, v_u.e AS est_union,
        v_a.e + v_b.e - v_u.e AS est_overlap
      FROM v_a CROSS JOIN v_b CROSS JOIN v_u"""))

  /** Pearson χ² contingency cells (Experiment.chiSquareCells) between
    * event_type and the user-parity arm — observed/margins exact
    * BIGINT, expected and contribution one mirrored double tree.
    */
  private val qChi2 = QueryDef(
    "q_chi2_independence",
    (s, d) => graft.ops.Experiment.chiSquareCells(
      Tables.events(s, d)
        .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int")),
      "event_type", "arm"),
    Some("""
      WITH cells AS (
        SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
          CAST(COUNT(*) AS BIGINT) AS observed
        FROM events GROUP BY 1, 2),
      rt AS (
        SELECT event_type, CAST(SUM(observed) AS BIGINT) AS rt
        FROM cells GROUP BY 1),
      ct AS (
        SELECT arm, CAST(SUM(observed) AS BIGINT) AS ct
        FROM cells GROUP BY 1),
      g AS (SELECT CAST(SUM(observed) AS BIGINT) AS g FROM cells)
      SELECT c.event_type, c.arm, c.observed,
        CAST(rt.rt AS DOUBLE) * ct.ct / g.g AS expected,
        (c.observed - CAST(rt.rt AS DOUBLE) * ct.ct / g.g)
          * (c.observed - CAST(rt.rt AS DOUBLE) * ct.ct / g.g)
          / (CAST(rt.rt AS DOUBLE) * ct.ct / g.g) AS contribution
      FROM cells c
      JOIN rt USING (event_type) JOIN ct USING (arm) CROSS JOIN g"""))

  /** First-order Markov transition matrix over per-user event
    * sequences (ops/Transitions.eventTransitions): exact integer
    * counts + one final double division for the row-normalized
    * probability.
    */
  private val qTransitions = QueryDef(
    "q_event_transitions",
    (s, d) => graft.ops.Transitions.eventTransitions(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type"),
    Some("""
      WITH seq AS (
        SELECT event_type AS from_type,
          LEAD(event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events),
      c AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
      t AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS total_from
        FROM c GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n, t.total_from,
        CAST(c.n AS DOUBLE) / t.total_from AS p
      FROM c JOIN t USING (from_type)"""))

  /** Length-3 user-journey paths (ops/Transitions.eventPaths): every
    * window of 3 consecutive event types per user, counted corpus-wide
    * with a min-count floor — the n-gram generalization of the
    * transition matrix. One key shuffle; the lead() windows share one
    * (ts, tie) sort; paths cross the exchange as delimited strings.
    */
  private val qEventPaths = QueryDef(
    "q_event_paths",
    (s, d) => graft.ops.Transitions.eventPaths(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      len = 3, minCount = 2L),
    Some("""
      WITH seq AS (
        SELECT event_type AS s0,
          LEAD(event_type, 1) OVER w AS s1,
          LEAD(event_type, 2) OVER w AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT s0 || '>' || s1 || '>' || s2 AS path,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE s2 IS NOT NULL
      GROUP BY 1 HAVING COUNT(*) >= 2"""))

  /** Golden-record consolidation (ops/GoldenRecord.consolidate): every
    * user's events collapse to one canonical profile row — smallest
    * event_id as canonical id, member count, and per-attribute MODE
    * (most frequent non-null, ties to smallest) for event_type and the
    * cents-quantized value. |attrs| narrow keyed aggregates, argmax by
    * integer min-struct, no windows.
    */
  private val qGolden = QueryDef(
    "q_golden_record",
    (s, d) => graft.ops.GoldenRecord.consolidate(
        Tables.events(s, d)
          .withColumn("value_cents",
            col("value").cast(DecimalType(12, 2))
              .multiply(lit(100)).cast("long")),
        Seq("user_id"), "event_id", Seq("event_type", "value_cents")),
    Some("""
      WITH base AS (
        SELECT user_id, CAST(MIN(event_id) AS BIGINT) AS canonical_id,
          CAST(COUNT(*) AS BIGINT) AS n_records
        FROM events GROUP BY 1),
      c1 AS (
        SELECT user_id, event_type AS v, COUNT(*) AS c FROM events
        WHERE event_type IS NOT NULL GROUP BY 1, 2),
      m1 AS (
        SELECT user_id, v AS mode_event_type FROM (
          SELECT user_id, v, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY c DESC, v) AS rn FROM c1)
        WHERE rn = 1),
      c2 AS (
        SELECT user_id,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
          COUNT(*) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      m2 AS (
        SELECT user_id, v AS mode_value_cents FROM (
          SELECT user_id, v, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY c DESC, v) AS rn FROM c2)
        WHERE rn = 1)
      SELECT b.user_id, b.canonical_id, b.n_records,
        m1.mode_event_type, m2.mode_value_cents
      FROM base b
      LEFT JOIN m1 USING (user_id)
      LEFT JOIN m2 USING (user_id)"""))

  /** Streaming twin of q_scd2_pit (StreamingPitJoin): stream-STATIC
    * point-in-time enrichment — facts stream against the batch-built
    * SCD2 history with the interval predicate; Spark plans the static
    * side stateless (re-read/broadcast per micro-batch, no state
    * store, no watermark) — the feature-store serving contract.
    * Shares the batch oracle verbatim.
    */
  private val qStreamPit = QueryDef(
    "q_stream_scd2_pit",
    (s, d) => graft.streaming.StreamingPitJoin.runBatchEquivalent(s, d),
    scd2PitOracle)

  /** Winsorized value stats per event type
    * (GroupQuantile.winsorizedStats): values clamped into the
    * [p10, p90] type-1 quantile band before the mean — the robust
    * metric outliers can't own. Thresholds from one distribution
    * aggregate (corpus never sorts); clamped DECIMAL sum reduces
    * order-independently; mean is one final double division.
    */
  private val qWinsorized = QueryDef(
    "q_winsorized_value",
    (s, d) => graft.ops.GroupQuantile.winsorizedStats(
      Tables.events(s, d), Seq("event_type"),
      col("value").cast(DecimalType(12, 2)), pLo = 0.1, pHi = 0.9),
    Some("""
      WITH v AS (
        SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
        FROM events),
      dist AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY 1, 2),
      cdf AS (
        SELECT event_type, v,
          SUM(n) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          SUM(n) OVER (PARTITION BY event_type) AS tot
        FROM dist),
      thr AS (
        SELECT event_type,
          MIN(CASE WHEN cum >= 0.1 * tot THEN v END) AS tlo,
          MIN(CASE WHEN cum >= 0.9 * tot THEN v END) AS thi
        FROM cdf GROUP BY 1)
      SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(t.tlo AS DOUBLE) AS t_lo,
        CAST(t.thi AS DOUBLE) AS t_hi,
        CAST(SUM(CASE WHEN v.v < t.tlo THEN t.tlo
                      WHEN v.v > t.thi THEN t.thi
                      ELSE v.v END) AS DOUBLE) / COUNT(*)
          AS winsorized_mean
      FROM v JOIN thr t USING (event_type)
      GROUP BY 1, t.tlo, t.thi"""))

  /** Difference-in-differences (Experiment.diffInDifferences): the
    * rollout readout — arm = user parity, post = the Jan-16 switch
    * point; (post−pre) in treatment minus (post−pre) in control
    * removes level and shared-trend confounds. Four exact DECIMAL
    * cell moments in ONE aggregate; one fixed double tree.
    */
  private val qDid = QueryDef(
    "q_diff_in_diff",
    (s, d) => graft.ops.Experiment.diffInDifferences(
      Tables.events(s, d),
      pmod(col("user_id"), lit(2)).cast("int"),
      col("ts") >= lit("2024-01-16").cast("timestamp"),
      col("value")),
    Some("""
      WITH e AS (
        SELECT CAST(user_id % 2 AS INT) AS arm,
          ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
          CAST(value AS DECIMAL(12,2)) AS v
        FROM events),
      m AS (
        SELECT
          SUM(CASE WHEN arm = 1 AND NOT post THEN v END) AS s_t0,
          CAST(COUNT(CASE WHEN arm = 1 AND NOT post THEN 1 END) AS BIGINT) AS n_t0,
          SUM(CASE WHEN arm = 1 AND post THEN v END) AS s_t1,
          CAST(COUNT(CASE WHEN arm = 1 AND post THEN 1 END) AS BIGINT) AS n_t1,
          SUM(CASE WHEN arm = 0 AND NOT post THEN v END) AS s_c0,
          CAST(COUNT(CASE WHEN arm = 0 AND NOT post THEN 1 END) AS BIGINT) AS n_c0,
          SUM(CASE WHEN arm = 0 AND post THEN v END) AS s_c1,
          CAST(COUNT(CASE WHEN arm = 0 AND post THEN 1 END) AS BIGINT) AS n_c1
        FROM e),
      mm AS (
        SELECT
          CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) AS mean_treat_pre,
          CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE) AS mean_treat_post,
          CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) AS mean_ctrl_pre,
          CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE) AS mean_ctrl_post,
          n_t0, n_t1, n_c0, n_c1
        FROM m)
      SELECT *,
        mean_treat_post - mean_treat_pre AS delta_treat,
        mean_ctrl_post - mean_ctrl_pre AS delta_ctrl,
        (mean_treat_post - mean_treat_pre) -
          (mean_ctrl_post - mean_ctrl_pre) AS did
      FROM mm"""))

  /** CUPED variance reduction (Experiment.cupedAdjust): per-user
    * post-period spend adjusted by pre-period spend — θ from pooled
    * exact moments, per-arm adjusted means from exact per-arm sums
    * (never a row-wise double sum), variance-reduction ratio 1−ρ².
    */
  private val qCuped = QueryDef(
    "q_cuped_adjust",
    (s, d) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") >= cut,
            col("value").cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(12, 2))).otherwise(lit(0))).as("y"),
          sum(when(col("ts") < cut,
            col("value").cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(12, 2))).otherwise(lit(0))).as("x"))
      graft.ops.Experiment.cupedAdjust(perUser, col("y"), col("x"),
        pmod(col("user_id"), lit(2)).cast("int"))
    },
    Some("""
      WITH u AS (
        SELECT user_id,
          CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
            THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2))
            END) AS DECIMAL(12,2)) AS y,
          CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
            THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2))
            END) AS DECIMAL(12,2)) AS x
        FROM events GROUP BY 1),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
          CAST(SUM(x * y) AS DOUBLE) AS sxy,
          CAST(SUM(x * x) AS DOUBLE) AS sxx,
          CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM u),
      st AS (
        SELECT
          sxy / n - (sx / n) * (sy / n) AS cov_xy,
          sxx / n - (sx / n) * (sx / n) AS var_x,
          syy / n - (sy / n) * (sy / n) AS var_y,
          sx / n AS mean_x
        FROM m),
      th AS (
        SELECT cov_xy / var_x AS theta,
          1.0 - (cov_xy * cov_xy) / (var_x * var_y) AS var_ratio,
          mean_x
        FROM st),
      arms AS (
        SELECT CAST(user_id % 2 AS INT) AS arm,
          CAST(COUNT(*) AS BIGINT) AS n_arm,
          SUM(y) AS sy_arm, SUM(x) AS sx_arm
        FROM u GROUP BY 1)
      SELECT arm, n_arm, theta, var_ratio,
        CAST(sy_arm AS DOUBLE) / CAST(n_arm AS DOUBLE) AS mean_raw,
        CAST(sy_arm AS DOUBLE) / CAST(n_arm AS DOUBLE) - theta *
          (CAST(sx_arm AS DOUBLE) / CAST(n_arm AS DOUBLE) - mean_x)
          AS mean_adj
      FROM arms, th"""))

  /** A/B experiment readout (ops/Experiment.twoSampleZ): users split
    * into arms by user_id parity, Welch z per event_type on `value`.
    * Moments are exact DECIMAL (order-independent); the z itself is one
    * mirrored tree of IEEE double ops — hash-exact across engines.
    */
  private val qAbTest = QueryDef(
    "q_ab_test_z",
    (s, d) => graft.ops.Experiment.twoSampleZ(
      Tables.events(s, d)
        .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int")),
      "event_type", "arm", "value"),
    Some("""
      WITH e AS (
        SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
          CAST(value AS DECIMAL(12,2)) AS x
        FROM events),
      m AS (
        SELECT event_type,
          CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
          CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
          SUM(CASE WHEN arm = 0 THEN x END) AS s_a,
          SUM(CASE WHEN arm = 1 THEN x END) AS s_b,
          SUM(CASE WHEN arm = 0 THEN x * x END) AS ss_a,
          SUM(CASE WHEN arm = 1 THEN x * x END) AS ss_b
        FROM e GROUP BY event_type),
      se AS (
        SELECT event_type, n_a, n_b,
          CAST(s_a AS DOUBLE) / n_a AS mean_a,
          CAST(s_b AS DOUBLE) / n_b AS mean_b,
          sqrt(
            greatest((CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) / (n_a - 1), 0.0) / n_a
          + greatest((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b) / (n_b - 1), 0.0) / n_b)
          AS se
        FROM m)
      SELECT event_type, n_a, n_b, mean_a, mean_b,
        CASE WHEN n_a >= 2 AND n_b >= 2 AND NOT isnan(se) AND se > 0.0
        THEN (mean_a - mean_b) / se END AS z
      FROM se"""))

  /** Gap-based sessionization (30 min) — lag + running-sum windows,
    * integer-second bounds for engine portability.
    */
  private val qSessions = QueryDef(
    "q_sessionize",
    (s, d) => graft.streaming.Sessionize.sessions(Tables.events(s, d), 1800L),
    sessionizeOracle)

  /** Streaming twin of q_sessionize (Sessionize.sessionizeStream —
    * flatMapGroupsWithState, event-time timeout, O(active users)
    * state): driven over the bounded events file with a sentinel
    * watermark flush, emitted sessions re-numbered per user by start
    * order. Shares the batch oracle verbatim — the state-machine and
    * the window formulation must agree session-for-session.
    */
  private val qStreamSessions = QueryDef(
    "q_stream_sessionize",
    (s, d) => graft.streaming.Sessionize.runBatchEquivalent(s, d, 1800L),
    sessionizeOracle)

  /** Daily volume↔count Pearson correlation per event_type — "do big
    * days come from more events or bigger events": moments are exact
    * DECIMAL (order-independent sums of x, y, xy, x², y² over the
    * daily rollup), the correlation itself is ONE mirrored tree of
    * IEEE double ops (the q_ab_test_z pattern), NULL when either
    * variance is degenerate. Two hash aggregates, no window, no sort.
    */
  private val qValueVolumeCorr = QueryDef(
    "q_value_volume_corr",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("__d"))
        .agg(sum(col("value").cast(DecimalType(12, 2))).as("x"),
          count(lit(1)).cast(DecimalType(12, 0)).as("y"))
      val m = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val n = col("n_days").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
        col("sy").cast("double"), col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      val den = sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
        sqrt(greatest(n * syy - sy * sy, lit(0.0)))
      m.select(col("event_type"), col("n_days"),
        when(col("n_days") >= 2L && !isnan(den) && den > 0.0,
          (n * sxy - sx * sy) / den).as("corr"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
          SUM(CAST(value AS DECIMAL(12,2))) AS x,
          CAST(COUNT(*) AS DECIMAL(12,0)) AS y
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
          SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
          SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM daily GROUP BY 1),
      f AS (
        SELECT event_type, n_days,
          CAST(n_days AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
          CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
          CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
        FROM m),
      g AS (
        SELECT event_type, n_days,
          sqrt(greatest(n * sxx - sx * sx, 0.0)) *
            sqrt(greatest(n * syy - sy * sy, 0.0)) AS den,
          n * sxy - sx * sy AS num
        FROM f)
      SELECT event_type, n_days,
        CASE WHEN n_days >= 2 AND NOT isnan(den) AND den > 0.0
             THEN num / den END AS corr
      FROM g"""))

  /** Single changepoint per event type (ops/Changepoint.bestSplit):
    * the day that best splits the daily-count series into two
    * constant-mean segments — maximum between-segment sum-of-squares,
    * the drift-LOCALIZATION step after profileDrift/anomalyFlags
    * alarm. Exact integer prefix sums; the objective is one integral
    * division (×10³) so the argmax and its day tiebreak replay on any
    * engine; segment means emitted ×10³ integral.
    */
  private val qChangepoint = QueryDef(
    "q_changepoint_split",
    (s, d) => graft.ops.Changepoint.bestSplit(Tables.events(s, d),
        col("event_type"), to_date(col("ts")), count(lit(1)))
      .withColumnRenamed("key", "event_type"),
    Some("""
      WITH daily AS (
        SELECT event_type AS k, CAST(ts AS DATE) AS d, COUNT(*) AS v
        FROM events GROUP BY 1, 2),
      sc AS (
        SELECT k, d,
          COUNT(*) OVER (PARTITION BY k ORDER BY d) AS t,
          CAST(SUM(v) OVER (PARTITION BY k ORDER BY d) AS HUGEINT) AS l,
          COUNT(*) OVER (PARTITION BY k) AS n,
          CAST(SUM(v) OVER (PARTITION BY k) AS HUGEINT) AS s
        FROM daily),
      obj AS (
        SELECT k, d, t, n, l, s,
          ((l * n - t * s) * (l * n - t * s) * 1000) //
            (CAST(t AS HUGEINT) * (n - t)) AS obj_scaled
        FROM sc WHERE t < n),
      best AS (
        SELECT k, n, d, obj_scaled, l, t, s,
          ROW_NUMBER() OVER (PARTITION BY k
            ORDER BY obj_scaled DESC, d) AS rn
        FROM obj)
      SELECT k AS event_type, CAST(n AS BIGINT) AS n_days,
        d AS split_day, CAST(obj_scaled AS BIGINT) AS obj_scaled,
        CAST((l * 1000) // CAST(t AS HUGEINT) AS BIGINT)
          AS mean_before_milli,
        CAST(((s - l) * 1000) // CAST(n - t AS HUGEINT) AS BIGINT)
          AS mean_after_milli
      FROM best WHERE rn = 1"""))

  /** The changepoint monitor as a CONTINUOUS query
    * (StreamingChangepoint): day-grain counts as ONE streaming
    * aggregation (state bounded by keys × calendar days), the
    * two-segment objective fold on the snapshot through the SAME
    * batch code path (bestSplitFromDaily) — batch/stream share the
    * fold, and the shared oracle proves snapshot ≡ batch whatever the
    * arrival order.
    */
  private val qStreamChangepoint = QueryDef(
    "q_stream_changepoint",
    (s, d) => graft.streaming.StreamingChangepoint.runBatchEquivalent(s, d),
    qChangepoint.oracle)

  /** Spearman rank correlation of the same (daily volume, daily count)
    * pairs — the robust twin of q_value_volume_corr: Pearson over
    * MIDRANKS, so monotone-but-nonlinear association registers and
    * outlier days stop dominating. Midranks stay integer by doubling
    * (rank2 = 2·RANK + ties − 1 — the Mann-Whitney trick from
    * aucExact), the moments accumulate in exact DECIMAL, and the final
    * r is the same ONE mirrored IEEE tree both engines evaluate
    * identically. Scale: one day-grain aggregate, two bounded
    * per-type rank windows, one moments aggregate.
    */
  private val qSpearmanCorr = QueryDef(
    "q_spearman_corr",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("__d"))
        .agg(sum(col("value").cast(DecimalType(12, 2))).as("xv"),
          count(lit(1)).as("yv"))
      def rank2(c: String) =
        (lit(2L) * rank().over(
          Window.partitionBy(col("event_type")).orderBy(col(c))) +
          count(lit(1)).over(
            Window.partitionBy(col("event_type"), col(c))) - 1L)
          .cast(DecimalType(12, 0))
      val ranked = daily.select(col("event_type"),
        rank2("xv").as("rx"), rank2("yv").as("ry"))
      val m = ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"))
      val n = col("n_days").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
        col("sy").cast("double"), col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      val den = sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
        sqrt(greatest(n * syy - sy * sy, lit(0.0)))
      m.select(col("event_type"), col("n_days"),
        when(col("n_days") >= 2L && !isnan(den) && den > 0.0,
          (n * sxy - sx * sy) / den).as("spearman"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
          SUM(CAST(value AS DECIMAL(12,2))) AS xv,
          COUNT(*) AS yv
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT event_type,
          CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY xv)
            + COUNT(*) OVER (PARTITION BY event_type, xv) - 1
            AS DECIMAL(12,0)) AS rx,
          CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY yv)
            + COUNT(*) OVER (PARTITION BY event_type, yv) - 1
            AS DECIMAL(12,0)) AS ry
        FROM daily),
      m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
          SUM(rx) AS sx, SUM(ry) AS sy, SUM(rx * ry) AS sxy,
          SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        FROM r GROUP BY 1),
      f AS (
        SELECT event_type, n_days,
          CAST(n_days AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
          CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
          CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
        FROM m),
      g AS (
        SELECT event_type, n_days,
          sqrt(greatest(n * sxx - sx * sx, 0.0)) *
            sqrt(greatest(n * syy - sy * sy, 0.0)) AS den,
          n * sxy - sx * sy AS num
        FROM f)
      SELECT event_type, n_days,
        CASE WHEN n_days >= 2 AND NOT isnan(den) AND den > 0.0
             THEN num / den END AS spearman
      FROM g"""))

  /** Funnel time-to-convert (Funnel.funnelLatency): per-transition
    * latency distribution — n, min/max, mean, and the EXACT median via
    * the order-statistic distribution walk (dt values are bounded by
    * the funnel window, so the walk's frame is small at any corpus
    * size; the corpus never sorts). The latency face of
    * q_funnel_conversion's drop-off counts.
    */
  private val qFunnelLatency = QueryDef(
    "q_funnel_latency",
    (s, d) => graft.ops.Funnel.funnelLatency(Tables.events(s, d),
      "user_id", "ts", "event_type",
      steps = Seq("view", "click", "purchase"), windowSec = 604800L),
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS ts, event_type
        FROM events),
      s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY 1),
      s2 AS (
        SELECT s1.user_id, s1.t1,
          MIN(CASE WHEN e.ts > s1.t1 AND e.ts <= s1.t1 + 604800
              THEN e.ts END) AS t2
        FROM s1 LEFT JOIN e
          ON e.user_id = s1.user_id AND e.event_type = 'click'
        GROUP BY 1, 2),
      s3 AS (
        SELECT s2.user_id, s2.t1, s2.t2,
          MIN(CASE WHEN s2.t2 IS NOT NULL AND e.ts > s2.t2
                AND e.ts <= s2.t1 + 604800 THEN e.ts END) AS t3
        FROM s2 LEFT JOIN e
          ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        GROUP BY 1, 2, 3),
      d AS (
        SELECT 'view->click' AS transition, t2 - t1 AS dt
        FROM s3 WHERE t2 IS NOT NULL
        UNION ALL
        SELECT 'click->purchase', t3 - t2 FROM s3 WHERE t3 IS NOT NULL),
      dist AS (SELECT transition, dt, COUNT(*) AS n FROM d GROUP BY 1, 2),
      cdf AS (
        SELECT transition, dt,
          SUM(n) OVER (PARTITION BY transition ORDER BY dt) AS cum,
          SUM(n) OVER (PARTITION BY transition) AS tot
        FROM dist),
      med AS (
        SELECT transition,
          MIN(CASE WHEN cum >= (1 * (tot + 1) + 1) // 2 THEN dt END)
            AS p50
        FROM cdf GROUP BY 1)
      SELECT d.transition,
        CAST(COUNT(*) AS BIGINT) AS n_converted,
        CAST(MIN(dt) AS BIGINT) AS min_s,
        CAST(MAX(dt) AS BIGINT) AS max_s,
        CAST(SUM(dt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_s,
        CAST(MAX(med.p50) AS BIGINT) AS p50_s
      FROM d JOIN med ON med.transition = d.transition
      GROUP BY 1"""))

  /** Purged + embargoed time-fold CV assignment
    * (Sampling.purgedTimeFolds — the de Prado leakage control): 5
    * equal time blocks over events, 1-day label horizon, 6-hour
    * embargo; per (fold, role) counts. The `purged` rows are exactly
    * the samples a naive time split would silently leak. k-row
    * broadcast fold table, map-side k× multiplication, one aggregate.
    */
  private val qPurgedSplit = QueryDef(
    "q_purged_time_split",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), expr("unix_micros(ts) div 1000000").as("ts_s"))
      graft.ops.Sampling
        .purgedTimeFolds(e, "event_id", "ts_s",
          horizonSec = 86400L, k = 5, embargoSec = 21600L)
        .groupBy(col("fold"), col("role"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, epoch_us(ts) // 1000000 AS ts_s FROM events),
      b AS (SELECT MIN(ts_s) AS lo, MAX(ts_s) AS hi FROM e),
      f AS (
        SELECT CAST(j AS INT) AS fold,
          lo + j * ((hi - lo) // 5 + 1) AS bs,
          lo + (j + 1) * ((hi - lo) // 5 + 1) - 1 AS be
        FROM (SELECT unnest(range(5)) AS j) CROSS JOIN b)
      SELECT fold,
        CASE WHEN ts_s BETWEEN bs AND be THEN 'test'
             WHEN ts_s + 86400 < bs OR ts_s > be + 21600 THEN 'train'
             ELSE 'purged' END AS role,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM e CROSS JOIN f GROUP BY 1, 2"""))

  /** Split-conformal calibration + empirical coverage
    * (ops/Conformal): 90% thresholds per event_type from the
    * user_id%5=0 calibration slice, coverage checked on the rest.
    * k = ceil((n+1)·9/10) is pure integer, scores go through
    * DECIMAL(12,2), qhat declared through one cast to DOUBLE — the
    * whole guarantee replays exactly. Calibration never sorts (the
    * GroupQuantile distribution walk); thresholds broadcast.
    */
  private val qConformal = QueryDef(
    "q_conformal_coverage",
    (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        col("user_id"), col("value").cast(DecimalType(12, 2)).as("score"))
      val thr = graft.ops.Conformal.threshold(
        e.where(pmod(col("user_id"), lit(5)) === 0),
        Seq("event_type"), "score", covNum = 9, covDen = 10)
      graft.ops.Conformal.coverage(
          e.where(pmod(col("user_id"), lit(5)) =!= 0),
          thr, Seq("event_type"), "score")
        .select(col("event_type"), col("n_cal"),
          col("qhat").cast("double").as("qhat"),
          col("n_test"), col("n_covered"), col("coverage"))
    },
    conformalOracle)

  /** Streaming twin of q_conformal_coverage
    * (streaming/StreamingConformal): thresholds frozen from the batch
    * calibration slice, arriving test events tallied in ONE streaming
    * aggregation with |groups| state — the live drift alarm for a
    * conformal gate. Shares the batch oracle verbatim.
    */
  private val qStreamConformal = QueryDef(
    "q_stream_conformal",
    (s, d) => graft.streaming.StreamingConformal.runBatchEquivalent(s, d),
    conformalOracle)

  private lazy val conformalOracle: Option[String] = Some("""
      WITH e AS (
        SELECT event_type, user_id,
          CAST(value AS DECIMAL(12,2)) AS v
        FROM events),
      dist AS (
        SELECT event_type, v, COUNT(*) AS n
        FROM e WHERE user_id % 5 = 0 GROUP BY 1, 2),
      cdf AS (
        SELECT event_type, v,
          SUM(n) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          SUM(n) OVER (PARTITION BY event_type) AS tot
        FROM dist),
      thr AS (
        SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n_cal,
          MIN(CASE WHEN cum >= (9 * (tot + 1) + 9) // 10 THEN v END)
            AS qhat
        FROM cdf GROUP BY 1)
      SELECT t.event_type, t.n_cal, CAST(t.qhat AS DOUBLE) AS qhat,
        CAST(COUNT(*) AS BIGINT) AS n_test,
        CAST(SUM(CASE WHEN e.v <= t.qhat THEN 1 ELSE 0 END) AS BIGINT)
          AS n_covered,
        CAST(SUM(CASE WHEN e.v <= t.qhat THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS coverage
      FROM e JOIN thr t USING (event_type)
      WHERE e.user_id % 5 <> 0
      GROUP BY 1, 2, 3""")

  /** Session co-presence (ops/IntervalJoin.selfOverlap): which user
    * pairs hold overlapping sessions, how often, and for how long —
    * the coordinated-activity signal behind bot-ring and
    * multi-account detection. Sessions come from the same gap
    * sessionization as q_sessionize; the overlap join is the GRID
    * composition (explode onto 1-hour cells, equi-join on the cell,
    * attribute each pair to the cell of greatest(starts) — no
    * distinct), never the all-pairs BroadcastNestedLoop a raw
    * overlap predicate plans to. The oracle states the same pairs as
    * a direct inequality self-join — DuckDB's IEJoin absorbs it at
    * oracle scale.
    */
  private val qCopresence = QueryDef(
    "q_session_copresence",
    (s, d) => {
      val sess = graft.streaming.Sessionize.sessions(
        Tables.events(s, d), 1800L)
      graft.ops.IntervalJoin
        .selfOverlap(sess, Seq("user_id", "session_id"),
          "start_s", "end_s", cellWidth = 3600L)
        .where(col("a_user_id") =!= col("b_user_id"))
        .groupBy(col("a_user_id").as("user_a"),
          col("b_user_id").as("user_b"))
        .agg(count(lit(1)).as("n_copresent"),
          sum(col("overlap")).as("overlap_s_total"))
        .orderBy(desc("overlap_s_total"), col("user_a"), col("user_b"))
        .limit(20)
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_s,
          CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      numbered AS (
        SELECT user_id, ts_s,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged),
      sess AS (
        SELECT user_id, session_id,
          MIN(ts_s) AS start_s, MAX(ts_s) AS end_s
        FROM numbered GROUP BY 1, 2),
      pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
          least(a.end_s, b.end_s) - greatest(a.start_s, b.start_s) AS ov
        FROM sess a JOIN sess b
          ON a.start_s <= b.end_s AND b.start_s <= a.end_s
          AND (a.user_id, a.session_id) < (b.user_id, b.session_id)
        WHERE a.user_id <> b.user_id)
      SELECT ua AS user_a, ub AS user_b,
        CAST(COUNT(*) AS BIGINT) AS n_copresent,
        CAST(SUM(ov) AS BIGINT) AS overlap_s_total
      FROM pairs GROUP BY 1, 2
      ORDER BY overlap_s_total DESC, user_a, user_b LIMIT 20"""))

  private lazy val sessionizeOracle: Option[String] = Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_s,
          CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      sess AS (
        SELECT user_id, event_id, ts_s,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(MIN(ts_s) AS BIGINT) AS start_s,
        CAST(MAX(ts_s) AS BIGINT) AS end_s
      FROM sess GROUP BY user_id, session_id""")

  /** Multi-touch attribution (ops/Attribution.touchAttribution):
    * every purchase is credited to the user's click/view touches in a
    * 3-day lookback, under last-touch and linear models at once. One
    * user-keyed join between the two filtered event slices, one
    * bounded per-conversion window, one final type-keyed aggregate;
    * linear shares are integer ppm (`1000000 div n`), engine-exact.
    */
  private val qAttribution = QueryDef(
    "q_attribution_touch",
    (s, d) => graft.ops.Attribution.touchAttribution(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      conversionType = "purchase", touchTypes = Seq("click", "view"),
      lookbackDays = 3),
    Some("""
      WITH conv AS (
        SELECT user_id, ts AS cts, event_id AS cid
        FROM events WHERE event_type = 'purchase'),
      touch AS (
        SELECT user_id, ts AS tts, event_id AS tid, event_type AS ttype
        FROM events WHERE event_type IN ('click', 'view')),
      j AS (
        SELECT t.ttype,
          ROW_NUMBER() OVER (PARTITION BY c.user_id, c.cid
            ORDER BY t.tts DESC, t.tid DESC) AS rn,
          COUNT(*) OVER (PARTITION BY c.user_id, c.cid) AS n
        FROM conv c JOIN touch t ON t.user_id = c.user_id
          AND (t.tts < c.cts OR (t.tts = c.cts AND t.tid < c.cid))
          AND t.tts >= c.cts - INTERVAL 3 DAY)
      SELECT ttype AS touch_type,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS last_touch_convs,
        CAST(SUM(1000000 // n) AS BIGINT) AS linear_credit_ppm,
        CAST(COUNT(*) AS BIGINT) AS touches
      FROM j GROUP BY 1"""))

  /** The four-model attribution table (Attribution
    * .multiTouchAttribution): last/first-touch, linear, U-shaped
    * position (40/20/40), and dyadic time-decay (weight halves per
    * day of age — exact 2^(lookback−age) integers, the EWMA
    * truncation move; share = one floor division per touch). Same
    * interval-grid equi-key join as q_attribution_touch — the bot
    * skew law carries over unchanged.
    */
  private val qAttributionModels = QueryDef(
    "q_attribution_models",
    (s, d) => graft.ops.Attribution.multiTouchAttribution(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      conversionType = "purchase", touchTypes = Seq("click", "view"),
      lookbackDays = 3),
    Some("""
      WITH conv AS (
        SELECT user_id, ts AS cts, event_id AS cid
        FROM events WHERE event_type = 'purchase'),
      touch AS (
        SELECT user_id, ts AS tts, event_id AS tid, event_type AS ttype
        FROM events WHERE event_type IN ('click', 'view')),
      j AS (
        SELECT c.user_id, c.cid, t.ttype,
          ROW_NUMBER() OVER (PARTITION BY c.user_id, c.cid
            ORDER BY t.tts DESC, t.tid DESC) AS rn,
          ROW_NUMBER() OVER (PARTITION BY c.user_id, c.cid
            ORDER BY t.tts ASC, t.tid ASC) AS rna,
          COUNT(*) OVER (PARTITION BY c.user_id, c.cid) AS n,
          (epoch_us(c.cts) - epoch_us(t.tts)) // 86400000000 AS age
        FROM conv c JOIN touch t ON t.user_id = c.user_id
          AND (t.tts < c.cts OR (t.tts = c.cts AND t.tid < c.cid))
          AND t.tts >= c.cts - INTERVAL 3 DAY),
      j2 AS (
        SELECT *,
          CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
               WHEN rn = 1 OR rna = 1 THEN 400000
               ELSE 200000 // (n - 2) END AS pos,
          (CAST(1 AS BIGINT) << CAST(3 - age AS INTEGER)) AS wt
        FROM j),
      j3 AS (
        SELECT *, SUM(wt) OVER (PARTITION BY user_id, cid) AS wsum
        FROM j2)
      SELECT ttype AS touch_type,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS last_touch_convs,
        CAST(SUM(CASE WHEN rna = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS first_touch_convs,
        CAST(SUM(1000000 // n) AS BIGINT) AS linear_credit_ppm,
        CAST(SUM(pos) AS BIGINT) AS position_credit_ppm,
        CAST(SUM((wt * 1000000) // wsum) AS BIGINT) AS decay_credit_ppm,
        CAST(COUNT(*) AS BIGINT) AS touches
      FROM j3 GROUP BY 1"""))

  /** Daily growth decomposition (Funnel.dailyGrowth): active, new,
    * returning, cumulative users per calendar day — cumulative
    * distinct computed WITHOUT unbounded coverage (running sum of
    * first-activity days); gap days emit zeros, cumulative carries.
    */
  private val qDailyGrowth = QueryDef(
    "q_daily_growth",
    (s, d) => graft.ops.Funnel.dailyGrowth(
      Tables.events(s, d), "ts", "user_id"),
    Some("""
      WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      act AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users
        FROM ud GROUP BY 1),
      fst AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM (
          SELECT user_id, MIN(day) AS day FROM ud GROUP BY 1)
        GROUP BY 1),
      b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
          AS DATE) AS day FROM b),
      j AS (
        SELECT s.day, COALESCE(a.active_users, 0) AS active_users,
          COALESCE(f.new_users, 0) AS new_users
        FROM spine s
        LEFT JOIN act a ON a.day = s.day
        LEFT JOIN fst f ON f.day = s.day)
      SELECT day, active_users, new_users,
        active_users - new_users AS returning_users,
        CAST(SUM(new_users) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cumulative_users
      FROM j"""))

  /** Rolling 7-day distinct users per type (Resample.rollingDistinct
    * — the WAU metric): distinct can't partial-aggregate across
    * sliding windows, so each DISTINCT (type, day, user) row covers
    * its 7 window-ending days via a map-side explode (×7 of the
    * collapsed frame, never of events) and one count-distinct per
    * (type, day) finishes; silent days emit 0 off the dense spine.
    */
  private val qRollingDistinct = QueryDef(
    "q_rolling_distinct_users",
    (s, d) => graft.ops.Resample.rollingDistinct(
      Tables.events(s, d), "event_type", "ts", "user_id", windowDays = 7),
    Some("""
      WITH ud AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        FROM events),
      b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
          AS DATE) AS day FROM b),
      keys AS (SELECT DISTINCT event_type FROM ud),
      cov AS (
        SELECT event_type,
          CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
            INTERVAL 1 DAY)) AS DATE) AS wday,
          user_id
        FROM ud),
      c AS (
        SELECT event_type, wday AS day,
          COUNT(DISTINCT user_id) AS du
        FROM cov GROUP BY 1, 2)
      SELECT k.event_type, s.day,
        CAST(COALESCE(c.du, 0) AS BIGINT) AS distinct_actors
      FROM keys k CROSS JOIN spine s
      LEFT JOIN c ON c.event_type = k.event_type AND c.day = s.day"""))

  /** Day-of-week seasonal profile (Forecast.dowProfile): WHAT the
    * weekly shape is, where q_seasonal_mase answers whether it
    * predicts — mean daily volume per ISO weekday vs overall, exact
    * ppm by cross-multiplied means over the DENSE grid (gap days are
    * zero-volume days, not missing ones). Spark weekday()+1 ==
    * DuckDB isodow (both 1=Monday; each engine's dayofweek() is
    * Sunday-based and they even disagree with each other).
    */
  private val qDowProfile = QueryDef(
    "q_dow_profile",
    (s, d) => graft.ops.Forecast.dowProfile(
      Tables.events(s, d), "event_type", "ts"),
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
          AS DATE) AS day FROM b),
      keys AS (SELECT DISTINCT event_type FROM daily),
      grid AS (
        SELECT k.event_type, s.day, COALESCE(d.c, 0) AS c
        FROM keys k CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = k.event_type
          AND d.day = s.day),
      g2 AS (SELECT event_type, isodow(day) AS dow, c FROM grid),
      tot AS (
        SELECT event_type, SUM(c) AS tc, COUNT(*) AS tn
        FROM g2 GROUP BY 1),
      dd AS (
        SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(c) AS BIGINT) AS dow_events
        FROM g2 GROUP BY 1, 2)
      SELECT dd.event_type, CAST(dd.dow AS INT) AS dow, dd.n_days,
        dd.dow_events,
        CAST((CAST(dd.dow_events AS HUGEINT) * tn * 1000000) //
          (tc * dd.n_days) AS BIGINT) AS index_ppm
      FROM dd JOIN tot USING (event_type)"""))

  /** Streaming twin: the dow profile fold on the continuously-
    * maintained day counts (shared oracle) — seventh member of the
    * snapshot-fold monitor family.
    */
  private val qStreamDowProfile = QueryDef(
    "q_stream_dow_profile",
    (s, d) => graft.streaming.StreamingForecast
      .runDowProfileBatchEquivalent(s, d),
    qDowProfile.oracle)

  /** Seasonal-naive MASE per event type (ops/Forecast
    * .seasonalNaiveMase): is day-of-week seasonality predictive?
    * Day-grain counts on a DENSE day grid (gaps as zeros — the lag-7
    * pair must not silently skip them), lag-1 vs lag-7 absolute
    * errors, one DECIMAL(38)-safe integral division for the ppm score.
    */
  private val qSeasonalMase = QueryDef(
    "q_seasonal_mase",
    (s, d) => graft.ops.Forecast.seasonalNaiveMase(
      Tables.events(s, d), "event_type", "ts", season = 7),
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
          AS DATE) AS day FROM b),
      keys AS (SELECT DISTINCT event_type FROM daily),
      grid AS (
        SELECT k.event_type, s.day, COALESCE(d.c, 0) AS c
        FROM keys k CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = k.event_type
          AND d.day = s.day),
      lagd AS (
        SELECT event_type, c,
          LAG(c, 1) OVER w AS c1, LAG(c, 7) OVER w AS c7
        FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(CASE WHEN c7 IS NOT NULL THEN ABS(c - c7) END)
            AS BIGINT) AS seasonal_abs_err,
          COUNT(c7) AS n_seasonal,
          CAST(SUM(CASE WHEN c1 IS NOT NULL THEN ABS(c - c1) END)
            AS BIGINT) AS naive_abs_err,
          COUNT(c1) AS n_naive
        FROM lagd GROUP BY 1)
      SELECT event_type, n_days, seasonal_abs_err, naive_abs_err,
        CASE WHEN naive_abs_err > 0 AND n_seasonal > 0 THEN
          CAST((seasonal_abs_err * n_naive * 1000000)
            // (n_seasonal * naive_abs_err) AS BIGINT)
        END AS mase_ppm
      FROM agg"""))

  /** Streaming twin of q_seasonal_mase (streaming/StreamingForecast):
    * day-grain counts as ONE continuous aggregation (calendar-bounded
    * state), MASE fold on the snapshot through the identical batch
    * code path — same oracle, so the hash proves arrival-order
    * equivalence.
    */
  private val qStreamSeasonalMase = QueryDef(
    "q_stream_seasonal_mase",
    (s, d) => graft.streaming.StreamingForecast.runBatchEquivalent(s, d),
    qSeasonalMase.oracle)

  /** Order-sensitive sequence mining within sessions
    * (ops/SequentialPatterns.sessionSequencePairs): in how many
    * sessions does type a occur STRICTLY BEFORE some type b — the
    * gap-tolerant complement of adjacent-step transitions. Each
    * session collapses to one (first, last) ordinal row per type
    * before pairing, so the pair join fans out |types|² per session,
    * never per event; support is DECIMAL(38)-safe integer ppm.
    */
  private val qSessionSequences = QueryDef(
    "q_session_sequences",
    (s, d) => graft.ops.SequentialPatterns.sessionSequencePairs(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
      gapSeconds = 1800L, minSessions = 1L),
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s,
          event_type
        FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_s, event_type,
          CASE WHEN lag(ts_s) OVER w IS NULL OR ts_s - lag(ts_s) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s,
          ROW_NUMBER() OVER w AS pos
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
      sess AS (
        SELECT user_id, event_type, pos,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged),
      pt AS (
        SELECT user_id, sid, event_type,
          MIN(pos) AS fp, MAX(pos) AS lp
        FROM sess GROUP BY 1, 2, 3),
      tot AS (
        SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, sid FROM pt)),
      p AS (
        SELECT a.event_type AS antecedent, b.event_type AS consequent,
          CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM pt a JOIN pt b ON a.user_id = b.user_id AND a.sid = b.sid
          AND a.event_type <> b.event_type AND a.fp < b.lp
        GROUP BY 1, 2)
      SELECT antecedent, consequent, n_sessions,
        CAST((n_sessions * 1000000) // tot.n AS BIGINT) AS support_ppm
      FROM p, tot"""))

  /** Robust outlier audit (ops/GroupQuantile.madOutliers): per-type
    * median + MAD over cents-quantized values via the
    * distribution-agg threshold walk (corpus never sorts), outliers
    * at |x − med| > 3·MAD. Both medians are lower/type-1 with the
    * integer `cum·2 ≥ tot` test — no two-middle averaging, no floats
    * anywhere.
    */
  private val qMadOutliers = QueryDef(
    "q_mad_outliers",
    (s, d) => graft.ops.GroupQuantile.madOutliers(
      Tables.events(s, d), Seq("event_type"),
      (col("value").cast(DecimalType(12, 2)) * 100).cast("long"), k = 3L),
    Some("""
      WITH v AS (
        SELECT event_type,
          CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        FROM events),
      d1 AS (SELECT event_type, v, COUNT(*) AS n FROM v GROUP BY 1, 2),
      c1 AS (
        SELECT event_type, v,
          SUM(n) OVER (PARTITION BY event_type ORDER BY v) AS cum,
          SUM(n) OVER (PARTITION BY event_type) AS tot
        FROM d1),
      med AS (
        SELECT event_type,
          CAST(MIN(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT)
            AS median
        FROM c1 GROUP BY 1),
      dev AS (
        SELECT v.event_type, ABS(v.v - m.median) AS dv
        FROM v JOIN med m USING (event_type)),
      d2 AS (SELECT event_type, dv, COUNT(*) AS n FROM dev GROUP BY 1, 2),
      c2 AS (
        SELECT event_type, dv,
          SUM(n) OVER (PARTITION BY event_type ORDER BY dv) AS cum,
          SUM(n) OVER (PARTITION BY event_type) AS tot
        FROM d2),
      mad AS (
        SELECT event_type,
          CAST(MIN(CASE WHEN cum * 2 >= tot THEN dv END) AS BIGINT) AS mad
        FROM c2 GROUP BY 1)
      SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        m.median, md.mad,
        CAST(SUM(CASE WHEN dev.dv > md.mad * 3 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM dev
      JOIN med m USING (event_type)
      JOIN mad md USING (event_type)
      GROUP BY 1, m.median, md.mad"""))

  /** Theil–Sen daily trend (ops/Forecast.theilSenDailyTrend): median
    * of all pairwise day-count slopes per type — the robust level
    * trend (bot-day bursts can't drag it). Slopes quantized ×10⁶ via
    * one integral division per pair (both engines truncate toward
    * zero on negatives — verified); lower-median over the integer
    * multiset. Pairs and windows are calendar-bounded per key.
    */
  private val qTheilSen = QueryDef(
    "q_theilsen_trend",
    (s, d) => graft.ops.Forecast.theilSenDailyTrend(
      Tables.events(s, d), "event_type", "ts"),
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
          AS DATE) AS day FROM b),
      keys AS (SELECT DISTINCT event_type FROM daily),
      grid AS (
        SELECT k.event_type, s.day, COALESCE(d.c, 0) AS c
        FROM keys k CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = k.event_type
          AND d.day = s.day),
      p AS (
        SELECT a.event_type, a.day AS d1, b2.day AS d2,
          ((b2.c - a.c) * 1000000)
            // date_diff('day', a.day, b2.day) AS slope_q
        FROM grid a JOIN grid b2 ON a.event_type = b2.event_type
          AND a.day < b2.day),
      r AS (
        SELECT event_type, slope_q,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY slope_q, d1, d2) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM p),
      nd AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        FROM grid GROUP BY 1)
      SELECT r.event_type, nd.n_days, CAST(r.np AS BIGINT) AS n_pairs,
        CAST(r.slope_q AS BIGINT) AS slope_x1e6
      FROM r JOIN nd USING (event_type)
      WHERE rn * 2 = np OR rn * 2 = np + 1"""))

  /** Largest-remainder (Hamilton) budget allocation
    * (Sampling.largestRemainderAllocation): how many rows a
    * 1000-row eval set takes from each event type, proportional with
    * exact-integer remainder ranking (remainders share the
    * denominator N, so `(budget·N_h) mod N` ranks them without any
    * fraction). Sums exactly to the budget; one corpus aggregate,
    * then |strata|-row windows.
    */
  private val qAllocation = QueryDef(
    "q_sample_allocation",
    (s, d) => graft.ops.Sampling.largestRemainderAllocation(
      Tables.events(s, d), Seq("event_type"), budget = 1000L),
    Some("""
      WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1),
      t AS (SELECT SUM(n_rows) AS tot FROM c),
      b AS (
        SELECT event_type, n_rows,
          CAST((1000 * n_rows) // tot AS BIGINT) AS base,
          (1000 * n_rows) % tot AS rem
        FROM c, t),
      r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk,
          1000 - SUM(base) OVER () AS leftover
        FROM b)
      SELECT event_type, n_rows, base,
        CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS alloc
      FROM r"""))

  /** Two-sample KS drift (ops/Profiling.ksDrift): did each event
    * type's VALUE distribution move between the first 15 days and the
    * rest of the epoch — the continuous-shape drift test the monitor
    * family was missing (chi2 = categorical, L1 = vocab mass, profile
    * = null/distinct decay). D is exact-rational (max |cumA·N_b −
    * cumB·N_a| over pooled distinct values, ONE final double
    * division — libm-free, so the double hash-matches); ks_num ships
    * for fully-integer downstream thresholds. The oracle replays the
    * identical integer windows.
    */
  private val qKsDrift = QueryDef(
    "q_ks_value_drift",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      graft.ops.Profiling.ksDrift(ev, Seq("event_type"), col("value"),
        to_date(col("ts")) < date_add(to_date(col("__mints")), 15))
    },
    Some("""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      base AS (
        SELECT e.event_type AS g, e.value AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.value IS NOT NULL),
      counts AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base GROUP BY 1, 2),
      cum AS (
        SELECT g, v,
          CAST(SUM(na) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS ca,
          CAST(SUM(nb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cb,
          CAST(SUM(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g) AS BIGINT) AS tb
        FROM counts)
      SELECT g AS event_type,
        CAST(MAX(ta) AS BIGINT) AS n_a,
        CAST(MAX(tb) AS BIGINT) AS n_b,
        CAST(MAX(ABS(ca * tb - cb * ta)) AS BIGINT) AS ks_num,
        CAST(MAX(ABS(ca * tb - cb * ta)) AS DOUBLE) /
          CAST(MAX(ta) * MAX(tb) AS DOUBLE) AS ks
      FROM cum GROUP BY 1"""),
    minDistinct = Some(("ks", 2L)))

  /** Streaming twin of q_ks_value_drift (StreamingForecast
    * .runKsBatchEquivalent): distribution counts as continuous state,
    * exact KS fold on the snapshot, shared oracle — the drift monitor
    * in its serving shape.
    */
  private val qStreamKs = QueryDef(
    "q_stream_ks_drift",
    (s, d) => graft.streaming.StreamingForecast
      .runKsBatchEquivalent(s, d),
    qKsDrift.oracle,
    minDistinct = Some(("ks", 2L)))

  /** Mann–Whitney U / rank-sum (ops/Profiling.mannWhitneyU) on the
    * same population split: KS says whether the shape moved, U says
    * in WHICH DIRECTION — auc_ab = P(early > late) + P(=)/2, the
    * common-language effect size, exact midrank tie handling with
    * doubled ranks so everything is integral until one division.
    */
  private val qMannWhitney = QueryDef(
    "q_mannwhitney_value",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      graft.ops.Profiling.mannWhitneyU(ev, Seq("event_type"),
        col("value"),
        to_date(col("ts")) < date_add(to_date(col("__mints")), 15))
    },
    Some("""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      base AS (
        SELECT e.event_type AS g, e.value AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.value IS NOT NULL),
      counts AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base GROUP BY 1, 2),
      cum AS (
        SELECT g, v, na, nb, na + nb AS n,
          CAST(SUM(na + nb) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
            AS cumn
        FROM counts),
      r AS (
        SELECT g, na, nb, 2 * cumn - n + 1 AS rank2 FROM cum)
      SELECT g AS event_type,
        CAST(SUM(na) AS BIGINT) AS n_a,
        CAST(SUM(nb) AS BIGINT) AS n_b,
        CAST(SUM(na * rank2) - SUM(na) * (SUM(na) + 1) AS BIGINT)
          AS u2_a,
        CAST(SUM(na * rank2) - SUM(na) * (SUM(na) + 1) AS DOUBLE) /
          (CAST(2 AS DOUBLE) * CAST(SUM(na) * SUM(nb) AS DOUBLE))
          AS auc_ab
      FROM r GROUP BY 1"""),
    minDistinct = Some(("auc_ab", 2L)))

  /** Cramér–von Mises two-sample drift (ops/Profiling.cvmDrift) on the
    * same population split: the integrated-square member completing
    * the triple — KS sees the max gap, MWU the direction, CvM weighs
    * EVERY gap (diffuse whole-distribution shifts that never open one
    * large gap). cvm_num = Σ m_v·D_v² stays integral (DECIMAL(38,0));
    * the output ships n_a, n_b and the one-division double. Both
    * engines build the double the same way — exact integer numerator
    * and denominator, ONE cast each, then one division — because the
    * denominator n_a·n_b·N² exceeds 2^53 already at sf0.1 populations,
    * where a double-by-double product chain would round differently.
    */
  private val qCvmDrift = QueryDef(
    "q_cvm_value_drift",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle.
      // r15 ADVICE caveat: the min subplan executes once per ACTION
      // over this query, and Profiling entry points that run a
      // guardKsDomain probe count still execute it twice per query
      // (probe + main) unless exchange reuse fires — "reduced, not
      // eliminated" (measured net win stands). If the double scan ever
      // shows at scale, compute the min on the counts frame instead.
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      graft.ops.Profiling.cvmDrift(ev, Seq("event_type"), col("value"),
          to_date(col("ts")) < date_add(to_date(col("__mints")), 15))
        .select(col("event_type"), col("n_a"), col("n_b"), col("cvm"))
    },
    Some("""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      base AS (
        SELECT e.event_type AS g, e.value AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.value IS NOT NULL),
      counts AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base GROUP BY 1, 2),
      cum AS (
        SELECT g, na, nb,
          CAST(SUM(na) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS ca,
          CAST(SUM(nb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cb,
          CAST(SUM(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g) AS BIGINT) AS tb
        FROM counts),
      d AS (
        SELECT g, na, nb, ta, tb,
          CAST(ca * tb - cb * ta AS HUGEINT) AS dv
        FROM cum)
      SELECT g AS event_type,
        CAST(MAX(ta) AS BIGINT) AS n_a,
        CAST(MAX(tb) AS BIGINT) AS n_b,
        CAST(SUM(CAST(na + nb AS HUGEINT) * dv * dv) AS DOUBLE) /
          CAST(CAST(MAX(ta) AS HUGEINT) * MAX(tb) *
            (MAX(ta) + MAX(tb)) * (MAX(ta) + MAX(tb)) AS DOUBLE) AS cvm
      FROM d GROUP BY 1"""),
    minDistinct = Some(("cvm", 2L)))

  /** Streaming twin of q_cvm_value_drift (StreamingForecast
    * .runCvmBatchEquivalent): the same continuous distribution-count
    * state as the KS twin, folded through the identical cvmFromCounts
    * batch code path on the snapshot, shared oracle.
    */
  private val qStreamCvm = QueryDef(
    "q_stream_cvm_drift",
    (s, d) => graft.streaming.StreamingForecast
      .runCvmBatchEquivalent(s, d),
    qCvmDrift.oracle,
    minDistinct = Some(("cvm", 2L)))

  /** Exact 1-D Wasserstein-1 drift (ops/Profiling.wassersteinDrift) on
    * the same split: the area between the two CDFs — the AVERAGE
    * transport distance in the value's own units, the number a
    * cost/latency monitor actually alarms on (KS's max gap is
    * unitless). events.value is a 2-decimal amount, so the caller
    * ships it ×100 as an exact integer and passes scale=100 — the
    * family's engine-exactness discipline (integers until one final
    * division) extends to the value AXIS, not just the counts.
    * round() before the cast: double×100 of a 2-decimal value lands
    * within 1e-12 of the integer on either side, and truncation would
    * map 0.29 → 28.
    */
  private val qWasserstein = QueryDef(
    "q_wasserstein_value",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      graft.ops.Profiling.wassersteinDrift(ev, Seq("event_type"),
          round(col("value") * 100).cast("long"),
          to_date(col("ts")) < date_add(to_date(col("__mints")), 15),
          scale = 100L)
        .select(col("event_type"), col("n_a"), col("n_b"), col("w1"))
    },
    Some("""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      base AS (
        SELECT e.event_type AS g,
          CAST(ROUND(e.value * 100) AS BIGINT) AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.value IS NOT NULL),
      counts AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base GROUP BY 1, 2),
      cum AS (
        SELECT g, v,
          CAST(SUM(na) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS ca,
          CAST(SUM(nb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cb,
          CAST(SUM(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g) AS BIGINT) AS tb,
          LEAD(v) OVER (PARTITION BY g ORDER BY v) AS vnext
        FROM counts)
      SELECT g AS event_type,
        CAST(MAX(ta) AS BIGINT) AS n_a,
        CAST(MAX(tb) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN vnext IS NULL THEN CAST(0 AS HUGEINT)
          ELSE CAST(vnext - v AS HUGEINT) * ABS(ca * tb - cb * ta)
          END) AS DOUBLE) /
          CAST(CAST(100 AS HUGEINT) * MAX(ta) * MAX(tb) AS DOUBLE) AS w1
      FROM cum GROUP BY 1"""),
    minDistinct = Some(("w1", 2L)))

  /** Streaming twin of q_mannwhitney_value: identical mwuFromCounts
    * fold on the continuous count-state snapshot, shared oracle.
    */
  private val qStreamMwu = QueryDef(
    "q_stream_mannwhitney",
    (s, d) => graft.streaming.StreamingForecast
      .runMwuBatchEquivalent(s, d),
    qMannWhitney.oracle,
    minDistinct = Some(("auc_ab", 2L)))

  /** Streaming twin of q_wasserstein_value: the distribution-count
    * state is keyed on the integer-scaled value, the identical
    * wassersteinFromCounts fold runs on the snapshot, shared oracle —
    * the full drift quartet (KS / MWU / CvM / W1) now has its serving
    * shape verified.
    */
  private val qStreamWasserstein = QueryDef(
    "q_stream_wasserstein",
    (s, d) => graft.streaming.StreamingForecast
      .runWassersteinBatchEquivalent(s, d),
    qWasserstein.oracle,
    minDistinct = Some(("w1", 2L)))

  /** Categorical composition drift (ops/Profiling.tvdDrift): total
    * variation distance of the event-type MIX between the reference
    * and current windows, per traffic segment (user_id mod 4 — the
    * shard-level granularity a composition monitor alarms at). chi2
    * (q_chi2_independence's machinery) says whether the shift is
    * surprising; TVD says how much mass moved — ½·Σ|p_a − p_b|, the
    * fraction of traffic that changed category, log-free so the
    * family's exact-integer discipline holds with no smoothing
    * constant on categories absent from one side (PSI's weakness).
    */
  private val qTvdDrift = QueryDef(
    "q_tvd_category_drift",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      // signed % on BOTH sides (not pmod): Spark's Remainder and
      // DuckDB's % agree for every sign of user_id; pmod would
      // silently diverge on a negative id (the null-order lesson
      // applied to modular arithmetic)
      graft.ops.Profiling.tvdDrift(
        ev.withColumn("segment", col("user_id") % 4),
        Seq("segment"), col("event_type"),
        to_date(col("ts")) < date_add(to_date(col("__mints")), 15))
    },
    Some("""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      base AS (
        SELECT e.user_id % 4 AS g, e.event_type AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.event_type IS NOT NULL),
      counts AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base GROUP BY 1, 2),
      tot AS (
        SELECT g, na, nb,
          CAST(SUM(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g) AS BIGINT) AS tb
        FROM counts)
      SELECT g AS segment,
        CAST(MAX(ta) AS BIGINT) AS n_a,
        CAST(MAX(tb) AS BIGINT) AS n_b,
        CAST(SUM(ABS(CAST(na AS HUGEINT) * tb -
                     CAST(nb AS HUGEINT) * ta)) AS DOUBLE) /
          CAST(2 * CAST(MAX(ta) AS HUGEINT) * MAX(tb) AS DOUBLE) AS tvd
      FROM tot GROUP BY 1"""),
    minDistinct = Some(("tvd", 2L)))

  /** Streaming twin of q_tvd_category_drift (StreamingForecast
    * .runTvdBatchEquivalent): the composition monitor in its serving
    * shape — state is (segment, category, pop) counts, the SMALLEST
    * state in the drift family (category domain × segments, not a
    * value distribution), folded through the identical tvdFromCounts
    * batch code on the snapshot, shared oracle.
    */
  private val qStreamTvd = QueryDef(
    "q_stream_tvd_drift",
    (s, d) => graft.streaming.StreamingForecast
      .runTvdBatchEquivalent(s, d),
    qTvdDrift.oracle,
    minDistinct = Some(("tvd", 2L)))

  /** Kuiper V drift on hour-of-day (ops/Profiling.kuiperDrift): the
    * two-tail / CYCLIC member. Hour-of-day is a circle — "midnight"
    * is an arbitrary cut — and a daypart shift (morning mass moving
    * to evening) opens one positive and one negative CDF excursion;
    * KS keeps only the larger while V = D⁺ + D⁻ keeps both and is
    * invariant to where the cycle is cut. Exact: both excursion
    * maxima are integers (the family's ca·n_b − cb·n_a gap), summed
    * before one final division; hour's 24-value domain satisfies the
    * bounded-domain contract by construction.
    */
  private val qKuiperDrift = QueryDef(
    "q_kuiper_hour_drift",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      graft.ops.Profiling.kuiperDrift(ev, Seq("event_type"),
        hour(col("ts")),
        to_date(col("ts")) < date_add(to_date(col("__mints")), 15))
    },
    Some("""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      base AS (
        SELECT e.event_type AS g, EXTRACT(HOUR FROM e.ts) AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.ts IS NOT NULL),
      counts AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base GROUP BY 1, 2),
      cum AS (
        SELECT g,
          CAST(SUM(na) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS ca,
          CAST(SUM(nb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cb,
          CAST(SUM(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g) AS BIGINT) AS tb
        FROM counts),
      d AS (
        SELECT g, ta, tb, CAST(ca * tb - cb * ta AS BIGINT) AS dv
        FROM cum)
      SELECT g AS event_type,
        CAST(MAX(ta) AS BIGINT) AS n_a,
        CAST(MAX(tb) AS BIGINT) AS n_b,
        CAST(MAX(dv) AS BIGINT) AS dplus_num,
        CAST(MAX(-dv) AS BIGINT) AS dminus_num,
        CAST(MAX(dv) + MAX(-dv) AS BIGINT) AS kuiper_num,
        CAST(MAX(dv) + MAX(-dv) AS DOUBLE) /
          CAST(MAX(ta) * MAX(tb) AS DOUBLE) AS kuiper
      FROM d GROUP BY 1"""),
    minDistinct = Some(("kuiper", 2L)))

  /** Streaming twin of q_kuiper_hour_drift (StreamingForecast
    * .runKuiperBatchEquivalent): hour-of-day counts as continuous
    * state — bounded at 24 values × types by construction, the
    * drift family's only domain that needs no guard even in
    * principle — identical kuiperFromCounts fold on the snapshot,
    * shared oracle.
    */
  private val qStreamKuiper = QueryDef(
    "q_stream_kuiper_drift",
    (s, d) => graft.streaming.StreamingForecast
      .runKuiperBatchEquivalent(s, d),
    qKuiperDrift.oracle,
    minDistinct = Some(("kuiper", 2L)))

  /** Rolling-reference drift time series (ops/Profiling
    * .ksDriftTimeseries): D per (event_type, day), each day's
    * trailing 7-day current window against the 7 days before it —
    * the chart a deployed monitor renders, exact on every point,
    * where the fixed-split queries (q_ks_value_drift) answer a
    * one-shot question. Only fully-windowed days emit (a half-filled
    * reference alarms on window fill, not drift), and empty-window
    * (group, day) rows emit NOTHING rather than an engine-divergent
    * 0/0.
    */
  private val qKsTimeseries = QueryDef(
    "q_ks_drift_timeseries",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.ops.Profiling.ksDriftTimeseries(ev, Seq("event_type"),
        col("value"), to_date(col("ts")), refDays = 7, curDays = 7)
    },
    Some("""
      WITH mind AS (SELECT CAST(MIN(ts) AS DATE) AS d0 FROM events),
      days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS ed FROM events, mind
        WHERE CAST(ts AS DATE) >= d0 + 13),
      dc AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day, value AS v,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2, 3),
      j AS (
        SELECT dc.g, days.ed, dc.v, dc.day <= days.ed - 7 AS p, dc.n
        FROM dc JOIN days ON dc.day BETWEEN days.ed - 13 AND days.ed),
      counts AS (
        SELECT g, ed, v,
          CAST(SUM(CASE WHEN p THEN n ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE n END) AS BIGINT) AS nb
        FROM j GROUP BY 1, 2, 3),
      cum AS (
        SELECT g, ed,
          CAST(SUM(na) OVER (PARTITION BY g, ed ORDER BY v) AS BIGINT) AS ca,
          CAST(SUM(nb) OVER (PARTITION BY g, ed ORDER BY v) AS BIGINT) AS cb,
          CAST(SUM(na) OVER (PARTITION BY g, ed) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g, ed) AS BIGINT) AS tb
        FROM counts)
      SELECT g AS event_type, ed AS eval_day,
        CAST(MAX(ta) AS BIGINT) AS n_a,
        CAST(MAX(tb) AS BIGINT) AS n_b,
        CAST(MAX(ABS(ca * tb - cb * ta)) AS BIGINT) AS ks_num,
        CAST(MAX(ABS(ca * tb - cb * ta)) AS DOUBLE) /
          CAST(MAX(ta) * MAX(tb) AS DOUBLE) AS ks
      FROM cum GROUP BY 1, 2
      HAVING MAX(ta) > 0 AND MAX(tb) > 0"""),
    minDistinct = Some(("ks", 2L)))

  /** The monitor's DECISION column (ops/Profiling.withKsAlarm): the
    * drift time series with the α = 0.05 rejection computed as exact
    * integer arithmetic — ks_num²·20000 > 36889·n_a·n_b·N, the
    * declared-rational-critical-constant form, so a borderline day
    * cannot flip between engines on a sqrt/ln rounding. The oracle
    * replays the identical comparison in HUGEINT around the shared
    * time-series SQL.
    */
  private val qKsAlarm = QueryDef(
    "q_ks_drift_alarm",
    (s, d) => {
      val ev = Tables.events(s, d)
      graft.ops.Profiling.withKsAlarm(
        graft.ops.Profiling.ksDriftTimeseries(ev, Seq("event_type"),
          col("value"), to_date(col("ts")), refDays = 7, curDays = 7))
    },
    qKsTimeseries.oracle.map(ts => s"""
      SELECT event_type, eval_day, n_a, n_b, ks_num, ks,
        (CAST(ks_num AS HUGEINT) * ks_num * 20000 >
         CAST(36889 AS HUGEINT) * n_a * n_b * (n_a + n_b)) AS alarm
      FROM ($ts) ts"""),
    minDistinct = Some(("ks", 2L)))

  /** Streaming twin of q_ks_drift_timeseries (StreamingForecast
    * .runKsTimeseriesBatchEquivalent): per-(type, value, day) counts
    * as continuous state — the representation a production monitor
    * actually maintains, because day-grain counts never change once
    * the day closes while every WINDOWED statistic does — folded
    * through the identical ksTimeseriesFold join + exact fold on the
    * snapshot, shared oracle.
    */
  private val qStreamKsTimeseries = QueryDef(
    "q_stream_ks_timeseries",
    (s, d) => graft.streaming.StreamingForecast
      .runKsTimeseriesBatchEquivalent(s, d),
    qKsTimeseries.oracle,
    minDistinct = Some(("ks", 2L)))

  /** Shared oracle block: the exact-rational KS fold in SQL over a
    * `base(g, v, p)` CTE the caller has already defined — counts,
    * integer cumulative windows, max |ca·tb − cb·ta|, one final
    * division. Kept as ONE string so every KS-family oracle replays
    * the identical arithmetic.
    */
  private def ksOracleFold(baseRel: String): String = s"""
      counts$baseRel AS (
        SELECT g, v,
          CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM base$baseRel GROUP BY 1, 2),
      cum$baseRel AS (
        SELECT g, v,
          CAST(SUM(na) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS ca,
          CAST(SUM(nb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cb,
          CAST(SUM(na) OVER (PARTITION BY g) AS BIGINT) AS ta,
          CAST(SUM(nb) OVER (PARTITION BY g) AS BIGINT) AS tb
        FROM counts$baseRel),
      ks$baseRel AS (
        SELECT g AS event_type,
          CAST(MAX(ta) AS BIGINT) AS n_a,
          CAST(MAX(tb) AS BIGINT) AS n_b,
          CAST(MAX(ABS(ca * tb - cb * ta)) AS BIGINT) AS ks_num,
          CAST(MAX(ABS(ca * tb - cb * ta)) AS DOUBLE) /
            CAST(MAX(ta) * MAX(tb) AS DOUBLE) AS ks
        FROM cum$baseRel GROUP BY 1)"""

  /** KS drift on the BUCKETED value (ops/Profiling.ksDriftBucketed) —
    * the scale path for continuous domains where the exact per-value
    * fold would stop at the domain guard: 64 equal-width bins over the
    * global [min, max] (plain IEEE double arithmetic, replayed
    * bit-identically by the oracle), then the identical exact-rational
    * KS fold on the bin ids with state bounded by construction. D here
    * is the true statistic of the bucketed distributions — a lower
    * bound on the continuous D.
    */
  private val qKsBucketed = QueryDef(
    "q_ks_bucketed_drift",
    (s, d) => {
      // r15: the min-ts scalar rides the plan (broadcast 1-row cross
      // join) instead of a driver head() that paid an extra full scan
      // + barrier per query — same cut date, same oracle
      val ev0 = Tables.events(s, d)
      val ev = ev0.crossJoin(ev0.agg(min(col("ts")).as("__mints")))
      graft.ops.Profiling.ksDriftBucketed(ev, Seq("event_type"),
        col("value"),
        to_date(col("ts")) < date_add(to_date(col("__mints")), 15),
        buckets = 64)
    },
    Some(s"""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c FROM events),
      mm AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
        WHERE value IS NOT NULL),
      base AS (
        SELECT e.event_type AS g,
          CASE WHEN mm.mx = mm.mn THEN CAST(0 AS BIGINT)
               ELSE LEAST(CAST(63 AS BIGINT), CAST(FLOOR(
                 (e.value - mm.mn) / ((mm.mx - mm.mn) / 64)) AS BIGINT))
          END AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut, mm
        WHERE e.value IS NOT NULL),
      ${ksOracleFold("")}
      SELECT * FROM ks"""),
    minDistinct = Some(("ks", 2L)))

  /** The KS monitor with state surviving a new-data arrival
    * (StreamingForecast.runKsAppended, r14 verdict #6): reference
    * window static, current population lands in two micro-batch waves
    * on LIVE aggregation state, exact KS fold on each wave's full
    * snapshot through the identical batch code path. The oracle
    * replays both waves (wave 1 = current rows through day 22 only);
    * a green hash proves wave 2's D is a cumulative merge — a
    * rebuilt-state bug would compute it from days 23+ alone. Floor:
    * both waves must be present in the output.
    */
  private val qStreamKsAppended = QueryDef(
    "q_stream_ks_appended",
    (s, d) => graft.streaming.StreamingForecast.runKsAppended(s, d),
    Some(s"""
      WITH cut AS (
        SELECT CAST(MIN(ts) AS DATE) + INTERVAL 15 DAY AS c,
               CAST(MIN(ts) AS DATE) + INTERVAL 23 DAY AS c2
        FROM events),
      base1 AS (
        SELECT e.event_type AS g, e.value AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.value IS NOT NULL AND CAST(e.ts AS DATE) < cut.c2),
      base2 AS (
        SELECT e.event_type AS g, e.value AS v,
          CAST(e.ts AS DATE) < cut.c AS p
        FROM events e, cut
        WHERE e.value IS NOT NULL),
      ${ksOracleFold("1")},
      ${ksOracleFold("2")}
      SELECT CAST(1 AS BIGINT) AS wave, * FROM ks1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS wave, * FROM ks2"""),
    minDistinct = Some(("wave", 2L)))

  /** CUSUM control chart (ops/Changepoint.cusumFromDaily): on which
    * day would a one-sided chart (both directions) have alarmed on
    * each type's daily volume, against the first week's mean, with
    * 0.1·μ̂ slack and a 2·μ̂ threshold. The recursive max(0,·) fold is
    * relational via the drawup identity S⁺_t = P_t − min(0, min
    * prefix P) — two windows per direction over calendar-bounded
    * series, all scaled-integer arithmetic.
    */
  private val qCusum = QueryDef(
    "q_cusum_drift",
    (s, d) => graft.ops.Changepoint.cusumDrift(
      Tables.events(s, d), "event_type", "ts",
      refDays = 7, slackPpm = 100000L, hPpm = 2000000L),
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
      spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
          AS DATE) AS day FROM b),
      keys AS (SELECT DISTINCT event_type FROM daily),
      grid AS (
        SELECT k.event_type, s.day, COALESCE(d.c, 0) AS c
        FROM keys k CROSS JOIN spine s
        LEFT JOIN daily d ON d.event_type = k.event_type
          AND d.day = s.day),
      t AS (
        SELECT event_type, day, c,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
        FROM grid),
      ref AS (
        SELECT event_type,
          SUM(CASE WHEN t <= 7 THEN c END) AS ref_sum,
          SUM(CASE WHEN t <= 7 THEN 1 ELSE 0 END) AS ref_n
        FROM t GROUP BY 1),
      dev AS (
        SELECT t.event_type, t.day,
          1000000 * (t.c * r.ref_n - r.ref_sum) - 100000 * r.ref_sum
            AS dev,
          -1000000 * (t.c * r.ref_n - r.ref_sum) - 100000 * r.ref_sum
            AS devd,
          r.ref_sum, r.ref_n
        FROM t JOIN ref r USING (event_type) WHERE t.t > 7),
      ps AS (
        SELECT *, SUM(dev) OVER w AS p, SUM(devd) OVER w AS pd
        FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s AS (
        SELECT *,
          p - (CASE WHEN MIN(p) OVER w < 0 THEN MIN(p) OVER w
               ELSE 0 END) AS sup,
          pd - (CASE WHEN MIN(pd) OVER w < 0 THEN MIN(pd) OVER w
                ELSE 0 END) AS sdn,
          2000000 * ref_sum AS h
        FROM ps WINDOW w AS (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(MIN(ref_n) AS BIGINT) AS ref_n,
        CAST(MIN(ref_sum) AS BIGINT) AS ref_sum,
        strftime(MIN(CASE WHEN sup > h THEN day END), '%Y-%m-%d')
          AS up_alarm_day,
        strftime(MIN(CASE WHEN sdn > h THEN day END), '%Y-%m-%d')
          AS down_alarm_day
      FROM s GROUP BY 1"""))

  /** EWMA forecast-band monitor (ops/Forecast.ewmaMonitor): per type,
    * how many days fell outside the ±50% one-step-ahead exponentially-
    * weighted band, and tomorrow's forecast — engine-exact via dyadic
    * weights 2^(L−j) truncated at L=16 (every term an integer; the
    * untruncated (1−α)^t power is unrepresentable in fixed precision).
    * The oracle replays the 16 lag terms with literal power-of-two
    * weights (generated below — still one static SQL string).
    */
  private val qEwma = {
    val L = 16
    val numSql = (1 to L)
      .map(j => s"COALESCE(LAG(c, $j) OVER w, 0) * ${1L << (L - j)}")
      .mkString(" + ")
    val denSql = (1 to L)
      .map(j =>
        s"CASE WHEN LAG(c, $j) OVER w IS NULL THEN 0 ELSE ${1L << (L - j)} END")
      .mkString(" + ")
    // tomorrow's forecast includes the current day: lags 0..L-1
    val numNextSql = (1 to L)
      .map(j => s"COALESCE(LAG(c, ${j - 1}) OVER w, 0) * ${1L << (L - j)}")
      .mkString(" + ")
    val denNextSql = (1 to L)
      .map(j =>
        s"CASE WHEN LAG(c, ${j - 1}) OVER w IS NULL THEN 0 ELSE ${1L << (L - j)} END")
      .mkString(" + ")
    QueryDef(
      "q_ewma_band",
      (s, d) => graft.ops.Forecast.ewmaMonitor(
        Tables.events(s, d), "event_type", "ts",
        lags = 16, bandPpm = 500000L),
      Some(s"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        spine AS (
          SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
            AS DATE) AS day FROM b),
        keys AS (SELECT DISTINCT event_type FROM daily),
        grid AS (
          SELECT k.event_type, s.day, COALESCE(d.c, 0) AS c
          FROM keys k CROSS JOIN spine s
          LEFT JOIN daily d ON d.event_type = k.event_type
            AND d.day = s.day),
        l AS (
          SELECT event_type, day, c,
            $numSql AS num,
            $denSql AS den,
            $numNextSql AS numn,
            $denNextSql AS denn
          FROM grid
          WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        f AS (
          SELECT *,
            CASE WHEN den > 0 AND CAST(c AS DECIMAL(38,0)) * den * 1000000
              > CAST(num AS DECIMAL(38,0)) * 1500000 THEN 1 ELSE 0 END AS hi,
            CASE WHEN den > 0 AND CAST(c AS DECIMAL(38,0)) * den * 1000000
              < CAST(num AS DECIMAL(38,0)) * 500000 THEN 1 ELSE 0 END AS lo,
            MAX(day) OVER (PARTITION BY event_type) AS maxd
          FROM l)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(hi) AS BIGINT) AS n_high,
          CAST(SUM(lo) AS BIGINT) AS n_low,
          strftime(MIN(CASE WHEN hi = 1 THEN day END), '%Y-%m-%d')
            AS first_high_day,
          strftime(MIN(CASE WHEN lo = 1 THEN day END), '%Y-%m-%d')
            AS first_low_day,
          CAST(CASE WHEN MIN(CASE WHEN day = maxd THEN denn END) > 0 THEN
            (CAST(MIN(CASE WHEN day = maxd THEN numn END) AS HUGEINT)
              * 1000000) // MIN(CASE WHEN day = maxd THEN denn END)
            END AS BIGINT) AS ewma_next_x1e6
        FROM f GROUP BY 1"""))
  }

  /** Streaming twin: the EWMA band fold on the continuously-
    * maintained day counts (shared oracle).
    */
  private val qStreamEwma = QueryDef(
    "q_stream_ewma",
    (s, d) => graft.streaming.StreamingForecast
      .runEwmaBatchEquivalent(s, d),
    qEwma.oracle)

  /** Streaming twin (StreamingChangepoint.runCusumBatchEquivalent):
    * same day-count aggregation state, CUSUM fold on the snapshot
    * through the batch code path; shared oracle.
    */
  private val qStreamCusum = QueryDef(
    "q_stream_cusum",
    (s, d) => graft.streaming.StreamingChangepoint
      .runCusumBatchEquivalent(s, d),
    qCusum.oracle)

  /** Streaming twin of q_theilsen_trend: the robust trend monitor on
    * the continuously-maintained day counts, batch fold on the
    * snapshot (shared oracle).
    */
  private val qStreamTheilSen = QueryDef(
    "q_stream_theilsen",
    (s, d) => graft.streaming.StreamingForecast
      .runTheilSenBatchEquivalent(s, d),
    qTheilSen.oracle)

  /** Streaming twin of q_mad_outliers: the VALUE DISTRIBUTION
    * (type, cents, count) is the aggregation state — bounded by the
    * cents grid, not the stream — and median/MAD/fence fold from the
    * snapshot through GroupQuantile.madFromDistribution (shared
    * oracle).
    */
  private val qStreamMad = QueryDef(
    "q_stream_mad",
    (s, d) => graft.streaming.StreamingForecast
      .runMadBatchEquivalent(s, d),
    qMadOutliers.oracle)

  /** Streaming twin of q_sample_allocation: stratum counts as
    * |strata|-row aggregation state, Hamilton fold per snapshot
    * (shared oracle).
    */
  private val qStreamAllocation = QueryDef(
    "q_stream_allocation",
    (s, d) => graft.streaming.StreamingForecast
      .runAllocationBatchEquivalent(s, d),
    qAllocation.oracle)

  def all: Seq[QueryDef] = Seq(qAttribution, qAttributionModels, qRollingDistinct, qDailyGrowth, qDowProfile, qStreamDowProfile, qSeasonalMase,
    qStreamSeasonalMase, qSessionSequences, qMadOutliers, qStreamMad,
    qEwma, qStreamEwma, qTheilSen,
    qStreamTheilSen, qAllocation, qStreamAllocation, qKsDrift, qStreamKs, qMannWhitney, qKsBucketed, qStreamKsAppended, qCvmDrift, qStreamCvm, qWasserstein, qStreamWasserstein, qStreamMwu, qTvdDrift, qStreamTvd, qKuiperDrift, qStreamKuiper, qKsTimeseries, qKsAlarm, qStreamKsTimeseries, qCusum, qStreamCusum,qPivot, qPivotMin, qStreamLatePivot, qStreamLatePivotUpdate, qStreamUpdateWaves, qUnpivot, qResample, qAnomaly, qRollingMedian, qStreamRollingMedian, qJson, qValues, qHllRolling, qStreamHllRolling, qStream,
    qStreamDedup, qStreamFileSink, qStreamJoin, qSessions, qStreamSessions, qCopresence, qPurgedSplit, qConformal, qStreamConformal, qFunnel, qFunnelLatency, qValueVolumeCorr, qSpearmanCorr, qChangepoint, qStreamChangepoint, qRetention,
    qScd2, qScd2Apply, qStreamScd2, qScd2Pit, qStreamPit, qAbTest, qDid, qCuped, qTransitions, qEventPaths, qGolden, qWinsorized, qRfm, qChi2, qHllOverlap, qKeySkew, qStreamKeySkew, qJoinSizeEst)
}
