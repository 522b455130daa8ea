package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch marketing attribution over an event log: credit each
  * conversion event to the touch events (clicks, views, …) the same
  * user produced inside a lookback window, under two standard models
  * at once — last-touch (the most recent touch gets the conversion)
  * and linear (each touch gets an equal 1/n share).
  *
  * Scale shape: ONE (user, time-bucket)-keyed equi-join between the
  * conversion slice and the touch slice (both filtered map-side, so
  * only the two narrow event slices reach the exchange), then ONE
  * window per (user, conversion) — bounded by that user's touches
  * inside the lookback, never corpus-wide — and ONE final partial-agg
  * shuffle on touch type. No global sort, no driver collection.
  *
  * SKEW LAW (AttributionProbe, 50M events, one 2%-of-traffic bot): an
  * inequality predicate does NOT bound a join's cost unless it is in
  * the EQUI-KEY. A user-only key hash-joins the bot's |convs| ×
  * |touches| pairs through one partition BEFORE the lookback filter
  * can discard anything — measured 1408 s at lookback 1 day and
  * unfinishable at 7. With the time bucket in the key the same run is
  * 40 s / 362 s, byte-identical output.
  *
  * Determinism: counts plus one integer division (`1000000 div n` —
  * each touch's linear share in ppm, floor semantics identical on
  * every engine). The per-conversion ppm shares sum to at most 10^6
  * (short by the floor remainder, deterministically).
  */
object Attribution {

  /** Per-touch-type attribution table: `touch_type, last_touch_convs,
    * linear_credit_ppm, touches`.
    *
    * A touch is attributable to a conversion when it is STRICTLY
    * earlier — `(ts, id)` lexicographic, so same-timestamp rows break
    * ties by id — and at most `lookbackDays` old. Conversions with no
    * in-window touch earn no row (organic conversions carry no credit
    * to distribute).
    *
    * The join key is (user, TIME BUCKET), not user alone — the
    * IntervalJoin grid pattern. A user-only key funnels a bot user's
    * |convs| × |touches| pair evaluations through ONE partition
    * BEFORE the time filter can discard anything: AttributionProbe
    * measured 1408 s at 50M events with one 2%-of-traffic bot on the
    * user-keyed shape (and the 7-day leg had to be killed). Bucket
    * width = the lookback, so each conversion subscribes to exactly
    * 2 buckets (its own and the previous — together covering
    * [cts − lookback, cts]) and each touch lives in exactly one, so
    * every pair meets exactly once and a bot's cost spreads across
    * its time buckets instead of one key.
    */
  def touchAttribution(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, conversionType: String,
      touchTypes: Seq[String], lookbackDays: Int,
      saltFactor: Int = 1): DataFrame =
    attributedTouches(events, userCol, tsCol, idCol, typeCol,
      conversionType, touchTypes, lookbackDays, saltFactor)
      .groupBy(col("__ttype").as("touch_type"))
      .agg(
        sum(when(col("__rn") === 1, 1L).otherwise(0L))
          .as("last_touch_convs"),
        sum(expr("1000000 div __n")).as("linear_credit_ppm"),
        count(lit(1)).as("touches"))

  /** The shared (conversion × in-window touch) frame — interval-grid
    * equi-key join + per-conversion recency windows — that every
    * attribution model aggregates differently.
    *
    * `saltFactor` is the burst-bot rung: the grid spreads a bot whose
    * activity SPANS many lookback-width buckets, but a bot whose whole
    * burst sits INSIDE one bucket degenerates back to the user-only
    * hot-key regime — one (user, bucket) key carries that burst's
    * |convs| × |touches| pairs through one partition (AttributionProbe
    * burst mode measures it). With saltFactor = S the TOUCH side adds
    * salt = hash(touch id) mod S to the key and the (rare) conversion
    * side replicates to all S salts, so every pair still meets exactly
    * once and the hot key's pair evaluations spread across S
    * partitions. Output is byte-identical (probe + spec assert it);
    * cost is S× the conversion-slice exchange, which is the thin
    * slice by construction. Keep 1 unless bursty bots are expected.
    */
  private def attributedTouches(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      lookbackDays: Int, saltFactor: Int = 1): DataFrame = {
    require(saltFactor >= 1, s"saltFactor must be >= 1: $saltFactor")
    val wUs = lookbackDays * 86400L * 1000000L
    val conv = events
      .where(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), col(tsCol).as("__cts"),
        col(idCol).as("__cid"),
        unix_micros(col(tsCol)).as("__cus"))
      .withColumn("__b", explode(array(
        expr(s"__cus div ${wUs}L - 1"), expr(s"__cus div ${wUs}L"))))
      .withColumn("__salt",
        if (saltFactor == 1) lit(0L)
        else explode(sequence(lit(0L), lit(saltFactor - 1L))))
    val touch = events
      .where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(tsCol).as("__tts"),
        col(idCol).as("__tid"), col(typeCol).as("__ttype"),
        expr(s"unix_micros($tsCol) div ${wUs}L").as("__b"))
      .withColumn("__salt",
        if (saltFactor == 1) lit(0L)
        else pmod(xxhash64(col("__tid")), lit(saltFactor.toLong)))
    val inWindow = (col("__tts") < col("__cts") ||
      (col("__tts") === col("__cts") && col("__tid") < col("__cid"))) &&
      col("__tts") >= col("__cts") - expr(s"INTERVAL $lookbackDays DAYS")
    val w = Window.partitionBy(col("__u"), col("__cid"))
    conv.join(touch, Seq("__u", "__b", "__salt")).where(inWindow)
      .withColumn("__rn", row_number().over(
        w.orderBy(col("__tts").desc, col("__tid").desc)))
      .withColumn("__n", count(lit(1)).over(w))
  }

  /** The full four-model credit table: last-touch, linear, U-shaped
    * position (40/20/40: first and last touch 40% each, middles split
    * the remaining 20%; n=1 → 100%, n=2 → 50/50), and dyadic
    * time-decay (weight 2^(lookback − ageDays) — credit halves per
    * day of age; exact integers, the EWMA truncation move). Every
    * share is integer ppm via floor division; per-conversion shares
    * sum to ≤ 10⁶ (short by the deterministic floor remainders).
    *
    * Same join/window frame as [[touchAttribution]] — one extra
    * ascending row_number (shares the existing per-conversion
    * partition sort state) and one weight-sum window.
    */
  def multiTouchAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      lookbackDays: Int, saltFactor: Int = 1): DataFrame = {
    require(lookbackDays >= 1 && lookbackDays <= 62)
    val w = Window.partitionBy(col("__u"), col("__cid"))
    val t = attributedTouches(events, userCol, tsCol, idCol, typeCol,
        conversionType, touchTypes, lookbackDays, saltFactor)
      .withColumn("__rnAsc", row_number().over(
        w.orderBy(col("__tts").asc, col("__tid").asc)))
      .withColumn("__pos",
        when(col("__n") === 1, lit(1000000L))
          .when(col("__n") === 2, lit(500000L))
          .when(col("__rn") === 1 || col("__rnAsc") === 1, lit(400000L))
          .otherwise(expr("200000 div (__n - 2)")))
      .withColumn("__age",
        expr("(__cus - unix_micros(__tts)) div 86400000000"))
      .withColumn("__wt", expr(s"shiftleft(1L, cast($lookbackDays - __age as int))"))
      // __wt itself fits a LONG (<= 2^62 at the max lookback), but the
      // per-conversion SUM does not: two age-0 touches at lookback 62
      // already exceed Long.MaxValue and a LONG window sum would wrap
      // silently to negative decay credit (ADVICE r12). Accumulate in
      // DECIMAL(38,0) — 2^62 · touches stays inside 38 digits up to
      // ~2·10^19 touches per conversion.
      .withColumn("__wsum",
        sum(col("__wt").cast("decimal(38,0)")).over(w))
      .withColumn("__decay",
        expr("(cast(__wt as decimal(38,0)) * 1000000) div __wsum")
          .cast("long"))
    t.groupBy(col("__ttype").as("touch_type"))
      .agg(
        sum(when(col("__rn") === 1, 1L).otherwise(0L))
          .as("last_touch_convs"),
        sum(when(col("__rnAsc") === 1, 1L).otherwise(0L))
          .as("first_touch_convs"),
        sum(expr("1000000 div __n")).as("linear_credit_ppm"),
        sum(col("__pos")).as("position_credit_ppm"),
        sum(col("__decay")).as("decay_credit_ppm"),
        count(lit(1)).as("touches"))
  }
}
