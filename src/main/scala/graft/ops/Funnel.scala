package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Funnel and cohort analytics over an event stream — the two product-
  * analytics primitives every events warehouse runs (step conversion,
  * cohort retention), expressed in the repo's engine-portable integer
  * dialect so a SQL oracle replays them exactly.
  *
  * Funnel semantics, pinned (the "first-touch" convention): the funnel
  * anchors at each user's EARLIEST step-1 event (t₁ = min ts); then
  * t_i = the user's earliest step-i event STRICTLY after t_{i−1} and
  * within `windowSec` of t₁. Greedy-earliest anchoring is the standard
  * product-analytics definition — NOT "any completion exists": a user
  * whose first step-1 leads nowhere but whose second one converts
  * counts as not-converted, exactly as first-touch attribution wants.
  * Timestamps are epoch SECONDS (the AsOfJoin portability rule).
  *
  * Shape at scale: one narrow per-step frame (user, ts of that type);
  * step i joins the accumulated frame to step-i events on user_id and
  * re-aggregates min-ts — k−1 equi-joins + aggregates, each keyed by
  * user, no windows, no per-user sort, no cross products. Event-type
  * skew lands on the (user, step) aggregate, which pre-collapses
  * before anything wide moves.
  */
object Funnel {

  /** Per-user funnel frame: (user_id, t1..tk nullable epoch-seconds,
    * steps_completed). t_i is non-null only when steps 1..i all
    * matched; by construction non-nulls form a prefix.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowSec: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least 2 steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val ev = events.select(col(userCol).cast("long").as("user_id"),
      col(tsCol).cast("long").as("__ts"), col(typeCol).as("__et"))
    var acc = ev.where(col("__et") === steps.head)
      .groupBy(col("user_id")).agg(min(col("__ts")).as("t1"))
    for (i <- 2 to steps.size) {
      val prev = s"t${i - 1}"
      val si = ev.where(col("__et") === steps(i - 1))
        .select(col("user_id"), col("__ts"))
      val keep = (1 until i).map(j => col(s"t$j"))
      acc = acc.join(si, Seq("user_id"), "left")
        .groupBy(col("user_id") +: keep: _*)
        .agg(min(when(col("__ts") > col(prev) &&
          col("__ts") <= col("t1") + windowSec, col("__ts"))).as(s"t$i"))
    }
    val completed = (2 to steps.size)
      .map(i => when(col(s"t$i").isNotNull, 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    acc.select(col("user_id") +:
      (1 to steps.size).map(i => col(s"t$i")) :+
      completed.cast("int").as("steps_completed"): _*)
  }

  /** Conversion table: one row per step with the user count still in
    * the funnel at that step — the classic step-drop-off summary.
    */
  def funnelSummary(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowSec: Long): DataFrame = {
    val per = funnel(events, userCol, tsCol, typeCol, steps, windowSec)
    val counts = per.agg(
      count(col("t1")).as("c1"),
      (2 to steps.size).map(i => count(col(s"t$i")).as(s"c$i")): _*)
    counts.select(explode(array(steps.zipWithIndex.map { case (s, i) =>
      struct(lit(i + 1).as("step"), lit(s).as("event_type"),
        col(s"c${i + 1}").as("n_users"))
    }: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.n_users"))
  }

  /** Daily growth decomposition — the DAU triptych every product
    * readout starts from: per day, ACTIVE distinct users, NEW users
    * (first-ever activity that day), RETURNING = active − new, and
    * the CUMULATIVE user count (= running sum of new — the identity
    * that makes "cumulative distinct" computable without any
    * unbounded coverage explode: a user is distinct-counted exactly
    * once, on its first day).
    *
    * Scale shape: one distinct on (day, user) — the only corpus-sized
    * step — one user-keyed min-day aggregate, then day-grain joins
    * and one running-sum window over the dense calendar spine (gap
    * days emit zeros; cumulative carries through them).
    */
  def dailyGrowth(events: DataFrame, tsCol: String,
      userCol: String): DataFrame = {
    val ud = Pin(events.select(to_date(col(tsCol)).as("day"),
        col(userCol).as("u")).distinct()) // feeds actives, first-days, and bounds
    val active = ud.groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"))
    val firsts = ud.groupBy(col("u")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val bounds = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY")))
        .as("day"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    spine
      .join(active, Seq("day"), "left")
      .join(firsts, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("active_users"), lit(0L)).as("active_users"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("returning_users",
        col("active_users") - col("new_users"))
      // single-partition window: deliberate — the frame is the
      // calendar spine, bounded by retention, never by events
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
  }

  /** Cohort retention: users grouped by the epoch-week of their FIRST
    * event; for every later week of activity, how many of the cohort
    * were active. Integer epoch-week arithmetic (ts div 604800) on
    * both engines. Output: (cohort_week, week_offset, n_users).
    *
    * Shape: one (user → first week) aggregate, one distinct
    * (user, week) frame, one equi-join on user, one count aggregate —
    * all keyed by user/cohort, no windows.
    */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val ev = events.select(col(userCol).cast("long").as("user_id"),
      expr(s"CAST(${tsCol} AS LONG) div 604800").as("__wk"))
    val firstWk = ev.groupBy(col("user_id"))
      .agg(min(col("__wk")).as("cohort_week"))
    val active = ev.distinct()
    firstWk.join(active, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("__wk") - col("cohort_week")).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Time-to-convert distribution per funnel transition: how LONG the
    * converting users took, not just how many converted — the latency
    * face of the drop-off summary (p50 separates "conversion takes a
    * week" from "conversion takes a minute" at identical rates).
    *
    * The median is the exact ceil((n+1)/2)-th order statistic via
    * [[Conformal.threshold]]'s distribution walk — no corpus sort, and
    * the walk's window runs over DISTINCT dt values, which windowSec
    * bounds (dt ∈ [1, windowSec]), so the distribution frame stays
    * small at any corpus size. The per-user funnel frame is pinned:
    * the stats aggregate and the median walk both consume it.
    */
  def funnelLatency(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowSec: Long): DataFrame = {
    val f = funnel(events, userCol, tsCol, typeCol, steps, windowSec)
    val trans = steps.sliding(2).zipWithIndex.map { case (pair, i) =>
      struct(lit(s"${pair.head}->${pair.last}").as("transition"),
        (col(s"t${i + 2}") - col(s"t${i + 1}")).as("dt"))
    }.toSeq
    val dts = Pin(f.select(explode(array(trans: _*)).as("x"))
      .select(col("x.transition").as("transition"), col("x.dt").as("dt"))
      .where(col("dt").isNotNull))
    val med = Conformal.threshold(dts, Seq("transition"), "dt", 1, 2)
      .select(col("transition"), col("qhat").as("p50_s"))
    dts.groupBy(col("transition"))
      .agg(count(lit(1)).as("n_converted"), min(col("dt")).as("min_s"),
        max(col("dt")).as("max_s"), sum(col("dt")).as("__sum"))
      .join(med, Seq("transition"))
      .select(col("transition"), col("n_converted"), col("min_s"),
        col("max_s"),
        (col("__sum").cast("double") / col("n_converted").cast("double"))
          .as("avg_s"),
        col("p50_s"))
  }
}
