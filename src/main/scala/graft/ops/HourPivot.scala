package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hour-of-day pivot: (timestamp, keys…) → one row per (date, keys…) with
  * 24 count columns `hour_0..hour_23`, optionally dropping rows whose
  * total count is below a threshold.
  *
  * This is the reference engine's core computation
  * (/root/reference/pivot_and_boostrap/pivot_utils.py:179-208 pivot,
  * :211-224 min-rides filter; pivot_all_files.py:126-162 per-batch
  * aggregation), re-expressed as a single Catalyst plan:
  *
  *  - Instead of pandas `pivot_table` (or Spark's `pivot()`, which either
  *    needs a distinct-scan or an explicit value list and is unsupported
  *    on streams), we emit 24 `count(when(hour === h, 1))` aggregate
  *    expressions in ONE hash aggregate. Spark runs it as partial
  *    (map-side) + final aggregation — one shuffle keyed on the group
  *    columns, network ∝ groups × 24 longs, never rows. The reference's
  *    three-level agg (per-batch groupby → per-file merge → global merge)
  *    collapses into this single operator. Count buffers are never
  *    null, so the per-row update is 24 compare-and-increments with no
  *    buffer null checks.
  *  - Date and hour come from the timestamp's epoch micros by integer
  *    arithmetic (`pmod`/`div`), not `to_date`/`hour`: no per-row
  *    calendar conversion, and the frame is the stored instant's UTC
  *    wall clock whatever `spark.sql.session.timeZone` says — the frame
  *    the DuckDB oracles use.
  *  - All 24 columns always exist (the reference pads missing hours,
  *    pivot_utils.py:204-206) and empty input yields the canonical empty
  *    schema for free.
  *  - The min-total filter (HAVING Σ hour_h ≥ minTotal) runs on the
  *    aggregated side — group counts, not input rows — so it costs
  *    nothing extra at scale.
  *
  * At 100 TB: the only shuffle is on (date, keys), whose cardinality is
  * tiny relative to input (days × key domain); partial aggregation makes
  * this map-side-bound, and AQE coalesces the handful of result
  * partitions.
  */
object HourPivot {
  val hourCols: Seq[String] = (0 until 24).map(h => s"hour_$h")

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  // SQL `div`: exact LONG division (a Double `/` is inexact at bucket
  // edges for |us| beyond 2^53)
  private def div(a: Column, b: Long): Column = call_function("div", a, lit(b))

  // in [0, DayUs) for pre-1970 instants too (`%` would go negative)
  private def microsOfDay(ts: Column): Column = pmod(unix_micros(ts), lit(DayUs))

  /** UTC hour of day (0–23, LONG) of a TIMESTAMP column. */
  def hourOfDay(ts: Column): Column = div(microsOfDay(ts), HourUs)

  /** UTC calendar date of a TIMESTAMP column. `div` truncates toward
    * zero, so the day floor subtracts the in-day remainder first — a
    * pre-1970 instant lands on its own day, not the next one.
    */
  def utcDate(ts: Column): Column =
    date_from_unix_date(div(unix_micros(ts) - microsOfDay(ts), DayUs).cast("int"))

  /** The 24 per-hour counts over an hour-of-day column. */
  def hourCounts(hour: Column): Seq[Column] =
    (0 until 24).map(h => count(when(hour === h, 1)).as(s"hour_$h"))

  /** Group `df` on (date, keys…) with the 24 hour counts. `extraAggs`
    * are evaluated in the same aggregate (same rows, same shuffle) and
    * appended after the hour columns — side counters ride the pivot
    * instead of a per-row `observe`.
    */
  def pivot(df: DataFrame, tsCol: Column, keys: Seq[String],
      minTotal: Option[Long] = None,
      dateColName: String = "event_date",
      extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = hourCounts(col("__hour")) ++ extraAggs
    val grouped = df
      .withColumns(Map(dateColName -> utcDate(tsCol), "__hour" -> hourOfDay(tsCol)))
      .groupBy((col(dateColName) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    minTotal match {
      case Some(t) =>
        grouped.where(hourCols.map(col).reduce(_ + _) >= t)
      case None => grouped
    }
  }

  /** The pivot's inverse — melt the 24 wide hour columns back to long
    * (keys..., hour, n) rows, dropping empty cells. `stack` is a pure
    * map-side generator (one input row → ≤24 output rows, no shuffle),
    * so un-pivoting a wide table back into a relational long form for
    * downstream joins/windows costs one scan. Round-trip law (tested):
    * unpivot(pivot(events)) equals the plain (date, keys, hour)
    * group-count — which is exactly the declared oracle.
    */
  def unpivot(wide: DataFrame, keys: Seq[String],
      dateColName: String = "event_date"): DataFrame = {
    val pairs = (0 until 24).map(h => s"$h, hour_$h").mkString(", ")
    wide.select(
      (dateColName +: keys).map(col) :+
        expr(s"stack(24, $pairs)").as(Seq("hour", "n")): _*)
      .where(col("n") > 0)
  }
}
