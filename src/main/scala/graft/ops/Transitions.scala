package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order Markov transition matrix over per-key event sequences —
  * the sequence-mining primitive behind next-action prediction, funnel
  * discovery, and curriculum ordering of training data.
  *
  * Semantics: within each key, order events by (ts, tie); every
  * adjacent pair contributes one (from, to) transition. Output is the
  * count matrix plus the row-normalized probability — counts and
  * row totals are exact integers, p is ONE final double division, so
  * any engine replays it bit-exactly.
  *
  * Shape at scale: one key-hashed shuffle for the lead() window, then
  * a (from, to) aggregate whose cardinality is |alphabet|² — partial
  * aggregation collapses the pair stream map-side, so the second
  * exchange carries at most the matrix, not the corpus. The row-total
  * attach is a broadcast join against the |alphabet|-row margin.
  */
object Transitions {

  def eventTransitions(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(keyCol), col(tsCol), col(tieCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1) over w)
      .where(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("total_from"))
    // hint kept: totals is a grouped aggregate, priced at counts' size
    counts.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        col("total_from"),
        (col("n").cast("double") / col("total_from")).as("p"))
  }

  /** Length-`len` event paths (the n-gram generalization of the
    * transition matrix — journey mining): within each key, every
    * window of `len` consecutive event types is one path occurrence;
    * output the path counts at or above `minCount`. Same one-key-
    * shuffle shape — the lead() windows reuse the single (ts, tie)
    * sort — and the path aggregate is |alphabet|^len bounded with
    * map-side partials; the path crosses the exchange as one
    * delimited string, not `len` columns.
    */
  def eventPaths(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String, len: Int,
      minCount: Long = 1L): DataFrame = {
    require(len >= 2, "a path needs at least 2 steps")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val steps = (1 until len).foldLeft(
      events.select(col(keyCol), col(tsCol), col(tieCol),
        col(typeCol).as("__s0"))) { (acc, i) =>
      acc.withColumn(s"__s$i", lead(col("__s0"), i) over w)
    }
    steps
      .where(col(s"__s${len - 1}").isNotNull)
      .select(concat_ws(">", (0 until len).map(i => col(s"__s$i")): _*)
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }
}
