package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-sensitive co-occurrence mining over sessions: for every
  * ordered pair of event types (a → b), in how many sessions does an
  * `a` happen STRICTLY BEFORE some `b`? The gap-tolerant complement of
  * the adjacent-step Markov transitions — "view eventually leads to
  * purchase in this session" registers even with clicks in between.
  *
  * Existence of i < j with type_i = a, type_j = b is equivalent to
  * first_pos(a) < last_pos(b), so each session collapses to ONE row
  * per present type (first/last ordinal) before any pairing — the
  * pair stage never touches events, only the per-session type summary
  * (fanout ≤ |type vocabulary|² per session, a constant).
  *
  * Scale shape: the sessionizer's one user-keyed shuffle (lag +
  * running-sum windows, ordinals from the same sort), ONE per-session
  * type aggregate, ONE session-keyed self-join of the bounded type
  * summaries, ONE final pair aggregate. Support is integer ppm through
  * DECIMAL(38) (sessions·10^6 overflows LONG past ~9.2e12 sessions).
  */
object SequentialPatterns {

  /** `(antecedent, consequent, n_sessions, support_ppm)` for every
    * ordered type pair (a ≠ b) observed in at least `minSessions`
    * sessions. Sessions split on `gapSeconds` of user inactivity
    * (integer-second bounds, ties by id — the q_sessionize contract).
    */
  def sessionSequencePairs(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String,
      gapSeconds: Long = 1800L, minSessions: Long = 1L): DataFrame = {
    val byUser = Window.partitionBy(col("__u"))
      .orderBy(col("__ts_s"), col("__id"))
    val runFrame = byUser.rowsBetween(Window.unboundedPreceding, 0)
    val sess = events
      .select(col(userCol).as("__u"), col(idCol).as("__id"),
        col(tsCol).cast("long").as("__ts_s"), col(typeCol).as("__t"))
      .withColumn("__prev", lag(col("__ts_s"), 1).over(byUser))
      .withColumn("__new_s",
        when(col("__prev").isNull ||
          col("__ts_s") - col("__prev") > gapSeconds, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new_s")).over(runFrame))
      .withColumn("__pos", row_number().over(byUser))
    val perType = sess.groupBy(col("__u"), col("__sid"), col("__t"))
      .agg(min(col("__pos")).as("__first"), max(col("__pos")).as("__last"))
    val total = perType.select(col("__u"), col("__sid")).distinct()
      .agg(count(lit(1)).as("__n_total"))
    val pairs = perType.select(col("__u"), col("__sid"),
        col("__t").as("antecedent"), col("__first"))
      .join(perType.select(col("__u"), col("__sid"),
        col("__t").as("consequent"), col("__last")), Seq("__u", "__sid"))
      .where(col("antecedent") =!= col("consequent") &&
        col("__first") < col("__last"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_sessions"))
      .where(col("n_sessions") >= minSessions)
    pairs.crossJoin(total)
      .withColumn("support_ppm",
        expr("(cast(n_sessions as decimal(38,0)) * 1000000) div __n_total"))
      .drop("__n_total")
  }
}
