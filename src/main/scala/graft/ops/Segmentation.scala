package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.Pin

/** RFM (recency / frequency / monetary) segmentation — the classic
  * behavioral-segmentation primitive: every user scored 1..buckets on
  * each axis by equi-depth rank, then labeled with the composite
  * segment code.
  *
  * Determinism: frequency and recency are exact integers; monetary
  * accumulates in DECIMAL(12,2) (one final double cast for output);
  * each axis is ranked under a TOTAL order (metric, user_id) and
  * scored with the windowless floor formula (Ranking.equiDepthScore) —
  * fully engine-replayable.
  *
  * Shape at scale: one user-keyed aggregate collapses the event corpus
  * to |users| rows; each axis then pays one Ranking.globalRank pass
  * (range partition + bounded offset frame — NO single-partition
  * window over users); the user count joins back as a broadcast
  * 1-row frame. A 10⁹-user base ranks distributed on every axis.
  */
object Segmentation {

  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
      valCol: String, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    // r16: pinned — feeds the user-count frame and three independent
    // rank passes (each previously re-shuffled the ACCUMULATING frame
    // through its range exchange; now each ranges a 2-column slice)
    val m = Pin(events.groupBy(col(userCol)).agg(
      count(lit(1)).as("freq"),
      max(unix_micros(col(tsCol))).as("last_us"),
      sum(col(valCol).cast(DecimalType(12, 2))).as("__mon")))
    val n = m.agg(count(lit(1)).as("__nu"))
    // r16 (guide §2.6 — overlap independent jobs): the three axis ranks
    // are independent pure functions of one metric's total order each,
    // but the foldLeft chain serialized three multi-stage globalRank
    // pipelines (range sample + persist + count per axis, each a
    // driver-blocking barrier). Construct them concurrently — the
    // eager materialization inside globalRank overlaps — and assemble
    // by user-keyed joins. Rank values are identical: each axis ranks
    // under the same (metric, user) total order as before.
    def rankOf(metric: String, out: String): DataFrame =
      Ranking.globalRank(m.select(col(userCol), col(metric)),
        Seq(col(metric), col(userCol)), out)
        .select(col(userCol), col(out))
    val (rRn, (fRn, mRn)) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fr = Future(rankOf("last_us", "r_rn"))
      val ff = Future(rankOf("freq", "f_rn"))
      val fm = Future(rankOf("__mon", "m_rn"))
      (Await.result(fr, Duration.Inf),
        (Await.result(ff, Duration.Inf), Await.result(fm, Duration.Inf)))
    }
    val ranked = m.join(rRn, Seq(userCol))
      .join(fRn, Seq(userCol))
      .join(mRn, Seq(userCol))
    def score(rn: String) =
      Ranking.equiDepthScore(col(rn), col("__nu"), buckets)
    ranked.crossJoin(n)
      .select(col(userCol), col("freq"),
        col("__mon").cast("double").as("monetary"),
        score("r_rn").as("r_score"),
        score("f_rn").as("f_score"),
        score("m_rn").as("m_score"))
      .withColumn("segment", concat(
        col("r_score").cast("string"), lit("-"),
        col("f_score").cast("string"), lit("-"),
        col("m_score").cast("string")))
  }
}
