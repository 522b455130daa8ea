package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch — bounded-memory frequency estimation: d hash
  * rows × w buckets of counters; an item increments one counter per
  * row, and a key's estimate is the MIN over its d counters (always
  * ≥ the true count; collisions only inflate). The sketch size is
  * d·w REGARDLESS of corpus size — the whole point at 100 TB: the
  * build is one partial-aggregated shuffle where every map task emits
  * at most d·w rows, and the finished sketch broadcasts anywhere.
  *
  * Hashing is md5-derived (`substr(md5(j:key), 1, 2)` → 256 string
  * buckets per row) — the repo-standard ENGINE-PORTABLE hash (same
  * trick as Sampling's md5 thresholds), so the full sketch, every
  * estimate, and the heavy-hitter ranking replay exactly in the
  * DuckDB oracle. Deterministic: counts are exact ints, min is exact,
  * ties rank lexicographically.
  */
object Sketches {

  private def bucket(key: Column, j: Int): Column =
    substring(md5(concat_ws(":", lit(j.toString), key)), 1, 2)

  /** The (j, bucket, n) counter table — d×256 rows, corpus-independent. */
  def cmsSketch(items: DataFrame, keyCol: String, d: Int): DataFrame =
    items
      .select(posexplode(array((0 until d).map(j =>
        bucket(col(keyCol), j)): _*)).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** HyperLogLog registers, engine-portable: bucket = first 2 md5 hex
    * chars (m = 256 registers), rho = leading-zero count of the next
    * 32 hash bits + 1, register = MAX rho per bucket. All string/CASE
    * arithmetic both engines evaluate identically (hex digits decode
    * via position-in-'0123456789abcdef' — no conv() dependency), so
    * the register table is bit-exact cross-engine. Registers merge by
    * MAX — the property that makes HLL the 100 TB distinct-counter:
    * per-partition partial aggregation emits ≤ m rows per mapper and
    * per-source sketches union into a global one without re-scanning
    * (law tested in CorpusOpsSpec).
    *
    * Output: (groupCols..., bucket, m_reg) — ≤ 256 rows per group.
    */
  def hllRegisters(items: DataFrame, keyCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val h = md5(col(keyCol).cast("string"))
    val withBits = items
      .withColumn("__b", substring(h, 1, 2))
      .withColumn("__tail", substring(h, 3, 8)) // 32 bits post-bucket
      .withColumn("__lz", length(regexp_extract(col("__tail"), "^0*", 0)))
    // first non-zero hex digit decoded by string position (portable)
    val d = expr(
      "instr('0123456789abcdef', substring(__tail, __lz + 1, 1)) - 1")
    withBits
      .withColumn("__rho",
        when(col("__lz") === 8, lit(33))
          .otherwise(lit(1) + col("__lz") * 4 +
            when(d >= 8, 0).when(d >= 4, 1).when(d >= 2, 2).otherwise(3)))
      .groupBy((groupCols.map(col) :+ col("__b").as("bucket")): _*)
      .agg(max(col("__rho")).as("m_reg"))
  }

  /** Raw HLL estimate per group from a register table: the harmonic
    * mean alpha·m²/Σ2^(−M[j]) with absent registers counting M = 0.
    * DETERMINISM: every 2^(−M) term is an exact dyadic double
    * (1/(1L<<M), M ≤ 33) and 256 such terms sum EXACTLY in a double
    * (≤ 41 mantissa bits), so the sum — and hence the estimate — is
    * shuffle-order-independent and engine-exact. No linear-counting
    * correction (it needs ln(), which is not bit-portable across
    * libms); the raw estimate is the declared, replayable value.
    */
  def hllEstimate(registers: DataFrame,
      groupCols: Seq[String] = Nil): DataFrame = {
    val m = 256
    val alpha = 0.7213 / (1 + 1.079 / m)
    val term = lit(1.0) /
      expr("cast(shiftleft(cast(1 as bigint), m_reg) as double)")
    val grouped =
      if (groupCols.isEmpty) registers.groupBy()
      else registers.groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("n_nonzero"), sum(term).as("__s"))
      .select((groupCols.map(col) :+ col("n_nonzero") :+
        (lit(alpha * m * m) /
          (col("__s") + (lit(m) - col("n_nonzero")).cast("double")))
          .as("hll_raw_estimate")): _*)
  }

  /** Rolling HLL merge over time — the property that makes sketches
    * the 100 TB rollup currency: daily register tables MERGE BY MAX
    * into any coarser window without touching raw data again. Input:
    * a per-`dayCol` register table from `hllRegisters(items, key,
    * Seq(dayCol))`; output: the raw estimate per day over the trailing
    * `windowDays` window. The merge is a bounded theta-join (register
    * rows × distinct days — calendar-bounded, the broadcast side) +
    * one (day, bucket) max-aggregate; raw events are scanned exactly
    * once, by the register build. A plain rolling window over the
    * register table would MISS buckets present earlier in the window
    * but absent on the anchor day — the join-to-day-spine form is the
    * correct merge.
    *
    * Output contract: by default the anchor-day spine is the DISTINCT
    * days PRESENT in the register table — a calendar day with zero
    * registered rows produces NO output row, even when earlier days
    * fall inside its trailing window. Callers that need such gap days
    * (dashboards over sparse sources) pass an explicit `daySpine`
    * DataFrame — one date column, any name. Note the merge join is
    * inner either way: a spine day whose ENTIRE trailing window is
    * register-free (before the first data, or after a gap longer than
    * the window) still emits no row — there is no sketch to estimate
    * from; treat absent days as distinct-count 0 downstream.
    */
  def hllRollingEstimate(registers: DataFrame, dayCol: String,
      windowDays: Int, daySpine: Option[DataFrame] = None): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    // default spine passes the register day column through UNCAST so
    // the output day keeps the caller's type; only an explicit
    // daySpine (arbitrary caller frame) is normalized to date
    val spine = daySpine match {
      case Some(sp) =>
        require(sp.columns.length == 1,
          s"daySpine must have exactly one date column, got ${sp.columns.mkString(",")}")
        sp.toDF("win_day").select(col("win_day").cast("date")).distinct()
      case None =>
        registers.select(col(dayCol).as("win_day")).distinct()
    }
    // hint kept: spine is a distinct, priced at its input's size
    val merged = registers
      .join(broadcast(spine), datediff(col("win_day"), col(dayCol))
        .between(0, windowDays - 1))
      .groupBy(col("win_day").as(dayCol), col("bucket"))
      .agg(max(col("m_reg")).as("m_reg"))
    hllEstimate(merged, Seq(dayCol))
  }

  /** Top-k keys by CMS estimate: every distinct key looks up its d
    * counters via a broadcast join against the (tiny) sketch and takes
    * the min; ranking is (estimate DESC, key). The distinct is the
    * only corpus-sized shuffle and carries bare keys.
    */
  def cmsHeavyHitters(items: DataFrame, keyCol: String, d: Int = 4,
      k: Int = 20): DataFrame = {
    val sketch = cmsSketch(items, keyCol, d)
    items.select(col(keyCol).as("key")).distinct()
      .select(col("key"), posexplode(array((0 until d).map(j =>
        bucket(col("key"), j)): _*)).as(Seq("j", "bucket")))
      // hint kept: sketch is priced at its input's size (else the keys build)
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("key"))
      .agg(min(col("n")).as("cms_estimate"))
      .orderBy(col("cms_estimate").desc, col("key"))
      .limit(k)
  }

  /** Equi-join CARDINALITY estimate by sketch algebra: for key
    * multisets A, B the true join size is Σ_k a_k·b_k, and the CMS
    * inner product min_j Σ_w cmsA[j][w]·cmsB[j][w] upper-bounds it
    * (collisions only add) — the classic pre-join planning probe: two
    * d×256 counter tables answer "how big would this join be" without
    * touching either corpus again, which is what a router consults
    * before picking broadcast vs shuffle vs salting at 100 TB.
    * Integer-exact throughout (DECIMAL(38,0) products), so the oracle
    * replays the sketches AND the estimate bit-for-bit.
    *
    * Inputs are [[cmsSketch]] tables built with the SAME d. Output:
    * one row, `est_join` (BIGINT).
    */
  def cmsJoinSizeEstimate(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("j"), col("bucket"), col("n").as("__na"))
      .join(b.select(col("j"), col("bucket"), col("n").as("__nb")),
        Seq("j", "bucket"))
      .groupBy(col("j"))
      .agg(sum(col("__na").cast("decimal(19,0)") *
        col("__nb").cast("decimal(19,0)")).as("__ip"))
      .agg(min(col("__ip")).cast("decimal(38,0)").as("__est"))
      .select(col("__est").cast("long").as("est_join"))

  /** Set-overlap estimate by sketch algebra: |A∩B| ≈ est(A) + est(B)
    * − est(A∪B), where the union sketch is a MAX-merge of the two
    * register tables — no raw data is re-scanned. This is THE reason
    * sketches are the 100 TB audience/coverage currency: pairwise
    * overlaps across any set family come from one register table per
    * set (≤ 256 rows each), never from re-joining the corpora.
    *
    * Output: one row (est_a, est_b, est_union, est_overlap) — every
    * term the raw dyadic-sum estimate (hllEstimate's determinism
    * contract), the overlap one mirrored (a + b) − u double tree.
    * Inclusion–exclusion can go slightly negative on near-disjoint
    * sets (raw-estimate noise); callers clamp downstream if needed.
    */
  def hllOverlap(regA: DataFrame, regB: DataFrame): DataFrame = {
    def est(r: DataFrame, as: String) =
      hllEstimate(r).select(col("hll_raw_estimate").as(as))
    val union = regA.select(col("bucket"), col("m_reg"))
      .unionByName(regB.select(col("bucket"), col("m_reg")))
      .groupBy(col("bucket")).agg(max(col("m_reg")).as("m_reg"))
    est(regA, "est_a")
      .crossJoin(est(regB, "est_b"))
      .crossJoin(est(union, "est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
  }
}
