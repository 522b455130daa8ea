package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable EXACT global ranking — `row_number() OVER (ORDER BY …)`
  * without the single-partition window that formulation costs.
  *
  * Shape (the shuffledIndex / sequence-packing two-level prefix sum,
  * generalized to an arbitrary sort key):
  *  1. `repartitionByRange` on the sort key — ordered ranges across
  *     partitions, each ~uniform (sampled boundaries);
  *  2. the ranged frame is materialized ONCE (localCheckpoint) so the
  *     offsets pass and the rank pass see the SAME boundaries — range
  *     boundaries are sampled per execution, so recomputing the
  *     lineage twice could disagree;
  *  3. per-partition `row_number` (window PARTITIONED by partition id);
  *  4. partition offsets = running sum over the ≤numPartitions-row
  *     count frame (bounded single-partition window — the documented
  *     bounded-frame contract), broadcast back.
  *
  * global rank = offset + in-partition row_number. The rank VALUE is
  * invariant to where the sampled boundaries fall; only per-partition
  * balance depends on them. `sort` must be a TOTAL order (append a
  * unique tiebreaker) or ties order arbitrarily within a partition.
  */
object Ranking {

  /** Pinned variant: materializes the ranged frame once so the offsets
    * pass and the rank pass see the SAME sampled range boundaries.
    * Round-10 RankProbe (50M rows, warm): persist(DISK_ONLY) 16.1-16.9 s
    * vs localCheckpoint 22.2-23.6 s — the checkpoint stored fat
    * deserialized rows; DISK_ONLY stores the serialized columnar form.
    * Recompute safety is unchanged: the persisted InMemoryRelation pins
    * ONE physical RDD, so a lost block recomputes through the SAME
    * RangePartitioner instance (boundaries sampled once at partitioner
    * construction) — block loss can never shift a row's partition.
    *
    * Use this variant when the ranked frame feeds FURTHER rank passes
    * (curriculumOrder, rfmSegments chain ranks — the pin stops pass
    * blowup); use [[globalRankLean]] for single rank-only consumers.
    */
  def globalRank(df: DataFrame, sort: Seq[Column],
      out: String = "rank"): DataFrame = {
    val ranged = df.repartitionByRange(sort: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    ranged.count() // eager: pin the sampled boundaries before both passes
    val offsets = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__n")
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
    // hint kept: offsets are priced above ranged (else ranged builds)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, (col("__offset") + row_number().over(w)).cast("long"))
      .drop("__pid", "__offset")
  }

  /** Lean variant: NO materialization. Range boundaries are sampled
    * ONCE on the driver (bounded collect) and baked into the plan as
    * struct LITERALS compared through a binary-search `when` tree, so
    * bucket assignment is a pure function of the sort key — ANY
    * recomputation (block loss, retried stage, the counts pass vs the
    * rank pass) agrees by construction. Costs: one count job + one
    * boundary-sample job + one per-bucket-counts job (all three read
    * ONLY the sort-key columns — column pruning makes them cheap on a
    * wide table) + the final rank pass (one shuffle on the bucket id).
    * The pinned variant instead WRITES the full-width frame once —
    * at the 100 TB tier the lean passes win whenever the sort key is
    * a narrow slice of the row. RankProbe 50M warm: 10.0 s lean vs
    * 16.5 s pinned vs 22.5 s round-9 localCheckpoint.
    *
    * Rank values are IDENTICAL to globalRank (the total order alone
    * determines them; boundaries only move per-bucket balance).
    * Contract: `sort` must be a total order with DETERMINISTIC lineage
    * (a nondeterministic input column changes keys between passes —
    * same contract as any multi-action consumer); null sort-key fields
    * order nulls-first, matching the window's asc_nulls_first.
    */
  def globalRankLean(df: DataFrame, sort: Seq[Column],
      out: String = "rank", buckets: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (buckets > 0) buckets else spark.sparkContext.defaultParallelism
    val key = struct(sort.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)
    val n = df.count()
    if (n == 0) return df.withColumn(out, lit(0L))
    // bounded boundary sample: ~1000 key tuples per bucket
    val fraction = math.min(1.0, (p * 1000.0) / n)
    val sampleRows = df.select(key.as("__k"))
      .sample(withReplacement = false, fraction, seed = 7)
      .collect().map(_.getStruct(0))
    implicit val ord: Ordering[Seq[Any]] = structOrdering
    val sampled = sampleRows.map(_.toSeq).sorted
    val bounds = if (sampled.isEmpty) Array.empty[Seq[Any]]
      else (1 until p).map(i =>
        sampled(math.min((i.toLong * sampled.length / p).toInt,
          sampled.length - 1))).distinct.toArray
    val boundLits = bounds.map(b =>
      struct(b.zipWithIndex.map { case (v, i) => lit(v).as(s"_$i") }: _*))
    def bucketOf(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(key < boundLits(mid), bucketOf(lo, mid))
          .otherwise(bucketOf(mid + 1, hi))
      }
    val pid = bucketOf(0, boundLits.length)
    val counts = df.groupBy(pid.as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).init
    val offsetMap = map(counts.map(_._1).zip(offsets).flatMap {
      case (b, off) => Seq(lit(b), lit(off)) }: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
    df.withColumn("__pid", pid)
      .withColumn(out, (element_at(offsetMap, col("__pid")) +
        row_number().over(w)).cast("long"))
      .drop("__pid")
  }

  /** Driver-side mirror of the engine's nulls-first ascending struct
    * order, for sorting the sampled boundary tuples. Only the types
    * that appear as sort keys in this library are needed.
    */
  private val structOrdering: Ordering[Seq[Any]] = new Ordering[Seq[Any]] {
    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Float, y: Float) => java.lang.Float.compare(x, y)
      case (x: String, y: String) =>
        // Spark's struct '<' compares strings as unsigned UTF-8 bytes
        // (UTF8String.binaryCompare); String.compareTo is UTF-16
        // code-unit order, which diverges for supplementary-plane
        // code points vs U+E000–U+FFFF — boundaries sorted here MUST
        // be ascending under the ENGINE's comparator or bucket
        // assignment loses monotonicity.
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
      case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y)
      case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
      case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported sort-key type for globalRankLean: $other")
    }
    def compare(a: Seq[Any], b: Seq[Any]): Int =
      a.zip(b).iterator.map { case (x, y) => cmp(x, y) }
        .find(_ != 0).getOrElse(0)
  }

  /** Equi-depth score 1..buckets from a 1-based global rank over n
    * rows: floor((rank−1)·buckets / n) + 1 — deliberately NOT SQL
    * NTILE (whose remainder-to-early-buckets split differs); this
    * formula keeps bucket sizes within ±1, is windowless, and any
    * engine replays it. The floor(double) is exact: (rank−1)·buckets
    * stays far below 2⁵³ for any real row count.
    */
  def equiDepthScore(rank: Column, n: Column, buckets: Int): Column =
    (floor((rank - 1) * buckets / n) + 1).cast("int")
}
