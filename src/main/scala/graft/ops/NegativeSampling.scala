package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Deterministic negative sampling — the contrastive-training data
  * primitive (in-batch negatives' offline twin): every anchor draws k
  * pseudo-random negatives from a shared candidate pool, reproducibly
  * on any engine and at any parallelism (no RNG stream — draws are
  * md5(anchor:candidate), the repo-standard portable hash).
  *
  * Shape at 100 TB — two rungs, auto-selected by a measured pool size:
  *  - pool within broadcast reach (pinned and row-counted, default
  *    cap 4M ids = ~32 MB of longs): broadcast it; anchors scan once; the
  *    per-anchor draw ranking is the PairTopKAggregator partial
  *    top-k, so the anchor-side shuffle carries k (draw, id) pairs
  *    per anchor per mapper, never the N×|pool| draw matrix.
  *  - pool past broadcast reach: shard the pool by id hash into
  *    `shards` buckets, replicate each anchor id (8 bytes) across
  *    the shards, shuffle-join on the shard key, and run the SAME
  *    partial top-k per anchor — map-side partials emit k pairs per
  *    anchor per shard, the final aggregate merges them exactly
  *    (same (draw, id) comparator ⇒ identical output). Per-task
  *    memory is |pool|/shards; under THIS spec (rank every
  *    candidate's draw) total work is anchors×|pool| in both rungs —
  *    the rung changes MEMORY and broadcast feasibility, not compute.
  *    No window sorts anything.
  *
  * That anchors×|pool| compute is a property of the rank-the-whole-
  * pool SPEC, not of negative sampling itself: drawing k of P does
  * not require P work per anchor. [[negativeSamplesByIndex]] is the
  * compute-scale rung — O(anchors × k) draws via a dense pool index —
  * under its own (equally deterministic, oracle-replayable) spec.
  * At 10⁹ anchors × 10⁸ pool the rank spec is ~10¹⁷ digests
  * (infeasible); the index spec is ~10¹⁰ (routine).
  *
  * Determinism of the ranking: draws order lexicographically on hex;
  * the aggregator score is the NEGATED numeric value of the first 13
  * hex chars (52 bits — exact in a double), which induces the same
  * order; prefix collisions tie-break by candidate id in both engines.
  *
  * Composition note: for leakage-safe negatives, anti-join the output
  * against the anchor's near-dup cluster (Dedup.nearDupClusters) so a
  * paraphrase can never be its own "negative".
  */
object NegativeSampling {

  /** (anchor_id, rank, neg_id) — k negatives per anchor, self excluded. */
  def negativeSamples(df: DataFrame, idCol: String, k: Int,
      poolRate: Double, maxBroadcastPool: Long = 4000000L,
      shards: Int = 256): DataFrame = {
    require(k >= 1 && shards >= 1)
    val pool = df.select(col(idCol).cast("long").as("neg_id"))
      .where(md5(col("neg_id").cast("string")) <
        lit(Sampling.hexThreshold(poolRate)))
    val draw = md5(concat_ws(":", col("anchor_id"), col("neg_id")))
    val score: Column =
      -conv(substring(draw, 1, 13), 16, 10).cast("double")
    // fanOut: |pool| md5 draws per anchor is the expensive stage; a
    // single-split anchor file serializes it (AmplificationAudit)
    val anchors = Partitioning.fanOut(
      df.select(col(idCol).cast("long").as("anchor_id")))
    // rung decision from the pinned pool's measured row count; a caller
    // forcing the sharded rung (maxBroadcastPool <= 0) skips the pin
    val forced = maxBroadcastPool <= 0L
    val poolP = if (forced) pool else Pin(pool)
    val joined =
      if (!forced && Pin.rows(poolP) <= maxBroadcastPool)
        // hint kept: a cross join past the broadcast threshold plans a
        // CartesianProduct; the pin's measured count sized the pool
        anchors.crossJoin(broadcast(poolP))
      else {
        // past broadcast reach: hash-shard the pool, replicate each
        // 8-byte anchor id across the shards, meet on the shard key.
        // r15: fanOut the POOL leg too — at runtime the small exploded
        // anchor side broadcasts, making the pool scan the STREAM side
        // of the join, and a single-split pool file then ran the whole
        // anchors×pool digest stage as ONE task (measured 3.2 s of the
        // query's 3.9 s wall; the anchors fanOut alone was defeated).
        // No-op at real scale where the pool already has many splits.
        val poolS = Partitioning.fanOut(poolP).withColumn("__shard",
          pmod(xxhash64(col("neg_id")), lit(shards.toLong)).cast("int"))
        val anchorsS = anchors.select(col("anchor_id"),
          explode(sequence(lit(0), lit(shards - 1))).as("__shard"))
        anchorsS.join(poolS, Seq("__shard")).drop("__shard")
      }
    joined
      .where(col("anchor_id") =!= col("neg_id"))
      .select(col("anchor_id"), score.as("__s"), col("neg_id"))
      .groupBy(col("anchor_id"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(k)(col("__s"), col("neg_id")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")))
      .select(col("anchor_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neg_id"))
  }

  /** (anchor_id, rank, neg_id) — up to k negatives per anchor in
    * O(anchors × k) DRAW work, the compute-scale rung.
    *
    * Spec (deterministic, engine-portable, oracle-replayable):
    *  1. Pool = ids passing the md5 poolRate threshold (same pool as
    *     [[negativeSamples]]).
    *  2. Dense index 0..P−1 over the pool in bucket-major order:
    *     sort key (id mod indexBuckets, id). The bucketing makes the
    *     index assignment computable WITHOUT a global window — a
    *     per-bucket row_number (parallel across `indexBuckets`
    *     partitions) plus cumulative bucket offsets from a
    *     ≤indexBuckets-row aggregate — while the oracle states it as
    *     one `ROW_NUMBER() OVER (ORDER BY id % B, id) − 1`.
    *  3. Each anchor draws m = k × oversample candidate indices:
    *     draw j ∈ [0, m) ↦ toInt(md5(anchor":"j)[0,13)) mod P
    *     (52 bits — exact in every engine).
    *  4. Join draws to the indexed pool on the index (shuffle keyed
    *     by index: anchors×m rows meet P rows — no pool replication,
    *     no anchor×pool product anywhere).
    *  5. Reject self-hits; collapse duplicate hits per anchor to the
    *     smallest j; rank surviving negatives by j ascending; keep
    *     the first k. With m = oversample×k the survival shortfall
    *     probability is ~(m²/2P + m/P) tail — and "up to k" is the
    *     spec, replayed identically by the oracle, so determinism
    *     never depends on the tail not happening.
    *
    * Work: anchors×m digests + an anchors×m ⋈ P shuffle join — vs
    * anchors×P digests in the rank-spec rungs. Indexing is one O(P)
    * pass (amortizable: the index is itself a declared, hash-checkable
    * artifact and can be persisted alongside the pool).
    */
  def negativeSamplesByIndex(df: DataFrame, idCol: String, k: Int,
      poolRate: Double, oversample: Int = 3,
      indexBuckets: Int = 256): DataFrame = {
    require(k >= 1 && oversample >= 2 && indexBuckets >= 1)
    val pool = df.select(col(idCol).cast("long").as("neg_id"))
      .where(md5(col("neg_id").cast("string")) <
        lit(Sampling.hexThreshold(poolRate)))
    // dense bucket-major index: per-bucket row_number + tiny offsets
    val poolB = pool.withColumn("__b",
      pmod(col("neg_id"), lit(indexBuckets.toLong)).cast("int"))
    val counts = poolB.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    // ≤indexBuckets rows: the exclusive prefix-sum window is bounded
    val offsets = counts.withColumn("__off",
      coalesce(sum(col("__n")).over(
        Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val poolTotal = counts.agg(sum(col("__n"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    require(poolTotal > 0L, s"negativeSamplesByIndex: empty pool at " +
      s"poolRate=$poolRate — no candidates to draw from")
    val indexed = poolB
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("neg_id"))) - 1)
      // hint kept: offsets is a grouped aggregate, priced at the pool's size
      .join(broadcast(offsets.select(col("__b"), col("__off"))), Seq("__b"))
      .select((col("__off") + col("__rn")).cast("long").as("__idx"),
        col("neg_id"))
    val m = k * oversample
    val anchors = Partitioning.fanOut(
      df.select(col(idCol).cast("long").as("anchor_id")))
    val draws = anchors
      .select(col("anchor_id"),
        explode(sequence(lit(0), lit(m - 1))).as("__j"))
      .withColumn("__idx",
        pmod(conv(substring(md5(concat_ws(":",
          col("anchor_id"), col("__j"))), 1, 13), 16, 10).cast("long"),
          lit(poolTotal)))
    val hits = draws.join(indexed, Seq("__idx"))
      .where(col("anchor_id") =!= col("neg_id"))
      .groupBy(col("anchor_id"), col("neg_id"))
      .agg(min(col("__j")).as("__j"))
    // per-anchor j values are distinct (one j ↦ one index ↦ one id),
    // so score −j is tie-free; top-k ascending-j via the partial agg
    hits
      .select(col("anchor_id"), (-col("__j")).cast("double").as("__s"),
        col("neg_id"))
      .groupBy(col("anchor_id"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(k)(col("__s"), col("neg_id")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")))
      .select(col("anchor_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neg_id"))
  }

  /** (anchor_id, rank, neg_id) — up to k negatives per anchor drawn
    * WITH PROBABILITY ∝ `weightCol` (the word2vec-style frequency-
    * weighted negative draw), still O(anchors × k) work.
    *
    * Spec (deterministic, engine-portable):
    *  1. Pool = (id, w) passing the md5 poolRate threshold; rows with
    *     w ≤ 0 are never drawable and are dropped.
    *  2. Each pool row owns the half-open interval [lo, lo+w) of the
    *     cumulative weight line in bucket-major (id mod B, id) order —
    *     lo is an EXCLUSIVE prefix sum built scalably as per-bucket
    *     running sums (window partitioned by bucket) plus ≤B bucket
    *     offsets; the oracle states it as one window over the total
    *     order.
    *  3. Draw j ↦ u = toInt(md5(anchor":"j)[0,13)) mod W (W = total
    *     weight); the drawn negative is the interval containing u —
    *     heavy rows own more of the line, hence the ∝w marginal.
    *  4. The u→interval lookup is a BIN JOIN, not an inequality scan:
    *     intervals explode onto fixed-width bins (binWidth ~ W/4P ⇒
    *     ~5P bin rows total), draws compute their single bin, the
    *     equi-join meets them, one containment filter remains. The
    *     RangeJoin bucketing pattern applied to the weight line.
    *  5. Same tail as [[negativeSamplesByIndex]]: reject self,
    *     collapse duplicate hits to the smallest j (⇒ distinct
    *     negatives — draws are with replacement, the output is not),
    *     rank by j, keep k.
    */
  def negativeSamplesWeighted(df: DataFrame, idCol: String,
      weightCol: String, k: Int, poolRate: Double, oversample: Int = 3,
      indexBuckets: Int = 256): DataFrame = {
    require(k >= 1 && oversample >= 2 && indexBuckets >= 1)
    val pool = df.select(col(idCol).cast("long").as("neg_id"),
        col(weightCol).cast("long").as("__w"))
      .where(md5(col("neg_id").cast("string")) <
        lit(Sampling.hexThreshold(poolRate)))
      .where(col("__w") > 0L)
    val poolB = pool.withColumn("__b",
      pmod(col("neg_id"), lit(indexBuckets.toLong)).cast("int"))
    val bTotals = poolB.groupBy(col("__b"))
      .agg(sum(col("__w")).as("__bw"), count(lit(1)).as("__n"))
    val offsets = bTotals.withColumn("__off",
      coalesce(sum(col("__bw")).over(
        Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val (totalW, poolN) = bTotals
      .agg(sum(col("__bw")), sum(col("__n"))).head() match {
        case r if r.isNullAt(0) => (0L, 0L)
        case r => (r.getLong(0), r.getLong(1))
      }
    require(totalW > 0L, s"negativeSamplesWeighted: empty pool or zero " +
      s"total weight at poolRate=$poolRate")
    val binW = math.max(1L, totalW / math.max(4L * poolN, 1L))
    val intervals = poolB
      .withColumn("__run",
        coalesce(sum(col("__w")).over(
          Window.partitionBy(col("__b")).orderBy(col("neg_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // hint kept: offsets is a grouped aggregate, priced at the pool's size
      .join(broadcast(offsets.select(col("__b"), col("__off"))), Seq("__b"))
      .select(col("neg_id"),
        (col("__off") + col("__run")).as("__lo"),
        (col("__off") + col("__run") + col("__w")).as("__hi"))
    val binned = intervals.select(col("neg_id"), col("__lo"), col("__hi"),
      explode(sequence(expr(s"__lo div $binW"),
        expr(s"(__hi - 1) div $binW"))).as("__bin"))
    val m = k * oversample
    val anchors = Partitioning.fanOut(
      df.select(col(idCol).cast("long").as("anchor_id")))
    val draws = anchors
      .select(col("anchor_id"),
        explode(sequence(lit(0), lit(m - 1))).as("__j"))
      .withColumn("__u",
        pmod(conv(substring(md5(concat_ws(":",
          col("anchor_id"), col("__j"))), 1, 13), 16, 10).cast("long"),
          lit(totalW)))
      .withColumn("__bin", expr(s"__u div $binW"))
    val hits = draws.join(binned, Seq("__bin"))
      .where(col("__u") >= col("__lo") && col("__u") < col("__hi"))
      .where(col("anchor_id") =!= col("neg_id"))
      .groupBy(col("anchor_id"), col("neg_id"))
      .agg(min(col("__j")).as("__j"))
    hits
      .select(col("anchor_id"), (-col("__j")).cast("double").as("__s"),
        col("neg_id"))
      .groupBy(col("anchor_id"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(k)(col("__s"), col("neg_id")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")))
      .select(col("anchor_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neg_id"))
  }
}
