package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

import graft.util.Pin

/** Fuzzy entity-resolution join: match records across two catalogs by
  * character-q-gram Jaccard similarity, EXACTLY — prefix filtering
  * (the PPJoin family: Xiao et al., WWW'08) generates candidates with
  * a zero-false-negative guarantee, so unlike LSH there is no recall
  * operating point to pin; the result is the exact similarity join at
  * any threshold.
  *
  * Why not minhash-LSH here: entity strings drawn from a small
  * vocabulary (product catalogs, addresses) have HIGH background
  * similarity — at banding rates that keep recall complete near the
  * threshold, most cross pairs collide somewhere and candidate
  * generation degenerates toward all-pairs (the simhash-16×4 lesson,
  * SCALE_NOTES). Prefix filtering inverts the problem: a pair with
  * jaccard ≥ t MUST share one of its (1-t)·n rarest grams, and RARE
  * grams have short postings lists by construction.
  *
  * Measured sizing (part entities, sf0.1, 2×10k catalogs, t = 0.8):
  * 3-grams give only 329 distinct features — postings so dense the
  * prefix join admits 12.9M candidate pairs (13% of all pairs, 48 s
  * end-to-end in the first cut). 5-grams (899 features) cut that to
  * 3.6M pairs / 5.4M occurrence rows against ~15k true pairs, and the
  * whole query to ~4 s. Feature WIDTH, not just rarity order, is the
  * candidate lever on small-vocabulary entities; q = 5 is the
  * default, configurable per catalog.
  *
  * 100 TB shape: gram hashing is map-side; every exchange carries
  * (8-byte gram hash, id, an int) — never strings or arrays. The
  * global gram-frequency table (one narrow count) orders grams by
  * rarity; the per-id prefix is a windowed top-(1-t)·n by that order.
  * Candidate occurrences flow UNAGGREGATED from the prefix join
  * through map-side broadcast verification on small catalogs (see the
  * inline notes on why skipping the pair-dedup shuffle wins there);
  * past broadcast reach verification switches to narrow long-only
  * count joins (see the verify-strategy notes inline), and only
  * verified matches reach the final top-1 window.
  */
object FuzzyJoin {

  /** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95):
    * candidate pairs are records within `window` positions of each
    * other in the GLOBAL (sortKey, id) order — the linear-cost
    * blocking strategy whose candidate count is exactly n·(w−1),
    * independent of key-frequency skew (where q-gram postings or LSH
    * buckets can still spike). Survivors verify by character-q-gram
    * Jaccard ≥ threshold over `textCol`, exactly as [[fuzzyJoinTop1]].
    *
    * The global window is NOT implemented as one ORDER BY over the
    * corpus (a single-partition sort at scale). Instead:
    *  1. order-preserving buckets from the sort key's `prefixLen`-char
    *     prefix (lexicographic prefixes are contiguous in the order);
    *  2. per-bucket counts — a ≤|alphabet|^prefixLen METADATA frame —
    *     are greedily coalesced driver-side into super-buckets of
    *     ≥ w−1 rows each (short final super merges backward), so a
    *     window can never span more than one boundary;
    *  3. each super-bucket's last w−1 rows REPLICATE to its successor
    *     (tagged), windows run per super-bucket, and a pair is
    *     emitted only where the later row is an original — boundary
    *     pairs appear exactly once, interior duplicates never.
    * The result is row-identical to the single-sort definition (which
    * the oracle replays with one global ROW_NUMBER) at any bucketing.
    *
    * Output: (id_a, id_b, jaccard) — (earlier, later) in sort order.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      sortKeyCol: String, textCol: String, window: Int,
      threshold: Double, q: Int = 5, prefixLen: Int = 1): DataFrame = {
    require(window >= 2 && threshold > 0 && threshold <= 1)
    val w = window
    // feeds the metadata count + both frame legs
    val base = Pin(df.select(col(idCol).as("id"), col(sortKeyCol).as("key"),
        col(textCol).as("__txt"))
      .withColumn("__bkt", substring(col("key"), 1, prefixLen)))
    // bounded metadata: per-prefix counts, coalesced so every
    // super-bucket holds >= w-1 rows (one boundary hop suffices)
    val counts = base.groupBy(col("__bkt")).agg(count(lit(1)).as("n"))
      .orderBy(col("__bkt")).collect()
    require(counts.length <= 100000,
      s"sortedNeighborhoodPairs: ${counts.length} distinct key prefixes " +
        s"at prefixLen=$prefixLen — the driver-side coalesce is metadata-" +
        "sized only while the prefix alphabet is; shorten prefixLen")
    var cur = 0
    var acc = 0L
    val assign = counts.map { r =>
      val a = (r.getString(0), cur)
      acc += r.getLong(1)
      if (acc >= w - 1) { cur += 1; acc = 0 }
      a
    }
    val fixed = // short trailing super merges backward
      if (acc > 0 && cur > 0) assign.map { case (b, s) =>
        (b, if (s == cur) cur - 1 else s)
      } else assign
    val spark = df.sparkSession
    import spark.implicits._
    val sup = fixed.toSeq.toDF("__bkt", "__r")
    val tagged = base.join(sup, Seq("__bkt"))
    val wTail = Window.partitionBy(col("__r"))
      .orderBy(col("key").desc, col("id").desc)
    val tails = tagged
      .withColumn("__rd", row_number().over(wTail))
      .where(col("__rd") <= w - 1)
      .drop("__rd")
      .withColumn("__r", col("__r") + 1)
      .withColumn("__tag", lit(1))
    // r15: pin the window's exchange width too (same rationale as the
    // verify repartition below — the frame is byte-tiny, so AQE
    // coalesced the per-super-bucket window + w−1-lead explode into
    // ONE task, ~2 s serial at sf0.1)
    val frame = tagged.withColumn("__tag", lit(0)).unionByName(tails)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__r"))
    val wOrd = Window.partitionBy(col("__r")).orderBy(col("key"), col("id"))
    // lead columns first (one shared window sort), then explode
    val withLeads = frame.select(
      col("id").as("id_a") +:
        (1 to w - 1).flatMap(j => Seq(
          lead(col("id"), j).over(wOrd).as(s"__lid_$j"),
          lead(col("__tag"), j).over(wOrd).as(s"__ltg_$j"))): _*)
    val leadStructs = (1 to w - 1).map(j =>
      struct(col(s"__lid_$j").as("id_b"), col(s"__ltg_$j").as("tg")))
    val cand = withLeads
      .select(col("id_a"), explode(array(leadStructs: _*)).as("p"))
      .where(col("p.id_b").isNotNull && col("p.tg") === 0)
      .select(col("id_a"), col("p.id_b").as("id_b"))
    val grams = charGramFrame(df, idCol, textCol, q)
    val sets = grams.groupBy(col("id")).agg(collect_set(col("s")).as("sh"))
    // r15 OPTIMIZATION (guide §2.5 — per-row-expensive operators need
    // row-count, not byte-count, parallelism): the candidate frame is a
    // few MB of id pairs, so AQE's byte-based coalescing collapsed the
    // whole verify (two set joins + array_intersect over n·(w−1) pairs)
    // to ONE task — 7.3 s of the adaptive query's 9.5 s wall was that
    // single task (Bench's stage rows). An explicit repartition at the
    // planner's own partition count pins the verify at full width: the
    // count is what a planner exchange would use (scale knob unchanged),
    // but a user-pinned repartition is not AQE-coalescable, which here
    // is precisely the point. Measured (this + the window-width pin
    // above): 9.54 → 4.29 s wall at sf0.1.
    val candSpread = cand.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col("id_a"))
    candSpread
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("__common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("__common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("__common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Data-derived window for [[sortedNeighborhoodPairs]] — the fix for
    * the measured recall-decay law (SCALE_NOTES): at FIXED w, SN
    * recall decays as the corpus grows (15.2% → 1.6% across a 10×
    * part-catalog growth at w = 5), because similar-name clusters gain
    * members faster than a constant window spans. w must scale with
    * the DUPLICATE-CLUSTER SIZE DISTRIBUTION (data), not be a constant
    * (config).
    *
    * Cluster proxy: records sharing the sort key's first whitespace
    * token (the block a lexicographic sort actually packs together —
    * color-word prefixes on part names, street names on addresses).
    * w = clamp(q-th discrete quantile of cluster sizes + 1,
    * [minWindow, maxWindow]): a window that spans the q-quantile
    * cluster end-to-end. The +1 converts a cluster SIZE into a window
    * that pairs its first and last member. maxWindow bounds candidate
    * cost at n·(maxWindow−1) — the bounded-COST contract is the only
    * reason to run SN at all.
    *
    * CONTRACT ORDERING (the ER-family law, promoted from the round-12
    * write-up): prefix-filter join (exact — zero false negatives,
    * candidates linear in posting mass) > LSH bands (recall measured
    * per operating point) > sorted-neighborhood (recall unquantified
    * without a ground-truth pass; bounded COST, not bounded LOSS).
    * Prefer [[fuzzyJoinTop1]]'s prefix filtering when the sort key
    * does not cluster true matches; SN earns its keep only where the
    * key order IS the match structure (timestamps, serial numbers).
    *
    * Driver-side derivation is metadata-sized: the cluster frame is
    * bounded by the first-token vocabulary (loud require, the
    * super-bucket coalesce discipline).
    */
  def windowFromClusterSize(df: DataFrame, sortKeyCol: String,
      quantile: Double = 0.9, minWindow: Int = 2,
      maxWindow: Int = 64): Int =
    windowDerivation(df, sortKeyCol, quantile, minWindow, maxWindow).window

  /** The full adaptive-window derivation: the clamped `window` plus the
    * UNCLAMPED `derived` value (q-quantile cluster size + 1) and a
    * `clamped` flag — the machine-visible handoff signal (r13 verdict
    * #6). The sf0.1 measurement (SCALE_NOTES "the clamp is now the
    * binding constraint"): when the derivation wants w ≈ 220 and the
    * clamp caps it at 64, recall has already decayed to 23.4% and SN's
    * bounded-cost contract is the thing limiting recall — the exact
    * prefix join ([[fuzzyJoinTop1]], zero false negatives, no window
    * to size) is the right tool past this point. Callers that ignore
    * the flag still hear about it: a binding clamp logs one loud
    * stderr notice.
    */
  final case class WindowDerivation(window: Int, derived: Long,
      clamped: Boolean)

  def windowDerivation(df: DataFrame, sortKeyCol: String,
      quantile: Double = 0.9, minWindow: Int = 2,
      maxWindow: Int = 64): WindowDerivation = {
    require(quantile > 0 && quantile <= 1, s"quantile: $quantile")
    require(minWindow >= 2 && maxWindow >= minWindow)
    val sizeFrame = df
      .select(split(col(sortKeyCol), " ").getItem(0).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("n"))
      .select(col("n"))
    // Guard fused WITH the collect (r13 verdict #2, r14 ADVICE): the
    // 100k metadata contract must fire while holding at most 100001
    // longs driver-side — one limit-bounded collect serves as both the
    // probe and the payload, so the first-token aggregation runs ONCE
    // (the probe-then-collect pair paid the corpus scan/shuffle twice).
    // A pathological vocabulary (tens of millions of first tokens on a
    // real text corpus) hits the loud stop at 100001 collected rows
    // without the driver ever holding the full frame.
    val limited = sizeFrame.limit(100001).collect()
    require(limited.nonEmpty, "windowFromClusterSize: empty input")
    require(limited.length <= 100000,
      s"windowFromClusterSize: over 100000 distinct first tokens — " +
        "the driver-side quantile is metadata-sized only while the " +
        "token vocabulary is")
    val sizes = limited.map(_.getLong(0)).sorted
    // discrete (type-1) quantile: value at 1-based position
    // ceil(q · n) of the ascending size multiset — tie order cannot
    // change the value, so this is engine-portable (DuckDB: the same
    // ROW_NUMBER selection; quantile_disc differs at exact cut points)
    val pos = math.ceil(quantile * sizes.length).toLong
    val q = sizes(pos.toInt - 1)
    val derived = q + 1
    val w = math.min(maxWindow.toLong, math.max(minWindow.toLong, derived))
      .toInt
    val clamped = derived > maxWindow
    if (clamped)
      System.err.println(
        s"[windowFromClusterSize] NOTICE: derivation wants w=$derived " +
          s"but maxWindow=$maxWindow binds — SN recall is now limited " +
          "by the bounded-cost clamp, not the data; prefer the exact " +
          "prefix-filter join (FuzzyJoin.fuzzyJoinTop1) at this " +
          "cluster-size distribution")
    WindowDerivation(w, derived, clamped)
  }

  /** Exploded distinct character-q-gram hash frame (id, s), built
    * map-side: positions 1..len-q+1, xxhash64 over each q-char slice.
    */
  def charGramFrame(df: DataFrame, idCol: String, textCol: String,
      q: Int = 5): DataFrame = {
    val t = col("__ft")
    df.select(col(idCol).as("id"), col(textCol).as("__ft"))
      .where(length(t) >= q)
      .select(col("id"), explode(transform(
        sequence(lit(1), length(t) - (q - 1)),
        i => xxhash64(t.substr(i, lit(q))))).as("s"))
      .distinct()
  }

  /** Best fuzzy match per left record: for each left id, the right id
    * with maximum q-gram Jaccard ≥ `threshold` (ties → smallest right
    * id). Output: (left_id, right_id, jaccard), one row per matched
    * left record. Left/right id spaces may overlap (sides are kept
    * separate throughout).
    *
    * Exactness notes — every floating-point shortcut errs in the safe
    * direction (more candidates, never fewer):
    *  - prefix length uses ceil(t·n) on doubles — IEEE error can only
    *    lengthen the prefix;
    *  - the size-ratio prune compares integer-valued sizes against a
    *    real-valued bound with a 0.5 slack, so boundary pairs
    *    (|y| = t·|x| exactly) always survive to verification.
    */
  def fuzzyJoinTop1(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, threshold: Double, q: Int = 5): DataFrame =
    fuzzyJoinTop1(left, right, idCol, textCol, threshold, q, None)

  /** [[fuzzyJoinTop1]] with its verification strategy forced:
    * `countVerify = Some(true)` counts common grams, `Some(false)`
    * intersects gram arrays, `None` picks by measured gram volume. The
    * two strategies give the same result; tests use each as the
    * other's reference.
    */
  private[graft] def fuzzyJoinTop1(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, threshold: Double, q: Int,
      countVerify: Option[Boolean]): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    // Each side's gram frame feeds three consumers (frequency table,
    // prefix build, verify) → pinned once per side, SERIALIZED: gram
    // frames grow as entities × grams-per-entity and are re-read only
    // three times, so compact GC-invisible blocks beat deserialized
    // row objects (which OOM'd the probe heap at 2×75M rows).
    // r16: the two pins are independent — materialize concurrently
    // (guide §2.6; Dedup.inParallel)
    val (exL, exR) = Dedup.inParallel(
      Pin(charGramFrame(left, idCol, textCol, q), MEMORY_AND_DISK_SER),
      Pin(charGramFrame(right, idCol, textCol, q), MEMORY_AND_DISK_SER))

    // Global rarity order: combined doc-frequency over both catalogs.
    // Any consistent order is CORRECT; rarity-first is what makes
    // prefix postings lists short.
    val tf = exL.union(exR).groupBy(col("s")).agg(count(lit(1)).as("tf"))

    // Per-id prefix: the (n - ceil(t*n) + 1) rarest grams. A pair with
    // jaccard >= t shares at least one gram in both prefixes
    // (pigeonhole on the 1-t fraction of grams allowed to differ).
    // The keyed repartition before the windows is the same
    // amplification-blind-spot fix as the candidate-join fan-out below:
    // gram rows are ~24 bytes so AQE coalesces the window exchange to a
    // handful of partitions by input bytes, but the per-row window sort
    // CPU behind it is the prefix build's whole cost (measured 5×
    // under-parallelized at 100k entities/side). HashPartitioning(id)
    // satisfies the window's required distribution, so this adds no
    // extra exchange — it just pins the partition count.
    val fanout = left.sparkSession.sparkContext.defaultParallelism
    def prefix(ex: DataFrame) = {
      val n = count(lit(1)).over(Window.partitionBy(col("id")))
      val rn = row_number().over(
        Window.partitionBy(col("id")).orderBy(col("tf"), col("s")))
      ex.join(tf, Seq("s")).repartition(fanout, col("id"))
        .select(col("id"), col("s"), n.as("n"), rn.as("rn"))
        .where(col("rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
    }
    // Candidate OCCURRENCES, deliberately NOT deduplicated: a pair
    // sharing k prefix grams appears k times (k <= prefix length, and
    // measured ~1.5 mean on part entities at sf0.1 — 5.4M occurrence
    // rows for 3.6M pairs). Deduplicating costs a full pair shuffle +
    // hash aggregate (7.3 s at sf0.1, the pipeline's dominant stage);
    // letting duplicates stream through the map-side verify costs one
    // redundant array-intersect per extra occurrence (~0.15 s total).
    // Top-1 selection makes duplicates harmless: row_number keeps one
    // row per left id regardless. Size-ratio prune:
    // jaccard >= t forces t*max(n_l,n_r) <= min(n_l,n_r).
    //
    // The explicit round-robin repartition on the stream side is
    // load-bearing: the prefix frame is small by BYTES (~5 MB at
    // sf0.1), so AQE coalesces its window shuffle to ONE partition —
    // but the candidate join AMPLIFIES it ~100× and the per-row
    // verification behind it is the pipeline's entire CPU cost, so the
    // whole query collapsed onto a single core (measured: a 1-task
    // 16.8 s stage, 15.7 s of it CPU). AQE sizes partitions by input
    // bytes and cannot see output amplification; a user repartition is
    // exempt from coalescing and restores full fan-out (16.8 s → ~1 s
    // at 32 cores, same plan otherwise).
    // Positional filter (the "PP" in PPJoin): `rn` is each gram's
    // position in the id's FULL rarity-sorted gram list, so at an
    // occurrence row the overlap can reach at most
    // 1 + min(n_l - rn_l, n_r - rn_r) (grams after the shared one on
    // each side), while jaccard >= t needs >= ceil(t/(1+t)·(n_l+n_r)).
    // Rows where the bound falls short are pruned (measured: 3.6M ->
    // 1.0M verify rows on part entities at sf0.1). SAFE despite
    // pruning per-OCCURRENCE: for any pair with jaccard >= t the
    // globally-first common gram sits inside BOTH prefixes (all-after-
    // prefix common grams would cap overlap at ceil(t·n)-1 < the
    // required ceil(t/(1+t)(n_l+n_r)) >= ceil(t·n_l)), no common gram
    // precedes it by definition, so ITS row always passes — and one
    // surviving row per true pair is all top-1 needs. The 0.5 slack
    // keeps IEEE rounding on the safe (admit) side.
    val reqOverlap = lit(threshold / (1.0 + threshold)) *
      (col("n_l") + col("n_r")) - 0.5
    val candidates = prefix(exL).repartition(fanout)
      .withColumnsRenamed(Map("id" -> "left_id", "n" -> "n_l", "rn" -> "rn_l"))
      .join(prefix(exR)
        .withColumnsRenamed(Map("id" -> "right_id", "n" -> "n_r", "rn" -> "rn_r")),
        Seq("s"))
      .where(col("n_r") >= lit(threshold) * col("n_l") - 0.5 &&
        col("n_l") >= lit(threshold) * col("n_r") - 0.5 &&
        lit(1) + least(col("n_l") - col("rn_l"), col("n_r") - col("rn_r"))
          >= reqOverlap)
      .select(col("left_id"), col("right_id"), col("n_l"), col("n_r"))

    // Two exact verification strategies — same result, opposite memory
    // shapes, picked by measured gram volume (exL/exR are pinned, so
    // the deciding counts are the pins' own row counts):
    //
    //  - arrays (small catalogs): the candidate occurrence stream
    //    passes through two joins against catalog-sized set tables (one
    //    gram array per id) whose PINNED true stats let AQE broadcast
    //    them — gram arrays never cross an exchange, duplicates in the
    //    occurrence stream are harmless (top-1 dedups), and the whole
    //    verify is map-side. Measured 3.0 s at sf0.1 (2×10k catalogs).
    //    Its cliff: collect_set is an OBJECT hash aggregate (no codegen,
    //    sort-based fallback) and the arrays live on the JVM heap —
    //    at 2×500k entities (~150M gram rows) the set-table build alone
    //    OOMs an 8 g executor heap (measured: UNABLE_TO_ACQUIRE_MEMORY
    //    inside ObjectHashAggregateExec's fallback sorter).
    //  - count (large catalogs): deduplicate candidate pairs (one
    //    shuffle on the pair key — the cost the arrays path avoids, paid
    //    here because each pair is about to be amplified by ~n grams),
    //    then count common grams with two narrow equijoins:
    //    pairs ⋈ exL on left_id → (pair, s) stream, ⋈ exR on
    //    (right_id, s) keeps exactly the common grams, and a codegen
    //    HashAggregate count per pair is |intersection| (gram frames are
    //    distinct per (id, gram) by construction). Every exchange
    //    carries only 8-byte longs + two ints; sorts and aggregates all
    //    spill. Unbounded-catalog safe — this is the 100 TB path.
    // ~16M gram rows ≈ 2×50k entities at ~150 grams each: well under
    // the measured 150M-row OOM cliff, well over every sf catalog.
    val useCount = countVerify.getOrElse(
      Pin.rows(exL) + Pin.rows(exR) > 16_000_000L)
    val verified = if (useCount) {
      candidates.distinct()
        .join(exL.withColumnRenamed("id", "left_id"), Seq("left_id"))
        .join(exR.withColumnRenamed("id", "right_id"), Seq("right_id", "s"))
        .groupBy(col("left_id"), col("right_id"), col("n_l"), col("n_r"))
        .agg(count(lit(1)).as("common"))
        .withColumn("jaccard", col("common") /
          (col("n_l") + col("n_r") - col("common")))
        .where(col("jaccard") >= threshold)
    } else {
      def sets(ex: DataFrame, idName: String, shName: String) =
        Pin(ex.groupBy(col("id").as(idName))
          .agg(collect_set(col("s")).as(shName)))
      // r16: the two set-table pins are independent — overlap them
      val (setsL, setsR) = Dedup.inParallel(
        sets(exL, "left_id", "sh_l"), sets(exR, "right_id", "sh_r"))
      candidates
        .join(setsL, Seq("left_id"))
        .join(setsR, Seq("right_id"))
        .withColumn("common", size(array_intersect(col("sh_l"), col("sh_r"))))
        .withColumn("jaccard", col("common") /
          (size(col("sh_l")) + size(col("sh_r")) - col("common")))
        .where(col("jaccard") >= threshold)
    }

    val rank = row_number().over(Window.partitionBy(col("left_id"))
      .orderBy(col("jaccard").desc, col("right_id")))
    verified
      .withColumn("rn", rank)
      .where(col("rn") === 1)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }
}
