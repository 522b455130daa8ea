package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Deterministic, engine-portable sampling — the reproducibility
  * primitive for corpus curation: the same keys are selected on every
  * run, on every engine, at any parallelism (unlike `df.sample`, whose
  * selection depends on partitioning and a seeded RNG stream).
  *
  * Mechanism: md5(key) is uniform over hex strings, so a LEXICOGRAPHIC
  * threshold on the hex digest selects a uniform fraction — and both
  * Spark and any SQL engine with md5() reproduce it bit-identically
  * (the same trick as the exact-dedup keeper set). The threshold for
  * rate r is the first 8 hex digits of r·16⁸.
  *
  * Scale: a map-side filter — no shuffle, no state, pushdown-friendly.
  * Consistent across tables: sampling users and their events by the
  * same key keeps referential integrity (the classic "sample the
  * entity, not the row" rule).
  */
object Sampling {

  /** Hex-threshold for a sampling rate in (0, 1]. */
  def hexThreshold(rate: Double): String = {
    require(rate > 0 && rate <= 1, s"rate must be in (0,1], got $rate")
    val v = math.min((rate * 4294967296.0).toLong, 4294967295L)
    f"$v%08x"
  }

  /** Keep rows whose md5(key) sorts below the rate threshold. */
  def sampleByKey(df: DataFrame, key: Column, rate: Double): DataFrame =
    df.where(md5(key.cast("string")) < lit(hexThreshold(rate)))

  /** Deterministic train/val/test assignment — the split primitive for
    * dataset curation: each key lands in exactly one named split, with
    * the hex-threshold trick partitioning md5's uniform hex space into
    * consecutive fraction-sized ranges. Same guarantees as
    * `sampleByKey`: reproducible on any engine, at any parallelism,
    * and stable under re-runs and appends (a document's split never
    * changes when other documents arrive — the property that keeps
    * eval sets uncontaminated as a corpus grows).
    *
    * Scale: a map-side CASE over md5(key) — no shuffle, no state.
    * The last split is the catch-all (`otherwise`), so fractions must
    * sum to 1 and the final range absorbs the threshold-rounding tail.
    */
  def assignSplit(df: DataFrame, key: Column,
      splits: Seq[(String, Double)], outCol: String = "split"): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val digest = md5(key.cast("string"))
    // thresholds for all but the last split; the last is `otherwise`
    val expr = splits.init.zip(cum.init).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, ((name, _), c)) =>
        when(digest < lit(hexThreshold(c)), lit(name)).otherwise(acc)
      }
    df.withColumn(outCol, expr)
  }

  /** Leakage-free train/val/test assignment: near-duplicate documents
    * must land in the SAME split, or the eval set silently contains
    * paraphrases of training docs and the benchmark is contaminated
    * from the inside. Composition: connected components over the
    * supplied near-dup pair set (Dedup.nearDupClusters) collapse each
    * dup cluster to its min-id representative, and `assignSplit` keys
    * on the REPRESENTATIVE — one md5-range draw per cluster, so every
    * member inherits the cluster's split. Singletons are their own
    * representative (unchanged semantics vs plain assignSplit).
    *
    * Output: (idCol, rep, split). Stability: a new near-dup of an
    * existing doc joins its cluster and therefore its split; it can
    * LOWER the representative id (and re-draw the cluster's split), so
    * pin reps externally if historical split stability under appends
    * matters more than min-id determinism.
    *
    * Scale: the pair set is the expensive input (banded LSH upstream,
    * never all-pairs); CC is the pointer-jumping loop (O(log diameter)
    * rounds, id-only exchanges); the split itself is one map-side CASE.
    */
  def leakFreeSplit(ids: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], outCol: String = "split"): DataFrame = {
    val cc = graft.text.Dedup.nearDupClusters(ids, idCol, pairs)
    assignSplit(cc, col("rep"), splits, outCol)
      .select(col("id").as(idCol), col("rep"), col(outCol))
  }

  /** Deterministic training-order shuffle with SCALABLE global
    * enumeration — the write-order primitive for a training corpus:
    * every row gets a global 1-based `shuffle_pos` in md5-shuffled
    * order (and a `shard` id when `shardSize` > 0), reproducible on
    * any engine and at any parallelism.
    *
    * The naive formulation — `row_number() OVER (ORDER BY md5(key))` —
    * is a single-partition window: one task enumerates the whole
    * corpus. This version keeps the enumeration distributed with the
    * two-level prefix-sum shape (same trick as sequence packing's bin
    * offsets):
    *
    *  1. bucket = first two hex chars of the shuffle digest (256 range
    *     buckets; the bucket is a PREFIX of the sort key, so
    *     (bucket, digest) ordering equals global digest ordering);
    *  2. per-bucket `row_number` — a window PARTITIONED by bucket, 256
    *     ~uniform partitions (md5 is uniform, so no skew);
    *  3. bucket offsets = running sum over the 256-row count aggregate
    *     (a single-partition window over a BOUNDED frame — the same
    *     bounded-driver-data contract as collected centroids), joined
    *     back via broadcast.
    *
    * global pos = offset + in-bucket rank. One wide shuffle (the
    * bucket partition), one tiny aggregate, zero unbounded windows —
    * the shape survives 100 TB; writers then `repartitionByRange` on
    * `shuffle_pos` (or just on the digest) to materialize the order.
    */
  def shuffledIndex(df: DataFrame, key: Column, seed: Long,
      shardSize: Long = 0L): DataFrame = {
    val digest = md5(concat(key.cast("string"), lit(s":$seed")))
    val keyed = df
      .withColumn("__sk", digest)
      .withColumn("__bucket", conv(substring(col("__sk"), 1, 2), 16, 10)
        .cast("int"))
    val offsets = keyed.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("__bucket"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              -1)), lit(0L)))
      .drop("__n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bucket")).orderBy(col("__sk"), key)
    val pos = keyed
      // hint kept: offsets is a grouped aggregate, priced at keyed's size
      .join(broadcast(offsets), Seq("__bucket"))
      .withColumn("shuffle_pos",
        (col("__offset") + row_number().over(w)).cast("long"))
      .drop("__sk", "__bucket", "__offset")
    if (shardSize > 0)
      // integral DIV (not float division) — exact for any corpus size
      pos.withColumn("shard", expr(s"(shuffle_pos - 1) DIV $shardSize"))
    else pos
  }

  /** Token-budget sampling — the "mix to N tokens per source" form of
    * corpus composition (training mixtures are specified in tokens,
    * not document rates): within each source, documents are taken in
    * md5-shuffled order until the budget is reached. The kept set is
    * exactly { doc : its EXCLUSIVE running token sum < budget } —
    * deterministic, append-stable for already-kept docs (a new doc
    * can only displace docs that sort after it), and engine-exact.
    *
    * Scale shape (the shuffledIndex two-level trick, refined): a
    * global `SUM(...) OVER (PARTITION BY source ORDER BY digest)` is
    * one task per source — dead at 100 TB. Instead: 2-hex-prefix
    * range buckets (the bucket is a PREFIX of the digest, so
    * (bucket, digest) order = global order) → per-(source, bucket)
    * token totals (a tiny aggregate) → running bucket offsets over
    * that ≤ |sources|·256-row frame → broadcast back. Buckets whose
    * offset+total fit the budget pass with NO window at all; only the
    * ONE boundary bucket per source (~1/256 of its rows) pays an
    * in-bucket cumulative window. Everything else is a scan-stage
    * filter.
    */
  def tokenBudgetSample(df: DataFrame, key: Column, sourceCol: Column,
      nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val keyed = df
      .withColumn("__dg", md5(key.cast("string")))
      .withColumn("__b", substring(col("__dg"), 1, 2))
      .withColumn("__n", nTokens.cast("long"))
      .withColumn("__src", sourceCol)
    val w256 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src")).orderBy(col("__b"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__src"), col("__b"))
      .agg(sum(col("__n")).as("__bt"))
      .withColumn("__before", coalesce(sum(col("__bt")).over(w256), lit(0L)))
    // ONE windowed filter: global exclusive cum = bucket offset +
    // in-bucket exclusive cum, and the in-bucket window partitions by
    // (source, 256-bucket) — corpus/(sources·256) rows per sort, full
    // cluster parallelism. (A fully-kept-bucket fast path that skips
    // the window for non-boundary buckets measured SLOWER at 1M docs —
    // it reads the joined frame twice; TokenBudgetProbe.)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src"), col("__b")).orderBy(col("__dg"), key)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // hint kept: offsets is a grouped aggregate, priced at keyed's size
    keyed.join(broadcast(offsets.drop("__bt")), Seq("__src", "__b"))
      .withColumn("__cum", coalesce(sum(col("__n")).over(wIn), lit(0L)))
      .where(col("__before") + col("__cum") < budget)
      .drop("__dg", "__b", "__n", "__src", "__before", "__cum")
  }

  /** Stratified fixed-n sampling — n rows per group regardless of
    * group size (equal-allocation eval sets, per-source debug
    * samples), deterministic: each group keeps its n smallest md5
    * draws. NOT a rate (sampleByKey) and NOT a window row_number
    * (which sorts every group member after shuffling all of them):
    * the per-group ranking is the PairTopKAggregator partial top-k,
    * so mappers ship ≤ n (draw, id) pairs per group they saw.
    * The score is the negated numeric value of the first 13 hex chars
    * (52 bits — exact in a double; ties broken by id), the
    * NegativeSampling convention.
    */
  def stratifiedFixedN(df: DataFrame, key: Column, groupCol: Column,
      n: Int): DataFrame = {
    val draw = md5(key.cast("string"))
    val score = -conv(substring(draw, 1, 13), 16, 10).cast("double")
    df.select(groupCol.as("__grp"), score.as("__s"),
        key.cast("long").as("__id"))
      .groupBy(col("__grp"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(n)(col("__s"), col("__id")).as("top"))
      .select(col("__grp"), posexplode(col("top")))
      .select(col("__grp").as("group_key"),
        (col("pos") + 1).cast("int").as("rank"), col("col.id").as("id"))
  }

  /** Weighted source mixing — the corpus-composition primitive: each
    * source (crawl, books, code, …) is down-sampled at its own rate in
    * ONE map-side pass, deterministically (same md5-threshold trick as
    * sampleByKey, so any engine reproduces the exact selection).
    * Sources absent from `rates` are dropped — a mixing spec is a
    * whitelist. Still a scan-stage filter: no shuffle, no state,
    * pushdown-friendly, and the per-source rate arrives as a literal
    * CASE expression (no join against a rates table needed below
    * thousands of sources).
    */
  def mixSources(df: DataFrame, key: Column, sourceCol: Column,
      rates: Map[String, Double]): DataFrame = {
    require(rates.nonEmpty, "mixing spec must name at least one source")
    // rate >= 1.0 keeps the source COMPLETELY — the threshold compare
    // tops out at 'ffffffff' and would silently drop the ~2^-32 of
    // keys whose digest starts with eight f's
    val keep = rates.foldLeft(lit(false)) { case (acc, (src, rate)) =>
      val cond =
        if (rate >= 1.0) lit(true)
        else md5(key.cast("string")) < lit(hexThreshold(rate))
      when(sourceCol === src, cond).otherwise(acc)
    }
    df.where(keep)
  }

  /** Temperature-flattened source mixing at τ = 1/2 — the multilingual
    * /multi-source corpus-balancing primitive (sampling sources
    * proportional to size^τ rather than size, so tail sources aren't
    * drowned by the head): each source keeps
    * p = ⌊√n_source⌋ / ⌊√n_max⌋ of its documents via the same
    * md5-threshold draw as `sampleByKey`, with thresholds COMPUTED IN
    * THE PLAN from the source counts (one aggregate + a broadcast join
    * — no driver round-trip, no literals to maintain).
    *
    * Why τ is pinned to 1/2: IEEE-754 `sqrt` is CORRECTLY ROUNDED on
    * every engine, so ⌊√n⌋ is a deterministic BIGINT everywhere —
    * whereas `pow(n, τ)` is only faithfully rounded (±1 ulp,
    * implementation-specific) and a 1-ulp rate difference can flip a
    * boundary document and break the cross-engine hash. The ratio is
    * one double division of exact integers and the threshold one
    * multiply+floor — both single IEEE ops, identical on all engines.
    * The max source's p = 1 maps to threshold "g" (lexicographically
    * above every hex digest), keeping it complete rather than dropping
    * the ~2^-32 digest tail.
    *
    * Scale shape: counts are one source-sized aggregate; the per-source
    * threshold table broadcasts; the keep decision is a scan-stage
    * filter — no corpus shuffle anywhere.
    */
  def temperatureMixSqrt(df: DataFrame, sourceCol: Column,
      key: Column): DataFrame = {
    // a NULL source group would silently vanish (the keep join is
    // null-unsafe) while still competing for w_max and skewing every
    // real source's rate — fail loudly instead (the Sessionize
    // sentinel-guard convention); route unattributed rows to a named
    // source upstream if they should participate
    require(df.where(sourceCol.isNull).isEmpty,
      "temperatureMixSqrt: null source values present — name them upstream")
    val counts = df.groupBy(sourceCol.as("__src"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__src"), floor(sqrt(col("__n"))).as("__w"))
    val wmax = counts.agg(max(col("__w")).as("__wmax"))
    val thresholds = counts.crossJoin(wmax)
      .select(col("__src"),
        when(col("__w") >= col("__wmax"), lit("g"))
          .otherwise(format_string("%08x",
            floor((col("__w").cast("double") / col("__wmax").cast("double"))
              * lit(4294967296.0)).cast("long")))
          .as("__thr"))
    // hint kept: thresholds are priced above df (else df builds)
    df.join(broadcast(thresholds), sourceCol === col("__src"))
      .where(md5(key.cast("string")) < col("__thr"))
      .drop("__src", "__thr")
  }

  /** Curriculum ordering — the easy-first (or quality-first) write
    * order curriculum training wants: rows are banded by equi-depth
    * rank on `scoreCol` (band 1 = highest score), then md5-SHUFFLED
    * WITHIN each band, and `curriculum_pos` enumerates the result
    * globally (band-major). Banding uses the windowless floor formula;
    * both ranks go through Ranking.globalRank — two distributed
    * range-partition passes, zero corpus-wide single-partition
    * windows. Deterministic given (score, id, seed): any engine
    * replays band AND position exactly.
    */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
      bands: Int, seed: Long): DataFrame = {
    require(bands >= 2, "need at least 2 bands")
    val n = df.agg(count(lit(1)).as("__n"))
    val banded = Ranking.globalRank(df,
        Seq(col(scoreCol).desc, col(idCol)), "__r")
      .crossJoin(n)
      .withColumn("band",
        Ranking.equiDepthScore(col("__r"), col("__n"), bands))
      .drop("__r", "__n")
    val digest = md5(concat(col(idCol).cast("string"), lit(s":$seed")))
    Ranking.globalRank(banded.withColumn("__d", digest),
        Seq(col("band"), col("__d"), col(idCol)), "curriculum_pos")
      .drop("__d")
  }

  /** Purged + embargoed time-fold assignment (the de Prado
    * combinatorial-CV leakage control, simplified to contiguous
    * blocks): the time axis [min ts, max ts] splits into k equal
    * blocks; for fold f a sample is
    *  - `test`   if its ts lies inside block f;
    *  - `train`  if its LABEL WINDOW [ts, ts + horizon] ends before
    *    the block AND its ts clears the post-block embargo
    *    (ts + horizon < block_start  OR  ts > block_end + embargo);
    *  - `purged` otherwise — the samples whose labels leak across the
    *    boundary, which a naive time split silently trains on.
    *
    * Everything is integer second arithmetic on two driver scalars
    * (min/max ts) — any engine replays fold bounds and roles exactly.
    *
    * Scale: the fold table is k rows (broadcast cross join — a k×
    * map-side multiplication, no shuffle); downstream aggregates see
    * partial combine. Emits (fold, id, role) — one row per (sample,
    * fold), the shape CV training consumes.
    */
  def purgedTimeFolds(df: DataFrame, idCol: String, tsCol: String,
      horizonSec: Long, k: Int, embargoSec: Long): DataFrame = {
    require(k >= 2 && horizonSec >= 0 && embargoSec >= 0)
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"),
      col(tsCol).cast("long").as("__ts"))
    val bounds = base.agg(min(col("__ts")), max(col("__ts"))).head()
    require(!bounds.isNullAt(0),
      "purgedTimeFolds: input frame has no rows (null min/max ts)")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = (hi - lo) / k + 1 // k blocks cover [lo, hi]
    val folds = spark.range(k.toLong).toDF("fold")
      .select(col("fold").cast("int").as("fold"),
        (lit(lo) + col("fold") * width).as("__bs"),
        (lit(lo) + (col("fold") + 1) * width - 1).as("__be"))
    base.crossJoin(folds)
      .select(col("fold"), col("id"),
        when(col("__ts") >= col("__bs") && col("__ts") <= col("__be"),
          "test")
          .when(col("__ts") + horizonSec < col("__bs") ||
            col("__ts") > col("__be") + embargoSec, "train")
          .otherwise("purged").as("role"))
  }

  /** Systematic resampling ∝ integer weight, WITHOUT an RNG: lay the
    * rows out on a cumulative-weight line [0, W), take the n evenly
    * spaced points u_j = floor((2j+1)·W / 2n), and draw the row whose
    * interval contains each point. The deterministic resampler from
    * particle filtering — unbiased (E[times_drawn] = n·w/W), minimum
    * variance among ∝-weight schemes, and exactly replayable (every
    * step is integer). This is the SELECTION half of DSIR: feed it
    * [[graft.text.Dsir.weights]] and heavy-target-affinity docs are
    * drawn multiple times, off-distribution docs drop out.
    *
    * Scale shape (the negativeSamplesWeighted line, systematic
    * points instead of hashed draws):
    *  - interval lo/hi via per-bucket running sums + ≤B bucket
    *    offsets — no global window; line order is (id % B, id).
    *  - u_j = (2j+1)(W div 2n) + ((2j+1)(W mod 2n)) div 2n — the
    *    split keeps every intermediate < 2·max(W, 4n²), no 128-bit
    *    multiply needed in either engine, exactly floor((2j+1)W/2n).
    *  - point → interval is the fixed-width-bin equi-join, never an
    *    inequality scan.
    *
    * Output: (idCol, weight, times_drawn > 0). Rows with weight ≤ 0
    * are excluded from the line (zero mass).
    */
  def systematicResample(df: DataFrame, idCol: String,
      weightCol: String, n: Int, indexBuckets: Int = 256): DataFrame = {
    require(n >= 1 && indexBuckets >= 1)
    val spark = df.sparkSession
    // r16: pinned — the pool feeds the bucket-totals ACTION (head()
    // below) and the interval/bin chain in the final job; without the
    // cut the caller's weight plan (for DSIR: tokenize + score the
    // corpus) executes twice. The pin is weight-filtered (id, w, b) —
    // pool-sized by construction.
    val pool = Pin(df.select(col(idCol).cast("long").as("id"),
        col(weightCol).cast("long").as("__w"))
      .where(col("__w") > 0L)
      .withColumn("__b",
        pmod(col("id"), lit(indexBuckets.toLong)).cast("int")))
    val bTotals = pool.groupBy(col("__b"))
      .agg(sum(col("__w")).as("__bw"), count(lit(1)).as("__n"))
    val offsets = bTotals.withColumn("__off",
      coalesce(sum(col("__bw")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__b"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
    val (totalW, poolN) = bTotals
      .agg(sum(col("__bw")), sum(col("__n"))).head() match {
        case r if r.isNullAt(0) => (0L, 0L)
        case r => (r.getLong(0), r.getLong(1))
      }
    require(totalW > 0L, "systematicResample: empty pool")
    val binW = math.max(1L, totalW / math.max(4L * poolN, 1L))
    val intervals = pool
      .withColumn("__run",
        coalesce(sum(col("__w")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("__b")).orderBy(col("id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
      // hint kept: offsets is a grouped aggregate, priced at the pool's size
      .join(broadcast(offsets.select(col("__b"), col("__off"))),
        Seq("__b"))
      .select(col("id"), col("__w"),
        (col("__off") + col("__run")).as("__lo"),
        (col("__off") + col("__run") + col("__w")).as("__hi"))
    val binned = intervals.select(col("id"), col("__w"), col("__lo"),
      col("__hi"),
      explode(sequence(expr(s"__lo div $binW"),
        expr(s"(__hi - 1) div $binW"))).as("__bin"))
    val q = totalW / (2L * n)
    val rem = totalW % (2L * n)
    val draws = spark.range(n.toLong).toDF("__j")
      .select(col("__j"),
        ((lit(2L) * col("__j") + 1L) * q +
          expr(s"((2 * __j + 1) * ${rem}L) div ${2L * n}L")).as("__u"))
      .withColumn("__bin", expr(s"__u div $binW"))
    draws.join(binned, Seq("__bin"))
      .where(col("__u") >= col("__lo") && col("__u") < col("__hi"))
      .groupBy(col("id"))
      .agg(max(col("__w")).as("weight"),
        count(lit(1)).as("times_drawn"))
      .select(col("id").as(idCol), col("weight"), col("times_drawn"))
  }

  /** Largest-remainder (Hamilton) allocation of a sample budget across
    * strata, proportional to stratum size: every stratum gets
    * `floor(budget·N_h / N)`, and the leftover seats go to the largest
    * fractional remainders — which stay EXACT INTEGERS here, because
    * remainder comparison is just `(budget·N_h) mod N` (same
    * denominator N for every stratum). Ties break to the smaller
    * stratum key. This is the apportionment algorithm, used as the
    * "how many rows do I take from each source" step of any stratified
    * sampling/eval-set plan; the result always sums exactly to
    * `budget` (when budget ≤ N the per-stratum alloc also never
    * exceeds N_h... not guaranteed by Hamilton in general — it IS
    * proportional-floor + at most one extra, so alloc ≤ N_h whenever
    * budget ≤ N, since floor(b·N_h/N)+1 ≤ N_h ⇔ b·N_h/N < N_h).
    *
    * Scale shape: ONE stratum-count aggregate collapses the corpus;
    * everything after runs on the |strata|-row frame (bounded windows).
    * BIGINT bound: budget·N_h must stay under 2⁶³ — the DECIMAL(38)
    * route guards it.
    *
    * Output: `(stratum…, n_rows, base, extra, alloc)`.
    */
  def largestRemainderAllocation(df: DataFrame, strataCols: Seq[String],
      budget: Long): DataFrame =
    allocationFromCounts(
      df.groupBy(strataCols.map(col): _*).agg(count(lit(1)).as("n_rows")),
      strataCols, budget)

  /** [[largestRemainderAllocation]] over ALREADY-aggregated
    * (strata…, n_rows) counts — the streaming entry point (stratum
    * counts as |strata|-bounded aggregation state, fold the snapshot).
    */
  def allocationFromCounts(counts: DataFrame, strataCols: Seq[String],
      budget: Long): DataFrame = {
    require(budget >= 0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc +: strataCols.map(col): _*)
    val total = counts.agg(sum(col("n_rows")).as("__tot"))
    counts.crossJoin(total)
      .withColumn("base",
        expr(s"(cast($budget as decimal(38,0)) * n_rows) div __tot"))
      .withColumn("__rem",
        expr(s"(cast($budget as decimal(38,0)) * n_rows) % __tot"))
      .withColumn("__rank", row_number().over(w))
      .withColumn("__leftover",
        lit(budget) - sum(col("base")).over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("extra",
        when(col("__rank") <= col("__leftover"), 1L).otherwise(0L))
      .select(strataCols.map(col) ++ Seq(col("n_rows"), col("base"),
        col("extra"), (col("base") + col("extra")).as("alloc")): _*)
  }
}
