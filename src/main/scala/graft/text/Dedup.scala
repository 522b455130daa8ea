package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

import graft.util.Pin

/** Deduplication operators for web-scale corpora. Four families:
  *
  *  - EXACT: content-hash groupBy. One shuffle on a 128-bit digest;
  *    at 100 TB the digest (16 B) shuffles, never the document text.
  *  - MINHASH + LSH: shingles → k minhash values → b bands of r rows
  *    (k = b·r); documents sharing any band bucket become candidate
  *    pairs, then true Jaccard verifies. The self-join happens per
  *    band BUCKET (tiny groups), never all-pairs — the only quadratic
  *    term is within-bucket, bounded by collision rate.
  *  - SIMHASH: 64-bit sign-aggregated token hash; near-dups have small
  *    Hamming distance. Banding on 4×16-bit chunks finds candidates
  *    with ≤3-chunk disagreement (any exact-matching chunk bucket).
  *  - N-GRAM JACCARD: exact pairwise Jaccard via shingle inverted
  *    index (explode + equi-join + group count) — the verification
  *    primitive, also usable standalone on bounded candidate sets.
  *
  * Everything is built from codegen'd builtins (xxhash64, HOFs, window
  * functions) — no UDFs, no driver-side loops. The reference engine has
  * no dedup surface; this family comes from the north-star extension
  * (SURVEY §7 phase 4/5).
  */
object Dedup {

  /** Exact-duplicate keeper set: first doc_id per identical content.
    * md5 (not xxhash64) so external engines reproduce the key.
    */
  def exactKeepers(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__h")).orderBy(col(idCol))
    df.select(col(idCol), md5(col(textCol)).as("__h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("__h").as("content_md5"))
  }

  /** Group-count of identical texts (dup statistics). */
  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1)

  import graft.ops.Partitioning.fanOut

  /** r16 (guide §2.6 — overlap independent jobs): two eager pin
    * materializations with no dependency between them were running
    * SEQUENTIALLY because the driver thread blocks on each
    * [[graft.util.Pin]]; Spark's scheduler happily runs both jobs at once
    * and the second job's tasks back-fill the first's tail. Used for
    * the two-catalog pins in fuzzyJoinTop1/containmentJoin (measured
    * there: each pin is a ~0.25 s barrier, overlap hides one).
    */
  private[text] def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(fa)
    val f2 = Future(fb)
    (Await.result(f1, Duration.Inf), Await.result(f2, Duration.Inf))
  }

  /** Auto-sized LSH band count for a minhash signature of `numHashes`
    * values at a verify threshold `t`: pick r = rows per band (bands =
    * numHashes / r) as the LARGEST divisor of numHashes whose per-pair
    * candidate recall at similarity exactly `t`,
    * 1 − (1 − t^r)^(numHashes/r), still meets `targetRecall` — the
    * widest (most pruning) banding that cannot miss a qualifying pair.
    * Larger r prunes harder: background pairs at similarity s collide
    * per band with probability s^r. True near-dups usually sit well
    * above `t`, where recall is far higher than the bound computed at
    * the threshold boundary.
    *
    * t = 0.5 → r = 2 (16 bands at k = 32): the round-1..3 hand-tuned
    * operating point, now derived. t = 0.8 → r = 4.
    */
  def autoMinhashBands(numHashes: Int, threshold: Double,
      targetRecall: Double = 0.98): Int = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    val rs = (numHashes to 1 by -1).filter(numHashes % _ == 0)
    val r = rs.find { r =>
      val recall = 1.0 - math.pow(1.0 - math.pow(threshold, r), numHashes / r)
      recall >= targetRecall
    }.getOrElse(1)
    numHashes / r
  }

  /** Exploded shingle-hash frame (id, s), built entirely MAP-SIDE: the
    * token array (aliased once — see the comment below) is zipped
    * against its own shifted slices, each struct row explodes to one
    * shingle, xxhash64 over the n token columns. Zero shuffles before
    * the consumer's aggregate.
    *
    * MEASURED TRADE (round 3, sf0.1, one-JVM A/B ×3): a window-`lead`
    * build is ~0.6 s faster here (1.3 vs 1.9–2.5 s through the minhash
    * pipeline) because a 1M-row local shuffle is nearly free while the
    * Generate pays per-shingle array/struct allocation. It is still the
    * wrong shape: the window form shuffles EVERY token row on id — a
    * full-corpus exchange at 100 TB, done only to look one row ahead
    * inside an array each row already held — and its downstream "free"
    * aggregation reuses that partitioning, hiding the cost locally.
    * The map-side form's follow-up aggregates use map-side partials, so
    * the first exchange in the family carries ids × signature longs,
    * not corpus bytes. We keep the map-side form; hash-first and
    * transform-HOF variants measured no better (MinhashABProbe).
    */
  def shingleHashFrame(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, distinctShingles: Boolean = true): DataFrame = {
    // Tokenize in its OWN projection: the zip references the token
    // array shingleN+1 times, and building it inline would re-run the
    // regex split per reference (CollapseProject keeps a multi-referenced
    // non-cheap alias separate, so `__tk` evaluates once per row —
    // measured 2.9 s → 1.3 s on the minhash pipeline at sf0.1).
    val t = col("__tk")
    val len = greatest(size(t) - (shingleN - 1), lit(0))
    val zipped = arrays_zip((1 to shingleN).map(i => slice(t, lit(i), len)): _*)
    val hashed = fanOut(df)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(col("id"), explode(zipped).as("z"))
      .select(col("id"),
        xxhash64((0 until shingleN).map(i => col(s"z.$i")): _*).as("s"))
    // min-style consumers are dup-insensitive — skip the distinct shuffle
    if (distinctShingles) hashed.distinct() else hashed
  }

  /** k minhash signature columns via the inverted (exploded) form:
    * one row per (id, shingle), then k `min(xxhash64(seed_i, s))`
    * aggregates in ONE codegen'd hash aggregate — partial aggregation
    * makes the shuffle carry k longs per id, never the shingles.
    * (A transform/aggregate HOF formulation evaluates interpreted, and
    * re-derives the shingle array per hash — ~100× slower per row.)
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    minhashSignaturesFrom(
      shingleHashFrame(df, idCol, textCol, shingleN, distinctShingles = false), k)

  private def minhashSignaturesFrom(exploded: DataFrame, k: Int): DataFrame =
    exploded.groupBy(col("id"))
      .agg(
        min(xxhash64(lit(0), col("s"))).as("mh_0"),
        (1 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"mh_$i")): _*)

  /** MinHash-LSH near-dup pairs: banding proposes candidates, the
    * signature-match fraction (the standard minhash Jaccard estimator)
    * PRE-FILTERS them, and true shingle Jaccard verifies the survivors.
    *
    * The pre-filter is the scale lever: band collisions at 16 bands ×
    * r=2 admit ~4% of all pairs on weakly-similar corpora, and shipping
    * two shingle arrays per candidate dominates the job. Comparing 2×k
    * signature longs per candidate costs ~nothing and cuts the verify
    * join to pairs whose estimated Jaccard clears `estThreshold`
    * (default max(threshold, 2/k) — at least 2 matching components).
    *
    * `bands = 0` (the default) auto-sizes from the threshold via
    * [[autoMinhashBands]] — at the dedup-decision threshold 0.5 this
    * derives the same 16-band point the declared query pins explicitly.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 32,
      bands: Int = 0, estThresholdOpt: Option[Double] = None): DataFrame = {
    val b = if (bands == 0) autoMinhashBands(numHashes, threshold) else bands
    require(numHashes % b == 0, "numHashes must divide into bands")
    // one pinned shingle frame feeds signatures AND verification;
    // collect_set dedups for the verify arrays, min-aggs don't care
    val ex = Pin(shingleHashFrame(df, idCol, textCol, shingleN,
      distinctShingles = false), MEMORY_AND_DISK_SER)
    minhashNearDupsFromFrame(ex, threshold, numHashes, b,
      estThresholdOpt.getOrElse(math.max(threshold, 2.0 / numHashes)))
  }

  /** The minhash pipeline over a caller-supplied (persisted) shingle
    * frame (id, s) — signatures, banded candidates, estimate pre-filter,
    * exact verification. Lets callers that already hold a shingle frame
    * (or want a custom build) skip the rebuild.
    *
    * Guide §2.3 — shuffle keys, not payloads: the signature frame
    * (ids × numHashes longs) is pinned ONCE, the banding self-join
    * moves 24 B (id, band, hash) rows, and the signatures re-attach to
    * the DEDUPED pair set by two joins. The pin's measured size lets
    * the planner broadcast those joins while the signatures fit (a few
    * hundred bytes per document) and shuffle them past that, so no
    * pair-amplified exchange ever carries signatures. Measured
    * (MinhashBandProbe (removed; see 7b19d2b), interleaved ×7,
    * identity-asserted over 256 pairs at sf0.1) against carrying the
    * signatures through the banding explode: 1.533 s → 1.257 s median.
    */
  def minhashNearDupsFromFrame(ex: DataFrame, threshold: Double,
      numHashes: Int, bands: Int, estThreshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sigCk = Pin(minhashSignaturesFrom(ex, numHashes))
    val bandCols = (0 until bands).map { b =>
      xxhash64((b * r until (b + 1) * r).map(i => col(s"mh_$i")): _*)
    }
    val banded = sigCk.select(col("id"), posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    // hint kept: without it the banding self-join plans as a sort-merge join.
    // The hash build (~20 B band rows) cannot spill: size
    // spark.sql.shuffle.partitions so one partition of banded rows fits.
    val rawPairs = banded.as("a").join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val est = (0 until numHashes).map(i =>
      when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _) / numHashes.toDouble
    val sigA = sigCk.toDF("id_a" +: (0 until numHashes).map(i => s"a_mh_$i"): _*)
    val sigB = sigCk.toDF("id_b" +: (0 until numHashes).map(i => s"b_mh_$i"): _*)
    val prefiltered = rawPairs.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .where(col("est_jaccard") >= estThreshold)

    // exact verification over hashed shingle sets (identical Jaccard,
    // collisions negligible) — arrays rebuilt from the persisted frame
    verifiedJaccard(prefiltered, ex, threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
  }

  // ------------------------------------------------ served near-dup index

  /** Build-once half of the incremental-ingestion shape: materialize
    * the corpus's minhash signatures as a NARROW parquet table
    * (id, mh_0..mh_{k-1} — k longs per document, no text, no
    * shingles). Ingesting tomorrow's batch then costs shingling the
    * BATCH only plus a join against this table — the accumulated
    * corpus is never re-tokenized, never re-shingled, never carries
    * its text through a shuffle again. At 100 TB of corpus the index
    * is ~0.3% of its size (32 longs vs ~100 shingled tokens).
    */
  def buildAndWriteNearDupIndex(df: DataFrame, idCol: String,
      textCol: String, dir: String, shingleN: Int = 3,
      numHashes: Int = 32): Unit =
    minhashSignatures(df, idCol, textCol, shingleN, numHashes)
      .write.mode("overwrite").parquet(dir)

  /** Serve half: near-dup pairs between a (small) incoming batch and
    * the indexed corpus. The batch's banded signatures BROADCAST to
    * the index scan — the index side never shuffles; candidates are
    * pre-filtered by the signature-agreement estimate exactly like
    * [[minhashNearDups]]; and exact-Jaccard verification re-shingles
    * only the candidate corpus documents (semi-join by id against
    * `corpus`), never the whole corpus.
    *
    * Same estimator, banding, and verify threshold as the batch
    * pipeline → the recall argument carries over unchanged (the
    * batch-vs-corpus pair population is a subset of all-pairs).
    *
    * @param corpus id→text lookup for verification (only candidate
    *               ids are fetched from it)
    */
  def servedNearDups(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, threshold: Double, shingleN: Int = 3,
      numHashes: Int = 32, bands: Int = 0,
      estThresholdOpt: Option[Double] = None): DataFrame = {
    val b = if (bands == 0) autoMinhashBands(numHashes, threshold) else bands
    require(numHashes % b == 0, "numHashes must divide into bands")
    val r = numHashes / b
    val estThreshold =
      estThresholdOpt.getOrElse(math.max(threshold, 2.0 / numHashes))
    val idx = spark.read.parquet(indexDir)
    val exB = Pin(shingleHashFrame(batch, idCol, textCol, shingleN,
      distinctShingles = false), MEMORY_AND_DISK_SER)
    val bandCols = (0 until b).map { bi =>
      xxhash64((bi * r until (bi + 1) * r).map(i => col(s"mh_$i")): _*)
    }
    def banded(sig: DataFrame) = sig.select(col("id") +:
      (0 until numHashes).map(i => col(s"mh_$i")) :+
      posexplode(array(bandCols: _*)): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    val est = (0 until numHashes).map(i =>
      when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _) / numHashes.toDouble
    // hint kept: the batch's band explode is priced above the index scan
    // (else the index builds); a day's batch is small next to the corpus
    val cand = banded(idx).as("a")
      .join(broadcast(banded(minhashSignaturesFrom(exB, numHashes))).as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_corpus"), col("b.id").as("id_batch"),
        est.as("est_jaccard"))
      .where(col("est_jaccard") >= estThreshold)
      .distinct()
    // verify: corpus text fetched for CANDIDATE ids only
    val candCorpus = corpus.join(
      cand.select(col("id_corpus").as(idCol)).distinct(), Seq(idCol),
      "left_semi")
    val shC = shingleHashFrame(candCorpus, idCol, textCol, shingleN)
      .groupBy(col("id")).agg(collect_set(col("s")).as("sh_c"))
    val shB = exB.groupBy(col("id")).agg(collect_set(col("s")).as("sh_b"))
    cand
      .join(shB.withColumnsRenamed(Map("id" -> "id_batch", "sh_b" -> "sh_b")),
        Seq("id_batch"))
      .join(shC.withColumnsRenamed(Map("id" -> "id_corpus")), Seq("id_corpus"))
      .withColumn("common", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jaccard",
        col("common") / (size(col("sh_b")) + size(col("sh_c")) - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_batch"), col("id_corpus"), col("jaccard"))
  }

  /** 64-bit SimHash from an exploded feature-hash frame (id, s): 64
    * per-bit ±1 vote sums in ONE codegen'd hash aggregate (map-side
    * partials → 64 longs per id over the wire); then a static fold
    * packs the sign bits into a long. A HOF formulation (aggregate over
    * a 64-int accumulator per row) runs interpreted and ~100× slower —
    * see minhashSignatures.
    */
  def simhashSignaturesFrom(exploded: DataFrame): DataFrame = {
    val votes = exploded.groupBy(col("id"))
      .agg(
        sum(when(shiftright(col("s"), 0).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L)).as("v_0"),
        (1 until 64).map(b =>
          sum(when(shiftright(col("s"), b).bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L)).as(s"v_$b")): _*)
    val packed = (0 until 64).map(b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    votes.select(col("id"), packed.as("sh"))
  }

  /** Token-feature SimHash signatures (one vote per token occurrence).
    * Tokens make signatures of same-language documents CORRELATED
    * (shared vocabulary dominates the votes — measured: 25% of random
    * doc pairs land within Hamming 15); fine for candidate generation
    * at aggressive Hamming cuts, but prefer [[simhashShingleSignatures]]
    * when downstream filtering is Hamming-banded.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSignaturesFrom(fanOut(df)
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .withColumn("s", xxhash64(col("t"))))

  /** Shingle-feature SimHash signatures: votes come from the same
    * distinct n-gram set that Jaccard measures, so Hamming distance
    * tracks shingle overlap — background pairs sit near Hamming 32
    * (measured: Hamming ≤15 admits ~the true-dup set and nothing else,
    * vs 25% of all pairs under token features).
    */
  def simhashShingleSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame =
    simhashSignaturesFrom(shingleHashFrame(df, idCol, textCol, shingleN))

  /** (id, sh) → (id, sh, band, chunk): the statically-unrolled
    * (rotations × chunks) banding explode shared by the within-set and
    * cross-set Hamming joins. Band id (pos) encodes (rotation, chunk
    * index).
    */
  private def chunkBanded(hashed: DataFrame, chunks: Int,
      rotations: Seq[Int]): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    val bits = 64 / chunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    def rot(c: Column, r: Int): Column =
      if (r == 0) c
      else call_function("shiftleft", c, lit(r))
        .bitwiseOR(call_function("shiftrightunsigned", c, lit(64 - r)))
    val chunkCols: Seq[Column] = rotations.flatMap { r =>
      val rotated = rot(col("sh"), r)
      (0 until chunks).map(b =>
        call_function("shiftright", rotated, lit(b * bits))
          .bitwiseAND(mask))
    }
    hashed.select(col("id"), col("sh"),
      posexplode(array(chunkCols: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "chunk"))
  }

  /** Cross-set Hamming pairs: every (probe, index) pair within
    * `maxHamming`, via the same chunk-band machinery as the within-set
    * join (same pigeonhole guarantee). The ingest-time shape: the
    * probe side is a (micro-)batch, the index side the accumulated
    * corpus; verdicts depend only on the index, so any batch
    * partitioning yields the same row set. Output (probe_id, index_id,
    * hamming).
    */
  def hammingNearDupsAcross(probe: DataFrame, index: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int,
      chunks: Int = 4): DataFrame = {
    def sig(df: DataFrame) =
      df.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val a = chunkBanded(sig(probe), chunks, Seq(0))
    val b = chunkBanded(sig(index), chunks, Seq(0))
    a.as("a").join(b.as("b"),
        col("a.band") === col("b.band") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.id") =!= col("b.id"))
      .where(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
      .select(col("a.id").as("probe_id"), col("b.id").as("index_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
  }

  /** Within-Hamming pairs from a signature frame (id, sh): band the
    * 64-bit hash into `chunks` equal chunks; any exact chunk match →
    * candidate; verify true Hamming ≤ maxHamming via bit_count(xor).
    *
    * PIGEONHOLE GUARANTEE: hamming ≤ h diffs touch at most h chunks,
    * so with chunks > maxHamming every qualifying pair shares at least
    * one untouched chunk — recall is exactly 1, not probabilistic.
    * With chunks ≤ maxHamming the result may under-report (candidates
    * need a lucky identical chunk). The cost side: expected bucket
    * occupancy ≈ N/2^(64/chunks) — more chunks = complete but more
    * candidate volume; grow chunk WIDTH with corpus size exactly like
    * the minhash/LSH band sizing rule above.
    *
    * OR-AMPLIFICATION (`rotations`): each extra rotation re-chunks the
    * signature with boundaries shifted by that many bits (rotate-left,
    * so every bit stays in exactly one chunk per alignment) and unions
    * the candidate bands. A pair is missed only if its diff bits cover
    * ALL chunks in EVERY alignment — a half-chunk offset (e.g. 4 bits
    * at 8×8) decorrelates the coverings, squaring the per-pair miss
    * probability (≈1.1% → ≈1e-4 at Hamming 9) for 2× candidate volume
    * with UNCHANGED per-band bucket space. The round-7 sf0.1 testdata
    * regeneration produced exactly such a miss — one true pair at
    * Hamming 9 whose diffs covered all 8 chunks of the single
    * alignment; the second alignment catches it with ~6 bits of
    * margin again.
    */
  private def simhashPairsWithin(hashed: DataFrame, maxHamming: Int,
      chunks: Int, rotations: Seq[Int] = Seq(0)): DataFrame = {
    val banded = chunkBanded(hashed, chunks, rotations)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
        col("a.id") < col("b.id"))
      // Hamming-filter BEFORE distinct: the popcount is 2 longs already
      // in the join row, while distinct is a shuffle — at 16 chunks the
      // candidate volume is ~64% of all pairs and must not be shuffled.
      .where(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
  }

  /** The banding machinery over an ARBITRARY 64-bit signature frame —
    * shared with media perceptual hashes (Multimodal.nearDupPairs):
    * same chunk bands, same pigeonhole guarantee (chunks > maxHamming
    * → recall exactly 1), same bit_count verify. Output (id_a, id_b,
    * hamming), id_a < id_b.
    */
  def hammingNearDups(sig: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, chunks: Int = 4): DataFrame =
    simhashPairsWithin(
      sig.select(col(idCol).as("id"), col(hashCol).as("sh")),
      maxHamming, chunks)

  /** SimHash near-dup candidate pairs over token features (see
    * [[simhashSignatures]] for the feature caveat): 4 chunks of 16 bits
    * by default — complete for Hamming ≤ 3, probabilistic above.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, chunks: Int = 4): DataFrame =
    simhashPairsWithin(simhashSignatures(df, idCol, textCol), maxHamming, chunks)

  /** Full simhash dedup pipeline, exact-verified: shingle-feature
    * signatures → chunk-banded candidates within `maxHamming` (complete
    * by pigeonhole at chunks > maxHamming) → true shingle-Jaccard
    * verification ≥ `threshold`. Output (id_a, id_b, jaccard).
    *
    * With the defaults the result is EXACTLY the j ≥ 0.5 pair set
    * whenever every true pair sits within Hamming 15 (measured max 9
    * across all test SFs with ~6 bits of margin) — so the output is
    * checkable against a plain exact-Jaccard oracle, unlike the raw
    * candidate stream.
    *
    * BANDING DEFAULT (`chunks = 0` → 8): the library default is the
    * PRUNING configuration — 8 chunks of 8 bits = 256 buckets per band,
    * ~32× fewer candidate pairs than the 16×4-bit point (whose 16
    * buckets admit ~64% of ALL pairs — an all-pairs join in disguise,
    * safe only for small-corpus exhibits; the declared oracle query pins
    * chunks = 16 explicitly for the a-priori guarantee). At 8 chunks the
    * pigeonhole guarantee covers Hamming ≤ 7; pairs at Hamming 8–15 are
    * found with ≥ 98.9% probability each (9 diff bits leave some 8-bit
    * chunk untouched unless they spread across all 8 chunks —
    * P(surjection) = 8!·S(9,8)/8⁹ ≈ 1.1%) — and on this corpus's true
    * pairs (measured max Hamming 9) recall is measured complete at
    * every test SF (DedupSpec pins default ≡ 16-chunk output).
    */
  def simhashVerifiedNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5, maxHamming: Int = 15,
      chunks: Int = 0): DataFrame = {
    val c = if (chunks == 0) 8 else chunks
    // the 8×8 pruning default OR-amplifies with a half-chunk-offset
    // second alignment (see simhashPairsWithin): candidates stay
    // 256-bucket-banded (scale-safe) while the per-pair miss
    // probability at Hamming 8–15 drops from ~1% to ~1e-4 — the
    // round-7 regeneration margin lesson. Explicit chunk counts
    // (the 16×4 pigeonhole exhibit) keep the single alignment.
    val rotations = if (chunks == 0) Seq(0, 64 / c / 2) else Seq(0)
    // one pinned shingle frame feeds signatures AND verification
    val ex = Pin(shingleHashFrame(df, idCol, textCol, shingleN),
      MEMORY_AND_DISK_SER)
    val pairs = simhashPairsWithin(simhashSignaturesFrom(ex), maxHamming, c,
      rotations).select(col("id_a"), col("id_b"))
    verifiedJaccard(pairs, ex, threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact shingle-Jaccard verification of a candidate pair frame:
    * joins each side's distinct shingle-hash set (rebuilt from `ex`,
    * which callers persist) and appends common/jaccard, keeping the
    * pairs at or above `threshold`. Input columns pass through.
    *
    * `spreadPairs` (r16, guide §2.5): the candidate frame is a few MB
    * of id pairs, so AQE's byte-based coalescing ran the whole verify
    * (two set joins + array_intersect per pair) 3-wide — 3.7 s of task
    * time in one stage at sf0.1 on q_jaccard_prefix_join's ~130k
    * candidates (Bench's stage rows). The set tables broadcast (their
    * builds are separate tiny stages), so a round-robin repartition at
    * the planner's width survives through both map-side joins and
    * restores full fan-out. Callers with FEW candidates (minhash's
    * est-prefiltered pairs — verify measured 0.27 s) keep the default:
    * the extra exchange would cost more than it spreads.
    */
  private def verifiedJaccard(pairs: DataFrame, ex: DataFrame,
      threshold: Double, spreadPairs: Boolean = false): DataFrame = {
    val sh = ex.groupBy(col("id")).agg(collect_set(col("s")).as("sh"))
    val p = if (spreadPairs)
      pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    else pairs
    p
      .join(sh.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(sh.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .where(col("jaccard") >= threshold)
      .drop("sh_a", "sh_b")
  }

  /** EXACT set-similarity self-join by prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair with shingle Jaccard ≥ tNum/tDen, with NO
    * recall argument to defend — the algebraic complement to the
    * banded-LSH path (minhashNearDups), which trades a measured miss
    * probability for fewer candidates.
    *
    * Soundness (all-integer arithmetic): J(x,y) ≥ t implies the
    * overlap O ≥ t·|x| and O ≥ t·|y| (from O ≥ t(|x|+|y|−O) and
    * |y| ≥ O). By the prefix-filtering lemma, two sets with O ≥ α
    * must share a token among each one's first |·| − α + 1 tokens
    * under ANY shared total order; with α_x = ⌈t·|x|⌉ computed
    * exactly as (tNum·|x| + tDen − 1) div tDen, per-doc prefixes of
    * length |x| − α_x + 1 are (weakly longer than the lemma's, hence)
    * sound. Candidates additionally pass the symmetric length filter
    * tNum·|x| ≤ tDen·|y| ∧ tNum·|y| ≤ tDen·|x|; exact Jaccard
    * verification keeps the final pairs.
    *
    * The global order is ASCENDING document frequency (ties by hash):
    * prefixes are each document's RAREST shingles, so the candidate
    * equi-join's per-token fan-out is bounded by the rare tail of the
    * df distribution, not by stopword-shingle frequencies — the knob
    * that makes the exact join survive corpus growth (candidate count
    * grows with Σ_prefix-tokens df², dominated by df≈1 tokens).
    *
    * Scale shape: one shuffle for df counts, one id-keyed window pair
    * (size + rarity rank share the sort), one token-keyed candidate
    * equi-join over PREFIXES only, then verification joins by id.
    * Nothing all-pairs, nothing driver-side.
    */
  def prefixFilterNearDups(df: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int, shingleN: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be in (0,1]: $tNum/$tDen")
    val ex = Pin(shingleHashFrame(df, idCol, textCol, shingleN,
      distinctShingles = true), MEMORY_AND_DISK_SER)
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val wId = Window.partitionBy(col("id"))
    // r16: width pins on the ranked window and the candidate-join probe
    // leg (the fuzzyJoinTop1 pattern) were MEASURED AND REJECTED here —
    // wall unchanged (3.38 → 3.47 s), task time inflated ~2× (the
    // keyless pin pays sortBeforeRepartition, the keyed pin an extra
    // exchange; the window/join stages were never the serial chunk).
    // The serial chunk is the VERIFY behind the pair-distinct exchange
    // — fixed by spreadPairs below.
    val ranked = ex.join(dfreq, Seq("s"))
      .withColumn("__sz", count(lit(1)).over(wId))
      .withColumn("__pos", row_number().over(
        wId.orderBy(col("__df"), col("s"))))
    val prefix = ranked
      .where(col("__pos") <=
        col("__sz") - expr(s"(($tNum * __sz) + ${tDen - 1}) div $tDen") + 1)
      .select(col("s"), col("id"), col("__sz"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
        col("b.__sz") * tDen >= col("a.__sz") * tNum &&
        col("a.__sz") * tDen >= col("b.__sz") * tNum)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifiedJaccard(cand, ex, tNum.toDouble / tDen, spreadPairs = true)
  }

  /** Asymmetric CONTAINMENT join (query-in-document): probe documents
    * q matched to corpus documents d with |sh(q) ∩ sh(d)| ≥ t·|sh(q)|
    * — ratio-threshold decontamination (the contaminationFlags family
    * flags at an ABSOLUTE overlap; a ratio threshold is what an eval
    * contract actually specifies: "no more than (1−t) of the probe's
    * shingles may be novel").
    *
    * Prefix pruning, containment form: if |q∩d| ≥ α := ⌈t·|q|⌉, then
    * at most |q|−α of q's shingles are missing from d, so d contains
    * at least one of q's first |q|−α+1 shingles under ANY fixed
    * order. Ordering q's shingles by ascending CORPUS document
    * frequency (absent-from-corpus → df 0, sorted first — such a
    * shingle can match nothing, correctly producing no candidates
    * through itself) makes each prefix token's candidate fan-out its
    * corpus posting length — the rare tail.
    *
    * Scale shape: one df-count shuffle over corpus shingles, one
    * probe-keyed window pair (size + rarity rank), a prefix-token ×
    * corpus-posting equi-join (Σ_prefix df candidates — LINEAR in
    * matching postings, never |Q|·|corpus|), then verification
    * re-shingles only candidate corpus docs (semi-join by id).
    *
    * Output: (query_id, doc_id, overlap, q_size, containment_ppm).
    */
  def containmentJoin(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, tNum: Int, tDen: Int,
      shingleN: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be in (0,1]: $tNum/$tDen")
    // corpus and probe pins are independent — materialize concurrently
    val (exC, exQ) = inParallel(
      Pin(shingleHashFrame(corpus, idCol, textCol, shingleN,
        distinctShingles = true), MEMORY_AND_DISK_SER),
      Pin(shingleHashFrame(probes, idCol, textCol, shingleN,
        distinctShingles = true), MEMORY_AND_DISK_SER))
    val dfreq = exC.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val wId = Window.partitionBy(col("id"))
    val ranked = exQ.join(dfreq, Seq("s"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .withColumn("__szq", count(lit(1)).over(wId))
      .withColumn("__pos", row_number().over(
        wId.orderBy(col("__df"), col("s"))))
      .withColumn("__alpha",
        expr(s"(($tNum * __szq) + ${tDen - 1}) div $tDen"))
    val prefix = ranked
      .where(col("__pos") <= col("__szq") - col("__alpha") + 1)
      .select(col("s"), col("id").as("query_id"), col("__szq"),
        col("__alpha"))
    // pinned: the final join and dSets' semi-join both read it, which
    // would otherwise plan (and run) the prefix ⋈ exC join twice
    val cand = Pin(prefix
      .join(exC.withColumnsRenamed(Map("id" -> "doc_id")), Seq("s"))
      .select(col("query_id"), col("doc_id"), col("__szq"), col("__alpha"))
      .distinct())
    // verify: full-overlap count over candidate docs only
    val qSets = exQ.groupBy(col("id").as("query_id"))
      .agg(collect_set(col("s")).as("__shq"))
    val dSets = exC
      .join(cand.select(col("doc_id").as("id")).distinct(),
        Seq("id"), "left_semi")
      .groupBy(col("id").as("doc_id"))
      .agg(collect_set(col("s")).as("__shd"))
    cand
      .join(qSets, Seq("query_id"))
      .join(dSets, Seq("doc_id"))
      .withColumn("overlap",
        size(array_intersect(col("__shq"), col("__shd"))).cast("long"))
      .where(col("overlap") >= col("__alpha"))
      .select(col("query_id"), col("doc_id"), col("overlap"),
        col("__szq").as("q_size"),
        expr("(1000000 * overlap) div __szq").as("containment_ppm"))
  }

  /** Connected-component clustering of near-dup pairs: every document
    * in a component gets the component's MINIMUM id as its canonical
    * representative (the keeper). This is the step that turns pairwise
    * near-dup evidence into an actual dedup decision.
    *
    * Label propagation: each node starts as its own rep; each round
    * every node takes the min rep among itself and its neighbours;
    * converged when no rep changes. Rounds needed = graph diameter —
    * near-dup components are tiny (chains of a few docs), so this
    * terminates in a handful of shuffles. A run that exhausts
    * `maxIters` before a round changes nothing throws instead of
    * returning split clusters. Deterministic: min-id is order-independent.
    *
    * @param pairs (id_a, id_b) undirected near-dup edges
    * @param ids   all document ids (isolated docs are their own rep)
    */
  def nearDupClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    // Iterative algorithms MUST truncate lineage each round: `labels`
    // appears twice per iteration, so the logical plan doubles per
    // round (2^iters nodes — analyzer OOM long before any data is
    // big). A Pin materializes AND cuts the plan, and its measured
    // size lets the planner broadcast the node-sized label frames into
    // the per-round edge joins while they fit (the graph-family
    // discipline, graph.Graph). Pins tie recovery to executor
    // lifetimes; see graft.util.Pin.
    //
    // Checkpoint the pair computation BEFORE the bidirectional union:
    // the union references `pairs` twice, and a near-dup pair plan
    // (LSH/jaccard) is far too expensive to evaluate per direction.
    val undirected = Pin(pairs
      .select(col("id_a").as("src"), col("id_b").as("dst")))
    // r15: the pre-repartition on the join key was dead weight — under
    // AQE, localCheckpoint captures UnknownPartitioning(0), so the
    // partitioning never satisfied the per-round join anyway (measured,
    // see graph.Graph); dropping it removes one full exchange of the
    // edge frame from the build
    val edges = Pin(undirected
      .unionByName(undirected
        .select(col("dst").as("src"), col("src").as("dst"))))
    var labels = Pin(ids.select(col(idCol).as("id"), col(idCol).as("rep")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.toDF("dst", "dst_rep"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_rep")).as("nbr_rep"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("rep").as("old_rep"),
          least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
      // pointer jumping (path compression): rep := rep's rep. Neighbor
      // steps alone converge in O(diameter) rounds — long chains blow
      // past any fixed cap; the jump makes it O(log diameter).
      val jumpLookup = propagated.select(col("id").as("rep"), col("rep").as("rep2"))
      // convergence count rides the checkpoint materialization as an
      // observe() — no separate diff-join job per round
      val obs = org.apache.spark.sql.Observation(s"cc_iter_$i")
      val next = Pin(propagated.join(jumpLookup, Seq("rep"), "left")
        .select(col("id"), col("old_rep"),
          least(col("rep"), coalesce(col("rep2"), col("rep"))).as("rep"))
        .observe(obs,
          sum(when(col("rep") =!= col("old_rep"), 1L).otherwise(0L))
            .as("changed"))
        .select(col("id"), col("rep")))
      val changed = obs.get("changed") match {
        case null => 0L
        case x => x.asInstanceOf[Long]
      }
      labels = next
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters: labels still changed after maxIters=$maxIters " +
          "rounds — the clusters would be split; raise maxIters")
    labels.withColumn("is_keeper", (col("id") === col("rep")).cast("boolean"))
  }

  /** Priority-based keeper selection over cluster labels: instead of
    * the min-id representative, keep the member with the HIGHEST
    * priority (ties → smaller id) — "keep the best copy" is what
    * production dedup actually does (longest document, highest quality
    * score, preferred source), min-id is merely the cheapest
    * deterministic default. `labels` is `nearDupClusters` output
    * (id, rep); `priorities` supplies (idCol, priorityCol).
    *
    * Scale: one broadcast-or-shuffle join on id and one window
    * partitioned by rep — clusters are tiny, so the window never sees
    * a hot key. The priority column must be deterministic for the
    * keeper set to be reproducible (integer lengths/scores are; float
    * model scores should be quantized first).
    */
  def priorityKeepers(labels: DataFrame, priorities: DataFrame,
      idCol: String, priorityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep"))
      .orderBy(col(priorityCol).desc, col("id"))
    labels.select(col("id"), col("rep"))
      .join(priorities.select(col(idCol).as("id"), col(priorityCol)),
        Seq("id"))
      .withColumn("is_keeper", (row_number().over(w) === 1).cast("boolean"))
  }

  /** End-to-end corpus dedup — THE composite a training-data pipeline
    * actually runs. Three stages, each the cheapest tool for its job:
    *
    *  1. EXACT: md5 groupBy keeps the first doc id per identical text —
    *     byte-identical copies never reach the (pricier) sketch stage.
    *  2. NEAR-DUP PAIRS: MinHash-LSH candidates, signature-estimate
    *     pre-filter, exact shingle-Jaccard ≥ `threshold` verification —
    *     among exact keepers only.
    *  3. CLUSTER + DECIDE: connected components over the pair graph
    *     (pointer-jumping label propagation); each component keeps its
    *     minimum doc id.
    *
    * Output: the KEPT doc ids — `(doc_id)`, one row per surviving
    * document. Deterministic end to end (md5 keys, exact verified
    * Jaccard, min-id keepers), so a SQL engine reproduces the exact
    * result from first principles — the whole pipeline is oracle-checked
    * as one unit (q_corpus_dedup_keepers).
    *
    * 100 TB: stage 1 shuffles 16-byte digests; stage 2 is the
    * minhashNearDups shape (banded, never all-pairs); stage 3 iterates
    * on (id, rep) longs only. Nothing ships document text except the
    * shingle arrays for verified candidate pairs.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleN: Int = 3, numHashes: Int = 32,
      bands: Int = 16, estThreshold: Double = 0.35): DataFrame = {
    val keeperIds = exactKeepers(df, textCol, idCol).select(col(idCol))
    // semi-join keeps the frame narrow; doc text re-attached by the
    // shingle build only for surviving ids
    val kept = df.join(keeperIds, Seq(idCol), "left_semi")
    val pairs = minhashNearDups(kept, idCol, textCol, threshold, shingleN,
        numHashes, bands, Some(estThreshold))
      .select(col("id_a"), col("id_b"))
    nearDupClusters(kept.select(col(idCol)), idCol, pairs)
      .where(col("is_keeper"))
      .select(col("id").as(idCol))
  }

  /** Benchmark decontamination: flag corpus documents whose n-gram
    * shingles overlap a (small) probe set — the train/test-leakage
    * check every LLM data pipeline runs before training (the GPT-3
    * appendix shape: 13-gram overlap; the synthetic docs here are
    * short, so callers pick shingleN to taste).
    *
    * Output: (id, n_shingles, n_overlap, overlap_frac, contaminated)
    * per corpus doc that HAS shingles — `contaminated` when at least
    * `minOverlap` distinct shingles also appear anywhere in the probe
    * set.
    *
    * 100 TB shape: the probe side (benchmarks) is tiny and its DISTINCT
    * shingle set is broadcast; the corpus side's exchanges carry only
    * (id, 16-byte shingle hash) rows — a few % of corpus bytes, never
    * document text — then the per-doc aggregate (ids × 3 longs).
    */
  def contaminationFlags(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    // Corpus-side cost shape, measured both ways (round 3): the per-doc
    // shingle DISTINCT here is one exchange of (id, 16-byte hash) rows
    // ≈ a few % of corpus bytes — NOT a text shuffle. The "zero
    // exchange" alternative (per-row transform + array_distinct HOFs)
    // evaluates interpreted and measured ~6× the CPU (8.9 s vs ~1.5 s
    // at sf0.1); interpreted per-element evaluation loses to a narrow
    // hash shuffle at any scale where CPU is the bill.
    val corpusSh = shingleHashFrame(corpus, idCol, textCol, shingleN)
    val probeSh = shingleHashFrame(probes, idCol, textCol, shingleN)
      .select(col("s")).distinct()
    corpusSh
      // hint kept: probeSh is a distinct, priced at the probes' size
      .join(broadcast(probeSh.withColumn("__hit", lit(1))), Seq("s"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_overlap"))
      .select(col(idCol), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap") >= minOverlap).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — contaminationFlags' semantics
    * (identical output, same oracle) for probe sets too large to ship
    * as a broadcast JOIN RELATION. A hash-join build side costs
    * ~40–50 B/key in the executor (boxed rows + table overhead); at
    * 10⁹ probe shingles that is ~50 GB per executor — dead. A Bloom
    * sketch at 3% fpp is ~7.3 bits/key ≈ 0.9 GB: shippable.
    *
    * Three-step shape, each step scale-bounded:
    *  1. BUILD: distributed `stat.bloomFilter` over the probe's
    *     distinct shingle hashes (partial sketches OR-merge — one
    *     narrow aggregation), serialized once into the plan as a
    *     literal (the StreamingContamination probe-literal pattern).
    *  2. PREFILTER (map-side, zero shuffle): Spark's own
    *     `BloomFilterMightContain` — the expression behind its runtime
    *     join filters — evaluated against the literal sketch drops
    *     ~(1 - fpp) of clean corpus shingles at the scan.
    *  3. VERIFY: only survivors (true hits + fpp of the corpus) reach
    *     the exact shuffle semi-join with the probe shingles, so false
    *     positives are removed and the result is EXACT — bloom has no
    *     false negatives, so nothing is lost.
    *
    * The corpus shingle frame feeds two branches (per-doc totals +
    * candidates) → pinned, the ngramJaccardPairs rationale.
    */
  def contaminationFlagsBloom(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      minOverlap: Int = 1, fpp: Double = 0.03): DataFrame = {
    val (probeSh, sketch) =
      bloomProbeBuild(probes, idCol, textCol, shingleN, fpp)
    applyBloomFlags(corpus, probeSh, sketch, idCol, textCol, shingleN,
      minOverlap)
  }

  /** BUILD side of the Bloom rung, separated so a streaming consumer
    * (StreamingContamination's foreachBatch path) pays it ONCE, not
    * per micro-batch: the pinned distinct probe shingle-hash frame
    * plus its serialized Bloom sketch.
    */
  private[graft] def bloomProbeBuild(probes: DataFrame, idCol: String,
      textCol: String, shingleN: Int,
      fpp: Double): (DataFrame, Array[Byte]) = {
    // Probe side is bounded by contract (benchmarks/blocklists) and
    // feeds two consumers (sketch build, exact verify) → pinned, the
    // no-unpersist-hook pattern; the pin's row count sizes the sketch.
    val probeSh = Pin(shingleHashFrame(probes, idCol, textCol, shingleN)
      .select(col("s")).distinct(), MEMORY_AND_DISK_SER)
    val nProbe = math.max(Pin.rows(probeSh), 1L)
    val bf = probeSh.stat.bloomFilter("s", nProbe, fpp)
    val sketch = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    (probeSh, sketch)
  }

  /** APPLY side of the Bloom rung: prefilter the corpus shingles with
    * the literal sketch (map-side), exact-verify survivors against the
    * probe frame, roll up per document. Batch-callable on any corpus
    * slice — including one micro-batch of a stream — because the flags
    * are per-document, no cross-slice state.
    */
  private[graft] def applyBloomFlags(corpus: DataFrame, probeSh: DataFrame,
      sketch: Array[Byte], idCol: String, textCol: String,
      shingleN: Int, minOverlap: Int): DataFrame = {
    val mightHit = graft.functions.VectorFunctions
      .bloom_might_contain(lit(sketch), col("s"))
    val corpusSh = Pin(shingleHashFrame(corpus, idCol, textCol, shingleN),
      MEMORY_AND_DISK_SER)
    val totals = corpusSh.groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"))
    val overlap = corpusSh.where(mightHit)
      .join(probeSh, Seq("s"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
    totals.join(overlap, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .select(col(idCol), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap") >= minOverlap).as("contaminated"))
  }

  /** Exact duplicate-span statistics — the cross-document "exact
    * substring dedup" signal (Lee et al. 2022, *Deduplicating Training
    * Data Makes Language Models Better*): every k-token sliding window
    * (stride 1) is a span; a span is DUPLICATED when the identical
    * token sequence also occurs in at least one OTHER document. Unlike
    * the within-doc repetition signals (TextFunctions), this measures
    * verbatim cross-doc boilerplate — license headers, navigation
    * chrome, copypasta — the spans substring-dedup would excise.
    *
    * Output per doc with ≥ k tokens:
    * (id, n_windows, n_dup_windows, dup_frac).
    *
    * 100 TB shape: windows are hashed MAP-SIDE (shingleHashFrame with
    * distinct=false — stride-1 windows ARE shingles), so every exchange
    * carries (8-byte span hash, id, count) rows, never text. Three
    * narrow shuffles: (h,id) pre-aggregate (collapses within-doc
    * repeats before the cross-doc count), a window count over h, and
    * the per-doc rollup. The (h,id) pre-aggregate is what keeps the
    * `count over (partition by h)` skew-safe: a span repeated millions
    * of times inside one doc is one row by the time it reaches the
    * hot-key partition.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val wins = shingleHashFrame(df, idCol, textCol, k, distinctShingles = false)
    val perDoc = wins.groupBy(col("s"), col("id"))
      .agg(count(lit(1)).as("cnt"))
    // n distinct docs holding this span == row count per span after the
    // (span, doc) pre-aggregate — a plain (non-distinct) window count.
    val nd = perDoc.withColumn("ndocs",
      count(lit(1)).over(Window.partitionBy(col("s"))))
    nd.groupBy(col("id").as(idCol))
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("ndocs") > 1, col("cnt")).otherwise(lit(0)))
          .as("n_dup_windows"))
      .select(col(idCol), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows") / col("n_windows")).as("dup_frac"))
  }

  /** Exact duplicate-span REMOVAL — the excision step of exact
    * substring dedup (Lee et al. 2022 §4.1, reference has no
    * counterpart): a token position is covered when any k-token
    * stride-1 window containing it occurs verbatim in MORE THAN ONE
    * document; covered positions are cut and the survivors rejoined.
    * Policy: the span is removed from EVERY holder (not keep-one) —
    * boilerplate/chrome should vanish everywhere, and keep-one is
    * ill-defined once overlapping spans have different canonical
    * holders. Emits per doc: token counts, removed-run count, and the
    * cleaned text.
    *
    * 100 TB shape: the duplicated-window set is found exactly as in
    * dupSpanStats (8-byte span hashes, never text, cross the exchange);
    * coverage then collapses to MERGED INTERVALS per doc *before*
    * anything position-sized shuffles — the interval merge is a
    * running-max window over (doc, window-start), so a doc whose spans
    * overlap heavily carries a handful of (start,end) rows, not one row
    * per covered token. The only place text moves is the final id-keyed
    * join of each doc's token array with its interval list, and the cut
    * itself is a map-side indexed-filter HOF (codegen'd, no UDF).
    */
  def dupSpanRemoval(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val (toks, wins) = spanWins(df, idCol, textCol, k)
    val dupSpans = wins.select(col("s"), col("id")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select(col("s"))
    val cov = wins.join(dupSpans, Seq("s"), "left_semi")
      .select(col("id"), col("i"), (col("i") + (k - 1)).as("e"))
    exciseCovered(toks, cov, idCol)
  }

  /** INTRA-doc repeated-span removal — the self-repetition cleaner
    * (the excision twin of the Gopher repetition SIGNALS): a position
    * is cut when some k-token window containing it repeats an EARLIER
    * identical window in the SAME document; the first occurrence
    * survives (keep-first — there is a well-defined canonical holder
    * inside one doc, unlike cross-doc where every holder loses).
    * Composes with dupSpanRemoval: cross-doc boilerplate vanishes
    * everywhere, in-doc loops collapse to one copy.
    *
    * Same 100 TB shape as dupSpanRemoval: only (id, hash, pos) rows
    * cross exchanges; the duplicate test is a per-(id, hash) min-pos
    * aggregate (not a self-join); intervals merge before anything
    * position-sized moves; the cut is the shared map-side HOF.
    */
  def selfSpanRemoval(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val (toks, wins) = spanWins(df, idCol, textCol, k)
    val repeats = wins.groupBy(col("id"), col("s"))
      .agg(min(col("i")).as("i0"), count(lit(1)).as("c"))
      .where(col("c") > 1)
      .select(col("id"), col("s"), col("i0"))
    val cov = wins.join(repeats, Seq("id", "s"))
      .where(col("i") > col("i0"))
      .select(col("id"), col("i"), (col("i") + (k - 1)).as("e"))
    exciseCovered(toks, cov, idCol)
  }

  /** Shared window build for the span-removal pair: pinned token
    * arrays + stride-1 k-windows with 1-based start positions. Both
    * pinned frames are corpus-sized (token arrays; ~100 windows per
    * doc) → SERIALIZED pinning: UnsafeRow bytes, disk-evictable
    * (deserialized pinning OOM'd the 8g probe heap at 1M docs).
    */
  private def spanWins(df: DataFrame, idCol: String, textCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val toks = Pin(fanOut(df.where(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("t")),
      MEMORY_AND_DISK_SER)
    val tcol = col("t")
    val wlen = greatest(size(tcol) - (k - 1), lit(0))
    val zipped = arrays_zip((1 to k).map(i => slice(tcol, lit(i), wlen)): _*)
    val wins = Pin(toks
      .select(col("id"), posexplode(zipped).as(Seq("p0", "z")))
      .select(col("id"), (col("p0") + 1).as("i"),
        xxhash64((0 until k).map(j => col(s"z.$j")): _*).as("s")),
      MEMORY_AND_DISK_SER)
    (toks, wins)
  }

  /** Shared excision tail: merge covered intervals [i, e] per doc
    * (adjacent runs fuse — coverage is positional, so touching
    * intervals are one removed run), cut with the map-side indexed-
    * filter HOF, emit counts + cleaned text.
    */
  private def exciseCovered(toks: DataFrame, cov: DataFrame,
      idCol: String): DataFrame = {
    val byStart = Window.partitionBy(col("id")).orderBy(col("i"))
    val prevMax = max(col("e"))
      .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val runs = cov
      .withColumn("new_run",
        when(col("i") > coalesce(prevMax, lit(-2)) + 1, 1).otherwise(0))
      .withColumn("grp",
        sum(col("new_run")).over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("i")).as("rs"), max(col("e")).as("re"))
    val perDoc = runs.groupBy(col("id"))
      .agg(collect_list(struct(col("rs"), col("re"))).as("iv"),
        count(lit(1)).as("n_spans"),
        sum(col("re") - col("rs") + 1).cast("long").as("n_removed"))
    // Map-side cut: indexed filter HOF against the doc's interval list
    // (unordered — membership test only), then rejoin with spaces.
    val cut = filter(col("t"), (_, i0) =>
      !exists(col("iv"), v =>
        (i0 + 1) >= v.getField("rs") && (i0 + 1) <= v.getField("re")))
    toks.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (coalesce(col("n_removed"), lit(0L)) / size(col("t")))
          .as("removed_frac"),
        when(col("iv").isNull, array_join(col("t"), " "))
          .otherwise(array_join(cut, " ")).as("cleaned_text"))
  }

  /** Exact pairwise n-gram Jaccard over an inverted shingle index:
    * explode distinct shingles, equi-join on shingle, count common,
    * combine with set sizes. Quadratic only within identical-shingle
    * buckets; meant for bounded/sampled id sets or post-LSH candidates.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.0): DataFrame = {
    // Exploded, hash-keyed inverted index, pinned: it feeds three plan
    // branches (sizes, both self-join sides) and the shingle build is
    // the expensive part — without materialization it would evaluate
    // 3×. A Pin rather than persist: a function returning a lazy
    // DataFrame has no unpersist hook, and pinned blocks free with the
    // frame's GC (see graft.util.Pin).
    val ex = Pin(shingleHashFrame(df, idCol, textCol, shingleN),
      MEMORY_AND_DISK_SER)
    val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    // NO broadcast hint on `sizes`: it is O(corpus) (one row per doc) —
    // a forced broadcast OOMs the driver on a full corpus. The pair
    // output is already shuffled on id; AQE picks broadcast itself when
    // the input is actually small.
    common
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "n_b")), Seq("id_b"))
      .withColumn("jaccard", col("common") / (col("n_a") + col("n_b") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
  }
}
