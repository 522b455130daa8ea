package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Vector-similarity operators over an `ArrayType(FloatType)` embedding
  * column: brute-force cosine top-k (the exactness baseline), a
  * random-hyperplane LSH bucketed variant (the scale path), pairwise
  * near-dup detection, and per-label centroids.
  *
  * Two arithmetic modes:
  *  - FLOAT: plain double math via zip_with/aggregate HOFs — fast,
  *    codegen'd, but sum order makes the low bits engine-specific →
  *    queries built on it are rows-only checks.
  *  - QUANTIZED: each component is rounded to a 1e-4 grid as a LONG
  *    (`round(x·10⁴)`); dot products and norms become exact integer
  *    sums (|x|≤1 ⇒ |q|≤10⁴ ⇒ 64-dim dot ≤ 6.4e9 « 2^63, ANSI-safe),
  *    so results are order-independent and bit-identical in any engine —
  *    the DuckDB oracle reproduces them exactly. Cosine then needs one
  *    double division + sqrt on identical inputs → still deterministic.
  *
  * 100 TB notes: brute-force is a broadcast of the query vector — one
  * map-side pass, no shuffle; LSH shuffles once on (band, bucket) whose
  * cardinality is controlled by planesPerBand; near-dup's quadratic
  * term is confined within buckets. Nothing collects to the driver.
  */
object Similarity {

  /** Quantize one float component to the 1e-4 integer grid. */
  private def q(x: Column): Column = round(x.cast("double") * 10000).cast("long")

  /** Exact integer dot product of two quantized vectors. */
  def quantizedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => q(x) * q(y)), lit(0L), (acc, v) => acc + v)

  def quantizedNormSq(a: Column): Column = quantizedDot(a, a)

  /** Deterministic cosine from quantized components. */
  def quantizedCosine(a: Column, b: Column): Column =
    quantizedDot(a, b) / (sqrt(quantizedNormSq(a)) * sqrt(quantizedNormSq(b)))

  /** Float-path dot/cosine (fast, engine-specific low bits). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force top-k neighbours of one stored vector: broadcast the
    * single query row, score every vector map-side, global top-k.
    * `scoreFn` picks the arithmetic mode.
    */
  def topKByQueryId(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int,
      scoreFn: (Column, Column) => Column): DataFrame = {
    val query = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    // hint kept: query is a filter, priced at df's size
    df.crossJoin(broadcast(query))
      .where(col(idCol) =!= queryId)
      .select(col(idCol), scoreFn(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (fixed seed → identical plan
    * every run; Spark requirement for resumable/replayable queries).
    * Float components so the native FloatVecDot expression applies.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Sign-random-projection band buckets: `bands` buckets per vector,
    * each from `planesPerBand` hyperplane sign bits. Static plane
    * literals scored through the codegen'd vec_dot — the HOF dot here
    * was 32 interpreted array traversals per row.
    *
    * Band buckets from per-plane sign bits, each plane scored by its
    * own small FloatVecDot.
    *
    * KEEP THIS SHAPE (measured, round 2): a "nicer" two-projection
    * variant — one batched FloatMatVecScore column + element_at bit
    * folds — ran 1.5 s standalone but 460 s once a posexplode consumed
    * the buckets: the optimizer re-inlines the scores expression into
    * the Generate input once PER BIT (32× re-evaluation). Separate
    * small dots also stay under the JIT bytecode cliff that killed the
    * 64-dot assignCells (each dot compiles to its own method); at the
    * 32-plane default this formulation is fast and Generate-safe.
    */
  def lshBuckets(vec: Column, planes: Seq[Seq[Float]], bands: Int): Column = {
    val perBand = planes.size / bands
    val bits: Seq[Column] = planes.map { p =>
      val planeCol = typedLit(p)
      when(VectorFunctions.vec_dot(vec, planeCol) > 0,
        lit(1)).otherwise(lit(0))
    }
    array((0 until bands).map { b =>
      (0 until perBand).foldLeft(lit(0)) { (acc, j) =>
        acc * 2 + bits(b * perBand + j)
      }
    }: _*)
  }

  /** Auto-sized bits-per-band for sign-LSH banding at corpus size `n`:
    * the SMALLEST divisor of `numPlanes` whose bucket space keeps
    * expected occupancy ≤ ~10 (`10 · 2^bits ≥ n`), capped at
    * `numPlanes / 2` so at least two bands remain for OR-amplification.
    * Returns the BAND COUNT (`numPlanes / bits`).
    *
    * This is the scaladoc sizing rule of [[lshNearDupPairs]] made
    * executable: occupancy ≈ n / 2^bits drives candidate volume
    * (≈ bands · n · occupancy / 2), so bits must grow with log2(n);
    * preferring the smallest sufficient bits keeps per-band recall
    * (1 − θ/π)^bits as high as the volume budget allows. At 32 planes:
    * n ≤ 2.5k → 4 bands × 8 bits; n ≤ 655k → 2 × 16; beyond, the cap
    * holds 2 × 16 (more planes, not fewer bands, is the next lever).
    */
  def autoLshBands(numPlanes: Int, n: Long): Int = {
    require(numPlanes >= 2, "need at least 2 hyperplanes")
    val candidates = (1 to numPlanes / 2).filter(numPlanes % _ == 0)
    val bits = candidates.find(b => (1L << math.min(b, 60)) * 10L >= n)
      .getOrElse(numPlanes / 2)
    numPlanes / bits
  }

  /** LSH-bucketed approximate top-k for one stored query vector:
    * candidates = vectors sharing ≥1 band bucket with the query, then
    * exact re-scoring of candidates only. At 1000× data the scan is the
    * same, but scoring work drops from N to the bucket-collision count.
    *
    * r16 OPTIMIZATION (guide §2.4 — remove shuffles outright): the
    * query's band buckets are a pure function of (its vector, the
    * static plane literals), so they are computed DRIVER-SIDE — one
    * head() fetch of the query row (the family's standard
    * literal-vector pattern), then a bit-exact replay of FloatVecDot's
    * sequential double accumulation per plane. The candidate test
    * becomes a map-side filter (bucket_b(vec) == literal for ANY band)
    * fused into the corpus scan: the old shape's banding posexplode,
    * (band,bucket) broadcast join, bare-id distinct Exchange, and
    * candidate semi-join all disappear — ZERO shuffles/broadcasts
    * remain (5 jobs → 2: head fetch + one scan→filter→score→TakeOrdered
    * job). Same candidate set, same scores, same ordering: the bucket
    * function and scoreFn are unchanged, only where they evaluate
    * moved. Measured sf0.1: wall 0.56 → ~0.2 s (plan 0.22 → small; the
    * plan no longer carries two copies of the 32-plane literal tree).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, numPlanes: Int = 32, bands: Int = 0, dim: Int = 64,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.q_vec_cosine,
      corpusCountEstimate: Long = 0L): DataFrame = {
    // bands = 0 → auto-size from corpus count (one cheap count job —
    // parquet answers it from footer stats; callers on hot paths pass
    // corpusCountEstimate or an explicit band count)
    val b = if (bands == 0) autoLshBands(numPlanes,
      if (corpusCountEstimate > 0) corpusCountEstimate else df.count())
    else bands
    val planes = hyperplanes(numPlanes, dim)
    val perBand = numPlanes / b
    val qRows = df.where(col(idCol) === queryId)
      .select(col(vecCol)).limit(1).collect()
    if (qRows.isEmpty)
      // unknown query id: the old banding join produced zero candidates
      return df.limit(0)
        .select(col(idCol), scoreFn(col(vecCol), col(vecCol)).as("score"))
    val qvec: Seq[Float] = qRows(0).getSeq[Float](0)
    // bit-exact FloatVecDot replay: sequential (double)f*f accumulation
    def dotQ(p: Seq[Float]): Double = {
      val n = math.min(qvec.length, p.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += qvec(i).toDouble * p(i).toDouble; i += 1 }
      acc
    }
    val qbits = planes.map(p => if (dotQ(p) > 0) 1 else 0)
    val qbuckets = (0 until b).map { bb =>
      (0 until perBand).foldLeft(0)((acc, j) => acc * 2 + qbits(bb * perBand + j))
    }
    // corpus-side sign bits exactly as lshBuckets builds them; each
    // band's fold compares against the query's literal bucket
    val bits: Seq[Column] = planes.map { p =>
      when(VectorFunctions.vec_dot(col(vecCol), typedLit(p)) > 0,
        lit(1)).otherwise(lit(0))
    }
    val collides = (0 until b).map { bb =>
      val bucket = (0 until perBand).foldLeft(lit(0)) { (acc, j) =>
        acc * 2 + bits(bb * perBand + j)
      }
      bucket === lit(qbuckets(bb))
    }.reduce(_ || _)
    df.where(col(idCol) =!= queryId && collides)
      .select(col(idCol), scoreFn(col(vecCol), typedLit(qvec)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs near-duplicates above a cosine threshold over a bounded
    * id set (sample or post-LSH candidates): quantized arithmetic so
    * the result is oracle-exact.
    *
    * Exploded formulation, not a per-pair vector HOF: one row per
    * (id, dim, component), norms aggregated once per id, pair dots via
    * an equi-join on the dimension index — everything stays in codegen'd
    * hash join/aggregate. (A `pairs × quantizedCosine(a,b)` cross join
    * evaluates 3 interpreted array-aggregates per pair — measured ~15×
    * slower at 400 vectors / 80k pairs.)
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val flat = graft.ops.Partitioning.fanOut(df)
      .select(col(idCol).as("id"), posexplode(col(vecCol)))
      .select(col("id"), col("pos").as("i"), q(col("col")).as("qv"))
    val norms = flat.groupBy(col("id")).agg(sum(col("qv") * col("qv")).as("nrm"))
    val dots = flat.as("a").join(flat.as("b"),
        col("a.i") === col("b.i") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.qv") * col("b.qv")).as("qdot"))
    dots
      // hint kept: norms is a grouped aggregate, priced at flat's size
      .join(broadcast(norms.toDF("id_a", "nrm_a")), Seq("id_a"))
      .join(broadcast(norms.toDF("id_b", "nrm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("qdot") / (sqrt(col("nrm_a")) * sqrt(col("nrm_b")))).as("cos_q"))
      .where(col("cos_q") >= threshold)
  }

  /** Full-corpus embedding near-dup via LSH banding: vectors sharing a
    * sign-projection band bucket become candidate pairs; exact
    * quantized cosine verifies. The all-pairs quadratic never happens —
    * work is Σ bucket² over (band, bucket) groups, tuned by
    * numPlanes/bands exactly like the text MinHash family.
    *
    * SIZING RULE (measured the hard way — a 100k-vector probe with the
    * old 4-bit default produced ~2.5e9 candidate pairs): bits per band
    * = numPlanes/bands must grow with corpus size. Expected bucket
    * occupancy ≈ N / 2^bits and candidate volume ≈ bands × N ×
    * occupancy / 2, so keep 2^bits within ~10× of N. Recall per band
    * for a pair at angle θ is (1−θ/π)^bits — at high thresholds
    * (near-dup regime, θ small) wide bands stay near 1, so PREFER FEW
    * WIDE BANDS as N grows: e.g. 2 bands × 16 bits for 10⁵–10⁶
    * vectors. `bands = 0` (the default) derives the width from the
    * corpus count via [[autoLshBands]] — pass `corpusCountEstimate`
    * to skip the count job, or an explicit band count to override.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 32, bands: Int = 0,
      dim: Int = 64,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.vec_cosine,
      scoreCol: String = "cos",
      corpusCountEstimate: Long = 0L): DataFrame = {
    val b = if (bands == 0) autoLshBands(numPlanes,
      if (corpusCountEstimate > 0) corpusCountEstimate else df.count())
    else bands
    val planes = hyperplanes(numPlanes, dim)
    // distinct over bare id pairs (vectors re-joined afterwards — a
    // distinct dragging two float[64] payloads through the shuffle was
    // the dominant cost), codegen'd vec_dot for bucket signs + verify.
    val banded = graft.ops.Partitioning.fanOut(df)
      .select(col(idCol).as("id"),
        posexplode(lshBuckets(col(vecCol), planes, b)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    pairs
      .join(vecs.toDF("id_a", "va"), Seq("id_a"))
      .join(vecs.toDF("id_b", "vb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        scoreFn(col("va"), col("vb")).as(scoreCol))
      .where(col(scoreCol) >= threshold)
  }

  /** IVF (inverted-file) coarse quantizer: k-means cells over the
    * embedding space, then search probes only the nProbe cells nearest
    * the query vector.
    *
    * TRAIN and SERVE are split (the FAISS structure): training runs
    * Lloyd iterations on the driver over a BOUNDED sample (coarse
    * centroids never need the full corpus — `sampleN` rows collected
    * once, O(1) in corpus size), and `buildIvfIndex` materializes a
    * cell-partitioned layout once. Queries then touch ~nProbe/nCells of
    * the data with no training job at all. The 100 TB deployment writes
    * `IvfIndex.cells` as parquet partitioned by `cell`; here it persists
    * in memory, which exercises the same plan shape (partition-pruned
    * probe via the cell semi-join).
    */
  def trainCentroids(df: DataFrame, vecCol: String, k: Int,
      seed: Long = 42L, maxIter: Int = 10,
      sampleN: Int = 2048): Array[Array[Float]] =
    lloyd(df.select(col(vecCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray), k, seed, maxIter)

  /** Driver-local Lloyd iterations over an in-memory sample. */
  def lloyd(sample: Array[Array[Float]], k: Int, seed: Long = 42L,
      maxIter: Int = 10): Array[Array[Float]] = {
    require(sample.nonEmpty, "cannot train IVF centroids on an empty sample")
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    // init: k distinct sample points (deterministic shuffle)
    var centroids = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone()).toArray
    val assign = new Array[Int](sample.length)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < sample.length) {            // nearest centroid by L2
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var j = 0
          val cv = centroids(c); val sv = sample(i)
          while (j < dim) { val t = sv(j) - cv(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      i = 0
      while (i < sample.length) {
        val c = assign(i); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += sample(i)(j); j += 1 }
        i += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)     // empty cell keeps its centroid
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toArray
      iter += 1
    }
    centroids
  }

  /** Prebuilt IVF index: trained centroids + the corpus with its cell
    * assignment materialized cell-clustered. Build once, serve many.
    */
  final case class IvfIndex(centroids: Array[Array[Float]], cells: DataFrame)

  def buildIvfIndex(df: DataFrame, vecCol: String, nCells: Int = 16,
      seed: Long = 42L): IvfIndex = {
    val centroids = trainCentroids(df, vecCol, nCells, seed)
    // repartition(cell) both cell-clusters the layout (the probe's
    // pruning axis) and spreads small inputs across the cluster — no
    // separate fanOut needed
    val cells = assignCells(df, vecCol, centroids)
      .repartition(col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(centroids, cells)
  }

  /** Cell id = argmax over cells of (v·c − ‖c‖²/2) (equivalent to
    * nearest-centroid by L2). Static centroid literals; scoring goes
    * through the native FloatVecDot expression (codegen).
    *
    * Shape matters at k=64 cells: a per-row array of 64 (score, cell)
    * STRUCTS + array_max allocated 64 structs per row and generated
    * enough code to hurt — the scores land in one primitive array and
    * the argmax is array_position(max) (ties → lowest cell id,
    * deterministic). Measured ~4× faster at 500k × 64 cells.
    */
  def assignCells(df: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    // ONE FloatMatVecScore expression, not k FloatVecDots: k inlined
    // dots exceed the JIT bytecode threshold around k≈16 and the whole
    // stage drops to interpreted bytecode (measured 35 s vs 0.5 s for
    // 100k rows × 64 cells — see the expression's scaladoc)
    val flat = typedLit(centroids.flatten.toSeq)
    val bias = typedLit(centroids.map(c =>
      -c.map(x => x.toDouble * x).sum / 2.0).toSeq)
    df.withColumn("__scores",
        VectorFunctions.vec_mat_score(col(vecCol), flat, bias))
      .withColumn("cell",
        (array_position(col("__scores"), array_max(col("__scores"))) - 1)
          .cast("int"))
      .drop("__scores")
  }

  /** Materialize an IVF index as the 100 TB layout: the corpus written
    * as parquet PARTITIONED BY cell (so serve-time probes prune whole
    * directories — the scan's PartitionFilters, not a post-scan filter)
    * plus the centroids as a `_centroids` sidecar (the leading
    * underscore hides it from the main parquet read, the same
    * convention as `_metadata`). No persist: the cells frame is
    * consumed exactly once by the write.
    */
  def buildAndWriteIvfIndex(df: DataFrame, vecCol: String, path: String,
      nCells: Int = 16, seed: Long = 42L): Unit = {
    val spark = df.sparkSession
    val centroids = trainCentroids(df, vecCol, nCells, seed)
    assignCells(df, vecCol, centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    import spark.implicits._
    centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Incremental append into a served IVF index: assign the new batch
    * to the EXISTING centroids (read off the `_centroids` sidecar) and
    * append the rows into the cell-partitioned layout. Pure map-side —
    * the assignment is one codegen matrix-score expression per row and
    * the write lands new part-files inside existing `cell=N`
    * directories, so probes keep pruning whole directories and never
    * distinguish base from appended rows. Centroids are deliberately
    * NOT retrained (the standard IVF serve contract): append keeps the
    * index exact for search, while sustained distribution drift
    * degrades cell balance — the operator's answer is a periodic
    * rebuild, not per-batch retraining.
    */
  def appendToIvfIndex(df: DataFrame, vecCol: String, path: String): Unit = {
    val centroids = readIvfIndex(df.sparkSession, path).centroids
    assignCells(df, vecCol, centroids)
      .write.partitionBy("cell").mode("append").parquet(path)
  }

  /** Open a served IVF index written by [[buildAndWriteIvfIndex]]:
    * centroids come off the sidecar (O(nCells·dim), driver-resident by
    * design), the corpus is the partitioned parquet layout — queries
    * against it via [[ivfSearchVec]] touch only the probed cell
    * directories.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/_centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)
    IvfIndex(centroids, spark.read.parquet(path))
  }

  /** Rank cells by closeness of centroid to qvec (driver-side; both are
    * O(nCells·dim) driver-resident). L2-nearest ⇔ max(v·c − ‖c‖²/2).
    */
  private def rankProbeCells(centroids: Array[Array[Float]],
      qvec: Array[Float], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var dot = 0.0; var nrm = 0.0; var j = 0
      while (j < c.length) {
        dot += qvec(j).toDouble * c(j); nrm += c(j).toDouble * c(j); j += 1
      }
      (dot - nrm / 2.0, i)
    }.sortBy { case (score, cell) => (-score, cell) }
      .take(nProbe).map(_._2).toSeq

  /** Auto nProbe: IVF pruning is a statistical bet that needs enough
    * vectors per cell — below `minPerCell` (default 64) the per-cell
    * samples are too thin for the "neighbours concentrate in few
    * cells" assumption (round-6 measurement: the 3/4-trained appended
    * index at 500 vectors / 16 cells ≈ 31 per cell needed ALL cells
    * for complete top-20 recall where 2000 / 16 = 125 per cell needed
    * 14). Thin corpora probe everything — correctness first, pruning
    * only when the density supports it; at deployment scale cells hold
    * millions and `base` applies.
    */
  def autoNProbe(corpusCount: Long, nCells: Int, base: Int,
      minPerCell: Long = 64L): Int =
    if (corpusCount / nCells < minPerCell) nCells else base

  /** IVF serve path for a query vector the caller holds (the vector-DB
    * shape: the query arrives as a parameter, not a table row). Probe
    * cells are ranked on the DRIVER against the index's centroids —
    * both are O(nCells·dim) driver-resident — so the whole search is
    * ONE job: filter the cell-clustered corpus to nProbe static cell
    * ids (partition pruning on a cell-partitioned layout), score
    * against the literal query vector, TakeOrdered k.
    */
  def ivfSearchVec(index: IvfIndex, idCol: String, vecCol: String,
      qvec: Array[Float], k: Int, nProbe: Int = 4,
      excludeId: Option[Long] = None,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.q_vec_cosine): DataFrame = {
    val probeCells = rankProbeCells(index.centroids, qvec, nProbe)
    val qlit = typedLit(qvec.toSeq)
    val probed = index.cells.where(col("cell").isin(probeCells: _*))
    excludeId.fold(probed)(id => probed.where(col(idCol) =!= id))
      .select(col(idCol), scoreFn(col(vecCol), qlit).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF serve path addressing the query by stored id: one single-row
    * lookup collect (bounded, serve-time) then the literal-vector path.
    */
  def ivfSearch(index: IvfIndex, idCol: String, vecCol: String,
      queryId: Long, k: Int, nProbe: Int = 4,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.q_vec_cosine): DataFrame = {
    val qvec = index.cells.where(col(idCol) === queryId)
      .select(col(vecCol)).head().getSeq[Float](0).toArray
    ivfSearchVec(index, idCol, vecCol, qvec, k, nProbe, Some(queryId), scoreFn)
  }

  /** One-shot IVF query without materializing an index: train on a
    * bounded driver sample, rank probe cells driver-side, then ONE
    * map-side pass over the corpus — assign cell inline, keep only the
    * nProbe probe cells, score against the literal query vector,
    * TakeOrdered k. Zero shuffles, no persist. Amortized callers (every
    * real serving scenario) use buildIvfIndex once + ivfSearch per
    * query instead.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.q_vec_cosine,
      sampleN: Int = 2048, seed: Long = 42L): DataFrame = {
    // one collect serves both training sample and (usually) the query
    // vector lookup
    val sampleRows = df.select(col(idCol), col(vecCol)).limit(sampleN)
      .collect()
    val centroids = lloyd(
      sampleRows.map(_.getSeq[Float](1).toArray), nCells, seed)
    val qvec = sampleRows.find(_.getLong(0) == queryId)
      .map(_.getSeq[Float](1).toArray)
      .getOrElse(df.where(col(idCol) === queryId).select(col(vecCol))
        .head().getSeq[Float](0).toArray)
    val probeCells = rankProbeCells(centroids, qvec, nProbe)
    assignCells(df, vecCol, centroids)
      .where(col("cell").isin(probeCells: _*) && col(idCol) =!= queryId)
      .select(col(idCol), scoreFn(col(vecCol), typedLit(qvec.toSeq)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Per-label centroids in exploded (label, pos, value) form: the
    * quantized component sum is exact, the final mean is one double
    * division → oracle-exact and shuffle-friendly (key cardinality =
    * labels × dim, partial aggregation map-side).
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos"),
        round(col("col").cast("double") * 10000).cast("long").as("qv"))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("qv")) / count(lit(1)) / 10000.0).as("centroid"),
        count(lit(1)).as("n_vectors"))

  /** Label-noise / outlier detection: the k vectors per label LEAST
    * aligned (cosine) with their label's centroid — the data-pruning
    * primitive that surfaces mislabeled or anomalous examples before
    * training.
    *
    * Arithmetic is engine-reproducible by construction: quantized
    * components (×10⁴ longs) make the centroid-sum vector, both norms,
    * and the dot product EXACT integers; the only floating-point step
    * is one per-row `qdot / (√nrm_v · √nrm_c)` — no accumulation, so
    * any IEEE engine produces bit-identical cosines. Overflow headroom
    * (ANSI mode throws rather than wraps): nrm_c = Σ(Σqv)² bounds at
    * ~dim · (n·10⁴)² → safe to ~10⁹ vectors per label at dim 64.
    *
    * Shape at scale: two map-side explodes of the corpus; centroid
    * sums aggregate to labels × dim rows (tiny, broadcast back); the
    * per-vector dot aggregates map-side (exploded rows of one vector
    * never leave their partition) so the one real shuffle carries a
    * 4-column row per vector. The final per-label bottom-k is a
    * rank window — per-label sort of scored rows; swap in
    * functions.TopKAggregator on struct(cos, id) if label
    * cardinality is low enough that per-label sorts dominate.
    */
  def labelCentroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val flat = df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        posexplode(col(vecCol)))
      .select(col("vec_id"), col("label"), col("pos"),
        round(col("col").cast("double") * 10000).cast("long").as("qv"))
    val cent = flat.groupBy(col("label"), col("pos"))
      .agg(sum(col("qv")).as("sq"))
    val nrmC = cent.groupBy(col("label"))
      .agg(sum(col("sq") * col("sq")).as("nrm_c"))
    // hint kept: cent and nrmC are grouped aggregates, priced at flat's size
    val scored = flat.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("qv") * col("sq")).as("qdot"),
        sum(col("qv") * col("qv")).as("nrm_v"))
      // hint kept: nrmC, as cent above
      .join(broadcast(nrmC), Seq("label"))
      .withColumn("cos_centroid",
        col("qdot") / (sqrt(col("nrm_v")) * sqrt(col("nrm_c"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("cos_centroid"), col("vec_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("vec_id"), col("label"), col("cos_centroid"))
  }

  /** kNN JOIN — top-k neighbours for EVERY query in a bounded query
    * set at once (hard-negative mining, label propagation, retrieval
    * eval all need the multi-query form; the single-query topK is the
    * degenerate case). Shape: queries broadcast (bounded by contract —
    * past broadcast reach, shard the query set and union, or compose
    * with the served IVF layout to prune per query); ONE corpus scan
    * scores all queries map-side; per-query ranking is the
    * PairTopKAggregator partial top-k — shuffle carries ≤ |queries|·k
    * (score, id) pairs per mapper, never the N×Q score matrix, and no
    * window ever sorts it. Determinism: quantized scores + the
    * aggregator's total (score DESC, id ASC) order make ranks exact.
    *
    * Output: (query_id, rank, vec_id, score), self-pairs excluded.
    */
  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.q_vec_cosine): DataFrame = {
    // hint kept: queries is typically a filter, priced at the corpus's size
    val q = broadcast(queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).as("__qv")))
    // r15: fanOut — the corpus is the stream side of the broadcast
    // cross join, and a single-split corpus file ran the whole
    // |corpus|×|queries| scoring as ONE task (q_margin_mining: two
    // 3.5 s single-task stages). No-op at real scale.
    graft.ops.Partitioning.fanOut(corpus).crossJoin(q)
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"),
        scoreFn(col(vecCol), col("__qv")).as("__s"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("query_id"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(k)(col("__s"), col("__id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
  }

  /** Batch kNN against an IVF index — the past-broadcast-reach rung of
    * [[knnJoin]]: instead of every query scanning the whole corpus,
    * each query ranks the nCells centroids MAP-SIDE (the same
    * `vec_mat_score` matrix kernel the index build uses, literal
    * centroids, exact doubles — ties to the lower cell id, mirroring
    * the driver-side rankProbeCells order), explodes to its nProbe
    * probe cells, and meets ONLY those cells of the index through a
    * cell equi-join. Per-query top-k then runs through the same
    * map-side pair-top-k aggregator as knnJoin, so no exchange ever
    * carries corpus vectors — only (query_id, top-k buffer) pairs and
    * the nProbe-exploded query rows.
    *
    * Work: |queries|·nProbe·(corpus/nCells) score evaluations vs
    * knnJoin's |queries|·corpus — the standard IVF bet. Recall is the
    * operating-point contract (autoNProbe widens thin indexes to all
    * cells); at a complete-recall operating point the output is
    * bit-identical to [[knnJoin]] (same scores, same tie order).
    * The probe-exploded queries are broadcast to the index cells.
    */
  def ivfKnnJoin(index: IvfIndex, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      nProbe: Int = 4,
      scoreFn: (Column, Column) => Column =
        VectorFunctions.q_vec_cosine): DataFrame = {
    val nCells = index.centroids.length
    val probe = math.min(nProbe, nCells)
    val flat = typedLit(index.centroids.flatten.toSeq)
    val bias = typedLit(index.centroids.map(c =>
      -c.map(x => x.toDouble * x).sum / 2.0).toSeq)
    val probes = queries
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
      .withColumn("__scores", VectorFunctions
        .vec_mat_score(col("__qv"), flat, bias))
      .withColumn("__probe", slice(array_sort(
        zip_with(col("__scores"), sequence(lit(0), lit(nCells - 1)),
          (s, i) => struct(s.as("s"), i.as("i"))),
        (l, r) => when(l("s") > r("s"), lit(-1))
          .when(l("s") < r("s"), lit(1))
          .otherwise(l("i") - r("i"))), 1, probe))
      .select(col("query_id"), col("__qv"),
        explode(col("__probe")("i")).as("__cell"))
    // hint kept: probes is priced above the cells (else the cells build)
    index.cells.join(broadcast(probes), col("cell") === col("__cell"))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"),
        scoreFn(col(vecCol), col("__qv")).as("__s"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("query_id"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(k)(col("__s"), col("__id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
  }

  /** [[mutualMarginPairs]] with the kNN legs routed through IVF
    * indexes — the shape that survives two embedding spaces past
    * broadcast reach (one index per side, built once, served many).
    * At a complete-top-2-recall operating point (autoNProbe widens
    * thin indexes) the output is bit-identical to the brute variant —
    * the declared query shares its oracle, so any recall miss
    * surfaces as a hash mismatch.
    */
  def mutualMarginPairsIvf(left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String, nCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val li = buildIvfIndex(left, vecCol, nCells)
    val ri = buildIvfIndex(right, vecCol, nCells)
    val lp = autoNProbe(li.cells.count(), nCells, nProbe)
    val rp = autoNProbe(ri.cells.count(), nCells, nProbe)
    def top2(index: IvfIndex, queries: DataFrame, p: Int): DataFrame =
      ivfKnnJoin(index, idCol, vecCol, queries, idCol, vecCol, k = 2, p)
        .groupBy(col("query_id"))
        .agg(
          max(when(col("rank") === 1, col("vec_id"))).as("nn1"),
          max(when(col("rank") === 1, col("score"))).as("s1"),
          max(when(col("rank") === 2, col("score"))).as("s2"))
        .where(col("s2") > 0.0)
    val lt = top2(ri, left, rp)
      .select(col("query_id").as("src_id"), col("nn1").as("l_nn1"),
        col("s1").as("l_s1"), col("s2").as("l_s2"))
    val rt = top2(li, right, lp)
      .select(col("query_id").as("tgt_id"), col("nn1").as("r_nn1"),
        col("s1").as("r_s1"), col("s2").as("r_s2"))
    lt.join(rt, col("l_nn1") === col("tgt_id") &&
        col("r_nn1") === col("src_id"))
      .select(col("src_id"), col("tgt_id"),
        least(col("l_s1") / col("l_s2"), col("r_s1") / col("r_s2"))
          .as("margin"))
  }

  /** Hard-negative mining for contrastive training: for every anchor,
    * the top-k most-similar corpus vectors whose LABEL DIFFERS — the
    * negatives the model currently confuses with positives, the ones
    * worth training on. Same shape as [[knnJoin]] (anchors broadcast,
    * per-anchor top-k via the map-side-combining aggregator — the
    * shuffle carries ≤ |anchors|·k pairs per map partition, never the
    * corpus), one extra predicate: `label != anchor label` evaluated
    * before any score math. For anchor sets past broadcast reach,
    * route candidate generation through the served IVF index and
    * re-rank the shortlist — the q_ann_ivfpq_refined pattern.
    * Scores are the exact quantized cosine (integer dots), so the
    * DuckDB oracle replays the whole mine.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchors: DataFrame, k: Int): DataFrame = {
    // hint kept: anchors is typically a filter, priced at the corpus's size
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("__av"), col(labelCol).as("__al")))
    corpus.crossJoin(a)
      .where(col(idCol) =!= col("anchor_id") &&
        col(labelCol) =!= col("__al"))
      .select(col("anchor_id"),
        VectorFunctions.q_vec_cosine(
          col(vecCol), col("__av")).as("__s"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("anchor_id"))
      .agg(graft.functions.PairTopKAggregator
        .top_k_pair(k)(col("__s"), col("__id")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")))
      .select(col("anchor_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
  }

  /** Mutual-top-1 pair mining with a Lowe-style ratio margin — the
    * bitext-mining shape (two embedding spaces, candidate pairs =
    * vectors that pick EACH OTHER first, confidence = how far the
    * best match stands above the second-best). For each left vector:
    * its top-2 right neighbors by exact quantized cosine; a pair
    * (x, y) is emitted iff y is x's top-1 AND x is y's top-1, with
    *   margin = least(cos(x,y)/cos(x, x's 2nd), cos(x,y)/cos(y, y's 2nd))
    * — every cosine is one integer-dot division (deterministic IEEE),
    * every margin one further division, so the oracle replays it
    * bit-exactly. Pairs whose second-best cosine is ≤ 0 are dropped
    * (ratio undefined); singletons (no 2nd neighbor) are dropped.
    *
    * Scale shape: two [[knnJoin]]s at k=2 (each one broadcast of the
    * smaller side + one |bigger-side| scan with map-side top-k
    * combine) + one |pairs|-sized equi-join. Past broadcast reach the
    * kNN legs route through the served IVF index like any other
    * retrieval — the mutual join and margin math are unchanged.
    */
  def mutualMarginPairs(left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    def top2(corpus: DataFrame, queries: DataFrame): DataFrame =
      knnJoin(corpus, idCol, vecCol, queries, idCol, vecCol, k = 2)
        .groupBy(col("query_id"))
        .agg(
          max(when(col("rank") === 1, col("vec_id"))).as("nn1"),
          max(when(col("rank") === 1, col("score"))).as("s1"),
          max(when(col("rank") === 2, col("score"))).as("s2"))
        .where(col("s2") > 0.0)
    val lt = top2(right, left)
      .select(col("query_id").as("src_id"), col("nn1").as("l_nn1"),
        col("s1").as("l_s1"), col("s2").as("l_s2"))
    val rt = top2(left, right)
      .select(col("query_id").as("tgt_id"), col("nn1").as("r_nn1"),
        col("s1").as("r_s1"), col("s2").as("r_s2"))
    lt.join(rt, col("l_nn1") === col("tgt_id") &&
        col("r_nn1") === col("src_id"))
      .select(col("src_id"), col("tgt_id"),
        least(col("l_s1") / col("l_s2"), col("r_s1") / col("r_s2"))
          .as("margin"))
  }

  /** EXACT maximum-inner-product top-k with Cauchy–Schwarz norm
    * pruning — the MIPS serve path (recommendation scoring: user
    * vector × item matrix, where the answer is the largest DOT, not
    * the nearest point, and high-norm items dominate). The norm-range
    * scan from the published MIPS-pruning family (LEMP/FEXIPRO):
    *
    *  1. a (id, ‖x‖²) NORM INDEX — one map-side pass, at deployment a
    *     precomputed stored column;
    *  2. candidates in descending-norm order, a ladder of k·factor
    *     prefixes (factor doubles — the adaptive-refine shape);
    *  3. exact quantized dots over the prefix only — a pushed-In
    *     point read while the rung fits in plan literals (≤8192 ids),
    *     an id-only left-semi join past that (vectors never shuffle
    *     on either path, and nothing rung-sized reaches the driver);
    *  4. STOP when the k-th best dot strictly beats the Cauchy–Schwarz
    *     ceiling of every unseen vector: kth > 0 and kth² > ‖q‖²·max
    *     unseen ‖x‖² (driver-side BigInt — kth² overflows LONG at
    *     quantized 64-dim scale). Strict, so an unseen tie can never
    *     displace the returned set under the (dot desc, id) order.
    *
    * The ladder exhausts into a full scan when pruning can't engage,
    * so the output is ALWAYS the exact MIPS top-k — the stop rule is
    * purely a cost lever, and the oracle is plain brute force. Every
    * stop decision is a pure function of (corpus, query, k):
    * deterministic and replayable.
    *
    * Output: (vec_id, dot_q) — exact integer quantized dots.
    */
  def mipsTopKNormPruned(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, initialFactor: Int = 4,
      maxFactor: Int = 1 << 20, minSpread: Double = 4.0): DataFrame =
    mipsTopKNormPrunedWithStats(df, idCol, vecCol, queryId, k,
      initialFactor, maxFactor, minSpread)._1

  /** The (id, ‖x‖²) norm index [[mipsTopKNormPrunedWithStats]] scans —
    * build once, store/persist, and pass back in for serve-path reads
    * (otherwise every ladder rung recomputes norms corpus-wide: the
    * build pass costs one full scan, same as brute, so in-query
    * pruning only wins when the index already exists — MipsProbe
    * measures both regimes).
    */
  def mipsNormIndex(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("__id"),
      VectorFunctions.q_vec_dot(col(vecCol), col(vecCol)).as("__n2"))

  /** [[mipsTopKNormPruned]] plus the ladder's exit state for probes:
    * (result, final factor, candidates scanned, stop reason).
    *
    * CONCENTRATION GUARD (MipsProbe finding): on iid-component
    * corpora norms concentrate (relative spread ~1/√d), the
    * Cauchy–Schwarz ceiling barely decays down the ladder, and the
    * ladder death-marches to exhaustion — measured 14.96 s vs 0.27 s
    * brute at 100k×32d. When max ‖x‖² < `minSpread` × median ‖x‖²
    * (approx-median; the choice only picks the PATH — both paths
    * return the identical exact top-k), skip the ladder and scan once.
    * Heavy-tailed catalogs (popularity-scaled norms — the recommender
    * case) sail past the guard and prune: measured 0.64% of the
    * corpus scanned at the same size.
    */
  def mipsTopKNormPrunedWithStats(df: DataFrame, idCol: String,
      vecCol: String, queryId: Long, k: Int, initialFactor: Int = 4,
      maxFactor: Int = 1 << 20, minSpread: Double = 4.0,
      index: Option[DataFrame] = None): (DataFrame, Int, Long, String) = {
    require(k >= 1 && initialFactor >= 1 && maxFactor >= initialFactor)
    // hint kept: qFrame is a filter, priced at df's size
    val qFrame = broadcast(
      df.where(col(idCol) === queryId).select(col(vecCol).as("__qv")))
    val qn2 = BigInt(df.where(col(idCol) === queryId)
      .select(VectorFunctions.q_vec_dot(col(vecCol), col(vecCol)))
      .head().getLong(0))
    val norms = index.getOrElse(mipsNormIndex(df, idCol, vecCol))
      .where(col("__id") =!= queryId)
    def dotsOf(ids: Seq[Long]): DataFrame = df
      .where(col(idCol).isin(ids: _*)) // pushed-In point read
      .crossJoin(qFrame)
      .select(col(idCol).as("vec_id"),
        VectorFunctions.q_vec_dot(col(vecCol), col("__qv")).as("dot_q"))
      .orderBy(col("dot_q").desc, col("vec_id"))
    // semi-join variant for WIDE rungs: an In filter with k·factor
    // literals (maxFactor defaults to 2^20 → up to ~21M) blows up the
    // plan and the matching driver-side norm collect blows up driver
    // memory long before "exhausted" terminates the loop. Past the
    // cap the shortlist stays a DataFrame end to end — TopK on the
    // norm index, left-semi onto the corpus (id-only, AQE broadcasts
    // when it fits) — and NOTHING rung-sized ever reaches the driver.
    def dotsOfDf(shortlist: DataFrame): DataFrame = df
      .join(shortlist.select(col("__id").as("__sid")),
        col(idCol) === col("__sid"), "left_semi")
      .crossJoin(qFrame)
      .select(col(idCol).as("vec_id"),
        VectorFunctions.q_vec_dot(col(vecCol), col("__qv")).as("dot_q"))
      .orderBy(col("dot_q").desc, col("vec_id"))
    val spread = norms.agg(max(col("__n2")).cast("double").as("mx"),
        expr("approx_percentile(__n2, 0.5)").cast("double").as("md"))
      .head()
    val concentrated = !spread.isNullAt(0) && spread.getDouble(1) > 0 &&
      spread.getDouble(0) < minSpread * spread.getDouble(1)
    if (concentrated) {
      val n = norms.count()
      val out = df.where(col(idCol) =!= queryId)
        .crossJoin(qFrame)
        .select(col(idCol).as("vec_id"),
          VectorFunctions.q_vec_dot(col(vecCol), col("__qv")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id"))
        .limit(k)
      return (out, 0, n, "concentrated_norms")
    }
    // rungs at or under this many ids use the In-literal point read
    // (row-group-skippable on sorted parquet); wider rungs switch to
    // the semi-join path — the cap bounds BOTH plan-literal count and
    // driver-collected rows independently of maxFactor
    val inLiteralCap = 8192
    var factor = initialFactor
    while (true) {
      val c = k * factor
      val rung = norms.orderBy(col("__n2").desc, col("__id"))
      val (out, shortN, exhausted, maxUnseen) =
        if (c <= inLiteralCap) {
          // c+1 rows: the (c+1)-th norm IS the unseen ceiling (bounded
          // driver rows — the adaptive-refine collect contract)
          val normRows = rung.limit(c + 1).collect()
          val short = normRows.take(c).map(_.getLong(0)).toSeq
          val ex = normRows.length <= c
          (dotsOf(short).limit(k), short.length.toLong, ex,
            if (ex) BigInt(0) else BigInt(normRows.last.getLong(1)))
        } else {
          // rung stats from one 1-row aggregate over the TopK frame:
          // row count decides "exhausted"; min-norm-in-rung IS the
          // (c+1)-th norm = the unseen ceiling when the rung is full
          val st = rung.limit(c + 1)
            .agg(count(lit(1)).as("n"), min(col("__n2")).as("mn"))
            .head()
          val nRows = st.getLong(0)
          val ex = nRows <= c
          (dotsOfDf(rung.limit(c)).limit(k), math.min(nRows, c.toLong),
            ex, if (ex) BigInt(0) else BigInt(st.getLong(1)))
        }
      if (exhausted)
        return (out, factor, shortN, "exhausted")
      if (factor >= maxFactor)
        return (out, factor, shortN, "max_factor")
      val top = out.collect()
      if (top.length == k) {
        val kth = BigInt(top.last.getLong(1))
        if (kth > 0 && kth * kth > qn2 * maxUnseen)
          return (out, factor, shortN, "pruned")
      }
      factor = math.min(factor * 2, maxFactor)
    }
    throw new IllegalStateException("unreachable")
  }
}
