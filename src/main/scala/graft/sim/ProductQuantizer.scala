package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the memory-compression half of a large-scale
  * vector store (IVF partitions the corpus, PQ shrinks the vectors):
  * the d-dim space splits into `m` subspaces of d/m dims, each gets its
  * own k-code codebook (subspace k-means), and a vector is stored as m
  * small codes — here 64 dims → 8 codes ≈ 64× smaller than float32.
  * Search then uses ADC (asymmetric distance computation): the query
  * builds an m×k lookup table of subspace distances once, and each
  * candidate's approximate distance is m table lookups — no float math
  * per candidate at all.
  *
  * Scale shape: training does ONE full scan per Lloyd iteration
  * regardless of m — all m subspace assignments are computed in one
  * projection (m codegen'd QVecNearestL2 kernels over sliced
  * subvectors), and all m codebook updates ride one
  * (subspace, code, pos) partial aggregate; only m·k·(d/m) = k·d
  * centroid cells reach the driver. Encoding is map-side; ADC scoring
  * is map-side (the LUT is a plan literal) + TakeOrderedAndProject.
  *
  * Determinism (the property that makes the WHOLE pipeline — trained
  * codebooks, codes, ADC ranking — oracle-hash-checkable): identical
  * rules to graft.sim.KMeans. Components quantize to round(x·10⁴)
  * longs; distances are integer squared-L2; argmin ties take the
  * smallest code; updates are floor-of-mean; codes that lose all
  * members drop out of the next assignment domain; the seed codebook
  * is the subvectors of the k smallest ids.
  */
object ProductQuantizer {

  /** codebooks(j): (codeIds, cells) for subspace j — ids ascending,
    * each cell a subDim-long centroid.
    */
  final case class PqModel(m: Int, subDim: Int, k: Int,
      codebooks: Seq[KMeans.Centroids])

  private def subCol(qv: Column, j: Int, subDim: Int): Column =
    slice(qv, j * subDim + 1, subDim)

  private def flatLit(cents: KMeans.Centroids): Column =
    typedLit(cents.cells.flatten.toSeq)

  /** One projection computing every subspace's [argmin, dist] pair. */
  private def withCodes(base: DataFrame, model: PqModel): DataFrame = {
    val cols = (0 until model.m).map { j =>
      graft.functions.VectorFunctions.q_vec_nearest_l2(
        subCol(col("__qv"), j, model.subDim), flatLit(model.codebooks(j)))
        .as(s"__n$j")
    }
    val withN = base.select(col("*") +: cols: _*)
    // map kernel index → code id (ids ascending; kernel returns the
    // FIRST index of the min → smallest code id wins ties)
    (0 until model.m).foldLeft(withN) { (df, j) =>
      val idArr = array(model.codebooks(j).ids.map(lit(_)): _*)
      df.withColumn(s"code_$j",
        element_at(idArr, element_at(col(s"__n$j"), 1).cast("int") + 1))
    }.drop((0 until model.m).map(j => s"__n$j"): _*)
  }

  /** Seed model: for every subspace, the subvectors of the k
    * smallest ids (one bounded collect). Like KMeans.initCentroids,
    * code ids are the SEEDS' ACTUAL ids — the same labels the declared
    * oracles derive (`CAST(vec_id AS INT) AS code ... WHERE vec_id < k`
    * matches exactly when the k smallest ids are 0..k-1, and Spark
    * stays self-consistent on any other id space).
    */
  def initModel(df: DataFrame, idCol: String, vecCol: String, m: Int,
      k: Int): PqModel = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val seedRows = df.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), KMeans.quantize(col(vecCol)))
      .collect()
    require(seedRows.length == k,
      s"PQ needs at least k=$k rows to seed; corpus has ${seedRows.length}")
    val ids = seedRows.map(_.getLong(0))
    require(ids.forall(id => id >= 0 && id <= Int.MaxValue),
      s"seed ids must fit in Int code labels; got [${ids.mkString(", ")}]")
    val rows = seedRows.map(_.getSeq[Long](1).toArray)
    val books = (0 until m).map { j =>
      KMeans.Centroids(ids.map(_.toInt).toSeq,
        rows.toSeq.map(_.slice(j * subDim, (j + 1) * subDim)))
    }
    PqModel(m, subDim, k, books)
  }

  /** One distributed codebook update across ALL subspaces: explode each
    * row's m (subspace, code, subvector) triples, floor-of-mean by
    * (subspace, code, pos) — a single k·d-cell aggregate.
    */
  def updateModel(assigned: DataFrame, model: PqModel): PqModel = {
    val triples = explode(array((0 until model.m).map(j =>
      struct(lit(j).as("j"), col(s"code_$j").as("code"),
        subCol(col("__qv"), j, model.subDim).as("sv"))): _*))
    val rows = assigned
      .select(triples.as("t"))
      .select(col("t.j").as("j"), col("t.code").as("code"),
        posexplode(col("t.sv")).as(Seq("pos", "qv")))
      .groupBy(col("j"), col("code"), col("pos"))
      .agg(floor(sum(col("qv")) / count(lit(1))).as("qc"))
      .collect()
    val books = (0 until model.m).map { j =>
      val byCode = rows.filter(_.getInt(0) == j)
        .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
      KMeans.Centroids(
        byCode.map(_._1),
        byCode.map { case (_, cells) =>
          val arr = new Array[Long](model.subDim)
          cells.foreach(r => arr(r.getInt(2)) = r.getLong(3))
          arr
        })
    }
    model.copy(codebooks = books)
  }

  /** Train: `iters` Lloyd iterations over all m subspaces (one scan
    * per iteration).
    */
  def train(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      iters: Int): PqModel = {
    val base = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qv"))
    var model = initModel(df, idCol, vecCol, m, k)
    for (_ <- 1 to iters)
      model = updateModel(withCodes(base, model), model)
    model
  }

  /** Encode the corpus: (idCol, code_0..code_{m-1}) — the compressed
    * representation (m small ints per vector). Map-side.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    withCodes(
      df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qv")), model)
      .select(col(idCol) +: (0 until model.m).map(j => col(s"code_$j")): _*)

  /** ADC lookup table for one query vector: lut(j)(code) = exact
    * integer squared-L2 between the query's j-th subvector and that
    * code's centroid. Driver-side over the bounded model.
    */
  def adcLut(query: Array[Long], model: PqModel): Seq[Seq[Long]] =
    (0 until model.m).map { j =>
      val q = query.slice(j * model.subDim, (j + 1) * model.subDim)
      model.codebooks(j).cells.map { c =>
        var acc = 0L
        var i = 0
        while (i < q.length) { val d = q(i) - c(i); acc += d * d; i += 1 }
        acc
      }.toSeq
    }

  /** Probe choice: nProbe nearest cell centroids by exact integer
    * squared-L2, ties to the smaller cell id — driver-side over the
    * bounded (k·dim) model. Shared by the one-shot and served paths.
    */
  def rankProbeCellsQ(cells: KMeans.Centroids, query: Array[Long],
      nProbe: Int): Seq[Int] =
    cells.ids.zip(cells.cells).map { case (id, c) =>
      var acc = 0L
      var i = 0
      while (i < c.length) { val d = query(i) - c(i); acc += d * d; i += 1 }
      (acc, id)
    }.sortBy(identity).take(nProbe).map(_._2)

  /** IVF+PQ composed — the full coarse-quantizer + fine-quantizer
    * index shape: KMeans cells partition the corpus (coarse), PQ codes
    * compress the vectors (fine), and a query probes only the nProbe
    * nearest cells, paying m LUT lookups per SURVIVING candidate. The
    * coarse quantizer here is the integer-exact `KMeans` (not the
    * float IVF trainer), which keeps the ENTIRE composed pipeline —
    * cell assignment, probe choice, codes, ADC ranking —
    * deterministic and oracle-replayable.
    *
    * Plan shape: cell filter is a map-side IN over the assignment
    * (combining with a cell-partitioned layout — `buildAndWriteIvfIndex`
    * — would turn it into directory pruning), ADC as in `adcTopK`.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Long], cells: KMeans.Centroids, model: PqModel,
      nProbe: Int, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probed = rankProbeCellsQ(cells, query, nProbe)
    val base = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qv"))
    val inProbed = KMeans.assign(base, cells)
      .where(col("cluster").isin(probed.map(_.asInstanceOf[Any]): _*))
      .select(col(idCol), col("__qv"))
    adcTopK(withCodes(inProbed, model)
        .select(col(idCol) +: (0 until model.m).map(j => col(s"code_$j")): _*),
      idCol, query, model, k, excludeId)
  }

  /** Served IVF+PQ index: the corpus's PQ CODES (never the vectors)
    * written as parquet PARTITIONED BY the coarse cell, plus two
    * sidecars — `_kcentroids` (coarse cells) and `_codebooks` (PQ
    * model), both O(k·dim) and driver-resident by design (leading
    * underscore hides them from the main parquet read, the `_metadata`
    * convention; same contract as `Similarity.buildAndWriteIvfIndex`).
    *
    * This is the layout the one-shot `ivfPqTopK` composition is NOT:
    * build-once/serve-many. A query (a) ranks probe cells on the
    * driver, (b) scans ONLY the probed `cluster=N` directories —
    * PartitionFilters directory pruning, no full-corpus re-assignment —
    * and (c) pays m LUT lookups per surviving candidate row of m small
    * int codes (the scan reads ~m bytes of codes per row where the
    * plain IVF layout reads the full float vector). At 100 TB the
    * serve scan is nProbe/kCells of a corpus already compressed ~64×.
    */
  final case class IvfPqIndex(cells: KMeans.Centroids, model: PqModel,
      codes: DataFrame)

  def buildAndWriteIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, kCells: Int, iters: Int, m: Int, kCodes: Int): Unit = {
    val spark = df.sparkSession
    val cells = KMeans.fitCentroids(df, idCol, vecCol, kCells, iters)
    val model = train(df, idCol, vecCol, m, kCodes, iters)
    val base = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qv"))
    withCodes(KMeans.assign(base, cells), model)
      .select(col(idCol) +: col("cluster") +:
        (0 until m).map(j => col(s"code_$j")): _*)
      .write.partitionBy("cluster").mode("overwrite").parquet(path)
    import spark.implicits._
    cells.ids.zip(cells.cells).map { case (id, c) => (id, c.toSeq) }
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_kcentroids")
    model.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.ids.zip(book.cells).map { case (code, cell) => (j, code, cell.toSeq) }
    }.toDF("j", "code", "cell")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
  }

  /** Incremental append into a served IVF+PQ index: assign + encode
    * the new batch against the FROZEN sidecar models (coarse centroids
    * AND codebooks — the standard serve contract: appends never
    * retrain) and land the code rows inside the existing `cluster=N`
    * directories. Pure map-side; probes keep pruning whole directories
    * and never distinguish base from appended rows. Sustained
    * distribution drift degrades cell balance and PQ quantization
    * error alike — the operator's answer is a periodic rebuild, same
    * as [[graft.sim.Similarity.appendToIvfIndex]].
    */
  def appendToIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val index = readIvfPqIndex(df.sparkSession, path)
    val base = df.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qv"))
    withCodes(KMeans.assign(base, index.cells), index.model)
      .select(col(idCol) +: col("cluster") +:
        (0 until index.model.m).map(j => col(s"code_$j")): _*)
      .write.partitionBy("cluster").mode("append").parquet(path)
  }

  /** Open a served IVF+PQ index written by [[buildAndWriteIvfPqIndex]]:
    * both sidecars collect to the driver (O(k·dim) by construction);
    * the codes frame is the cell-partitioned parquet layout.
    */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    val kcRows = spark.read.parquet(s"$path/_kcentroids")
      .collect().sortBy(_.getInt(0))
    val cells = KMeans.Centroids(
      kcRows.map(_.getInt(0)).toSeq,
      kcRows.map(_.getSeq[Long](1).toArray).toSeq)
    val cbRows = spark.read.parquet(s"$path/_codebooks").collect()
    val byJ = cbRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val books = byJ.map { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      KMeans.Centroids(sorted.map(_.getInt(1)).toSeq,
        sorted.map(_.getSeq[Long](2).toArray).toSeq)
    }
    val subDim = books.head.cells.head.length
    IvfPqIndex(cells,
      PqModel(books.size, subDim, books.map(_.ids.size).max, books),
      spark.read.parquet(path))
  }

  /** Serve path over the read-back index: probe cells rank on the
    * driver, the codes scan prunes to the probed `cluster=` directories
    * (PartitionFilters — PlanSpec-asserted), ADC ranks map-side,
    * TakeOrdered k. No training, no re-assignment, no vector reads.
    */
  def ivfPqSearch(index: IvfPqIndex, idCol: String, query: Array[Long],
      nProbe: Int, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probed = rankProbeCellsQ(index.cells, query, nProbe)
    adcTopK(index.codes.where(col("cluster").isin(probed: _*)),
      idCol, query, index.model, k, excludeId)
  }

  /** ADC-shortlist + EXACT re-rank — the refine rung every production
    * IVF+PQ deployment runs (FAISS's IndexRefineFlat): PQ codes rank
    * candidates, but within a tight cluster the true neighbor gaps are
    * smaller than 8-byte quantization error, so ADC ties and recall
    * collapses (IvfPqScaleProbe measured recall@20 ≈ 0.03 on planted-
    * cluster vectors — ~20/cluster-size, i.e. arbitrary). The fix:
    * take the ADC top `k × refine` shortlist (deterministic — (adc,
    * id) total order), fetch ONLY those rows' full vectors from the
    * base table (id-pushdown point reads — bounded at refine×k rows),
    * and rank by exact integer quantized-L2. The shortlist id list is
    * a bounded driver-side frame (hundreds), the house probe-id
    * pattern; the scan cost is one pushed-filter read of refine×k
    * rows, NOT a corpus scan.
    *
    * Output: (idCol, d2) — exact quantized squared-L2, ascending
    * (d2, id), k rows.
    */
  def ivfPqSearchRefined(index: IvfPqIndex, base: DataFrame, idCol: String,
      vecCol: String, query: Array[Long], nProbe: Int, k: Int,
      refine: Int = 10, excludeId: Option[Long] = None): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val shortlist = ivfPqSearch(index, idCol, query, nProbe, k * refine,
      excludeId).select(col(idCol)).collect().map(_.getLong(0)).toSeq
    exactRerank(base, idCol, vecCol, query, shortlist, k)
  }

  /** Exact quantized-L2 re-rank of a bounded id shortlist: pushed-In
    * point read of the shortlist rows, rank by (d2, id), k rows.
    */
  private def exactRerank(base: DataFrame, idCol: String, vecCol: String,
      query: Array[Long], shortlist: Seq[Long], k: Int): DataFrame =
    base.where(col(idCol).isin(shortlist: _*))
      .select(col(idCol),
        org.apache.spark.sql.functions.element_at(
          graft.functions.VectorFunctions.q_vec_nearest_l2(
            KMeans.quantize(col(vecCol)), typedLit(query.toSeq)), 2)
          .as("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(k)

  /** [[ivfPqSearchRefined]] with an ADAPTIVE shortlist: the fixed
    * refine factor is blind to ADC resolution — when one planted
    * cluster swamps quantization error (IvfPqScaleProbe's 1000-member
    * rung), the true top-k sit in an ADC-tied band far wider than
    * k×refine and the shortlist cut truncates it (measured recall@20
    * 0.36 at refine=10).
    *
    * Growth rule — STABILIZATION, not an adc/d2 comparison (ADC
    * carries the code centroid's full quantization residual, a large
    * positive bias, so "exact d2 below the shortlist's ADC ceiling"
    * triggers spuriously inside a tied band — measured, it left
    * recall at 0.86): each round fetches ONE ADC shortlist of
    * 2·k·refine candidates and exact-reranks it once; if the exact
    * top-k over the FULL candidate set equals the exact top-k over
    * its first k·refine prefix (ids and distances — i.e. doubling the
    * shortlist changed nothing), the answer has stabilized and is
    * returned. Otherwise refine doubles. Also returns when the probed
    * cells are exhausted (the fetch came back short — nothing more
    * exists to examine) or at `maxRefine`.
    *
    * Deterministic and oracle-replayable: every stop decision is a
    * pure function of (index, query, k). Realistic-case cost vs the
    * fixed rung: the ADC scan is the same TakeOrdered pass over the
    * probed cells (its cost does not depend on the limit), and the
    * point-read rerank doubles from k·refine to 2·k·refine rows —
    * a few hundred — so one stabilized round lands within ~1.2× of
    * the fixed rung's latency.
    */
  def ivfPqSearchRefinedAdaptive(index: IvfPqIndex, base: DataFrame,
      idCol: String, vecCol: String, query: Array[Long], nProbe: Int,
      k: Int, initialRefine: Int = 5, maxRefine: Int = 160,
      excludeId: Option[Long] = None): DataFrame = {
    require(initialRefine >= 1 && maxRefine >= initialRefine,
      "need 1 <= initialRefine <= maxRefine")
    var refine = initialRefine
    while (true) {
      // ONE ADC pass fetches the doubled shortlist (bounded id rows —
      // the house probe-id shape); its k·refine prefix IS the fixed
      // rung's shortlist (same (adc, id) total order)
      val sl = ivfPqSearch(index, idCol, query, nProbe, 2 * k * refine,
        excludeId).collect().map(_.getLong(0))
      val out = exactRerank(base, idCol, vecCol, query, sl.toSeq, k)
      val exhausted = sl.length < 2 * k * refine
      if (exhausted || refine >= maxRefine) return out
      // ONE point-read rerank of the full candidate set; the prefix
      // top-k falls out of the same ranked rows with no extra job
      val prefix = sl.take(k * refine).toSet
      val ranked = exactRerank(base, idCol, vecCol, query, sl.toSeq,
        sl.length).collect()
      val topFull = ranked.take(k).map(r => (r.getLong(0), r.getLong(1)))
      val topPrefix = ranked.filter(r => prefix.contains(r.getLong(0)))
        .take(k).map(r => (r.getLong(0), r.getLong(1)))
      if (topFull.sameElements(topPrefix)) return out
      refine = math.min(refine * 2, maxRefine)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Approximate top-k by ADC over an encoded corpus: per row, the
    * distance is m lookups into the flat LUT literal, summed in fixed
    * subspace order — map-side, then TakeOrderedAndProject. Code ids
    * index into each subspace's SURVIVING-code list (position of the
    * id in the ascending id list), mirroring how the codebooks store
    * them.
    */
  def adcTopK(encoded: DataFrame, idCol: String, query: Array[Long],
      model: PqModel, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val lut = adcLut(query, model)
    val flat = typedLit(lut.flatten)
    val offsets = lut.map(_.size).scanLeft(0)(_ + _)
    val dist = (0 until model.m).map { j =>
      // code id → position in the ascending surviving-id list. A code
      // absent from the codebook (stale/mismatched model) yields
      // position 0, which for j>0 would silently read the previous
      // subspace's last LUT entry — fail loudly instead: encoded input
      // must come from this model's training.
      //
      // When the id space is DENSE (the normal case — seed code ids
      // are the k smallest corpus ids, usually 0..k−1), the lookup is
      // a direct O(1) index into a position array literal (holes = 0
      // = absent). The array_position fallback scans O(k) ids per row
      // per subspace — at a production 256-code book that is 2048
      // comparisons per candidate, MORE than the exact 64-dim
      // distance it is supposed to avoid.
      val ids = model.codebooks(j).ids
      val maxId = ids.max
      val pos: Column =
        if (maxId + 1 <= 4 * ids.size + 64) {
          val posArr = new Array[Int](maxId + 1)
          ids.zipWithIndex.foreach { case (id, i) => posArr(id) = i + 1 }
          when(col(s"code_$j").between(0, maxId),
            element_at(typedLit(posArr.toSeq), col(s"code_$j") + 1))
            .otherwise(lit(0)).cast("int")
        } else {
          val idArr = array(ids.map(lit(_)): _*)
          array_position(idArr, col(s"code_$j")).cast("int")
        }
      element_at(flat, lit(offsets(j)) +
        when(pos === 0, raise_error(concat(
          lit(s"adcTopK: code_$j value "), col(s"code_$j").cast("string"),
          lit(" absent from the model codebook — encoded frame and " +
            "PqModel must come from the same training"))).cast("int"))
          .otherwise(pos))
    }.reduceLeft(_ + _)
    val base = excludeId.fold(encoded)(x => encoded.where(col(idCol) =!= x))
    base.select(col(idCol), dist.as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }
}
