package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the corpus
  * clustering primitive of a training-data curation pipeline (cluster-
  * balanced sampling, SemDeDup-style per-cluster dedup, topic maps).
  *
  * This is the FULL-CORPUS counterpart of `Similarity.lloyd` (which
  * trains on a bounded driver-side sample for IVF cells): here every
  * assignment pass is a map-side executor scan and every centroid
  * update is one distributed aggregate. Per iteration:
  *
  *  - **assign**: the k×dim centroid matrix enters the plan as a
  *    literal (k·dim ≤ a few thousand longs — same broadcast-the-tiny-
  *    side rule as the contamination probes), and each row computes
  *    argmin-of-squared-L2 with codegen'd higher-order functions
  *    (`transform` + `zip_with` + `aggregate`). No join, no shuffle.
  *  - **update**: `posexplode` the quantized vector and aggregate
  *    SUM/COUNT by (cluster, pos) — partial aggregation means the
  *    shuffle carries ≤ k·dim rows per map partition, and only the
  *    k·dim final centroid cells reach the driver (the one bounded
  *    collect, same contract as IVF's `_centroids` sidecar).
  *
  * At 100 TB the per-iteration cost is therefore one full scan plus a
  * k·dim-sized exchange — the textbook scalable Lloyd's shape. Callers
  * iterating many times should persist the quantized projection once
  * instead of re-deriving it per pass.
  *
  * Every number is engine-exact, making the whole trajectory oracle-
  * checkable (no float drift across iterations):
  *  - components quantize to `round(x·10⁴)` longs (the repo-standard
  *    embedding quantization);
  *  - distances are integer squared-L2 sums;
  *  - ties pick the smallest cluster id (argmin = FIRST index of the
  *    minimum in ascending-cluster-id order);
  *  - centroid updates are `floor(sum/count)` longs. The double
  *    division inside `floor` is safe: |sum| ≤ 10⁴·n is exact in
  *    double, and a rational a/b with b = cluster size can sit within
  *    one ulp of an integer only if it IS that integer, so both
  *    engines floor identically.
  *  - clusters that lose all members in an iteration simply drop out
  *    of the next assignment domain (documented contract; the oracle's
  *    GROUP BY mirrors it for free).
  *
  * The reference has no clustering surface; this extends the same
  * embedding family as Similarity (SURVEY §7 phase 4).
  */
object KMeans {

  private def q(x: Column): Column = round(x.cast("double") * 10000).cast("long")

  /** Quantized copy of the vector column (ARRAY<LONG>). */
  def quantize(vec: Column): Column = transform(vec, x => q(x))

  /** Centroids of non-empty clusters, ascending cluster id. */
  final case class Centroids(ids: Seq[Int], cells: Seq[Array[Long]])

  /** Deterministic seed: the quantized vectors of the k smallest ids,
    * each cluster LABELED WITH ITS SEED'S ACTUAL ID — the same labels
    * the declared oracles derive (kmeansSql / pqSql cent0 use
    * `CAST(vec_id AS INT)`). On the declared corpora the k smallest
    * ids ARE 0..k-1 so labels are unchanged; on any other id space
    * (slices, offset regenerations) Spark stays self-consistent
    * instead of silently relabeling clusters by collect position.
    */
  def initCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Centroids = {
    val rows = df.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), quantize(col(vecCol)))
      .collect()
    require(rows.length == k,
      s"k-means needs at least k=$k rows to seed; corpus has ${rows.length}")
    val ids = rows.map(_.getLong(0))
    require(ids.forall(id => id >= 0 && id <= Int.MaxValue),
      s"seed ids must fit in Int cluster labels; got [${ids.mkString(", ")}]")
    Centroids(ids.map(_.toInt).toSeq, rows.map(_.getSeq[Long](1).toArray).toSeq)
  }

  /** Map-side assignment of every row to its nearest centroid.
    * Input must carry a quantized `__qv` column; output adds `cluster`
    * (INT) and `qdist` (LONG, exact squared L2). Zero shuffles: the
    * centroid matrix is a flat k×dim plan literal and the argmin runs
    * in the codegen'd QVecNearestL2 kernel (the HOF formulation —
    * `transform` of k `zip_with`+`aggregate` distances — evaluates
    * interpreted with per-element boxing and was 7× slower at 1M
    * vectors, scaling linearly in k on the interpreter's overhead;
    * first-index tie-break is identical).
    */
  def assign(df: DataFrame, cents: Centroids): DataFrame = {
    val flatMat = typedLit(cents.cells.flatten.toSeq)
    val idArr = array(cents.ids.map(lit(_)): _*)
    // kernel choice by k: the flat scan wins below a few hundred rows
    // (no group-scoring overhead); at IVF-scale cell counts the
    // blocked kernel's triangle-inequality pruning takes over —
    // identical results (exact bounds, same first-index tie rule),
    // measured crossover region around k ≈ 128–256 (KMeansProbe)
    val k = cents.ids.size
    val nearest =
      if (k >= 256)
        graft.functions.VectorFunctions.q_vec_nearest_l2_blocked(
          col("__qv"), flatMat, k)
      else
        graft.functions.VectorFunctions.q_vec_nearest_l2(col("__qv"), flatMat)
    df.withColumn("__nearest", nearest)
      // QVecNearestL2 returns the FIRST index of the minimum → smallest
      // cluster id wins ties (ids are ascending)
      .withColumn("cluster",
        element_at(idArr, element_at(col("__nearest"), 1).cast("int") + 1))
      .withColumn("qdist", element_at(col("__nearest"), 2))
      .drop("__nearest")
  }

  /** One distributed centroid update: floor-of-mean per (cluster, pos),
    * collected to the driver (≤ k·dim cells — bounded by construction).
    */
  def updateCentroids(assigned: DataFrame, dim: Int): Centroids = {
    val rows = assigned
      .select(col("cluster"), posexplode(col("__qv")).as(Seq("pos", "qv")))
      .groupBy(col("cluster"), col("pos"))
      .agg(floor(sum(col("qv")) / count(lit(1))).as("qc"))
      .collect()
    val byCluster = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    Centroids(
      byCluster.map(_._1),
      byCluster.map { case (_, cells) =>
        val arr = new Array[Long](dim)
        cells.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        arr
      })
  }

  /** `iters` Lloyd iterations from the deterministic k-smallest-ids
    * seed; returns the trained centroids (for serving/streaming
    * assignment — the frozen-centroids contract, same as the IVF
    * index's appends-don't-retrain rule).
    */
  def fitCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Centroids = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val base = df.select(col(idCol), quantize(col(vecCol)).as("__qv"))
    var cents = initCentroids(df, idCol, vecCol, k)
    for (_ <- 1 to iters)
      cents = updateCentroids(assign(base, cents), dim)
    cents
  }

  /** `iters` Lloyd iterations from the deterministic k-smallest-ids
    * seed; returns the final assignment (id, cluster, qdist).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    val cents = fitCentroids(df, idCol, vecCol, k, iters)
    val base = df.select(col(idCol), quantize(col(vecCol)).as("__qv"))
    assign(base, cents).select(col(idCol), col("cluster"), col("qdist"))
  }

  /** Cluster-balanced subsample: the `m` smallest-id members of each
    * cluster — the diversity-sampling step that follows clustering in a
    * curation pipeline (equal representation per region of embedding
    * space regardless of cluster mass). One window per cluster; the
    * heavy lifting (clustering) is `fit`.
    */
  def balancedSample(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, m: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col(idCol))
    fit(df, idCol, vecCol, k, iters)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= m)
      .select(col(idCol), col("cluster"), col("rank"))
  }
}
