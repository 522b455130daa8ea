package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
  * bucket embeddings into cells, score pairs only WITHIN a cell, and
  * keep one representative per group of semantic duplicates. The
  * within-cell restriction is the operator's documented approximation
  * — cross-cell duplicate pairs are not scored — and is what makes it
  * tractable: per-cell work is quadratic, cells are embarrassingly
  * parallel, and `bits` sizes cells to the corpus.
  *
  * Cells here are Rademacher sign-LSH buckets rather than k-means
  * (the paper's choice): bit j is the sign of the embedding's dot
  * with a fixed ±1 hyperplane whose components derive from md5
  * parity. Two reasons:
  *  - DETERMINISM ACROSS ENGINES — the full pipeline (quantize →
  *    plane dots → cell id → pairwise cosine → keeper rule) is exact
  *    integer/IEEE arithmetic reproducible in ANSI SQL, so the
  *    declared query is oracle-checkable end to end. k-means cells
  *    depend on iterative float refinement no oracle can replay.
  *  - NO DRIVER STATE — sign cells need no trained centroid table;
  *    the planes are pure functions of (plane, dim index).
  * The tradeoff is cell balance: k-means adapts to corpus geometry,
  * sign planes don't. For corpus-adaptive cells at the same exchange
  * shape, `Similarity.buildAndWriteIvfIndex` is the served path.
  *
  * Keeper rule: drop a vector iff some SAME-CELL neighbor with a
  * SMALLER id scores cosine ≥ threshold against it. Single-pass and
  * deterministic (no iteration-order dependence: whether the smaller
  * neighbor is itself dropped does not matter), the rule needs one
  * cell-join and one anti-join — no transitive closure. For
  * closure-based keeper selection over an edge set, compose with
  * `text.Dedup.nearDupClusters` instead.
  *
  * 100 TB shape: cell assignment is map-side (bits × dim multiplies
  * per row through the codegen'd `QuantizedVecDot`). The self-join
  * shuffles each row once per side keyed by cell — embeddings DO
  * cross this exchange (pairwise scoring needs both vectors
  * co-located; that is inherent to SemDeDup, not an accident), so
  * `bits` must grow with the corpus to bound per-cell quadratic work:
  * bits ≈ log2(n / targetCellRows). The dominated set and the final
  * anti-join carry bare ids only.
  */
object SemanticDedup {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** ±1 plane component for (plane j, dimension i): parity of the
    * first hex nibble of md5("j:i"). Reproducible in SQL as
    * `substr(md5(j || ':' || i), 1, 1) IN ('0','2','4','6','8','a','c','e')`.
    */
  def planeSign(j: Int, i: Int): Float =
    if (Integer.parseInt(md5Hex(s"$j:$i").substring(0, 1), 16) % 2 == 0) 1f
    else -1f

  /** Cell id (0 until 2^bits) for a float-array embedding column. The
    * plane dot goes through `QuantizedVecDot` (exact integer sum over
    * round(v·10⁴) components), so the SIGN — and therefore the cell —
    * is bit-identical across engines; a float accumulation could flip
    * near-zero dots. Planes enter the plan as literals (dim must be
    * known; pass the corpus dim).
    */
  def cellOf(vec: Column, bits: Int, dim: Int): Column =
    (0 until bits).map { j =>
      val plane = typedLit((0 until dim).map(i => planeSign(j, i)))
      when(VectorFunctions.q_vec_dot(vec, plane) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Keepers after semantic dedup: (vec_id, cell) for every vector NOT
    * dominated by a smaller-id same-cell neighbor at cosine ≥
    * `threshold`.
    */
  def semanticDedupKeepers(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4): DataFrame = {
    require(bits >= 1 && bits <= 20, "bits in [1, 20]")
    // Bounded single-row lookup: the planes are plan literals and need
    // the embedding dimensionality up front.
    val dim = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    val cells = df.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("cell", cellOf(col("__v"), bits, dim))
    val dominated = cells
      .select(col("cell"), col("vec_id").as("id_a"), col("__v").as("__va"))
      .join(cells.select(col("cell"), col("vec_id").as("id_b"),
        col("__v").as("__vb")), Seq("cell"))
      .where(col("id_a") < col("id_b") &&
        VectorFunctions.q_vec_cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
    cells.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }
}
