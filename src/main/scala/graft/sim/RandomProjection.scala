package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Johnson-Lindenstrauss dimensionality reduction for ANN — the
  * "shrink the vectors before you search them" scale lever that sits
  * between raw brute force and a trained index: project 64-dim floats
  * onto `nProj` fixed ±1 (Rademacher) hyperplanes (Achlioptas 2001 —
  * database-friendly random projections; no Gaussian sampling, no
  * stored model), rank the corpus by PROJECTED squared-L2 distance to
  * the query, keep the top-C candidates, then re-rank exactly. The
  * sign-LSH family keeps only the projection's SIGN bit; JL keeps the
  * magnitude, so far fewer dimensions carry usable distance signal.
  *
  * Determinism: projections are computed on the repo-standard 1e-4
  * quantization grid — `q_vec_dot` against a ±1 plane is
  * Σ qv_i·(±10⁴), an exact long — so every projection, distance, and
  * candidate rank replays bit-exactly in the oracle. Plane components
  * derive from md5 parity in the dedicated "rp:" namespace (the
  * SemanticDedup convention at a different key so the two operators'
  * planes are independent).
  *
  * 100 TB shape: one corpus scan; the 16 projections are map-side
  * codegen'd integer dots; candidate selection is
  * TakeOrderedAndProject on (distance, id) — per-partition top-C then
  * a C-row merge, never a global sort; the exact re-rank touches C
  * rows. At deployment the projection column is precomputed at ingest
  * (16 longs ≈ 1/2 the bytes of 64 floats — and the scan that serves
  * candidate selection reads ONLY it) and the re-rank joins the full
  * vectors back by id.
  */
object RandomProjection {

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** ±1 plane component for (projection p, dimension i): parity of the
    * first hex nibble of md5("rp:p:i"). SQL twin:
    * `strpos('02468ace', substr(md5('rp:' || p || ':' || i), 1, 1)) > 0`.
    */
  def planeSign(p: Int, i: Int): Float =
    if (Integer.parseInt(md5Hex(s"rp:$p:$i").substring(0, 1), 16) % 2 == 0) 1f
    else -1f

  /** The projected vector as array<long>: element p is
    * q_vec_dot(vec, plane_p) / 10⁴ — exact (every term is a multiple
    * of 10⁴; the double division's integer quotient is ≤ 6.4e9, well
    * under 2^53, so it is exact too). |proj_p| ≤ dim·max|qv| keeps the
    * 16-term squared-distance sum far from long overflow.
    */
  def project(vec: Column, nProj: Int, dim: Int): Column =
    array((0 until nProj).map { p =>
      val plane = typedLit((0 until dim).map(i => planeSign(p, i)))
      (VectorFunctions.q_vec_dot(vec, plane) / lit(10000)).cast("long")
    }: _*)

  /** Projected squared L2 between two projection arrays (exact long). */
  def projDist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Top-k by exact quantized cosine, candidates pre-selected as the
    * `nCandidates` projected-nearest rows. Declared operating points
    * must keep candidate recall complete (the LSH/IVF contract: the
    * oracle is the exact top-k, so a recall miss is a hash mismatch
    * caught by the all-SF sweep).
    */
  def rpTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, nProj: Int = 16, nCandidates: Int = 200,
      dim: Int = 64): DataFrame = {
    val proj = df.select(col(idCol), col(vecCol),
      project(col(vecCol), nProj, dim).as("__proj"))
    val q = proj.where(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), col("__proj").as("__qproj"))
    // hint kept: q is a filter, priced at df's size
    proj.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("__qvec"),
        projDist2(col("__proj"), col("__qproj")).as("__pd2"))
      .orderBy(col("__pd2").asc, col(idCol))
      .limit(nCandidates)
      .select(col(idCol),
        VectorFunctions.q_vec_cosine(col(vecCol), col("__qvec"))
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
