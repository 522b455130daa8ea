package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Spatial neighbor join — all pairs of points within a radius,
  * without the all-pairs cross product. The grid-cell trick: bucket
  * points into radius-sized cells, explode ONE side over its 3×3 cell
  * neighborhood, equi-join on the cell key, then exact-filter on
  * distance. Any qualifying pair sits at most one cell apart in each
  * axis, so the 9-cell probe cannot miss; the join itself is a plain
  * hash equi-join whose fan-in is the local point density, never n².
  * (The same family as the reference's lat/lon rounding-to-key —
  * pivot_all_files.py:114-118 — promoted from formatting to an actual
  * spatial operator.)
  *
  * Determinism contract: coordinates are INTEGER micro-units and the
  * distance test is exact BIGINT squared-Euclidean — no doubles
  * anywhere, so any engine reproduces the pair set bit-exactly.
  * Coordinates must be non-negative (floor vs truncating division
  * diverge below zero — shift upstream if needed).
  *
  * 100 TB shape: exchanges carry (cell key, id, two longs); the 9×
  * explosion multiplies only the probe side's row COUNT, not payload
  * width. Density skew (a mega-city cell) bounds the per-key work as
  * density², the classic spatial-join hotspot — salt or sub-grid hot
  * cells upstream if density is unbounded.
  */
object GeoJoin {

  /** Grid-density clustering — the DBSCAN idea made relational by
    * clustering CELLS instead of points (the CLIQUE/grid family):
    * cells with ≥ minPts points are CORE; core cells that touch in
    * the 8-neighborhood belong to one cluster (min-label connected
    * components over the core-cell adjacency graph, `iters` rounds of
    * the HashMin discipline); points inherit their cell's cluster,
    * points in sparse cells report cluster −1 (noise — the border-
    * absorption step of point-DBSCAN is deliberately omitted: it
    * makes membership order-dependent at ties, which a hash-checked
    * operator cannot be).
    *
    * Cluster identity is exact only up to `iters` hops of min-label
    * propagation (the fixed-round contract of
    * [[graft.graph.Graph.connectedComponents]]): a dense region whose
    * core-cell adjacency diameter exceeds `iters` reports as several
    * clusters. Size `iters` ≥ the expected core-cell diameter for the
    * one-cluster-per-connected-dense-region DBSCAN semantics — each
    * round costs one cell-frame join, and at 100 TB the diameter is
    * that of the densest contiguous region in CELLS, typically tens,
    * not data-sized.
    *
    * Scale shape: one cell-count aggregate (the only corpus-sized
    * shuffle), then EVERYTHING — adjacency (9× explode of the core-
    * cell frame), components rounds, label join — runs on the CELL
    * frame, bounded by occupied-cell count, not points. The classic
    * density hotspot (a mega-cell) costs its density once in the
    * count, never density².
    *
    * Output: (id, cx, cy, cluster) — cluster is the minimum cell key
    * (cx·2²⁰ + cy) of the component, −1 for sparse-cell points.
    */
  def gridDensityClusters(df: DataFrame, idCol: String, xCol: String,
      yCol: String, cellSize: Long, minPts: Long,
      iters: Int = 3): DataFrame = {
    require(cellSize > 0 && minPts >= 1 && iters >= 1)
    val pts = df.select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cx", expr(s"x div ${cellSize}L"))
      .withColumn("cy", expr(s"y div ${cellSize}L"))
    val cellCounts = pts.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("__n"))
    // The packed key cx·2^20 + cy is injective ONLY for cx, cy in
    // [0, 2^20): negative coordinates or cy >= 2^20 would collide
    // distinct cells into one key and silently corrupt adjacency and
    // cluster labels (ADVICE r12). Enforce loudly at runtime on the
    // cell frame (cheap — occupied-cell-sized, never per point);
    // raise_error fires the moment an out-of-range core cell exists.
    val core = Pin(cellCounts.where(col("__n") >= minPts)
      .withColumn("cell",
        when(col("cx") < 0 || col("cx") >= 1048576L ||
             col("cy") < 0 || col("cy") >= 1048576L,
          raise_error(concat(
            lit("gridDensityClusters: cell coords out of [0, 2^20): ("),
            col("cx"), lit(", "), col("cy"),
            lit(") — micro-coordinates must be >= 0 and < cellSize*2^20")))
            .cast("long"))
        .otherwise(expr("cx * 1048576 + cy")))) // cx·2^20 + cy; feeds probe, build, nodes
    val probe = core
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .where(col("dx") =!= 0 || col("dy") =!= 0)
      .select(col("cell").as("src"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val edges = probe
      .join(core.select(col("cx"), col("cy"), col("cell").as("dst")),
        Seq("cx", "cy"))
      .select(col("src"), col("dst"))
    val comps = graft.graph.Graph.connectedComponents(
      edges, core.select(col("cell")), "cell", iters)
    pts
      .join(core.select(col("cx"), col("cy"), col("cell")),
        Seq("cx", "cy"), "left")
      .join(comps, Seq("cell"), "left")
      .select(col("id"), col("cx"), col("cy"),
        coalesce(col("component"), lit(-1L)).as("cluster"))
  }

  /** All unordered pairs (id_a < id_b) within `radius` (micro-units),
    * with the exact squared distance. `df` must carry (idCol, xCol,
    * yCol) with integer micro-coordinates ≥ 0.
    */
  def neighborPairs(df: DataFrame, idCol: String, xCol: String,
      yCol: String, radius: Long): DataFrame = {
    require(radius > 0)
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cx", expr(s"x div ${radius}L"))
      .withColumn("cy", expr(s"y div ${radius}L"))
    val probe = pts
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val build = pts.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    probe.join(build, Seq("cx", "cy"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .where(col("dist2") <= lit(radius * radius))
      .select(col("id_a"), col("id_b"), col("dist2"))
  }
}
