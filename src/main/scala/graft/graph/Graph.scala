package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Graph operators for corpus/catalog-shaped data — link analysis over
  * co-occurrence graphs (which items matter, which documents are hubs)
  * and local clustering structure (triangles). The reference has no
  * graph surface; this family extends the curation engine the same way
  * the dedup connected-components loop does (text/Dedup.scala:
  * nearDupClusters), and reuses its iterative-plan discipline:
  *
  *  - every round's state is a [[graft.util.Pin]] (lineage doubles per
  *    iteration otherwise);
  *  - each operator pins the caller's edge PLAN once — the graph
  *    queries pass a raw co-occurrence self-join (~2 s task CPU /
  *    24 MB at sf0.1) that labelprop re-ran 3× and kCore 6× before
  *    (r15; q_copurchase_labelprop: three 23.9 MB edge-build stages →
  *    one). The edge pin stays deserialized: it is re-read ~4× per
  *    operator, and MEMORY_AND_DISK_SER measured slower (r16, pagerank
  *    wall ~3.7-4.0 → 4.1-4.3 s);
  *  - NO pre-repartition on the join key before a pin: under AQE the
  *    checkpoint captures the physical plan's partitioning as
  *    UnknownPartitioning(0), so it can never satisfy a downstream
  *    join requirement — a pure extra exchange (measured r15);
  *  - a pin carries its measured size, so Spark's broadcast threshold
  *    decides every edges⋈state join: node-sized state (ranks, labels,
  *    frontiers, survivors) broadcasts while it fits and the pinned
  *    edge scan streams through the join with no exchange (before,
  *    pins carried the pre-checkpoint size estimate and
  *    q_copurchase_pagerank wrote a 22 MB edge shuffle per round for a
  *    115 KB rank frame); past the threshold the edge side pays one
  *    exchange per round — the honest cost at 10⁹-node scale, where
  *    per-round state outgrows every executor.
  *
  * Determinism contract: ranks use FIXED-POINT INTEGER arithmetic
  * (micro-rank units, floor division) so the trajectory is replayable
  * bit-exactly by any SQL engine — the same trade the k-means exhibit
  * makes (sim/KMeans.scala: integer-exact trajectory). Floating-point
  * PageRank would converge to the same ordering but could not be
  * hash-verified cross-engine.
  */
object Graph {

  /** Undirected co-occurrence edges: items sharing a group (parts
    * sharing an order, docs sharing a cluster). Emits BOTH directions
    * plus each node's out-degree — the adjacency form pageRank
    * consumes. Distinct within group first (a part can repeat across
    * line numbers), distinct across groups after (simple graph).
    *
    * 100 TB shape: the self-join is per GROUP (order baskets — tens of
    * rows), never global; the exchange carries (group, item) ids. A
    * pathological mega-group would square `maxGroupSize²` — so the
    * guard is ENFORCED, not advisory: one narrow pre-aggregate checks
    * the largest group and the operator fails loudly (naming the size)
    * before any pair is emitted. The deduped (group, item) frame is
    * checkpointed once so the guard pass and the self-join share one
    * materialization. Callers with legitimately huge groups raise the
    * cap consciously or top-N-cap upstream.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
      itemCol: String, maxGroupSize: Long = 10000L): DataFrame = {
    val g = Pin(df.select(col(groupCol).as("g"), col(itemCol).as("a")).distinct())
    val worst = g.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx")).head()
    if (!worst.isNullAt(0)) {
      val mx = worst.getLong(0)
      require(mx <= maxGroupSize,
        s"coOccurrenceEdges: largest $groupCol group has $mx distinct items " +
          s"(cap $maxGroupSize) — the per-group self-join would emit ~${mx * mx} " +
          "pairs for that group alone; cap or sample baskets upstream, or raise maxGroupSize")
    }
    // r16: a width-pin on the self-join (the r15 keyed-repartition
    // pattern) was MEASURED AND REJECTED here: forcing
    // hashpartitioning(g) on both legs turned the broadcast self-join
    // into a sorted two-exchange SMJ (edge-build task time 8.2 → 16.4 s
    // at sf0.1). That broadcast came from the pin's 6 MB pre-checkpoint
    // estimate; measured, the sf0.1 frame is 14.4 MB (599,935 rows ×
    // 24 B), over the default 10 MB threshold, so the planner now picks
    // the shuffled self-join there (it still broadcasts at sf0.01).
    //
    // r16 (guide §2.3 — shuffle fewer bytes): dedup the ORIENTED pair
    // (a < b) and mirror after, instead of deduping both directions.
    // The self-join emits each unordered pair once instead of twice,
    // so the distinct's exchange carries HALF the rows/bytes; the
    // mirror union is two projections of the same aggregate whose
    // exchange AQE reuses (one map side, verified in the plan). The
    // symmetric output SET is identical: mirror∘distinct ≡
    // distinct∘mirror on a<b pairs.
    val uniq = g.join(g.withColumnRenamed("a", "b"), Seq("g"))
      .where(col("a") < col("b"))
      .select(col("a").as("src"), col("b").as("dst")).distinct()
    uniq.unionByName(
      uniq.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Fixed-point integer PageRank. Every node starts at `base`
    * micro-rank units; one iteration is
    *
    *   rank'(v) = base·(den−num)/den  +  num·Σ_{u→v} (rank(u) div outdeg(u)) div den
    *
    * with ALL divisions integer floor-divisions (num/den = damping,
    * default 85/100). Dangling nodes keep the teleport term only (their
    * outgoing mass is dropped — the standard simplification; at these
    * magnitudes it shifts totals, not orderings). The trajectory is a
    * pure function of (edges, iters, base, num, den) — an unrolled SQL
    * replay produces identical BIGINTs.
    *
    * Scale: per iteration ONE shuffle of (dst, contrib) pairs into the
    * aggregate; the edge plan is pinned once so no round re-runs the
    * edge build, and the node-sized rank frame (id + two
    * longs) broadcasts into the edge join while it fits the planner's
    * threshold. O(iters) rounds, lineage cut per round.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, idCol: String,
      iters: Int = 3, base: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame =
    rankRounds(edges, nodes.select(col(idCol).as("id"), lit(base).as("rank")),
      idCol, iters, base, dampNum, dampDen,
      lit(base * (dampDen - dampNum) / dampDen))

  /** The round loop [[pageRank]] and [[pageRankPersonalized]] share.
    * `init` is the initial rank frame (id, …, rank); every column but
    * `rank` rides each round unchanged, and `teleport` is the per-node
    * teleport term over those columns. Emits (idCol, rank, rank_units).
    */
  private def rankRounds(edges: DataFrame, init: DataFrame, idCol: String,
      iters: Int, base: Long, dampNum: Long, dampDen: Long,
      teleport: Column): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen)
    val e = Pin(edges.select(col("src"), col("dst")))
    val outDeg = Pin(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // r16 (guide §2.3/§2.4): fold outdeg INTO the rank frame once, so
    // each round (a) probes ONE broadcast per edge instead of two and
    // (b) computes `rank div outdeg` once per NODE (in the node-sized
    // projection feeding the broadcast build) instead of once per EDGE
    // — the same BIGINT floor division on the same inputs, so every
    // contribution is bit-identical. Nodes without out-edges carry a
    // NULL outdeg and are filtered before the edge join — exactly the
    // rows the old inner join against outDeg dropped.
    var ranks = Pin(Pin(init)
      .join(outDeg.select(col("src").as("id"), col("outdeg")),
        Seq("id"), "left"))
    val carried = ranks.columns.filter(_ != "rank").map(col)
    for (_ <- 1 to iters) {
      // `div` (not `/`): BIGINT floor division on both engines — the
      // fixed-point contract. `/` would round through DOUBLE.
      val contribs = e
        .join(ranks.where(col("outdeg").isNotNull)
          .select(col("id").as("src"),
            expr("rank div outdeg").as("c")), Seq("src"))
        .select(col("dst").as("id"), col("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("in_sum"))
      ranks = Pin(ranks.select(carried: _*)
        .join(contribs, Seq("id"), "left")
        .withColumn("in2", coalesce(col("in_sum"), lit(0L)))
        .select(carried :+
          (teleport + expr(s"in2 * $dampNum div $dampDen")).as("rank"): _*))
    }
    ranks.select(col("id").as(idCol), col("rank"),
      (col("rank") / lit(base.toDouble)).as("rank_units"))
  }

  /** Local clustering coefficient per node: triangles(v) over the
    * wedge count deg(v)·(deg(v)−1)/2 — "how much of my neighborhood
    * is itself connected", the community-tightness readout that
    * separates hub-of-strangers from clique-member at equal degree.
    * Pure composition: [[triangleCounts]] + one degree aggregate;
    * emitted as exact ppm via one floor division
    * (2·10⁶·tri div (d·(d−1))), NULL for degree < 2 (no wedge to
    * close). Products ride DECIMAL(38) — tri·10⁶ wraps LONG past
    * ~9.2e12 triangles/node.
    */
  def clusteringCoefficient(edges: DataFrame, nodes: DataFrame,
      idCol: String): DataFrame = {
    // r16: pin the caller's edge PLAN once — the degree aggregate below
    // used to read the RAW plan and re-executed the full co-occurrence
    // self-join (the r15 double-execution pattern, still live here:
    // Bench's stage rows show two extra stages, ~25 s task time at
    // sf0.1, rebuilding+re-deduping the pair set just to count degrees)
    val ed = Pin(edges.select(col("src"), col("dst")))
    // r16: the degree frame is the SAME aggregate triangleCountsPinned
    // pins internally — pass it in and read the pin twice instead of
    // aggregating twice (one 2.4M-row pass + exchange saved at sf0.1)
    val degP = pinnedDegrees(ed)
    val tri = triangleCountsPinned(ed, nodes, idCol, Some(degP))
    tri.join(degP.select(col("n").as(idCol), col("d").as("degree")),
        Seq(idCol), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("(cast(n_triangles as decimal(38,0)) * 2000000) " +
            "div (degree * (degree - 1))").cast("long")))
  }

  /** Degree assortativity: the Pearson correlation of (deg(u), deg(v))
    * over directed edge instances — positive means hubs link to hubs
    * (social-style), negative means hubs link to leaves
    * (infrastructure-style); the one-number mixing diagnostic for any
    * co-occurrence graph. Determinism: degrees are exact BIGINTs, the
    * five moments (m, Σx, Σy, Σxy, Σx², Σy²) are ONE exact integer
    * aggregate over the edge list (DECIMAL(38) carriers — Σd² wraps
    * LONG past ~3e9 edge-degree² mass), and r is a single fixed
    * double tree. On a symmetric edge list x/y marginals coincide;
    * the formula does not assume it.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // r15: the caller's edge PLAN fed both the degree agg and the join
    // chain — two executions of the co-occurrence self-join; pin once
    val ed = Pin(edges.select(col("src"), col("dst")))
    val deg = Pin(ed.groupBy(col("src").as("n")).agg(count(lit(1)).as("d")))
    val e = ed
      .join(deg.select(col("n").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("n").as("dst"), col("d").as("dy")), Seq("dst"))
    val m = e.agg(
      count(lit(1)).as("m"),
      sum(col("dx").cast(dec)).as("sx"),
      sum(col("dy").cast(dec)).as("sy"),
      sum(col("dx").cast(dec) * col("dy")).as("sxy"),
      sum(col("dx").cast(dec) * col("dx")).as("sxx"),
      sum(col("dy").cast(dec) * col("dy")).as("syy"))
    m.select(col("m"),
        col("sx").cast("double").as("sx"),
        col("sy").cast("double").as("sy"),
        col("sxy").cast("double").as("sxy"),
        col("sxx").cast("double").as("sxx"),
        col("syy").cast("double").as("syy"))
      .withColumn("mD", col("m").cast("double"))
      .select(col("m").as("n_edges"),
        ((col("sxy") / col("mD") -
          (col("sx") / col("mD")) * (col("sy") / col("mD"))) /
          (sqrt(col("sxx") / col("mD") -
            (col("sx") / col("mD")) * (col("sx") / col("mD"))) *
           sqrt(col("syy") / col("mD") -
            (col("sy") / col("mD")) * (col("sy") / col("mD")))))
          .as("assortativity"))
  }

  /** PERSONALIZED PageRank: teleport mass returns only to the seed
    * set, so rank measures proximity TO THE SEEDS along graph
    * structure — the "related items to this collection" / "expand
    * this trusted set" primitive (Haveliwala, WWW'02), where global
    * PageRank measures centrality. Same exact-integer fixed-point
    * discipline as [[pageRank]]:
    *
    *   r₀(v)    = base·[v ∈ S]
    *   rᵢ₊₁(v) = [v ∈ S]·(base·(den−num) div den)
    *              + num·Σ_{u→v}(rᵢ(u) div outdeg(u)) div den
    *
    * all floor divisions — the trajectory is a pure function of
    * (edges, seeds, iters) that the oracle unrolls. Non-seed nodes
    * unreachable from S in ≤ iters hops stay at exactly 0.
    *
    * Scale shape identical to pageRank (one contrib shuffle + one
    * node-sized join per round, lineage cut per round); the seed flag
    * rides the rank frame so no per-round membership join.
    */
  def pageRankPersonalized(edges: DataFrame, nodes: DataFrame,
      seeds: DataFrame, idCol: String, iters: Int = 3,
      base: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    val seedSet = seeds.select(col(idCol).as("id")).distinct()
      .withColumn("__seed", lit(1))
    val init = nodes.select(col(idCol).as("id"))
      .join(seedSet, Seq("id"), "left")
      .select(col("id"), coalesce(col("__seed"), lit(0)).as("__seed"),
        when(col("__seed").isNotNull, lit(base)).otherwise(lit(0L))
          .as("rank"))
    rankRounds(edges, init, idCol, iters, base, dampNum, dampDen,
      when(col("__seed") === 1, lit(base * (dampDen - dampNum) / dampDen))
        .otherwise(lit(0L)))
  }

  /** HITS hubs & authorities (Kleinberg, JACM'99) over a DIRECTED
    * graph — the bipartite ranking pair PageRank doesn't give you:
    * on a buyer→item graph, authority scores items endorsed by good
    * hubs and hub scores buyers who pick authoritative items.
    *
    * Exact-integer fixed point: each round computes raw sums then
    * MAX-normalizes to the 10⁶ grid with one floor division —
    *
    *   a'(v) = Σ_{u→v} h(u);  a(v) = (a'(v)·10⁶) div max a'
    *   h'(u) = Σ_{u→v} a(v);  h(u) = (h'(u)·10⁶) div max h'
    *
    * The max is a 1-row aggregate crossed back as a broadcast (the
    * denseGrid bounds pattern) — no driver loop state beyond the
    * round counter; the whole trajectory is a pure integer function
    * the oracle unrolls (L∞ normalization instead of the float L2 of
    * the original — documented spec deviation; rankings identical up
    * to the 10⁻⁶ grid).
    *
    * Scale shape per round: two edge-keyed join+aggregate passes
    * (shuffles carry (id, long) pairs), two 1-row max aggregates,
    * lineage cut per round.
    */
  def hits(edges: DataFrame, iters: Int = 3,
      base: Long = 1000000L): DataFrame = {
    require(iters >= 1 && base >= 1L)
    val e = Pin(edges.select(col("src"), col("dst")).distinct())
    val srcs = Pin(e.select(col("src")).distinct())
    val dsts = Pin(e.select(col("dst")).distinct())
    var hubs = Pin(srcs.select(col("src"), lit(base).as("h")))
    var auths = dsts.select(col("dst"), lit(base).as("a"))
    for (_ <- 1 to iters) {
      val rawA = e.join(hubs, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ra"))
      val maxA = rawA.agg(max(col("ra")).as("__ma"))
      auths = Pin(rawA.crossJoin(maxA)
        .select(col("dst"), expr(s"(cast(ra as decimal(38,0)) * ${base}L) div __ma")
          .cast("long").as("a")))
      val rawH = e.join(auths, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("rh"))
      val maxH = rawH.agg(max(col("rh")).as("__mh"))
      hubs = Pin(rawH.crossJoin(maxH)
        .select(col("src"), expr(s"(cast(rh as decimal(38,0)) * ${base}L) div __mh")
          .cast("long").as("h")))
    }
    srcs.select(col("src").as("id"), lit("hub").as("role"))
      .join(hubs.select(col("src").as("id"), col("h").as("score")),
        Seq("id"), "left")
      .unionByName(
        dsts.select(col("dst").as("id"), lit("authority").as("role"))
          .join(auths.select(col("dst").as("id"), col("a").as("score")),
            Seq("id"), "left"))
      .withColumn("score", coalesce(col("score"), lit(0L)))
  }

  /** Synchronous seeded label propagation — the semi-supervised
    * labeling primitive a curation pipeline runs over a similarity or
    * co-occurrence graph (propagate a small set of trusted labels —
    * topic, quality tier, license class — to the unlabeled majority).
    *
    * Semantics, pinned for cross-engine replay:
    *  - labels₀(n) = seed(n) where seeded, NULL elsewhere;
    *  - each iteration, every node takes the MAJORITY label of its
    *    currently-labeled in-neighbors (count DESC, tie → smallest
    *    label — realized as one `min(struct(-count, label))`, no
    *    per-node window);
    *  - seeds are CLAMPED (a seed never changes); a node with no
    *    labeled neighbor keeps its previous label;
    *  - output after `iters` rounds: every node, label −1 where still
    *    unlabeled (NULL-free output hashes identically everywhere).
    *
    * Scale shape per iteration (the pageRank discipline): one join of
    * edges against the CURRENT labeled frame (shuffles (id, label)
    * pairs — never adjacency), one (dst, label) count aggregate, one
    * per-node argmax aggregate, lineage cut by a Pin each round. With
    * synchronous updates and integer tie-breaks the whole trajectory
    * is deterministic — the oracle unrolls it round by round.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      nodes: DataFrame, idCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation needs iters >= 1")
    val e = Pin(edges.select(col("src"), col("dst")))
    val seedsN = Pin(seeds
      .select(col(idCol).cast("long").as("id"),
        col("label").cast("long").as("seed_label")))
    var labels = Pin(nodes.select(col(idCol).cast("long").as("id")).distinct()
      .join(seedsN, Seq("id"), "left")
      .select(col("id"), col("seed_label").as("label")))
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.where(col("label").isNotNull)
          .select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("vote"))
      labels = Pin(labels.join(votes, Seq("id"), "left")
        .join(seedsN, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("seed_label"), col("vote"), col("label")).as("label")))
    }
    labels.select(col("id").as(idCol),
      coalesce(col("label"), lit(-1L)).as("label"))
  }

  /** Per-node triangle counts over an undirected simple graph given as
    * symmetric (src, dst) edges. Orientation: each undirected edge is
    * kept once, low→high by (degree, id) — the classic trick that
    * bounds the wedge join by the max LOW-degree endpoint's degree, so
    * a celebrity hub never enumerates its own neighborhood squared.
    * Each triangle then exists exactly once as a<b<c in that order;
    * exploding its corners gives per-node counts.
    *
    * Both joins downstream of orientation (the wedge join and the
    * closure semi-join) build a SHUFFLE_HASH table on the oriented edge
    * list, by hint. Broadcasting it instead was measured slower on one
    * box (TriangleProfile, sf0.1, 49M wedges vs 1.2M oriented edges:
    * broadcast ~7.9 s vs shuffle ~6.7 s) — the wedge exchange is
    * memory-local there and cheaper than the broadcast build.
    *
    * Output: (idCol, n_triangles) for every node in `nodes` (0 for
    * triangle-free nodes).
    */
  def triangleCounts(edges: DataFrame, nodes: DataFrame,
      idCol: String): DataFrame =
    // r15: pin the caller's edge plan — it fed the degree agg AND the
    // orientation join (two executions of the co-occurrence self-join)
    triangleCountsPinned(Pin(edges.select(col("src"), col("dst"))), nodes,
      idCol)

  /** Node degree frame over a pinned symmetric edge frame, pinned:
    * (n, d). Shared between triangle counting and its callers.
    */
  private[graft] def pinnedDegrees(ed: DataFrame): DataFrame =
    Pin(ed.groupBy(col("src").as("n")).agg(count(lit(1)).as("d")))

  /** [[triangleCounts]] over an ALREADY-pinned (checkpointed) symmetric
    * edge frame — callers that also consume the edge frame themselves
    * (clusteringCoefficient's degree aggregate) share one
    * materialization instead of re-executing the caller's edge plan.
    */
  private[graft] def triangleCountsPinned(ed: DataFrame, nodes: DataFrame,
      idCol: String, degPinned: Option[DataFrame] = None): DataFrame = {
    // r16 (guide §3.1): the degree frame is NODE-sized; pinned, its
    // measured size lets both degree joins broadcast while it fits, so
    // the EDGE side never pays an exchange (un-pinned, the aggregate's
    // size was unknown: SMJ, a 22 MB edge exchange at sf0.1). The pin
    // also guarantees the aggregate runs once, not once per join.
    val deg = degPinned.getOrElse(pinnedDegrees(ed))
    // total order: (degree, id); keep each undirected edge low→high
    val withDeg = ed
      .join(deg.select(col("n").as("src"), col("d").as("ds")), Seq("src"))
      .join(deg.select(col("n").as("dst"), col("d").as("dd")), Seq("dst"))
    val oriented = Pin(withDeg.where(
        (col("ds") < col("dd")) ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("lo"), col("dst").as("hi")))
    // r15 OPTIMIZATION (guide §3.1): hint the oriented edge side
    // SHUFFLE_HASH — sort-merge was sorting the 49M-row WEDGE side
    // (measured 79 s task CPU / 478 MB exchange in one stage at sf0.1)
    // to join against 1.2M edges; the hash build on the edge side
    // streams wedges unsorted. A/B (TriangleJoinProbe, interleaved ×3,
    // identical output asserted): 8.43 → 6.38 s median. Cluster note:
    // build memory per task = the edge partition's hash table (16 B/row
    // + overhead); size spark.sql.shuffle.partitions so |E|/partitions
    // fits — the wedge side is the one that must never be the build,
    // and the hint pins that choice (a hint outranks the size-based
    // broadcast, so the pin's measured size does not flip it).
    //
    // r16 MEASURED AND REJECTED locally (TriangleClosureProbe,
    // interleaved ×5, identity-asserted): broadcasting the EDGE side of
    // the closure semi-join removes the wedge exchange (542 MB at
    // sf0.1, keyed (a,c) — a key the wedge join cannot satisfy) but
    // measured med 10.76 s vs 7.03 s for the shuffled closure. The
    // mechanism: the shuffled shape's per-partition hash build is
    // CACHE-RESIDENT (|E|/partitions ≈ 37k entries), while a 1.2M-entry
    // broadcast map makes every one of the 49M wedge probes a cache
    // miss — and locally the exchange is memory-local and cheap. On a
    // real cluster the 542 MB crosses the network and the trade flips.
    // hint kept: without it the wedge join sorts the wedge side (above)
    val edgeSide = oriented.hint("shuffle_hash")
    // r16 MEASURED AND REJECTED (TriangleWidthProbe, interleaved ×7
    // alternating order, identity-asserted): pinning the wedge join's
    // stream leg at planner width (the amplification-blind-spot width
    // pin — AQE coalesces the ~11 MB inputs to half the cores while the
    // stage emits 542 MB of wedges) measured a WASH (med 7.50 vs
    // 7.59 s). The wedge stage's wall is its skewed MAX task (per-task
    // cost ∝ Σ deg(lo) of its keys), which doubling the task count
    // does not split — unlike the r15 pin sites, where per-row cost was
    // uniform. Keyed-exchange pin left out; AQE's coalesce stands.
    // wedges from the LOW endpoint, closed by an oriented edge b→c
    val tri = oriented.as("e1")
      .join(edgeSide.as("e2"), col("e1.hi") === col("e2.lo"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
      .join(edgeSide.as("e3"),
        col("a") === col("e3.lo") && col("c") === col("e3.hi"), "left_semi")
    val corner = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    nodes.select(col(idCol).as("id")).distinct()
      .join(corner, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Multi-source BFS levels: the hop distance (≤ maxHops) from the
    * nearest seed, over directed (src, dst) edges — the graph-traversal
    * primitive (k-hop neighborhoods, blast-radius, contamination reach
    * through a link graph) the fixed-point operators above don't cover.
    *
    * Semantics: hop(n) = 0 for seeds; else the minimum i ≤ maxHops
    * with an edge path of length i from any seed. Nodes beyond
    * maxHops are absent from the output. Min-hop is order-independent,
    * so the trajectory is deterministic and an oracle can unroll it.
    *
    * Scale shape per hop (the pageRank discipline): one equi-join of
    * edges against the CURRENT frontier (ids only cross the exchange —
    * never adjacency lists), one distinct, one anti-join against the
    * union of the hops pinned so far, lineage cut by ONE Pin per hop
    * (the hop's new nodes — the reached set is never re-copied; the
    * output unions the per-hop pins once). Frontiers shrink as the
    * reached set saturates; a 10⁹-edge graph pays ~3 id-keyed
    * shuffles per hop regardless of hub degree.
    */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, idCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "bfsLevels needs maxHops >= 1")
    val e = Pin(edges.select(col("src"), col("dst")))
    // one pin per hop: (id, hop) of the nodes first reached at that hop
    var hops = Vector(Pin(seeds.select(col(idCol).cast("long").as("id"))
      .distinct().withColumn("hop", lit(0))))
    for (i <- 1 to maxHops) {
      val next = Pin(e
        .join(hops.last.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(hops.map(_.select(col("id"))).reduce(_ unionByName _),
          Seq("id"), "left_anti")
        .withColumn("hop", lit(i)))
      hops :+= next
    }
    hops.reduce(_ unionByName _).select(col("id").as(idCol), col("hop"))
  }

  /** k-core membership by bounded synchronous peeling: each round
    * drops every node whose degree among SURVIVORS is < k; nodes
    * remaining after `iters` rounds are (an over-approximation of) the
    * k-core, exact once a round removes nothing. Fixed-round contract
    * like [[connectedComponents]] — deterministic, so an oracle can
    * unroll the rounds; callers size `iters` to the expected peeling
    * depth (degeneracy cascades are shallow on heavy-tailed graphs).
    * Running one round more and comparing shows whether `iters`
    * reached the exact core (GraphSpec does this on gate data).
    *
    * Shape at scale: per round, two survivor semi-joins over the edge
    * list (survivor frame is node-sized ids — broadcasts while it
    * fits) + one degree count agg; lineage cut per round. Emits
    * (idCol, in_core 0/1) for EVERY input node.
    */
  def kCore(edges: DataFrame, nodes: DataFrame, idCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "kCore needs k >= 1, iters >= 1")
    val e = Pin(edges.select(col("src"), col("dst")))
    val all = Pin(nodes.select(col(idCol).cast("long").as("id")).distinct())
    var survivors = all
    for (_ <- 1 to iters) {
      val deg = e
        .join(survivors.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(survivors.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("__deg"))
      survivors = Pin(survivors
        .join(deg.where(col("__deg") >= k), Seq("id"), "left_semi"))
    }
    all
      .join(survivors.select(col("id"), lit(1).as("__in")), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__in"), lit(0)).cast("int").as("in_core"))
  }

  /** Connected components by synchronous min-label propagation
    * (HashMin): every node starts labeled with its own id; each round
    * takes the min over itself and its neighbors' labels. After
    * diameter rounds every node carries its component's minimum id —
    * the canonical component label. Fixed-round contract: exactly
    * `iters` rounds, so an oracle can unroll them; a component whose
    * label-propagation diameter exceeds `iters` reports as several.
    * Exact components with a loud cap are [[graft.text.Dedup]]'s
    * `nearDupClusters` (pointer jumping, O(log diameter) rounds).
    *
    * Shape at scale: one (dst ← min label) keyed shuffle per round
    * over the edge list, the label frame is node-sized (two longs),
    * lineage cut per round (a Pin — the BFS/PageRank
    * pattern). O(diameter) rounds; co-purchase-style graphs with a
    * giant dense component have tiny diameters, the favorable case.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      idCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "connectedComponents needs iters >= 1")
    val e = Pin(edges.select(col("src"), col("dst")))
    var labels = Pin(nodes.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("label", col("id")))
    for (_ <- 1 to iters) {
      val msgs = e
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nbr"))
      labels = Pin(labels.join(msgs, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label")))
            .as("label")))
    }
    labels.select(col("id").as(idCol), col("label").as("component"))
  }
}
