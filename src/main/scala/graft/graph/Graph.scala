package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators for corpus/catalog-shaped data — link analysis over
  * co-occurrence graphs (which items matter, which documents are hubs)
  * and local clustering structure (triangles). The reference has no
  * graph surface; this family extends the curation engine the same way
  * the dedup connected-components loop does (text/Dedup.scala:
  * nearDupClusters), and reuses its iterative-plan discipline:
  * localCheckpoint every round (lineage doubles per iteration
  * otherwise), the edge plan materialized once per operator so no
  * round re-runs the edge build (see pinEdges for why the checkpoint
  * deliberately carries NO pre-partitioning).
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
    val g = df.select(col(groupCol).as("g"), col(itemCol).as("a")).distinct()
      .localCheckpoint(true)
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
    // pattern) was MEASURED AND REJECTED here — the checkpointed
    // (group, item) frame broadcasts (6 MB < 10 MB threshold), so the
    // self-join is already exchange-free; forcing hashpartitioning(g)
    // on both legs demoted it to a sorted two-exchange SMJ (edge-build
    // task time 8.2 → 16.4 s at sf0.1). The broadcast self-join at
    // modest width IS the cheap shape.
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
    * aggregate plus the rank/edge join exchanges; the edge plan is
    * materialized once (pinEdges) so no round re-runs the edge build.
    * Rank frame is node-sized (id + long). O(iters) rounds, lineage
    * cut per round.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, idCol: String,
      iters: Int = 3, base: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen)
    // r15: edge plan materialized ONCE (no pre-partitioning — see the
    // pinEdges doc for why a pre-checkpoint repartition can never
    // satisfy the per-round join requirement under AQE)
    val e = pinEdges(edges)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val teleport = base * (dampDen - dampNum) / dampDen
    var ranks = nodes.select(col(idCol).as("id"), lit(base).as("rank"))
      .localCheckpoint(true)
    // node-frame broadcast rung (see maxBroadcastNodes): node count is
    // a block-scan count on the fresh checkpoint
    val nb: DataFrame => DataFrame =
      if (ranks.count() <= maxBroadcastNodes(edges.sparkSession)) broadcast
      else identity
    // r16 (guide §2.3/§2.4): fold outdeg INTO the rank frame once, so
    // each round (a) probes ONE broadcast per edge instead of two and
    // (b) computes `rank div outdeg` once per NODE (in the node-sized
    // projection feeding the broadcast build) instead of once per EDGE
    // — the same BIGINT floor division on the same inputs, so every
    // contribution is bit-identical. Nodes without out-edges carry a
    // NULL outdeg and are filtered before the edge join — exactly the
    // rows the old inner join against outDeg dropped.
    ranks = ranks
      .join(nb(outDeg.select(col("src").as("id"), col("outdeg"))),
        Seq("id"), "left")
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      // `div` (not `/`): BIGINT floor division on both engines — the
      // fixed-point contract. `/` would round through DOUBLE.
      val contribs = e
        .join(nb(ranks.where(col("outdeg").isNotNull)
          .select(col("id").as("src"),
            expr("rank div outdeg").as("c"))), Seq("src"))
        .select(col("dst").as("id"), col("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("in_sum"))
      ranks = ranks.select(col("id"), col("outdeg"))
        .join(nb(contribs), Seq("id"), "left")
        .withColumn("in2", coalesce(col("in_sum"), lit(0L)))
        .select(col("id"), col("outdeg"),
          (lit(teleport) + expr(s"in2 * $dampNum div $dampDen")).as("rank"))
        .localCheckpoint(true)
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
    // StageBreakdown measured two extra stages, ~25 s task time at
    // sf0.1, rebuilding+re-deduping the pair set just to count degrees)
    val ed = pinEdges(edges)
    // r16: the degree frame is the SAME aggregate triangleCountsPinned
    // pins internally — pass it in and read the pin twice instead of
    // aggregating twice (one 2.4M-row pass + exchange saved at sf0.1)
    val degP = pinnedDegrees(ed)
    val tri = triangleCountsPinned(ed, nodes, idCol, 0L, Some(degP))
    val db: DataFrame => DataFrame =
      if (degP.count() <= maxBroadcastNodes(ed.sparkSession)) broadcast
      else identity
    tri.join(db(degP.select(col("n").as(idCol), col("d").as("degree"))),
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
    val ed = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val deg = ed.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
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
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen)
    // r15: edge plan materialized ONCE, no pre-partitioning (pinEdges doc)
    val e = pinEdges(edges)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val teleport = base * (dampDen - dampNum) / dampDen
    val seedSet = seeds.select(col(idCol).as("id")).distinct()
      .withColumn("__seed", lit(1))
    var ranks = nodes.select(col(idCol).as("id"))
      .join(seedSet, Seq("id"), "left")
      .select(col("id"), coalesce(col("__seed"), lit(0)).as("__seed"),
        when(col("__seed").isNotNull, lit(base)).otherwise(lit(0L))
          .as("rank"))
      .localCheckpoint(true)
    // node-frame broadcast rung (see maxBroadcastNodes)
    val nb: DataFrame => DataFrame =
      if (ranks.count() <= maxBroadcastNodes(edges.sparkSession)) broadcast
      else identity
    // r16: outdeg folded into the rank frame — one broadcast probe per
    // edge per round, division per NODE not per edge (see pageRank)
    ranks = ranks
      .join(nb(outDeg.select(col("src").as("id"), col("outdeg"))),
        Seq("id"), "left")
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = e
        .join(nb(ranks.where(col("outdeg").isNotNull)
          .select(col("id").as("src"),
            expr("rank div outdeg").as("c"))), Seq("src"))
        .select(col("dst").as("id"), col("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("in_sum"))
      ranks = ranks.select(col("id"), col("__seed"), col("outdeg"))
        .join(nb(contribs), Seq("id"), "left")
        .withColumn("in2", coalesce(col("in_sum"), lit(0L)))
        .select(col("id"), col("__seed"), col("outdeg"),
          (when(col("__seed") === 1, lit(teleport)).otherwise(lit(0L)) +
            expr(s"in2 * $dampNum div $dampDen")).as("rank"))
        .localCheckpoint(true)
    }
    ranks.select(col("id").as(idCol), col("rank"),
      (col("rank") / lit(base.toDouble)).as("rank_units"))
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
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val srcs = e.select(col("src")).distinct().localCheckpoint(true)
    val dsts = e.select(col("dst")).distinct().localCheckpoint(true)
    var hubs = srcs.select(col("src"), lit(base).as("h"))
      .localCheckpoint(true)
    var auths = dsts.select(col("dst"), lit(base).as("a"))
    // node-frame broadcast rung (see maxBroadcastNodes); hub and auth
    // frames are bounded by the larger endpoint set
    val cap = maxBroadcastNodes(edges.sparkSession)
    val nb: DataFrame => DataFrame =
      if (math.max(srcs.count(), dsts.count()) <= cap) broadcast
      else identity
    for (_ <- 1 to iters) {
      val rawA = e.join(nb(hubs), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ra"))
      val maxA = rawA.agg(max(col("ra")).as("__ma"))
      auths = rawA.crossJoin(broadcast(maxA))
        .select(col("dst"), expr(s"(cast(ra as decimal(38,0)) * ${base}L) div __ma")
          .cast("long").as("a"))
        .localCheckpoint(true)
      val rawH = e.join(nb(auths), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("rh"))
      val maxH = rawH.agg(max(col("rh")).as("__mh"))
      hubs = rawH.crossJoin(broadcast(maxH))
        .select(col("src"), expr(s"(cast(rh as decimal(38,0)) * ${base}L) div __mh")
          .cast("long").as("h"))
        .localCheckpoint(true)
    }
    srcs.select(col("src").as("id"), lit("hub").as("role"))
      .join(nb(hubs.select(col("src").as("id"), col("h").as("score"))),
        Seq("id"), "left")
      .unionByName(
        dsts.select(col("dst").as("id"), lit("authority").as("role"))
          .join(nb(auths.select(col("dst").as("id"), col("a").as("score"))),
            Seq("id"), "left"))
      .withColumn("score", coalesce(col("score"), lit(0L)))
  }

  /** r15 OPTIMIZATION (guide §2.4 — pay each pass once): iterative
    * operators reference their edge frame once or twice PER ROUND, and
    * the graph queries pass a raw co-occurrence PLAN (per-group
    * self-join, ~2 s task CPU / 24 MB at sf0.1) — labelprop re-ran it
    * 3×, kCore 6× (two semi-joins per round). Materialize ONCE,
    * pre-partitioned on the per-round join key so at scale only the
    * node-sized frame moves per round (the pageRank discipline, now
    * uniform across the family). StageBreakdown before/after on
    * q_copurchase_labelprop: three 23.9 MB edge-build stages → one.
    *
    * NO pre-repartition on the join key — measured (r15): under AQE,
    * `Dataset.localCheckpoint` captures the physical plan's
    * partitioning as UnknownPartitioning(0) (the adaptive plan's
    * partitioning is not final when the checkpoint snapshots it), so a
    * repartition before the checkpoint can never satisfy a downstream
    * join requirement — it is a pure extra exchange. pageRank carried
    * exactly that dead repartition since round 7 ("edges never move
    * again" — they moved every round). The honest per-round cost at
    * scale is therefore one edge-side exchange per round when the
    * node frame outgrows broadcast; locally the node side broadcasts
    * and the checkpoint scan fuses straight into the join.
    */
  // r16: MEMORY_AND_DISK_SER for this pin was measured and rejected —
  // the edge frame is re-read ~4× per operator (outDeg + one join per
  // round) and the per-read deserialize tax outweighed the smaller
  // store (pagerank wall ~3.7-4.0 → 4.1-4.3 s). Deserialized rows are
  // right for many-read pins; SER is for build-once/read-few giants
  // (the Dedup shingle-frame discipline).
  private def pinEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst")).localCheckpoint(true)

  /** r16 OPTIMIZATION (guide §3.1 — pick the join strategy
    * deliberately): broadcast rung for NODE-SIZED per-round frames
    * (ranks, labels, frontiers, survivors — a few longs per node).
    *
    * Why the planner doesn't do it alone: every per-round frame is a
    * localCheckpoint LogicalRDD, whose size statistics are UNKNOWN to
    * the static planner — so each round's edges⋈state join planned as
    * a full two-sided shuffle, and even when AQE converted it to a
    * broadcast join at runtime the edge-side exchange had already been
    * submitted: StageBreakdown on q_copurchase_pagerank measured a
    * 22 MB edge shuffle WRITE per round (3.5 s of 16-task time/round)
    * for a 115 KB rank frame. With the explicit rung the edge
    * checkpoint scan fuses straight into the broadcast join + partial
    * aggregate — zero edge bytes move per round.
    *
    * The rung is the triangleCounts maxBroadcastEdges convention: the
    * deciding count is a block-scan over an already-checkpointed frame
    * (~ms), the threshold is `spark.graft.graph.maxBroadcastNodes`
    * (default 10M nodes ≈ 160 MB built relation — inside the "few
    * hundred MB is fine" broadcast envelope, far under the 8 GB/512M-row
    * hard cap). Past the threshold the shape falls back to the shuffled
    * join — the honest cost at 10⁹-node scale, where per-round state
    * outgrows every executor. Both rungs run the same joins; output
    * identical.
    */
  private[graft] def maxBroadcastNodes(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.maxBroadcastNodes")
      .map(_.toLong).getOrElse(10000000L)

  /** r16 rung: max ORIENTED edge count triangleCounts broadcasts into
    * the closure semi-join (16 B/row of longs — 10M edges ≈ 160 MB
    * built relation, the maxBroadcastNodes envelope). Default 0 = the
    * shuffled closure: measured FASTER locally (TriangleClosureProbe —
    * cache-resident partitioned builds beat a 1.2M-entry broadcast
    * probe map); raise on a cluster where the wedge exchange crosses
    * the network.
    */
  private[graft] def maxBroadcastClosureEdges(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.maxBroadcastClosureEdges")
      .map(_.toLong).getOrElse(0L)

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
    * per-node argmax aggregate, lineage cut via localCheckpoint. With
    * synchronous updates and integer tie-breaks the whole trajectory
    * is deterministic — the oracle unrolls it round by round.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      nodes: DataFrame, idCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation needs iters >= 1")
    val e = pinEdges(edges)
    val seedsN = seeds
      .select(col(idCol).cast("long").as("id"),
        col("label").cast("long").as("seed_label"))
      .localCheckpoint(true)
    var labels = nodes.select(col(idCol).cast("long").as("id")).distinct()
      .join(seedsN, Seq("id"), "left")
      .select(col("id"), col("seed_label").as("label"))
      .localCheckpoint(true)
    // node-frame broadcast rung (see maxBroadcastNodes)
    val nb: DataFrame => DataFrame =
      if (labels.count() <= maxBroadcastNodes(edges.sparkSession)) broadcast
      else identity
    for (_ <- 1 to iters) {
      val votes = e
        .join(nb(labels.where(col("label").isNotNull)
          .select(col("id").as("src"), col("label"))), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("vote"))
      labels = labels.join(nb(votes), Seq("id"), "left")
        .join(nb(seedsN), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("seed_label"), col("vote"), col("label")).as("label"))
        .localCheckpoint(true)
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
    * Join rung: `maxBroadcastEdges` > 0 broadcasts the ORIENTED edge
    * list (16 B/row of longs) into BOTH the wedge join and the closure
    * semi-join — everything downstream of orientation goes map-side,
    * zero wedge shuffle. Measured A/B (TriangleProfile, sf0.1, 49M
    * wedges vs 1.2M oriented edges, same JVM): broadcast ~7.9 s vs
    * shuffle ~6.7 s typical — on a single box the wedge exchange is
    * memory-local and CHEAPER than the broadcast build, so the default
    * stays 0 (shuffle; also Spark's own choice at this relation size).
    * Raise it on a real cluster where the ~24 B × wedges exchange
    * crosses the network and the oriented edge list fits executor
    * memory. Both rungs are the same joins — output identical
    * (GraphSpec asserts it). The count that decides is free:
    * `oriented` is already checkpoint-materialized.
    *
    * Output: (idCol, n_triangles) for every node in `nodes` (0 for
    * triangle-free nodes).
    */
  def triangleCounts(edges: DataFrame, nodes: DataFrame,
      idCol: String, maxBroadcastEdges: Long = 0L): DataFrame =
    // r15: pin the caller's edge plan — it fed the degree agg AND the
    // orientation join (two executions of the co-occurrence self-join)
    triangleCountsPinned(pinEdges(edges), nodes, idCol, maxBroadcastEdges)

  /** Node degree frame over a pinned symmetric edge frame, pinned:
    * (n, d). Shared between triangle counting and its callers.
    */
  private[graft] def pinnedDegrees(ed: DataFrame): DataFrame =
    ed.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)

  /** [[triangleCounts]] over an ALREADY-pinned (checkpointed) symmetric
    * edge frame — callers that also consume the edge frame themselves
    * (clusteringCoefficient's degree aggregate) share one
    * materialization instead of re-executing the caller's edge plan.
    */
  private[graft] def triangleCountsPinned(ed: DataFrame, nodes: DataFrame,
      idCol: String, maxBroadcastEdges: Long = 0L,
      degPinned: Option[DataFrame] = None): DataFrame = {
    // r16 (guide §3.1): the degree frame is NODE-sized; pin it and
    // broadcast it under the node rung. Un-pinned, the two degree
    // joins below were statically planned as SMJ (the aggregate's size
    // is unknown) and the EDGE side paid a 22 MB exchange + an extra
    // materialization pass at sf0.1 even though AQE converted the join
    // at runtime (the stats-blind checkpoint mechanism, same as the
    // per-round rungs). The pin also guarantees the aggregate runs
    // once, not once per broadcast build.
    val deg = degPinned.getOrElse(pinnedDegrees(ed))
    val db: DataFrame => DataFrame =
      if (deg.count() <= maxBroadcastNodes(ed.sparkSession)) broadcast
      else identity
    // total order: (degree, id); keep each undirected edge low→high
    val withDeg = ed
      .join(db(deg.select(col("n").as("src"), col("d").as("ds"))), Seq("src"))
      .join(db(deg.select(col("n").as("dst"), col("d").as("dd"))), Seq("dst"))
    val oriented = withDeg.where(
        (col("ds") < col("dd")) ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("lo"), col("dst").as("hi"))
      .localCheckpoint(true)
    // r15 OPTIMIZATION (guide §3.1): in the shuffle rung, hint the
    // oriented edge side SHUFFLE_HASH — sort-merge was sorting the
    // 49M-row WEDGE side (measured 79 s task CPU / 478 MB exchange in
    // one stage at sf0.1) to join against 1.2M edges; the hash build
    // on the edge side streams wedges unsorted. A/B (TriangleJoinProbe,
    // interleaved ×3, identical output asserted): 8.43 → 6.38 s median.
    // Cluster note: build memory per task = the edge partition's hash
    // table (16 B/row + overhead); size spark.sql.shuffle.partitions so
    // |E|/partitions fits the same way the broadcast rung sizes
    // maxBroadcastEdges — the wedge side is the one that must never be
    // the build, and the hint pins that choice.
    val nEdges = oriented.count()
    val edgeSide =
      if (maxBroadcastEdges > 0L && nEdges <= maxBroadcastEdges)
        broadcast(oriented)
      else oriented.hint("shuffle_hash")
    // r16 MEASURED AND REJECTED locally (TriangleClosureProbe,
    // interleaved ×5, identity-asserted): broadcasting the EDGE side of
    // the closure semi-join removes the wedge exchange (542 MB at
    // sf0.1, keyed (a,c) — a key the wedge join cannot satisfy) but
    // measured med 10.76 s vs 7.03 s for the shuffled closure. The
    // mechanism: the shuffled shape's per-partition hash build is
    // CACHE-RESIDENT (|E|/partitions ≈ 37k entries), while a 1.2M-entry
    // broadcast map makes every one of the 49M wedge probes a cache
    // miss — and locally the exchange is memory-local and cheap. On a
    // real cluster the 542 MB crosses the network and the trade flips;
    // `spark.graft.graph.maxBroadcastClosureEdges` (default 0 = the
    // measured-faster shuffled closure) is the deployment knob, the
    // maxBroadcastEdges convention.
    val closureSide = {
      val cap = maxBroadcastClosureEdges(ed.sparkSession)
      if (cap > 0L && nEdges <= cap) broadcast(oriented)
      else edgeSide
    }
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
      .join(closureSide.as("e3"),
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
    * reached set, lineage cut via localCheckpoint. Frontiers shrink as
    * the reached set saturates; a 10⁹-edge graph pays ~3 id-keyed
    * shuffles per hop regardless of hub degree.
    */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, idCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "bfsLevels needs maxHops >= 1")
    val e = pinEdges(edges) // r15: one edge materialize, not per hop
    var reached = seeds.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("hop", lit(0)).localCheckpoint(true)
    var frontier = reached.select(col("id"))
    // node-frame broadcast rung (see maxBroadcastNodes): reached and
    // frontier are bounded by the graph's node count, so the decision
    // re-checks the (checkpointed, block-scan-cheap) reached count per
    // hop — a frontier that outgrows the threshold falls back to the
    // shuffled join from that hop on
    val cap = maxBroadcastNodes(edges.sparkSession)
    for (i <- 1 to maxHops) {
      val nb: DataFrame => DataFrame =
        if (reached.count() <= cap) broadcast else identity
      val next = e
        .join(nb(frontier.select(col("id").as("src"))), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(nb(reached.select(col("id"))), Seq("id"), "left_anti")
        .withColumn("hop", lit(i))
        .localCheckpoint(true)
      reached = reached.unionByName(next).localCheckpoint(true)
      frontier = next.select(col("id"))
    }
    reached.select(col("id").as(idCol), col("hop"))
  }

  /** k-core membership by bounded synchronous peeling: each round
    * drops every node whose degree among SURVIVORS is < k; nodes
    * remaining after `iters` rounds are (an over-approximation of) the
    * k-core, exact once a round removes nothing. Fixed-round contract
    * like [[connectedComponents]] — deterministic, so an oracle can
    * unroll the rounds; callers size `iters` to the expected peeling
    * depth (degeneracy cascades are shallow on heavy-tailed graphs).
    *
    * Shape at scale: per round, two survivor semi-joins over the edge
    * list (survivor frame is node-sized ids — broadcasts while it
    * fits) + one degree count agg; lineage cut per round. Emits
    * (idCol, in_core 0/1) for EVERY input node.
    */
  def kCore(edges: DataFrame, nodes: DataFrame, idCol: String,
      k: Int, iters: Int, runToFixpoint: Boolean = false): DataFrame =
    kCoreWithRounds(edges, nodes, idCol, k, iters, runToFixpoint)._1

  /** [[kCore]] plus its exit state: (membership, rounds executed,
    * converged). `converged = true` means the LAST executed round
    * removed no node — the membership is the EXACT k-core, not the
    * bounded over-approximation. The convergence test is the same
    * bounded existence probe connectedComponents uses (limit-1 anti
    * join, never a full count); with `runToFixpoint = false` rounds
    * always run to `iters` and converged stays false (the fixed-round
    * contract an unrolled oracle replays). The gate-scale GraphSpec
    * probe uses this to assert q_kcore_membership's declared iters=3
    * actually reaches fixpoint on gate data — the hash against the
    * 3-round-unrolled oracle proves implementation-matches-spec; this
    * proves spec-matches-true-k-core.
    */
  def kCoreWithRounds(edges: DataFrame, nodes: DataFrame, idCol: String,
      k: Int, iters: Int, runToFixpoint: Boolean = false)
      : (DataFrame, Int, Boolean) = {
    require(k >= 1 && iters >= 1, "kCore needs k >= 1, iters >= 1")
    val e = pinEdges(edges) // r15: was re-built twice per round
    val all = nodes.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint(true)
    // node-frame broadcast rung (see maxBroadcastNodes)
    val nb: DataFrame => DataFrame =
      if (all.count() <= maxBroadcastNodes(edges.sparkSession)) broadcast
      else identity
    var survivors = all
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val deg = e
        .join(nb(survivors.select(col("id").as("src"))), Seq("src"), "left_semi")
        .join(nb(survivors.select(col("id").as("dst"))), Seq("dst"), "left_semi")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("__deg"))
      val next = survivors
        .join(nb(deg.where(col("__deg") >= k)), Seq("id"), "left_semi")
        .localCheckpoint(true)
      if (runToFixpoint)
        converged = survivors.join(next, Seq("id"), "left_anti")
          .limit(1).count() == 0L
      survivors = next
      round += 1
    }
    val out = all
      .join(survivors.select(col("id"), lit(1).as("__in")), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__in"), lit(0)).cast("int").as("in_core"))
    (out, round, converged)
  }

  /** Min-label HashMin with the convergence state SURFACED (the
    * kCoreWithRounds convention): returns (labels, rounds executed,
    * converged). With `runToFixpoint = false` the convergence probe
    * never runs, so `converged` stays false and rounds == iters — the
    * fixed-round unrolled-oracle contract.
    */
  def connectedComponentsWithRounds(edges: DataFrame, nodes: DataFrame,
      idCol: String, iters: Int,
      runToFixpoint: Boolean = false): (DataFrame, Int, Boolean) = {
    require(iters >= 1, "connectedComponents needs iters >= 1")
    val e = pinEdges(edges) // r15: one edge materialize, not per round
    var labels = nodes.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    // node-frame broadcast rung (see maxBroadcastNodes)
    val nb: DataFrame => DataFrame =
      if (labels.count() <= maxBroadcastNodes(edges.sparkSession)) broadcast
      else identity
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val msgs = e
        .join(nb(labels.select(col("id").as("src"), col("label"))), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nbr"))
      val next = labels.join(nb(msgs), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label")))
            .as("label"))
        .localCheckpoint(true)
      if (runToFixpoint)
        converged = next
          .join(labels.select(col("id"), col("label").as("__old")),
            Seq("id"))
          .where(col("label") =!= col("__old"))
          .limit(1).count() == 0L
      labels = next
      round += 1
    }
    (labels.select(col("id").as(idCol), col("label").as("component")),
      round, converged)
  }

  /** Connected components by synchronous min-label propagation
    * (HashMin): every node starts labeled with its own id; each round
    * takes the min over itself and its neighbors' labels. After
    * diameter rounds every node carries its component's minimum id —
    * the canonical component label. `runToFixpoint` stops early when a
    * round changes nothing (the convergence test is a bounded
    * existence probe — limit 1 — not a full count), with `iters` as
    * the hard cap.
    *
    * Shape at scale: one (dst ← min label) keyed shuffle per round
    * over the edge list, the label frame is node-sized (two longs),
    * lineage cut per round (localCheckpoint — the BFS/PageRank
    * pattern). O(diameter) rounds; co-purchase-style graphs with a
    * giant dense component have tiny diameters, the favorable case.
    *
    * `runToFixpoint = true` PROMISES exact component semantics, so a
    * run that exhausts `iters` still unconverged throws instead of
    * silently returning split clusters (r13 ADVICE) — raise `iters`
    * past the graph's label-propagation diameter, or call
    * [[connectedComponentsWithRounds]] to inspect the flag yourself.
    * With `runToFixpoint = false` this is the documented fixed-round
    * operator and never throws.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      idCol: String, iters: Int,
      runToFixpoint: Boolean = false): DataFrame = {
    val (labels, rounds, converged) = connectedComponentsWithRounds(
      edges, nodes, idCol, iters, runToFixpoint)
    if (runToFixpoint && !converged)
      throw new IllegalStateException(
        s"connectedComponents: runToFixpoint=true but the iteration cap " +
          s"($iters rounds) was exhausted before fixpoint — the labels " +
          "would be split clusters; raise iters or use " +
          "connectedComponentsWithRounds to handle partial convergence")
    labels
  }
}
