package graft.queries

import org.apache.spark.sql.functions._

import graft.graph.Graph
import graft.sources.Tables

/** Graph-analysis exhibits over the part co-purchase graph: parts are
  * nodes, an undirected edge joins two parts bought in the same order
  * (the basket co-occurrence graph — 2k nodes / 231k directed edges at
  * sf0.01, 20k / 2.4M at sf0.1). Both exhibits are deterministic by
  * construction — fixed-point integer PageRank and exact triangle
  * counts — so the DuckDB oracles replay them to identical values.
  */
object GraphQueries {

  /** Shared SQL prelude: dedup basket rows, build the symmetric edge
    * set, node list, degrees. Mirrors Graph.coOccurrenceEdges exactly.
    */
  private val sqlGraphCtes = """
      g AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS a FROM lineitem),
      e AS (
        SELECT DISTINCT x.a AS src, y.a AS dst
        FROM g x JOIN g y ON x.gk = y.gk AND x.a <> y.a),
      nodes AS (SELECT DISTINCT l_partkey AS id FROM lineitem)"""

  private val base = 1000000L
  private val iters = 3

  /** One unrolled PageRank step: rank_i from rank_{i-1}. HUGEINT
    * intermediates (DuckDB widens SUM) collapse back to BIGINT — the
    * values stay inside long range (total mass ≈ nodes·10⁶).
    */
  private def sqlPrStep(i: Int): String = s"""
      r$i AS (
        SELECT n.id,
          CAST(150000 + COALESCE(s.x, 0) * 85 // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS id, SUM(r.rank // d.outdeg) AS x
          FROM e JOIN r${i - 1} r ON r.id = e.src
          JOIN outdeg d ON d.src = e.src
          GROUP BY 1) s ON s.id = n.id)"""

  /** Fixed-point PageRank over the co-purchase graph, 3 iterations,
    * damping 85/100, base 10⁶ micro-rank units per node. The oracle
    * unrolls the exact integer trajectory (the k-means oracle pattern);
    * rank_units is the exact BIGINT over 10⁶ as a double.
    */
  private val qPageRank = QueryDef(
    "q_copurchase_pagerank",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      Graph.pageRank(edges, nodes, "l_partkey", iters = iters, base = base)
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      outdeg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
      r0 AS (SELECT id, CAST($base AS BIGINT) AS rank FROM nodes),
      ${(1 to iters).map(sqlPrStep).mkString(",")}
      SELECT id AS part_id, rank, rank / $base.0 AS rank_units
      FROM r$iters"""))

  /** One unrolled label-propagation step: majority vote of labeled
    * in-neighbors (count DESC, tie → smallest label), seeds clamped,
    * no-labeled-neighbor nodes keep their previous label.
    */
  private def sqlLpStep(i: Int): String = s"""
      v$i AS (
        SELECT e.dst AS id, l.label, COUNT(*) AS c
        FROM e JOIN lp${i - 1} l ON l.id = e.src
        WHERE l.label IS NOT NULL
        GROUP BY 1, 2),
      b$i AS (
        SELECT id, label AS vote FROM (
          SELECT id, label,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
          FROM v$i) WHERE rn = 1),
      lp$i AS (
        SELECT l.id, COALESCE(s.label, b.vote, l.label) AS label
        FROM lp${i - 1} l
        LEFT JOIN b$i b USING (id)
        LEFT JOIN seeds s USING (id))"""

  /** Seeded label propagation over the co-purchase graph
    * (Graph.labelPropagation) — the semi-supervised labeling
    * primitive: every 11th part is seeded with a 5-way label; three
    * synchronous majority-vote rounds spread the labels along basket
    * co-occurrence. Integer labels, exact counts, min-struct
    * tie-breaks → the oracle unrolls the trajectory round by round
    * (the PageRank oracle pattern).
    */
  private val qLabelProp = QueryDef(
    "q_copurchase_labelprop",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      val seeds = nodes.where(pmod(col("l_partkey"), lit(11)) === 0)
        .select(col("l_partkey"),
          pmod(col("l_partkey"), lit(5)).as("label"))
      Graph.labelPropagation(edges, seeds, nodes, "l_partkey", iters = iters)
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      seeds AS (
        SELECT id, id % 5 AS label FROM nodes WHERE id % 11 = 0),
      lp0 AS (
        SELECT n.id, s.label FROM nodes n LEFT JOIN seeds s USING (id)),
      ${(1 to iters).map(sqlLpStep).mkString(",")}
      SELECT id AS part_id,
        CAST(COALESCE(label, -1) AS BIGINT) AS label
      FROM lp$iters"""))

  /** Exact per-node triangle counts over the same graph,
    * degree-oriented (lo→hi by (degree, id)) so each triangle is
    * enumerated once from its lowest-degree corner — the orientation
    * that keeps the wedge join skew-safe under hub nodes.
    */
  private val qTriangles = QueryDef(
    "q_copurchase_triangles",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      Graph.triangleCounts(edges, nodes, "l_partkey")
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      deg AS (SELECT src AS n, COUNT(*) AS d FROM e GROUP BY 1),
      o AS (
        SELECT e.src AS lo, e.dst AS hi FROM e
        JOIN deg ds ON ds.n = e.src JOIN deg dd ON dd.n = e.dst
        WHERE ds.d < dd.d OR (ds.d = dd.d AND e.src < e.dst)),
      tri AS (
        SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        FROM o e1 JOIN o e2 ON e1.hi = e2.lo
        WHERE EXISTS (SELECT 1 FROM o e3
          WHERE e3.lo = e1.lo AND e3.hi = e2.hi)),
      corner AS (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri),
      cnt AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corner GROUP BY 1)
      SELECT n.id AS part_id, COALESCE(cnt.n_triangles, 0) AS n_triangles
      FROM nodes n LEFT JOIN cnt ON cnt.id = n.id"""))

  /** One unrolled BFS hop: the frontier's unseen neighbors at hop i. */
  private def sqlBfsStep(i: Int): String = s"""
      n$i AS (
        SELECT DISTINCT e.dst AS id
        FROM e JOIN r${i - 1} r ON r.id = e.src AND r.hop = ${i - 1}
        WHERE e.dst NOT IN (SELECT id FROM r${i - 1})),
      r$i AS (
        SELECT id, hop FROM r${i - 1}
        UNION ALL SELECT id, $i AS hop FROM n$i)"""

  /** Multi-source BFS reach (Graph.bfsLevels): hop distance ≤ 3 from
    * the seed parts (every 97th) through basket co-occurrence — the
    * k-hop blast-radius primitive. Min-hop levels are deterministic;
    * the oracle unrolls the frontier expansion hop by hop.
    */
  private val qBfs = QueryDef(
    "q_bfs_reachability",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val seeds = li.select(col("l_partkey")).distinct()
        .where(pmod(col("l_partkey"), lit(97)) === 0)
      Graph.bfsLevels(edges, seeds, "l_partkey", maxHops = 3)
        .withColumnRenamed("l_partkey", "part_id")
        .withColumn("hop", col("hop").cast("int"))
    },
    Some(s"""
      WITH $sqlGraphCtes,
      r0 AS (SELECT id, 0 AS hop FROM nodes WHERE id % 97 = 0),
      ${(1 to 3).map(sqlBfsStep).mkString(",")}
      SELECT id AS part_id, CAST(hop AS INT) AS hop FROM r3"""))

  /** Frequent-pair lift over order baskets (ops/Association.pairLift):
    * support/confidence/lift for part pairs co-ordered at least twice,
    * items below the frequency floor pruned BEFORE the pair join
    * (a-priori — an infrequent item can never join a frequent pair).
    * Counts are exact BIGINTs; lift = (n_ab·n)/(n_a·n_b) and
    * confidence = n_ab/n_a are one fixed double tree each.
    */
  private val qLift = QueryDef(
    "q_basket_lift",
    (s, d) => graft.ops.Association.pairLift(
      Tables.lineitem(s, d), "l_orderkey", "l_partkey",
      minItemCount = 2L, minPairCount = 2L),
    Some("""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      c AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1),
      f AS (SELECT * FROM c WHERE c >= 2),
      fg AS (SELECT g.g, g.i, f.c FROM g JOIN f USING (i)),
      p AS (
        SELECT a.i AS item_a, b.i AS item_b, a.c AS n_a, b.c AS n_b,
          CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM fg a JOIN fg b ON a.g = b.g AND a.i < b.i
        GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2),
      n AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n FROM g)
      SELECT item_a, item_b, n_ab, n_a, n_b,
        (CAST(n_ab AS DOUBLE) * n.n) / (CAST(n_a AS DOUBLE) * n_b) AS lift,
        CAST(n_ab AS DOUBLE) / n_a AS confidence
      FROM p, n"""))

  /** One unrolled HashMin round: every node takes the min over itself
    * and its neighbors' previous-round labels.
    */
  private def sqlCcStep(i: Int): String = s"""
      c$i AS (
        SELECT n.id, LEAST(n.label, COALESCE(m.minl, n.label)) AS label
        FROM c${i - 1} n LEFT JOIN (
          SELECT e.dst AS id, MIN(l.label) AS minl
          FROM e JOIN c${i - 1} l ON e.src = l.id
          GROUP BY 1) m ON m.id = n.id)"""

  /** Connected components over the co-purchase graph
    * (Graph.connectedComponents — synchronous min-label HashMin, one
    * keyed shuffle per round): the declared query pins the label state
    * after 3 rounds (the unrolled-trajectory oracle, same pattern as
    * PageRank/labelprop/BFS; a full-convergence oracle would need an
    * all-pairs closure DuckDB 1.0 can't express at sf0.1). GraphSpec
    * pins that 3 rounds give the true components on its path fixture,
    * against Dedup.nearDupClusters (exact, pointer jumping).
    */
  private val qComponents = QueryDef(
    "q_copurchase_components",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      Graph.connectedComponents(edges, nodes, "l_partkey", iters = 3)
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      c0 AS (SELECT id, id AS label FROM nodes),
      ${(1 to 3).map(sqlCcStep).mkString(",")}
      SELECT id AS part_id, label AS component FROM c3"""))

  /** One unrolled peeling round for the k-core oracle: degrees among
    * round-(i−1) survivors, keep nodes with degree >= k.
    */
  private def sqlKcStep(i: Int, k: Int): String = s"""
      kd$i AS (
        SELECT e.src AS id, COUNT(*) AS dg
        FROM e
        JOIN s${i - 1} a ON a.id = e.src
        JOIN s${i - 1} b ON b.id = e.dst
        GROUP BY 1),
      s$i AS (SELECT id FROM kd$i WHERE dg >= $k)"""

  /** k-core membership (Graph.kCore): bounded synchronous peeling —
    * every round drops nodes whose degree among survivors is below k
    * (here k = 60, 3 rounds over the co-purchase graph). The oracle
    * unrolls the exact peeling trajectory (the connectedComponents
    * pattern); output is (part, in_core 0/1) for every node, so the
    * row is non-vacuous at every SF regardless of how deep the peel
    * cuts.
    */
  private val qKCore = QueryDef(
    "q_kcore_membership",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      Graph.kCore(edges, nodes, "l_partkey", k = 60, iters = 3)
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      s0 AS (SELECT id FROM nodes),
      ${(1 to 3).map(sqlKcStep(_, 60)).mkString(",")}
      SELECT n.id AS part_id,
        CAST(CASE WHEN s3.id IS NULL THEN 0 ELSE 1 END AS INT) AS in_core
      FROM nodes n LEFT JOIN s3 ON s3.id = n.id"""))

  /** Item-item nearest neighbors (ops/Association.itemNeighbors):
    * "bought X, also bought Y" scored by SQUARED set cosine in ppm —
    * monotone in cosine, exact integer (no sqrt), DECIMAL(38)-safe
    * multiply. Same a-priori-pruned basket-keyed pair join as
    * q_basket_lift; ranking is one per-item window over that item's
    * candidates only.
    */
  private val qItemNeighbors = QueryDef(
    "q_item_neighbors",
    (s, d) => graft.ops.Association.itemNeighbors(
      Tables.lineitem(s, d), "l_orderkey", "l_partkey",
      k = 5, minItemCount = 2L, minPairCount = 2L),
    Some("""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      c AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1),
      f AS (SELECT * FROM c WHERE c >= 2),
      fg AS (SELECT g.g, g.i, f.c FROM g JOIN f USING (i)),
      p AS (
        SELECT a.i AS item_a, b.i AS item_b, a.c AS n_a, b.c AS n_b,
          CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM fg a JOIN fg b ON a.g = b.g AND a.i < b.i
        GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2),
      m AS (
        SELECT item_a, item_b, n_ab, n_a, n_b FROM p
        UNION ALL
        SELECT item_b, item_a, n_ab, n_b, n_a FROM p),
      sc AS (
        SELECT item_a AS item, item_b AS neighbor, n_ab,
          n_a AS n_item, n_b AS n_neighbor,
          (n_ab * n_ab * 1000000) // (n_a * n_b) AS cos2_ppm
        FROM m),
      rk AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
          ORDER BY cos2_ppm DESC, n_ab DESC, neighbor) AS INT) AS rank
        FROM sc)
      SELECT item, neighbor, n_ab, n_item, n_neighbor, cos2_ppm, rank
      FROM rk WHERE rank <= 5"""))

  /** TextRank keywords (Collocations.textRankKeywords): fixed-point
    * integer PageRank over the adjacent-token co-occurrence graph of
    * the documents corpus — keyword extraction as a graph composition
    * (Mihalcea & Tarau '04). Reuses the unrolled-trajectory PageRank
    * oracle steps verbatim (same relation names), with the graph CTEs
    * swapped for the token-adjacency build.
    */
  private val qTextRank = QueryDef(
    "q_textrank_keywords",
    (s, d) => graft.text.Collocations.textRankKeywords(
      Tables.documents(s, d), "text"),
    Some(s"""
      WITH tok AS (
        SELECT regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0),
      adj AS (
        SELECT unnest(list_transform(range(1, len(t)),
          i -> struct_pack(a := t[i], b := t[i+1]))) AS p
        FROM tok WHERE len(t) >= 2),
      fadj AS (
        SELECT p.a AS a, p.b AS b FROM adj
        WHERE p.a NOT IN ('the', 'a', 'of', 'and')
          AND p.b NOT IN ('the', 'a', 'of', 'and') AND p.a <> p.b),
      e AS (
        SELECT DISTINCT src, dst FROM (
          SELECT a AS src, b AS dst FROM fadj
          UNION ALL SELECT b, a FROM fadj)),
      nodes AS (SELECT DISTINCT src AS id FROM e),
      outdeg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
      r0 AS (SELECT id, CAST($base AS BIGINT) AS rank FROM nodes),
      ${(1 to iters).map(sqlPrStep).mkString(",")}
      SELECT id AS token, rank, rank / $base.0 AS rank_units
      FROM r$iters
      ORDER BY rank DESC, token LIMIT 50"""))

  /** One unrolled PERSONALIZED PageRank step: teleport only where the
    * node is a seed (the Haveliwala proximity variant — see
    * Graph.pageRankPersonalized).
    */
  private def sqlPprStep(i: Int): String = s"""
      p$i AS (
        SELECT n.id,
          CAST(CASE WHEN sd.id IS NOT NULL THEN 150000 ELSE 0 END
            + COALESCE(s.x, 0) * 85 // 100 AS BIGINT) AS rank
        FROM nodes n
        LEFT JOIN pseeds sd ON sd.id = n.id
        LEFT JOIN (
          SELECT e.dst AS id, SUM(r.rank // d.outdeg) AS x
          FROM e JOIN p${i - 1} r ON r.id = e.src
          JOIN outdeg d ON d.src = e.src
          GROUP BY 1) s ON s.id = n.id)"""

  /** Personalized PageRank from the mod-17 seed parts over the
    * co-purchase graph (Graph.pageRankPersonalized): rank = proximity
    * to the seed collection, exactly-0 where unreachable in ≤ 3 hops.
    * Oracle unrolls the seeded trajectory (the pageRank pattern with
    * a conditional teleport).
    */
  private val qPpr = QueryDef(
    "q_ppr_seeded",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      val seeds = nodes.where(pmod(col("l_partkey"), lit(17)) === 0)
      Graph.pageRankPersonalized(edges, nodes, seeds, "l_partkey",
        iters = iters, base = base)
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      pseeds AS (SELECT id FROM nodes WHERE id % 17 = 0),
      outdeg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
      p0 AS (
        SELECT n.id,
          CAST(CASE WHEN sd.id IS NOT NULL THEN $base ELSE 0 END
            AS BIGINT) AS rank
        FROM nodes n LEFT JOIN pseeds sd ON sd.id = n.id),
      ${(1 to iters).map(sqlPprStep).mkString(",")}
      SELECT id AS part_id, rank, rank / $base.0 AS rank_units
      FROM p$iters"""))

  /** A-priori frequent triples (Association.frequentTriples) over
    * (user, day) session baskets of event types: candidates from
    * frequent-pair prefix joins + closure semi-join, support counted
    * by extending |basket|²-bounded pair instances with ONE
    * (basket,item) equi-probe — never a |basket|³ self-join. The
    * oracle is the INDEPENDENT naive three-way-join formulation, so
    * the hash checks the candidate pruning kept every frequent triple.
    */
  private val qFreqTriples = QueryDef(
    "q_frequent_triples",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("session",
        concat_ws("-", col("user_id"), to_date(col("ts"))))
      graft.ops.Association.frequentTriples(
        ev, "session", "event_type", minSupport = 15L)
    },
    Some("""
      WITH g AS (
        SELECT DISTINCT user_id || '-' ||
          strftime(CAST(ts AS DATE), '%Y-%m-%d') AS g, event_type AS i
        FROM events),
      ic AS (SELECT i, COUNT(*) AS c FROM g GROUP BY 1),
      fi AS (SELECT i FROM ic WHERE c >= 15),
      fg AS (SELECT g.g, g.i FROM g JOIN fi USING (i)),
      p AS (
        SELECT a.i AS a, b.i AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM fg a JOIN fg b ON a.g = b.g AND a.i < b.i
        GROUP BY 1, 2 HAVING COUNT(*) >= 15),
      t AS (
        SELECT a.i AS a, b.i AS b, c.i AS c,
          CAST(COUNT(*) AS BIGINT) AS n_abc
        FROM fg a JOIN fg b ON a.g = b.g AND a.i < b.i
          JOIN fg c ON b.g = c.g AND b.i < c.i
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 15)
      SELECT t.a AS item_a, t.b AS item_b, t.c AS item_c, t.n_abc,
        pab.n_ab AS n_ab, pac.n_ab AS n_ac, pbc.n_ab AS n_bc,
        CAST((1000000 * t.n_abc) // pab.n_ab AS BIGINT) AS conf_ppm
      FROM t JOIN p pab ON pab.a = t.a AND pab.b = t.b
        JOIN p pac ON pac.a = t.a AND pac.b = t.c
        JOIN p pbc ON pbc.a = t.b AND pbc.b = t.c"""))

  /** One unrolled HITS round: raw in-sum then L∞ max-normalize to the
    * 10⁶ grid (one floor division; HUGEINT carrier for the product).
    */
  private def sqlHitsRound(i: Int): String = s"""
      a${i}r AS (
        SELECT dst, SUM(h) AS ra FROM be JOIN h${i - 1} USING (src)
        GROUP BY 1),
      a$i AS (
        SELECT dst, CAST((CAST(ra AS HUGEINT) * 1000000) //
          (SELECT MAX(ra) FROM a${i}r) AS BIGINT) AS a
        FROM a${i}r),
      h${i}r AS (
        SELECT src, SUM(a) AS rh FROM be JOIN a$i USING (dst)
        GROUP BY 1),
      h$i AS (
        SELECT src, CAST((CAST(rh AS HUGEINT) * 1000000) //
          (SELECT MAX(rh) FROM h${i}r) AS BIGINT) AS h
        FROM h${i}r)"""

  /** HITS on the bipartite buyer→part graph (Graph.hits): hubs are
    * customers whose baskets concentrate on authoritative parts,
    * authorities are parts endorsed by good hubs — the directed
    * ranking pair PageRank doesn't produce. Exact-integer L∞
    * normalization per round (spec deviation from the float L2
    * original, documented); the oracle unrolls all three rounds.
    */
  private val qHits = QueryDef(
    "q_hits_bipartite",
    (s, d) => {
      val be = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      Graph.hits(be, iters = iters)
    },
    Some(s"""
      WITH be AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h FROM be),
      ${(1 to iters).map(sqlHitsRound).mkString(",")}
      SELECT src AS id, 'hub' AS role, h AS score FROM h$iters
      UNION ALL
      SELECT dst AS id, 'authority' AS role, a AS score FROM a$iters"""))

  /** Local clustering coefficient (Graph.clusteringCoefficient):
    * triangles over wedges per node, exact ppm — hub-of-strangers vs
    * clique-member at equal degree. Composes the degree-oriented
    * triangle count with one degree aggregate; oracle extends the
    * triangle CTEs with the wedge division.
    */
  private val qClustering = QueryDef(
    "q_clustering_coefficient",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val nodes = li.select(col("l_partkey")).distinct()
      Graph.clusteringCoefficient(edges, nodes, "l_partkey")
        .withColumnRenamed("l_partkey", "part_id")
    },
    Some(s"""
      WITH $sqlGraphCtes,
      deg AS (SELECT src AS n, COUNT(*) AS d FROM e GROUP BY 1),
      o AS (
        SELECT e.src AS lo, e.dst AS hi FROM e
        JOIN deg ds ON ds.n = e.src JOIN deg dd ON dd.n = e.dst
        WHERE ds.d < dd.d OR (ds.d = dd.d AND e.src < e.dst)),
      tri AS (
        SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        FROM o e1 JOIN o e2 ON e1.hi = e2.lo
        WHERE EXISTS (SELECT 1 FROM o e3
          WHERE e3.lo = e1.lo AND e3.hi = e2.hi)),
      corner AS (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri),
      cnt AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corner GROUP BY 1)
      SELECT n.id AS part_id,
        COALESCE(cnt.n_triangles, 0) AS n_triangles,
        CAST(COALESCE(dg.d, 0) AS BIGINT) AS degree,
        CAST(CASE WHEN dg.d >= 2 THEN
          (COALESCE(cnt.n_triangles, 0) * 2000000) //
            (dg.d * (dg.d - 1)) END AS BIGINT) AS clustering_ppm
      FROM nodes n
      LEFT JOIN cnt ON cnt.id = n.id
      LEFT JOIN deg dg ON dg.n = n.id"""))

  /** Degree assortativity (Graph.degreeAssortativity): Pearson r of
    * endpoint degrees over edge instances — hubs-to-hubs vs
    * hubs-to-leaves mixing in one number. Five exact integer moments
    * in ONE aggregate, one fixed double tree.
    */
  private val qAssortativity = QueryDef(
    "q_degree_assortativity",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      Graph.degreeAssortativity(
        Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
    },
    Some(s"""
      WITH $sqlGraphCtes,
      deg AS (SELECT src AS n, COUNT(*) AS d FROM e GROUP BY 1),
      ed AS (
        SELECT dx.d AS dx, dy.d AS dy
        FROM e JOIN deg dx ON dx.n = e.src JOIN deg dy ON dy.n = e.dst),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
          CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy,
          CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
          CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
          CAST(SUM(dy * dy) AS DOUBLE) AS syy
        FROM ed)
      SELECT m AS n_edges,
        ((sxy / m - (sx / m) * (sy / m)) /
         (sqrt(sxx / m - (sx / m) * (sx / m)) *
          sqrt(syy / m - (sy / m) * (sy / m)))) AS assortativity
      FROM m"""))

  def all: Seq[QueryDef] = Seq(qPageRank, qLabelProp, qTriangles, qBfs, qLift,
    qComponents, qKCore, qItemNeighbors, qTextRank, qFreqTriples, qPpr, qHits,
    qClustering, qAssortativity)
}
