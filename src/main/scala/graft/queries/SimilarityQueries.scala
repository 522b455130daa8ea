package graft.queries

import org.apache.spark.sql.functions._

import graft.sim.{KMeans, ProductQuantizer, SemanticDedup, Similarity}
import graft.sources.Tables

/** Vector-similarity query surface over `embeddings`
  * (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).
  *
  * Quantized variants (component → round(x·10⁴) as LONG) make dot
  * products exact integer sums → oracle-exact in DuckDB via
  * unnest + generate_subscripts joins. Float variants are the fast
  * path and rows-only. See graft.sim.Similarity for the operators.
  */
object SimilarityQueries {

  private val sqlQuantFlat =
    """SELECT vec_id,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
         generate_subscripts(embedding, 1) AS i
       FROM embeddings"""

  /** The shared exact-top-20 oracle (quantized arithmetic): the LSH and
    * IVF exhibits below are declared at operating points where their
    * candidate recall is complete — measured 20/20 at every test SF —
    * so their output IS the exact top-k and shares this oracle. Any
    * future recall miss surfaces as a hash mismatch, which makes the
    * checks strictly stronger than the old rows-only declarations.
    */
  private val sqlExactTop20 = s"""
      WITH flat AS ($sqlQuantFlat),
      qf AS (SELECT i, qv AS qqv FROM flat WHERE vec_id = 0),
      dots AS (
        SELECT f.vec_id, SUM(f.qv * q.qqv) AS qdot, SUM(f.qv * f.qv) AS nrm
        FROM flat f JOIN qf q USING (i)
        GROUP BY f.vec_id),
      qn AS (SELECT SUM(qqv * qqv) AS nrm0 FROM qf)
      SELECT vec_id,
        CAST(qdot AS BIGINT) /
          (sqrt(CAST(nrm AS BIGINT)) * sqrt(CAST(nrm0 AS BIGINT))) AS score
      FROM dots, qn
      WHERE vec_id <> 0
      ORDER BY score DESC, vec_id
      LIMIT 20"""

  /** JL random-projection ANN (sim/RandomProjection): 64-dim → 16
    * exact integer Rademacher projections, top-200 candidates by
    * projected L2 via TakeOrderedAndProject, exact quantized re-rank.
    * This corpus is the JL-ADVERSARIAL case (Gaussian background —
    * pairwise distances concentrate, so projected rank ≈ noise;
    * RpProbe: complete top-20 recall would need C ≈ 60-70% of the
    * corpus even at 48 projections), so unlike LSH/IVF the declared
    * contract is NOT exact-top-k equality: the oracle REPLAYS the
    * whole pipeline — md5-parity signs, integer projections, the
    * (pd2, id)-ordered candidate cut, the quantized re-rank — the
    * q_ann_ivfpq replay pattern. A real embedding corpus with
    * cluster structure is where the C≪N operating point earns its
    * keep; here the exhibit pins the operator's exact semantics.
    */
  private val qRpTopK = QueryDef(
    "q_ann_rp_topk",
    (s, d) =>
      graft.sim.RandomProjection.rpTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", queryId = 0L, k = 20, nProj = 16, nCandidates = 200),
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      signs AS (
        SELECT p.p, i.i,
          CASE WHEN strpos('02468ace',
            substr(md5('rp:' || p.p || ':' || (i.i - 1)), 1, 1)) > 0
            THEN 1 ELSE -1 END AS s
        FROM range(0, 16) p(p) CROSS JOIN range(1, 65) i(i)),
      proj AS (
        SELECT f.vec_id, s.p, CAST(SUM(f.qv * s.s) AS BIGINT) AS pr
        FROM flat f JOIN signs s ON s.i = f.i
        GROUP BY 1, 2),
      qp AS (SELECT p, pr AS qpr FROM proj WHERE vec_id = 0),
      pd AS (
        SELECT proj.vec_id,
          CAST(SUM((proj.pr - qp.qpr) * (proj.pr - qp.qpr)) AS BIGINT) AS pd2
        FROM proj JOIN qp USING (p)
        WHERE proj.vec_id <> 0
        GROUP BY 1),
      cand AS (
        SELECT vec_id FROM pd ORDER BY pd2 ASC, vec_id LIMIT 200),
      qf AS (SELECT i, qv AS qqv FROM flat WHERE vec_id = 0),
      dots AS (
        SELECT f.vec_id, SUM(f.qv * q.qqv) AS qdot, SUM(f.qv * f.qv) AS nrm
        FROM flat f JOIN qf q USING (i)
        WHERE f.vec_id IN (SELECT vec_id FROM cand)
        GROUP BY f.vec_id),
      qn AS (SELECT SUM(qqv * qqv) AS nrm0 FROM qf)
      SELECT vec_id,
        CAST(qdot AS BIGINT) /
          (sqrt(CAST(nrm AS BIGINT)) * sqrt(CAST(nrm0 AS BIGINT))) AS score
      FROM dots, qn
      ORDER BY score DESC, vec_id
      LIMIT 20"""))

  /** kNN join (Similarity.knnJoin): exact quantized top-5 neighbours
    * for the whole vec_id%100 query set in ONE corpus scan — per-query
    * ranking via the PairTopKAggregator partial top-k (no N×Q window
    * sort; the oracle's ROW_NUMBER replays the same (score DESC, id)
    * total order over exact scores).
    */
  private val qKnnJoin = QueryDef(
    "q_knn_join",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(emb, "vec_id", "embedding",
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 5)
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT g.vec_id AS query_id, f.vec_id, SUM(f.qv * g.qv) AS qdot
        FROM flat f
        JOIN flat g ON g.i = f.i AND g.vec_id % 100 = 0
          AND f.vec_id <> g.vec_id
        GROUP BY 1, 2),
      sc AS (
        SELECT query_id, d.vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
            AS score
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.query_id)
      SELECT query_id, CAST(rn AS INT) AS rank, vec_id, score FROM (
        SELECT query_id, vec_id, score,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn
        FROM sc)
      WHERE rn <= 5"""))

  /** Hard-negative mining (Similarity.hardNegatives): per anchor, the
    * top-5 most-cosine-similar vectors whose LABEL differs — the
    * knnJoin shape plus a label-exclusion predicate ahead of the score
    * math. Exact quantized cosines, so the oracle replays the mine.
    */
  private val qHardNegatives = QueryDef(
    "q_hard_negatives",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        emb.where(col("vec_id") % 100 === 0), k = 5)
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT g.vec_id AS anchor_id, f.vec_id, SUM(f.qv * g.qv) AS qdot
        FROM flat f
        JOIN flat g ON g.i = f.i AND g.vec_id % 100 = 0
          AND f.vec_id <> g.vec_id
        JOIN embeddings ef ON ef.vec_id = f.vec_id
        JOIN embeddings eg ON eg.vec_id = g.vec_id
        WHERE ef.label <> eg.label
        GROUP BY 1, 2),
      sc AS (
        SELECT anchor_id, d.vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
            AS score
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.anchor_id)
      SELECT anchor_id, CAST(rn AS INT) AS rank, vec_id, score FROM (
        SELECT anchor_id, vec_id, score,
          ROW_NUMBER() OVER (PARTITION BY anchor_id
            ORDER BY score DESC, vec_id) AS rn
        FROM sc)
      WHERE rn <= 5"""))

  /** Mutual-top-1 margin mining (Similarity.mutualMarginPairs): even
    * vec_ids as the left space, odd as the right; pairs that pick each
    * other first, scored by the Lowe ratio of best over second-best
    * cosine on BOTH sides (least of the two). Every cosine is one
    * integer-dot division and the margin one further division — the
    * oracle replays the pipeline bit-exactly.
    */
  private val qMarginMining = QueryDef(
    "q_margin_mining",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mutualMarginPairs(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT l.vec_id AS lid, r.vec_id AS rid, SUM(l.qv * r.qv) AS qdot
        FROM flat l JOIN flat r ON r.i = l.i
        WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 1
        GROUP BY 1, 2),
      sc AS (
        SELECT lid, rid,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(nl.nrm AS BIGINT)) * sqrt(CAST(nr.nrm AS BIGINT)))
            AS score
        FROM dots
        JOIN norms nl ON nl.vec_id = lid
        JOIN norms nr ON nr.vec_id = rid),
      lt AS (
        SELECT lid, rid, score,
          ROW_NUMBER() OVER (PARTITION BY lid
            ORDER BY score DESC, rid) AS rn
        FROM sc),
      lt2 AS (
        SELECT lid, MAX(CASE WHEN rn = 1 THEN rid END) AS nn1,
          MAX(CASE WHEN rn = 1 THEN score END) AS s1,
          MAX(CASE WHEN rn = 2 THEN score END) AS s2
        FROM lt WHERE rn <= 2 GROUP BY lid
        HAVING MAX(CASE WHEN rn = 2 THEN score END) > 0),
      rt AS (
        SELECT lid, rid, score,
          ROW_NUMBER() OVER (PARTITION BY rid
            ORDER BY score DESC, lid) AS rn
        FROM sc),
      rt2 AS (
        SELECT rid, MAX(CASE WHEN rn = 1 THEN lid END) AS nn1,
          MAX(CASE WHEN rn = 1 THEN score END) AS s1,
          MAX(CASE WHEN rn = 2 THEN score END) AS s2
        FROM rt WHERE rn <= 2 GROUP BY rid
        HAVING MAX(CASE WHEN rn = 2 THEN score END) > 0)
      SELECT l.lid AS src_id, r.rid AS tgt_id,
        LEAST(l.s1 / l.s2, r.s1 / r.s2) AS margin
      FROM lt2 l JOIN rt2 r ON l.nn1 = r.rid AND r.nn1 = l.lid"""))

  /** The IVF-legged margin miner (Similarity.mutualMarginPairsIvf):
    * same mutual-top-1 ratio-margin semantics, kNN legs served by one
    * IVF index per side — the past-broadcast-reach rung. Declared at a
    * complete-top-2-recall operating point (autoNProbe widens thin
    * indexes to every cell), so it shares the brute variant's oracle
    * verbatim and any recall miss lands as a hash mismatch.
    */
  private val qMarginMiningIvf = QueryDef(
    "q_margin_mining_ivf",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mutualMarginPairsIvf(
        emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
    },
    qMarginMining.oracle)

  /** One power-iteration step k in the PCA oracle: integer matvec over
    * the scaled scatter matrix, exact norm², one double division +
    * HALF_UP requantization (zero-matrix guarded).
    */
  private def pcaIterSql(k: Int): String = s"""
      mv$k AS MATERIALIZED (
        SELECT M.i AS i, SUM(M.m * v.q) AS mv
        FROM Ms M JOIN it${k - 1} v ON M.j = v.i GROUP BY 1),
      n$k AS MATERIALIZED (SELECT SUM(mv * mv) AS n2 FROM mv$k),
      it$k AS MATERIALIZED (
        SELECT i,
          CASE WHEN (SELECT n2 FROM n$k) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(ROUND(10000 * (CAST(mv AS DOUBLE) /
              sqrt(CAST((SELECT n2 FROM n$k) AS DOUBLE)))) AS BIGINT)
          END AS q
        FROM mv$k)"""

  /** The full PCA trajectory as a CTE prefix (moments → scaled scatter
    * matrix → 8 power iterates, `it8` = the quantized top component),
    * shared by the eigenvector exhibit and the ABTT readout.
    */
  private val pcaOracleCtes: String = {
    val iters = (1 to 8).map(pcaIterSql).mkString(",")
    s"""flat AS MATERIALIZED ($sqlQuantFlat),
      cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      mom AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, SUM(a.qv * b.qv) AS p
        FROM flat a JOIN flat b USING (vec_id)
        GROUP BY 1, 2),
      sums AS (SELECT i, SUM(qv) AS s FROM flat GROUP BY 1),
      M AS MATERIALIZED (
        SELECT mom.i, mom.j, cnt.n * mom.p - sa.s * sb.s AS m
        FROM mom, cnt
        JOIN sums sa ON sa.i = mom.i
        JOIN sums sb ON sb.i = mom.j),
      scale AS (
        SELECT CAST(POWER(10, GREATEST(0,
          LENGTH(CAST((SELECT MAX(ABS(m)) FROM M) AS VARCHAR)) - 9))
          AS HUGEINT) AS sc),
      Ms AS MATERIALIZED (
        SELECT i, j,
          CASE WHEN m >= 0 THEN m // (SELECT sc FROM scale)
               ELSE -((-m) // (SELECT sc FROM scale)) END AS m
        FROM M),
      it0 AS MATERIALIZED (
        SELECT i, CAST(10000 AS BIGINT) AS q
        FROM (SELECT DISTINCT i FROM flat)),
      $iters"""
  }

  /** Top principal component of the embedding corpus (sim/Pca
    * .topComponentQ): ONE order-independent integer moments aggregate
    * over the data (long-buffer typed Aggregator, one buffer per
    * partition), then a fixed 8-step driver power iteration on the
    * exact scatter matrix — mean-centering and dominant-direction
    * removal ("all but the top") compose map-side from this vector.
    * The oracle replays the whole trajectory: moments, the
    * deterministic decimal down-scale, every integer matvec, every
    * requantization.
    */
  private val qPcaTop1 = QueryDef(
    "q_embedding_pca_top1",
    (s, d) => graft.sim.Pca.topComponentQ(
      Tables.embeddings(s, d), "embedding", iters = 8),
    Some(s"""
      WITH $pcaOracleCtes
      SELECT CAST(i - 1 AS INT) AS dim, q AS q_component FROM it8"""))

  /** ABTT readout (sim/Pca.abttRemovedShare): per label, the exact
    * share of quantized second moment the top component carries —
    * Σ(e·u)² / (‖u‖²·Σ‖e‖²), one double division over DECIMAL-exact
    * terms. The oracle extends the shared PCA trajectory with the
    * per-vector projection sums.
    */
  private val qAbtt = QueryDef(
    "q_abtt_removed_share",
    (s, d) => graft.sim.Pca.abttRemovedShare(
      Tables.embeddings(s, d), "embedding", "label", iters = 8),
    Some(s"""
      WITH $pcaOracleCtes,
      u AS MATERIALIZED (SELECT i, q FROM it8),
      den AS (SELECT SUM(q * q) AS d FROM u),
      per AS MATERIALIZED (
        SELECT f.vec_id, SUM(f.qv * u.q) AS num, SUM(f.qv * f.qv) AS n2
        FROM flat f JOIN u ON u.i = f.i GROUP BY 1),
      lab AS (
        SELECT e.label, p.num, p.n2
        FROM per p JOIN embeddings e ON e.vec_id = p.vec_id)
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CASE WHEN SUM(n2) > 0 AND (SELECT d FROM den) > 0
          THEN CAST(SUM(num * num) AS DOUBLE) /
               CAST((SELECT d FROM den) * SUM(n2) AS DOUBLE)
        END AS removed_share
      FROM lab GROUP BY label"""))

  // ------------------------------------------------ brute-force top-k
  private val qTopKQuant = QueryDef(
    "q_ann_topk_quantized",
    (s, d) =>
      Similarity.topKByQueryId(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 20,
        scoreFn = graft.functions.VectorFunctions.q_vec_cosine),
    Some(sqlExactTop20),
    headline = true)

  /** Float-path top-k declared as its ID SET (ordered by vec_id, score
    * column dropped): float cosine's low bits are engine-specific, but
    * the top-20 membership is stable — the k-boundary score gap
    * (2–5e-3, measured at every SF) is ~20× the quantization error — so
    * the set agrees with the exact quantized ranking and the oracle
    * checks the float path end-to-end. (Rank order inside the top-k is
    * NOT declared: adjacent gaps go down to 5e-6, inside float noise.)
    */
  private val qTopKFloat = QueryDef(
    "q_ann_topk_cosine",
    // float path on the native codegen'd expression (FloatVecDot)
    (s, d) =>
      Similarity.topKByQueryId(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 20,
        scoreFn = graft.functions.VectorFunctions.vec_cosine)
        .select(col("vec_id")),
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      qf AS (SELECT i, qv AS qqv FROM flat WHERE vec_id = 0),
      dots AS (
        SELECT f.vec_id, SUM(f.qv * q.qqv) AS qdot, SUM(f.qv * f.qv) AS nrm
        FROM flat f JOIN qf q USING (i)
        GROUP BY f.vec_id),
      qn AS (SELECT SUM(qqv * qqv) AS nrm0 FROM qf)
      SELECT vec_id FROM (
        SELECT vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(nrm AS BIGINT)) * sqrt(CAST(nrm0 AS BIGINT))) AS score
        FROM dots, qn
        WHERE vec_id <> 0
        ORDER BY score DESC, vec_id
        LIMIT 20)"""))

  // ------------------------------------------------------ LSH variant
  /** LSH top-k at 16 bands × 2 bits: this corpus is Gaussian background
    * (rank-20 neighbour cosine ≈ 0.23–0.41 — no planted high-sim
    * structure), where sign-LSH pruning and recall genuinely trade off;
    * 2-bit bands put candidate recall at 1 (measured 20/20 at every SF,
    * theoretical miss ≤ ~2e-3/pair) at the cost of a wide candidate
    * set. High-similarity corpora use the pruning defaults (8 × 4) —
    * see the banding sizing rule in Similarity.lshNearDupPairs.
    */
  private val qLsh = QueryDef(
    "q_ann_lsh_topk",
    (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 20, numPlanes = 32, bands = 16),
    Some(sqlExactTop20),
    headline = true)

  /** Full-corpus embedding near-dup (LSH candidates + exact quantized
    * verify), DECLARED on the vec_id%5 slice where the exact all-pairs
    * oracle is affordable — so LSH recall is hash-measured against
    * ground truth, while the Spark side still runs
    * the full-corpus banding pipeline. 16 × 2-bit banding: recall
    * complete at every SF (missed = 0 measured; ~5e-4/pair predicted at
    * cos 0.35).
    */
  private val qLshNearDup = QueryDef(
    "q_embedding_lsh_neardup",
    (s, d) =>
      Similarity.lshNearDupPairs(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.35, numPlanes = 32, bands = 16,
        scoreFn = graft.functions.VectorFunctions.q_vec_cosine,
        scoreCol = "cos_q")
        .where(col("id_a") % 5 === 0 && col("id_b") % 5 === 0),
    Some("""
      WITH sel AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
      flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) AS i
        FROM sel),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.qv * b.qv) AS qdot
        FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        CAST(qdot AS BIGINT) /
          (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nb.nrm AS BIGINT))) AS cos_q
      FROM dots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE CAST(qdot AS BIGINT) /
          (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nb.nrm AS BIGINT))) >= 0.35"""))

  /** IVF serve exhibit at nProbe = 13/16 — the measured minimum where
    * top-20 recall is complete at every test SF, so the output equals
    * the exact top-k and shares its oracle. The weak pruning is the
    * corpus geometry, not the operator: Gaussian background scatters a
    * query's neighbours across cells (IVF pays off on clustered data —
    * the 1M-vector SimBench probe reaches recall 0.97 at nProbe 4/64).
    */
  private val qIvf = QueryDef(
    "q_ann_ivf_topk",
    (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, k = 20, nCells = 16, nProbe = 13,
        scoreFn = graft.functions.VectorFunctions.q_vec_cosine),
    Some(sqlExactTop20))

  /** Build-once layouts for the served indexes (util.BuildDir): the
    * QUERY is the serve path; rebuilding (and rewriting) the parquet
    * layout on every invocation would make a min-of-N bench time the
    * build N times and never measure the serve-only latency the
    * exhibit exists to demonstrate.
    */
  private def ivfPqIndex(s: org.apache.spark.sql.SparkSession, d: String,
      emb: org.apache.spark.sql.DataFrame): String =
    graft.util.BuildDir(s, d, "graft_ivfpq_index", "embeddings")(
      ProductQuantizer.buildAndWriteIvfPqIndex(emb, "vec_id", "embedding",
        _, kCells = 8, iters = 2, m = 8, kCodes = 16))

  /** Served-index IVF exhibit — the build-once/serve-many shape a real
    * vector store runs: `buildAndWriteIvfIndex` materializes the corpus
    * as parquet PARTITIONED BY cell with a `_centroids` sidecar, then
    * `ivfSearchVec` probes the read-back layout, pruning whole cell
    * directories (PartitionFilters — asserted in PlanSpec). Same
    * nProbe = 13/16 operating point as q_ann_ivf_topk → shares the
    * exact-top-20 oracle.
    */
  private val qIvfServed = QueryDef(
    "q_ann_ivf_served",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.util.BuildDir(s, d, "graft_ivf_index", "embeddings")(
        Similarity.buildAndWriteIvfIndex(emb, "embedding", _, nCells = 16))
      val index = Similarity.readIvfIndex(s, dir)
      val qvec = emb.where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      // thin-cell guard: below ~64 vectors/cell pruning is statistically
      // unsound (autoNProbe scaladoc) — probe everything at toy scale,
      // prune (13/16, measured complete) at density
      val nProbe = Similarity.autoNProbe(emb.count(), 16, base = 13)
      Similarity.ivfSearchVec(index, "vec_id", "embedding", qvec,
        k = 20, nProbe = nProbe, excludeId = Some(0L))
    },
    Some(sqlExactTop20))

  /** Incremental-append exhibit for the served index: build the layout
    * on 3/4 of the corpus (vec_id % 4 ≠ 0), `appendToIvfIndex` the
    * remaining quarter against the FROZEN centroids, then serve — the
    * result must equal exact brute-force top-20 over the full corpus,
    * which is precisely what the appended index now contains. Shares
    * q_ann_ivf_topk's oracle. The centroids having seen only the base
    * corpus is the realistic serve contract (appends don't retrain) —
    * and it has a measured price: cells drawn from 3/4 of the corpus
    * concentrate the query's true neighbours slightly less, so exact
    * recovery needs nProbe = 14/16 where the full-trained index needs
    * 13 (IvfAppendProbe: 19/20 at 13, 20/20 at 14; a 10% append is
    * exact at 13). Partition pruning still skips 2 of 16 cells.
    */
  private val qIvfAppended = QueryDef(
    "q_ann_ivf_appended",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = graft.util.BuildDir(s, d, "graft_ivf_append", "embeddings") {
        out =>
          Similarity.buildAndWriteIvfIndex(
            emb.where(col("vec_id") % 4 =!= 0), "embedding", out, nCells = 16)
          Similarity.appendToIvfIndex(
            emb.where(col("vec_id") % 4 === 0), "embedding", out)
      }
      val index = Similarity.readIvfIndex(s, dir)
      val qvec = emb.where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0).toArray
      // thin-cell guard (autoNProbe): the appended index's centroids
      // saw only 3/4 of the corpus, and at sf0.001's ~31 vectors/cell
      // even nProbe=15 missed one of the exact top-20 on regenerated
      // testdata (round-6 IvfAppendProbe) — probe everything below the
      // density floor, prune (14/16, measured complete) above it
      val nProbe = Similarity.autoNProbe(emb.count(), 16, base = 14)
      Similarity.ivfSearchVec(index, "vec_id", "embedding", qvec,
        k = 20, nProbe = nProbe, excludeId = Some(0L))
    },
    Some(sqlExactTop20))

  // ----------------------------------------------- near-dup pairs (exact)
  private val qNearDup = QueryDef(
    "q_embedding_neardup_sample",
    (s, d) =>
      Similarity.nearDupPairs(
        Tables.embeddings(s, d).where(col("vec_id") % 5 === 0),
        "vec_id", "embedding", threshold = 0.35),
    Some(s"""
      WITH sel AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
      flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) AS i
        FROM sel),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.qv * b.qv) AS qdot
        FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        CAST(qdot AS BIGINT) /
          (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nb.nrm AS BIGINT))) AS cos_q
      FROM dots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE CAST(qdot AS BIGINT) /
          (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nb.nrm AS BIGINT))) >= 0.35"""))

  /** SemDeDup keepers over the whole embeddings table: 16 md5-parity
    * sign-LSH cells, drop any vector with a smaller-id same-cell
    * neighbor at quantized cosine ≥ 0.35. Cell assignment, pairwise
    * scoring, and the keeper rule are ALL integer/IEEE-deterministic,
    * so unlike the LSH near-dup exhibits there is no recall operating
    * point here — the oracle replays the full pipeline in SQL.
    */
  private val qSemanticDedup = QueryDef(
    "q_semantic_dedup_keepers",
    (s, d) =>
      SemanticDedup.semanticDedupKeepers(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.35, bits = 4),
    Some("""
      WITH flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings),
      planes AS (
        SELECT j, i,
          CASE WHEN substr(md5(j || ':' || i), 1, 1)
            IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS r
        FROM generate_series(0, 3) t(j)
        CROSS JOIN (SELECT DISTINCT i FROM flat) d),
      bits AS (
        SELECT f.vec_id, p.j,
          CASE WHEN SUM(f.qv * p.r) >= 0 THEN CAST(1 AS BIGINT) << p.j
            ELSE 0 END AS bit
        FROM flat f JOIN planes p ON p.i = f.i
        GROUP BY 1, 2),
      cells AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS cell
        FROM bits GROUP BY 1),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      pairs AS (
        SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
        FROM cells ca JOIN cells cb
          ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id),
      dominated AS (
        SELECT DISTINCT p.id_b AS vec_id
        FROM (
          SELECT p.id_a, p.id_b, SUM(fa.qv * fb.qv) AS qdot
          FROM pairs p
          JOIN flat fa ON fa.vec_id = p.id_a
          JOIN flat fb ON fb.vec_id = p.id_b AND fb.i = fa.i
          GROUP BY 1, 2) p
        JOIN norms na ON na.vec_id = p.id_a
        JOIN norms nb ON nb.vec_id = p.id_b
        WHERE CAST(p.qdot AS BIGINT) /
          (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nb.nrm AS BIGINT)))
          >= 0.35)
      SELECT c.vec_id, c.cell FROM cells c
      LEFT JOIN dominated dd ON dd.vec_id = c.vec_id
      WHERE dd.vec_id IS NULL"""))

  // -------------------------------------------------------- k-means
  /** Shared unrolled-Lloyd's oracle prefix: quantized components,
    * integer squared-L2 distances, smallest-cluster-id tie-break,
    * floor-of-mean centroid updates — every step engine-exact, so the
    * oracle replays the full 2-iteration trajectory (seed = vectors
    * 0..7, two centroid updates, final assignment). See graft.sim.KMeans.
    */
  private def kmeansSql(finalSelect: String): String = {
    def step(n: Int, cent: String) = s"""
      d$n AS (
        SELECT f.vec_id, c.cluster, SUM((f.qv - c.qc) * (f.qv - c.qc)) AS d
        FROM flat f JOIN $cent c ON c.pos = f.pos
        GROUP BY 1, 2),
      a$n AS (
        SELECT vec_id, cluster, CAST(d AS BIGINT) AS qdist FROM (
          SELECT vec_id, cluster, d,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM d$n) WHERE rn = 1)"""
    def update(n: Int, assign: String) = s"""
      cent$n AS (
        SELECT a.cluster, f.pos,
          CAST(FLOOR(CAST(SUM(f.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
        FROM $assign a JOIN flat f ON f.vec_id = a.vec_id
        GROUP BY 1, 2)"""
    s"""
      WITH flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings),
      cent0 AS (
        SELECT CAST(vec_id AS INT) AS cluster, pos, qv AS qc
        FROM flat WHERE vec_id < 8),
      ${step(0, "cent0")},
      ${update(1, "a0")},
      ${step(1, "cent1")},
      ${update(2, "a1")},
      ${step(2, "cent2")}
      $finalSelect"""
  }

  /** Distributed k-means (k = 8, 2 Lloyd iterations, deterministic
    * smallest-ids seed) — full-corpus assignment with exact integer
    * arithmetic end-to-end; the oracle unrolls the entire trajectory.
    */
  private val qKmeans = QueryDef(
    "q_kmeans_clusters",
    (s, d) =>
      KMeans.fit(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2),
    Some(kmeansSql("SELECT vec_id, cluster, qdist FROM a2")))

  /** Cluster-balanced diversity subsample on top of the same clustering
    * (≤ 20 smallest-id members per cluster) — the sampling step that
    * equalizes embedding-space coverage regardless of cluster mass.
    */
  private val qKmeansSample = QueryDef(
    "q_kmeans_balanced_sample",
    (s, d) =>
      KMeans.balancedSample(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, m = 20),
    Some(kmeansSql("""
      SELECT vec_id, cluster, CAST(rank AS INT) AS rank FROM (
        SELECT vec_id, cluster,
          ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY vec_id) AS rank
        FROM a2) WHERE rank <= 20""")))

  // ------------------------------------------------- product quantizer
  /** Shared oracle for the PQ pipeline: the subspace dimension `j`
    * rides every CTE as a key, so ONE unrolled-Lloyd's chain trains
    * all 8 codebooks (same determinism rules as kmeansSql — integer
    * distances, smallest-code ties, floor-of-mean updates, seed =
    * subvectors of ids 0..15), then `a2` holds the final codes and
    * `lut` the query's per-(subspace, code) distances for ADC.
    */
  private def pqSql(finalSelect: String): String = {
    def step(n: Int, cent: String) = s"""
      d$n AS (
        SELECT s.vec_id, s.j, c.code, SUM((s.qv - c.qc) * (s.qv - c.qc)) AS d
        FROM sub s JOIN $cent c ON c.j = s.j AND c.spos = s.spos
        GROUP BY 1, 2, 3),
      a$n AS (
        SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
          FROM d$n) WHERE rn = 1)"""
    def update(n: Int, assign: String) = s"""
      cent$n AS (
        SELECT a.j, a.code, s.spos,
          CAST(FLOOR(CAST(SUM(s.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
        FROM $assign a JOIN sub s ON s.vec_id = a.vec_id AND s.j = a.j
        GROUP BY 1, 2, 3)"""
    s"""
      WITH flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) - 1 AS p
        FROM embeddings),
      sub AS (
        SELECT vec_id, CAST(p // 8 AS INT) AS j, CAST(p % 8 AS INT) AS spos, qv
        FROM flat),
      cent0 AS (
        SELECT CAST(vec_id AS INT) AS code, j, spos, qv AS qc
        FROM sub WHERE vec_id < 16),
      ${step(0, "cent0")},
      ${update(1, "a0")},
      ${step(1, "cent1")},
      ${update(2, "a1")},
      ${step(2, "cent2")},
      lut AS (
        SELECT c.j, c.code, SUM((q.qv - c.qc) * (q.qv - c.qc)) AS d
        FROM cent2 c JOIN sub q
          ON q.vec_id = 0 AND q.j = c.j AND q.spos = c.spos
        GROUP BY 1, 2)
      $finalSelect"""
  }

  /** PQ codes for the whole corpus (m=8 subspaces × 16 codes, 2 Lloyd
    * iterations — 64 dims compress to 8 code ids ≈ 64× vs float32).
    * Hash-checks the TRAINED CODEBOOKS themselves: any divergence in
    * the training trajectory changes some row's code.
    */
  private val qPqCodes = QueryDef(
    "q_pq_codes",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      ProductQuantizer.encode(emb, "vec_id", "embedding", model)
        .select(col("vec_id"),
          explode(array((0 until 8).map(j =>
            struct(lit(j).as("j"), col(s"code_$j").as("code"))): _*)).as("t"))
        .select(col("vec_id"), col("t.j").as("j"), col("t.code").as("code"))
    },
    Some(pqSql("SELECT vec_id, j, code FROM a2")))

  /** ADC top-20 by compressed distance: the query's m×16 lookup table
    * is a plan literal; each candidate costs m table lookups (zero
    * float math). The oracle replays training + encoding + LUT + the
    * ranked sum exactly — approximate SEARCH with exact, hash-checked
    * semantics.
    */
  private val qPqAdc = QueryDef(
    "q_ann_pq_adc_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      val query = emb.where(col("vec_id") === 0L)
        .select(graft.sim.KMeans.quantize(col("embedding")))
        .head().getSeq[Long](0).toArray
      ProductQuantizer.adcTopK(
        ProductQuantizer.encode(emb, "vec_id", "embedding", model),
        "vec_id", query, model, k = 20, excludeId = Some(0L))
    },
    Some(pqSql("""
      SELECT a.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc
      FROM a2 a JOIN lut l ON l.j = a.j AND l.code = a.code
      WHERE a.vec_id <> 0
      GROUP BY a.vec_id
      ORDER BY adc, a.vec_id
      LIMIT 20""")))

  /** IVF+PQ oracle: the kmeans chain (k-prefixed CTEs, full vectors)
    * produces coarse cells; the pq chain produces codes + LUT; the
    * probe subquery picks the nProbe cells nearest the query; the
    * final ADC sum ranks only vectors in probed cells. One SQL
    * statement replays the ENTIRE composed index. Parametrized by the
    * query vector id so the two serve exhibits can hit the SAME built
    * index with different queries (build-once/serve-many).
    */
  private def ivfpqSql(qid: Long): String =
    ivfpqSqlWithTail(qid, s"${ivfpqAdcSelect(qid)} LIMIT 20")

  private def ivfpqSqlWithTail(qid: Long, tail: String): String = {
    def kStep(n: Int, cent: String) = s"""
      kd$n AS (
        SELECT f.vec_id, c.cluster, SUM((f.qv - c.qc) * (f.qv - c.qc)) AS d
        FROM flat f JOIN $cent c ON c.p = f.p
        GROUP BY 1, 2),
      ka$n AS (
        SELECT vec_id, cluster FROM (
          SELECT vec_id, cluster,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM kd$n) WHERE rn = 1)"""
    def kUpdate(n: Int, assign: String) = s"""
      kcent$n AS (
        SELECT a.cluster, f.p,
          CAST(FLOOR(CAST(SUM(f.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
        FROM $assign a JOIN flat f ON f.vec_id = a.vec_id
        GROUP BY 1, 2)"""
    def pStep(n: Int, cent: String) = s"""
      d$n AS (
        SELECT s.vec_id, s.j, c.code, SUM((s.qv - c.qc) * (s.qv - c.qc)) AS d
        FROM sub s JOIN $cent c ON c.j = s.j AND c.spos = s.spos
        GROUP BY 1, 2, 3),
      a$n AS (
        SELECT vec_id, j, code FROM (
          SELECT vec_id, j, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
          FROM d$n) WHERE rn = 1)"""
    def pUpdate(n: Int, assign: String) = s"""
      cent$n AS (
        SELECT a.j, a.code, s.spos,
          CAST(FLOOR(CAST(SUM(s.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
        FROM $assign a JOIN sub s ON s.vec_id = a.vec_id AND s.j = a.j
        GROUP BY 1, 2, 3)"""
    s"""
      WITH flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) - 1 AS p
        FROM embeddings),
      sub AS (
        SELECT vec_id, CAST(p // 8 AS INT) AS j, CAST(p % 8 AS INT) AS spos, qv
        FROM flat),
      kcent0 AS (
        SELECT CAST(vec_id AS INT) AS cluster, p, qv AS qc
        FROM flat WHERE vec_id < 8),
      ${kStep(0, "kcent0")},
      ${kUpdate(1, "ka0")},
      ${kStep(1, "kcent1")},
      ${kUpdate(2, "ka1")},
      ${kStep(2, "kcent2")},
      probe AS (
        -- density-aware nProbe, mirroring Similarity.autoNProbe: below
        -- 8 cells × 64 vectors/cell = 512 rows the per-cell samples are
        -- too thin for pruning — probe all 8; at density probe 3
        SELECT cluster FROM (
          SELECT cluster, ROW_NUMBER() OVER (ORDER BY d, cluster) AS rn
          FROM (
            SELECT c.cluster, SUM((q.qv - c.qc) * (q.qv - c.qc)) AS d
            FROM kcent2 c JOIN flat q ON q.vec_id = $qid AND q.p = c.p
            GROUP BY 1))
        WHERE rn <= CASE
          WHEN (SELECT COUNT(*) FROM embeddings) < 512 THEN 8 ELSE 3 END),
      cent0 AS (
        SELECT CAST(vec_id AS INT) AS code, j, spos, qv AS qc
        FROM sub WHERE vec_id < 16),
      ${pStep(0, "cent0")},
      ${pUpdate(1, "a0")},
      ${pStep(1, "cent1")},
      ${pUpdate(2, "a1")},
      ${pStep(2, "cent2")},
      lut AS (
        SELECT c.j, c.code, SUM((q.qv - c.qc) * (q.qv - c.qc)) AS d
        FROM cent2 c JOIN sub q
          ON q.vec_id = $qid AND q.j = c.j AND q.spos = c.spos
        GROUP BY 1, 2)
      $tail"""
  }

  private def ivfpqAdcSelect(qid: Long) = s"""
      SELECT a.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc
      FROM a2 a
      JOIN lut l ON l.j = a.j AND l.code = a.code
      JOIN ka2 kc ON kc.vec_id = a.vec_id
      WHERE kc.cluster IN (SELECT cluster FROM probe) AND a.vec_id <> $qid
      GROUP BY a.vec_id
      ORDER BY adc, a.vec_id"""

  /** The refined exhibit's oracle: the SAME unrolled pipeline down to
    * the ADC ordering, truncated to the k×refine shortlist (the (adc,
    * vec_id) total order makes the cut deterministic), then exact
    * quantized squared-L2 re-rank over shortlist rows only.
    */
  private def ivfpqRefinedSql(qid: Long, k: Int, refine: Int): String =
    ivfpqSqlWithTail(qid, s"""
      , short AS (${ivfpqAdcSelect(qid)} LIMIT ${k * refine})
      SELECT f.vec_id,
        CAST(SUM((f.qv - q.qv) * (f.qv - q.qv)) AS BIGINT) AS d2
      FROM flat f JOIN flat q ON q.vec_id = $qid AND q.p = f.p
      WHERE f.vec_id IN (SELECT vec_id FROM short)
      GROUP BY 1
      ORDER BY d2, f.vec_id
      LIMIT $k""")

  /** Build-if-absent + serve for the cell-partitioned IVF+PQ layout,
    * shared by BOTH IVF+PQ exhibits: one verify/bench run builds the
    * index once and every query — any query vector — serves from the
    * same codes parquet. This is the round-7 verdict's fold: the
    * former one-shot exhibit re-trained cells + codebooks and
    * full-scan-assigned per invocation; at scale the only sane plan is
    * the served one (probe cells rank on the driver against the
    * `_kcentroids` sidecar, the scan prunes to probed `cluster=`
    * directories — PartitionFilters, PlanSpec-asserted — and ADC ranks
    * the surviving code rows map-side). Training determinism makes the
    * layout's models identical to what a fresh one-shot would train,
    * so the unrolled oracle is unchanged.
    */
  private def ivfPqServe(s: org.apache.spark.sql.SparkSession, d: String,
      qid: Long): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val index = ProductQuantizer.readIvfPqIndex(s, ivfPqIndex(s, d, emb))
    val query = emb.where(col("vec_id") === qid)
      .select(KMeans.quantize(col("embedding")))
      .head().getSeq[Long](0).toArray
    val nProbe = Similarity.autoNProbe(emb.count(), 8, base = 3)
    ProductQuantizer.ivfPqSearch(index, "vec_id", query,
      nProbe = nProbe, k = 20, excludeId = Some(qid))
  }

  /** The REFINE rung over the same served layout
    * (ProductQuantizer.ivfPqSearchRefined — FAISS IndexRefineFlat's
    * shape): ADC ranks a k×refine shortlist from the pruned codes
    * scan, then ONLY those rows' full vectors are point-read from the
    * base table (id pushdown) and re-ranked by exact quantized
    * squared-L2. This is the rung that restores recall when true
    * neighbor gaps sit below 8-byte PQ resolution (IvfPqScaleProbe:
    * recall@20 0.03 → with refine — see SCALE_NOTES round 9). The
    * oracle replays the full pipeline INCLUDING the deterministic
    * shortlist cut and the exact re-rank.
    */
  private val qIvfPqRefined = QueryDef(
    "q_ann_ivfpq_refined",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = ProductQuantizer.readIvfPqIndex(s, ivfPqIndex(s, d, emb))
      val qid = 2L
      val query = emb.where(col("vec_id") === qid)
        .select(KMeans.quantize(col("embedding")))
        .head().getSeq[Long](0).toArray
      val nProbe = Similarity.autoNProbe(emb.count(), 8, base = 3)
      ProductQuantizer.ivfPqSearchRefined(index, emb, "vec_id", "embedding",
        query, nProbe = nProbe, k = 20, refine = 5, excludeId = Some(qid))
    },
    Some(ivfpqRefinedSql(2L, k = 20, refine = 5)))

  /** The ADAPTIVE refine rung — the one a deployment actually serves
    * (ProductQuantizer.ivfPqSearchRefinedAdaptive, round-9 #4): the
    * shortlist grows geometrically (5, 10, 20, …, 160) until the
    * exact top-k over the full 2·k·refine candidate set equals the
    * exact top-k over its k·refine prefix (stabilization), the probed
    * cells are exhausted, or maxRefine is hit. Every stop decision is
    * a pure function of (index, query, k), so the oracle replays the
    * ENTIRE ladder: it ranks all probed candidates by (adc, id) once,
    * exact-reranks them once, evaluates all three stop conditions at
    * every rung, and emits the top-k of the first stopping rung —
    * bit-identical to the loop the engine runs (mega-cluster recall
    * 0.36 → 1.00 vs the fixed rung; SCALE_NOTES round 9).
    */
  private def ivfpqAdaptiveSql(qid: Long, k: Int): String =
    ivfpqSqlWithTail(qid, s"""
      , adcr AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS arn
        FROM (${ivfpqAdcSelect(qid)})),
      ex AS (
        SELECT a.vec_id, a.arn,
          CAST(SUM((f.qv - q.qv) * (f.qv - q.qv)) AS BIGINT) AS d2
        FROM adcr a
        JOIN flat f ON f.vec_id = a.vec_id
        JOIN flat q ON q.vec_id = $qid AND q.p = f.p
        GROUP BY 1, 2),
      sigs AS (
        SELECT r.r,
          (SELECT COUNT(*) FROM adcr) AS nc,
          (SELECT string_agg(vec_id || ':' || d2, ',' ORDER BY d2, vec_id)
           FROM (SELECT vec_id, d2 FROM ex WHERE arn <= 2 * $k * r.r
                 ORDER BY d2, vec_id LIMIT $k)) AS sig_full,
          (SELECT string_agg(vec_id || ':' || d2, ',' ORDER BY d2, vec_id)
           FROM (SELECT vec_id, d2 FROM ex WHERE arn <= $k * r.r
                 ORDER BY d2, vec_id LIMIT $k)) AS sig_prefix
        FROM (SELECT unnest([5, 10, 20, 40, 80, 160]) AS r) r),
      stop AS (
        SELECT MIN(r) AS r FROM sigs
        WHERE nc < 2 * $k * r OR r = 160 OR sig_full = sig_prefix)
      SELECT vec_id, d2 FROM ex
      WHERE arn <= 2 * $k * (SELECT r FROM stop)
      ORDER BY d2, vec_id
      LIMIT $k""")

  private val qIvfPqAdaptive = QueryDef(
    "q_ann_ivfpq_adaptive",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val index = ProductQuantizer.readIvfPqIndex(s, ivfPqIndex(s, d, emb))
      val qid = 3L
      val query = emb.where(col("vec_id") === qid)
        .select(KMeans.quantize(col("embedding")))
        .head().getSeq[Long](0).toArray
      val nProbe = Similarity.autoNProbe(emb.count(), 8, base = 3)
      ProductQuantizer.ivfPqSearchRefinedAdaptive(index, emb, "vec_id",
        "embedding", query, nProbe = nProbe, k = 20,
        initialRefine = 5, maxRefine = 160, excludeId = Some(qid))
    },
    Some(ivfpqAdaptiveSql(3L, k = 20)))

  /** The composed IVF+PQ index (coarse integer-kmeans cells + fine PQ
    * codes): the full FAISS-style shape with every stage deterministic,
    * so ONE oracle statement replays cell training, probe choice,
    * codebook training, encoding, and the ADC ranking. nProbe follows
    * the autoNProbe density rule (all 8 cells below 64 vectors/cell,
    * 3/8 at density) — the oracle's probe CTE mirrors the same CASE.
    * Serves query vec_id=1 from the layout q_ann_ivfpq_served builds —
    * the build-once/serve-MANY contract exercised with two distinct
    * queries over one index.
    */
  private val qIvfPq = QueryDef(
    "q_ann_ivfpq_topk",
    (s, d) => ivfPqServe(s, d, qid = 1L),
    Some(ivfpqSql(1L)))

  /** The SERVED IVF+PQ exhibit — build-once/serve-many over the
    * cell-partitioned codes layout (ProductQuantizer
    * .buildAndWriteIvfPqIndex): probe cells rank on the driver against
    * the `_kcentroids` sidecar, the scan prunes to the probed
    * `cluster=` directories (PartitionFilters — PlanSpec-asserted),
    * and ADC ranks the ~nProbe/kCells surviving code rows map-side.
    * No training, no full-corpus re-assignment, no vector reads in the
    * serve plan.
    */
  private val qIvfPqServed = QueryDef(
    "q_ann_ivfpq_served",
    (s, d) => ivfPqServe(s, d, qid = 0L),
    Some(ivfpqSql(0L)))

  /** The hour-pivot proof applied to clustering: the SAME assignment
    * ran as a continuous query (frozen batch-trained centroids, pure
    * map-side routing, zero state stores) must emit exactly the batch
    * `KMeans.fit` rows — shared unrolled-Lloyd's oracle.
    */
  private val qStreamKmeans = QueryDef(
    "q_stream_kmeans_assign",
    (s, d) => graft.streaming.StreamingKMeans.runBatchEquivalent(
      s, d, k = 8, iters = 2),
    Some(kmeansSql("SELECT vec_id, cluster, qdist FROM a2")))

  // ------------------------------------------------------- centroids
  private val qCentroids = QueryDef(
    "q_label_centroids",
    (s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding"),
    Some("""
      WITH flat AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv
        FROM embeddings)
      SELECT label, CAST(pos AS INT) AS pos,
        (CAST(SUM(qv) AS BIGINT) / COUNT(*)) / 10000.0 AS centroid,
        CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM flat GROUP BY label, pos"""))

  /** Centroids via the typed quantized-mean Aggregator
    * (order-independent merge; see VectorMeanAggregator), posexploded to
    * scalar (label, pos, value) rows so the driver harness can
    * sort/hash the output (an array column crashed its canonicalizer in
    * round 1). The quantized accumulation makes every value identical to
    * the SQL formulation → full oracle-hash check.
    */
  private val qCentroidVectors = QueryDef(
    "q_label_centroid_vectors",
    (s, d) =>
      Tables.embeddings(s, d)
        .groupBy(col("label"))
        .agg(graft.functions.VectorMeanAggregator.vec_mean(col("embedding"))
          .as("centroid"),
          count(lit(1)).as("n_vectors"))
        .select(col("label"), posexplode(col("centroid")), col("n_vectors"))
        .select(col("label"), col("pos"), col("col").as("value"),
          col("n_vectors")),
    Some("""
      WITH flat AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv
        FROM embeddings)
      SELECT label, CAST(pos AS INT) AS pos,
        CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 10000.0 AS value,
        CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM flat GROUP BY label, pos"""))

  /** Label-noise sweep (Similarity.labelCentroidOutliers): bottom-5
    * centroid-cosine vectors per label. Quantized-integer intermediates
    * + one per-row double step → bit-identical across engines (see the
    * operator scaladoc); the oracle mirrors the same algebra.
    */
  private val qLabelOutliers = QueryDef(
    "q_label_outliers",
    (s, d) =>
      Similarity.labelCentroidOutliers(
        Tables.embeddings(s, d), "vec_id", "embedding", "label", k = 5),
    Some("""
      WITH qe AS (
        SELECT vec_id, label,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings),
      cent AS (SELECT label, pos, SUM(qv) AS sq FROM qe GROUP BY 1, 2),
      nc AS (SELECT label, SUM(sq * sq) AS nrm_c FROM cent GROUP BY 1),
      sc AS (
        SELECT q.vec_id, q.label,
          SUM(q.qv * c.sq) AS qdot, SUM(q.qv * q.qv) AS nrm_v
        FROM qe q JOIN cent c ON q.label = c.label AND q.pos = c.pos
        GROUP BY 1, 2),
      cosd AS (
        SELECT s.vec_id, s.label,
          CAST(qdot AS DOUBLE) /
            (sqrt(CAST(nrm_v AS DOUBLE)) * sqrt(CAST(nrm_c AS DOUBLE)))
            AS cos_centroid
        FROM sc s JOIN nc ON s.label = nc.label)
      SELECT vec_id, label, cos_centroid FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY label ORDER BY cos_centroid, vec_id) AS rn
        FROM cosd)
      WHERE rn <= 5"""))

  /** Exact ROC AUC of the label-0 centroid discriminator
    * (ops/Eval.aucExact): every vector scored by quantized cosine to
    * the label-0 member centroid (the q_label_outliers kernel), ranked
    * by the lean global rank, midrank Mann-Whitney fold — how well
    * centroid similarity separates the class, with NO approximation.
    * 2·R⁺ stays integral (tie groups occupy consecutive ranks), AUC is
    * one int/int division; the oracle replays score, ranks, and fold.
    */
  private val qCentroidAuc = QueryDef(
    "q_centroid_auc",
    (s, d) => {
      val flat = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos"),
          round(col("col").cast("double") * 10000).cast("long").as("qv"))
      val cent = flat.where(col("label") === 0)
        .groupBy(col("pos")).agg(sum(col("qv")).as("sq"))
      val nrmC = cent.agg(sum(col("sq") * col("sq")).as("nrm_c"))
      // hint kept: cent is a grouped aggregate, priced at flat's size
      val scored = flat.join(broadcast(cent), Seq("pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("qv") * col("sq")).as("qdot"),
          sum(col("qv") * col("qv")).as("nrm_v"))
        .crossJoin(nrmC)
        .select(col("vec_id"),
          (col("label") === 0).cast("long").as("y"),
          (col("qdot") / (sqrt(col("nrm_v")) * sqrt(col("nrm_c"))))
            .as("score"))
      graft.ops.Eval.aucExact(scored, "score", "y", "vec_id")
    },
    Some("""
      WITH qe AS (
        SELECT vec_id, label,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings),
      cent AS (SELECT pos, SUM(qv) AS sq FROM qe WHERE label = 0 GROUP BY 1),
      nc AS (SELECT SUM(sq * sq) AS nrm_c FROM cent),
      sc AS (
        SELECT q.vec_id, CASE WHEN q.label = 0 THEN 1 ELSE 0 END AS y,
          SUM(q.qv * c.sq) AS qdot, SUM(q.qv * q.qv) AS nrm_v
        FROM qe q JOIN cent c ON c.pos = q.pos
        GROUP BY 1, 2),
      cosd AS (
        SELECT vec_id, y,
          CAST(qdot AS DOUBLE) /
            (sqrt(CAST(nrm_v AS DOUBLE)) * sqrt(CAST(nrm_c AS DOUBLE))) AS s
        FROM sc, nc),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY s, vec_id) AS rn FROM cosd),
      g AS (
        SELECT s, MIN(rn) AS lo, MAX(rn) AS hi,
          SUM(y) AS pos, COUNT(*) AS n
        FROM r GROUP BY s),
      t AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS np,
          CAST(SUM(n - pos) AS BIGINT) AS nn,
          SUM(pos * (lo + hi)) AS rs2
        FROM g)
      SELECT np AS n_pos, nn AS n_neg,
        CASE WHEN np > 0 AND nn > 0
          THEN CAST(rs2 - np * (np + 1) AS DOUBLE) /
               CAST(2 * np * nn AS DOUBLE) END AS auc
      FROM t"""))

  /** Retrieval eval: label precision@5 of the kNN join — the fraction
    * of top-5 neighbors sharing their query's label, the standard
    * embedding-quality readout. Exact counts, ONE division.
    */
  private val qKnnPrecision = QueryDef(
    "q_knn_label_precision",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val lab = emb.select(col("vec_id"), col("label"))
      Similarity.knnJoin(emb, "vec_id", "embedding",
          emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding", k = 5)
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), Seq("query_id"))
        .join(lab, Seq("vec_id"))
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_pairs"),
          sum((col("label") === col("__ql")).cast("long")).as("n_hits"))
        .withColumn("precision",
          col("n_hits").cast("double") / col("n_pairs").cast("double"))
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT g.vec_id AS query_id, f.vec_id, SUM(f.qv * g.qv) AS qdot
        FROM flat f
        JOIN flat g ON g.i = f.i AND g.vec_id % 10 = 0
          AND f.vec_id <> g.vec_id
        GROUP BY 1, 2),
      sc AS (
        SELECT query_id, d.vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
            AS score
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.query_id),
      top AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, vec_id) AS rn
          FROM sc)
        WHERE rn <= 5),
      lab AS (SELECT vec_id, label FROM embeddings),
      hits AS (
        SELECT t.query_id,
          CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END AS hit
        FROM top t
        JOIN lab ln ON ln.vec_id = t.vec_id
        JOIN lab lq ON lq.vec_id = t.query_id)
      SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(hit) AS BIGINT) AS n_hits,
        CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS precision
      FROM hits"""))

  /** Retrieval eval: label MRR@5 of the kNN join — mean reciprocal
    * rank of the FIRST same-label neighbor, the metric that rewards
    * putting a relevant result early (precision@5 counts them
    * position-blind). Engine-exact trick: ranks are 1..5 and
    * lcm(1..5) = 60, so reciprocal ranks live in integer sixtieths —
    * sum_rr60 = Σ 60 div first_rank is a BIGINT and the MRR is ONE
    * double division at the end. No-hit queries contribute 0 and stay
    * in the denominator.
    */
  private val qKnnMrr = QueryDef(
    "q_knn_label_mrr",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val lab = emb.select(col("vec_id"), col("label"))
      val knn = Similarity.knnJoin(emb, "vec_id", "embedding",
        emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding", k = 5)
      val nq = knn.agg(countDistinct(col("query_id")).as("n_queries"))
      val firsts = knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), Seq("query_id"))
        .join(lab, Seq("vec_id"))
        .where(col("label") === col("__ql"))
        .groupBy(col("query_id"))
        .agg(min(col("rank")).as("__fr"))
      firsts
        .agg(count(lit(1)).as("n_hit_queries"),
          sum(expr("60 div __fr")).as("sum_rr60"))
        .crossJoin(nq)
        .select(col("n_queries"), col("n_hit_queries"), col("sum_rr60"),
          (col("sum_rr60").cast("double") /
            (lit(60.0) * col("n_queries").cast("double"))).as("mrr"))
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT g.vec_id AS query_id, f.vec_id, SUM(f.qv * g.qv) AS qdot
        FROM flat f
        JOIN flat g ON g.i = f.i AND g.vec_id % 10 = 0
          AND f.vec_id <> g.vec_id
        GROUP BY 1, 2),
      sc AS (
        SELECT query_id, d.vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
            AS score
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.query_id),
      top AS (
        SELECT query_id, vec_id, rn FROM (
          SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, vec_id) AS rn
          FROM sc)
        WHERE rn <= 5),
      lab AS (SELECT vec_id, label FROM embeddings),
      nq2 AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT)
        AS n_queries FROM top),
      firsts AS (
        SELECT t.query_id, MIN(t.rn) AS fr
        FROM top t
        JOIN lab ln ON ln.vec_id = t.vec_id
        JOIN lab lq ON lq.vec_id = t.query_id
        WHERE ln.label = lq.label
        GROUP BY 1)
      SELECT n_queries,
        CAST(COUNT(fr) AS BIGINT) AS n_hit_queries,
        CAST(SUM(60 // fr) AS BIGINT) AS sum_rr60,
        CAST(SUM(60 // fr) AS DOUBLE) /
          (60.0 * CAST(n_queries AS DOUBLE)) AS mrr
      FROM nq2 LEFT JOIN firsts ON TRUE
      GROUP BY n_queries"""))

  /** Retrieval eval #4 — MAP@5, completing the quartet (precision,
    * MRR, nDCG, MAP): per query, average precision over the hit
    * positions of its kNN top-5. precision@pos rides as EXACT
    * integer sixtieths (60·hits@pos div pos — 60 = lcm(1..5), so the
    * division is exact); the AP denominator caps at the available
    * same-label candidates (the nDCG ideal rule); the per-query AP is
    * ONE double division, NULL when no same-label candidate exists.
    */
  private val qKnnMap = QueryDef(
    "q_knn_label_map",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val lab = emb.select(col("vec_id"), col("label"))
      val cnt = emb.groupBy(col("label")).agg(count(lit(1)).as("__lc"))
      val knn = Similarity.knnJoin(emb, "vec_id", "embedding",
        emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding", k = 5)
      val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, 0)
      knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), Seq("query_id"))
        .join(lab, Seq("vec_id"))
        .withColumn("__hit", (col("label") === col("__ql")).cast("long"))
        .withColumn("__cum", sum(col("__hit")).over(w))
        .groupBy(col("query_id"), col("__ql"))
        .agg(sum(col("__hit")).as("n_hits"),
          sum(when(col("__hit") === 1, expr("60 * __cum div rank"))
            .otherwise(0L)).as("sum_prec60"))
        // hint kept: cnt is a grouped aggregate, priced at emb's size
        .join(broadcast(cnt.withColumnRenamed("label", "__ql")),
          Seq("__ql"))
        .withColumn("denom_k",
          when(col("__lc") - 1 < 5, col("__lc") - 1).otherwise(lit(5L)))
        .select(col("query_id"), col("n_hits"), col("sum_prec60"),
          col("denom_k"),
          when(col("denom_k") > 0, col("sum_prec60").cast("double") /
            (lit(60.0) * col("denom_k").cast("double"))).as("ap"))
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT g.vec_id AS query_id, f.vec_id, SUM(f.qv * g.qv) AS qdot
        FROM flat f
        JOIN flat g ON g.i = f.i AND g.vec_id % 10 = 0
          AND f.vec_id <> g.vec_id
        GROUP BY 1, 2),
      sc AS (
        SELECT query_id, d.vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
            AS score
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.query_id),
      top AS (
        SELECT query_id, vec_id, rn FROM (
          SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, vec_id) AS rn
          FROM sc)
        WHERE rn <= 5),
      lab AS (SELECT vec_id, label FROM embeddings),
      lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS c
        FROM lab GROUP BY 1),
      h AS (
        SELECT t.query_id, lq.label AS ql, t.rn,
          CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END AS hit
        FROM top t
        JOIN lab ln ON ln.vec_id = t.vec_id
        JOIN lab lq ON lq.vec_id = t.query_id),
      cumz AS (
        SELECT query_id, ql, rn, hit,
          SUM(hit) OVER (PARTITION BY query_id ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM h),
      apt AS (
        SELECT query_id, ql, CAST(SUM(hit) AS BIGINT) AS n_hits,
          CAST(SUM(CASE WHEN hit = 1 THEN (60 * cum) // rn
            ELSE 0 END) AS BIGINT) AS sum_prec60
        FROM cumz GROUP BY 1, 2)
      SELECT apt.query_id, apt.n_hits, apt.sum_prec60,
        CAST(CASE WHEN lc.c - 1 < 5 THEN lc.c - 1 ELSE 5 END AS BIGINT)
          AS denom_k,
        CASE WHEN lc.c - 1 > 0 THEN
          CAST(apt.sum_prec60 AS DOUBLE) /
            (60.0 * (CASE WHEN lc.c - 1 < 5 THEN lc.c - 1 ELSE 5 END))
        END AS ap
      FROM apt JOIN lc ON lc.label = apt.ql"""))

  /** Retrieval eval #3 — nDCG@5 of the kNN join (binary label
    * relevance), completing the precision / MRR / nDCG triad. The log2
    * discounts ride as a PINNED INTEGER table (×10⁴:
    * round(10⁴/log2(r+1)) = 10000, 6309, 5000, 4307, 3869) shared
    * literally by both engines — cross-engine log2 bit-identity is
    * never assumed. DCG and the ideal DCG (discount prefix sums capped
    * at min(available same-label docs, 5)) are exact BIGINTs; the
    * per-query nDCG is ONE double division. Queries with no same-label
    * candidate anywhere emit NULL (undefined, not zero).
    */
  private val qKnnNdcg = QueryDef(
    "q_knn_label_ndcg",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val lab = emb.select(col("vec_id"), col("label"))
      val disc = typedLit(Seq(10000L, 6309L, 5000L, 4307L, 3869L))
      val idcgPrefix = typedLit(Seq(10000L, 16309L, 21309L, 25616L, 29485L))
      val knn = Similarity.knnJoin(emb, "vec_id", "embedding",
        emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding", k = 5)
      val dcg = knn
        .join(lab.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), Seq("query_id"))
        .join(lab, Seq("vec_id"))
        .groupBy(col("query_id"))
        .agg(sum(element_at(disc, col("rank").cast("int")) *
          (col("label") === col("__ql")).cast("long")).as("dcg_scaled"))
      val lc = lab.groupBy(col("label")).agg(count(lit(1)).as("__c"))
      val idcg = emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("label"))
        // hint kept: lc is a grouped aggregate, priced at lab's size
        .join(broadcast(lc), Seq("label"))
        .select(col("query_id"),
          when(col("__c") - 1 <= 0, lit(0L))
            .otherwise(element_at(idcgPrefix,
              least(col("__c") - 1, lit(5L)).cast("int")))
            .as("idcg_scaled"))
      idcg.join(dcg, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
          col("idcg_scaled"),
          when(col("idcg_scaled") > 0,
            coalesce(col("dcg_scaled"), lit(0L)).cast("double") /
              col("idcg_scaled").cast("double")).as("ndcg"))
    },
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
      dots AS (
        SELECT g.vec_id AS query_id, f.vec_id, SUM(f.qv * g.qv) AS qdot
        FROM flat f
        JOIN flat g ON g.i = f.i AND g.vec_id % 10 = 0
          AND f.vec_id <> g.vec_id
        GROUP BY 1, 2),
      sc AS (
        SELECT query_id, d.vec_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
            AS score
        FROM dots d
        JOIN norms na ON na.vec_id = d.vec_id
        JOIN norms nq ON nq.vec_id = d.query_id),
      top AS (
        SELECT query_id, vec_id, rn FROM (
          SELECT query_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score DESC, vec_id) AS rn
          FROM sc)
        WHERE rn <= 5),
      lab AS (SELECT vec_id, label FROM embeddings),
      dcg AS (
        SELECT t.query_id,
          CAST(SUM(CASE WHEN ln.label = lq.label THEN
            CASE t.rn WHEN 1 THEN 10000 WHEN 2 THEN 6309 WHEN 3 THEN 5000
              WHEN 4 THEN 4307 ELSE 3869 END ELSE 0 END) AS BIGINT)
            AS dcg_scaled
        FROM top t
        JOIN lab ln ON ln.vec_id = t.vec_id
        JOIN lab lq ON lq.vec_id = t.query_id
        GROUP BY 1),
      lc AS (SELECT label, COUNT(*) AS c FROM embeddings GROUP BY 1),
      idcg AS (
        SELECT q.vec_id AS query_id,
          CAST(CASE LEAST(lc.c - 1, 5) WHEN 0 THEN 0 WHEN 1 THEN 10000
            WHEN 2 THEN 16309 WHEN 3 THEN 21309 WHEN 4 THEN 25616
            ELSE 29485 END AS BIGINT) AS idcg_scaled
        FROM embeddings q JOIN lc ON lc.label = q.label
        WHERE q.vec_id % 10 = 0)
      SELECT i.query_id, COALESCE(d.dcg_scaled, 0) AS dcg_scaled,
        i.idcg_scaled,
        CASE WHEN i.idcg_scaled > 0
          THEN CAST(COALESCE(d.dcg_scaled, 0) AS DOUBLE) /
            CAST(i.idcg_scaled AS DOUBLE) END AS ndcg
      FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id"""))

  /** Exact MIPS top-k with Cauchy–Schwarz norm pruning
    * (Similarity.mipsTopKNormPruned): the recommendation-serving
    * metric (largest DOT, not nearest point). Descending-norm
    * candidate ladder, pushed-In point reads, driver-side BigInt stop
    * test; the ladder exhausts into a full scan when pruning can't
    * engage, so the output is ALWAYS exact and the oracle is plain
    * brute force — the stop rule is purely a cost lever.
    */
  private val qMips = QueryDef(
    "q_mips_topk",
    // minSpread = 0: the exhibit pins the LADDER + pushed-In point-read
    // plan shape (PlanSpec). This Gaussian corpus would otherwise take
    // the concentration-guard brute path (MipsProbe) — correct serving
    // config, but then no declared query would exercise the rungs.
    (s, d) => graft.sim.Similarity.mipsTopKNormPruned(
      Tables.embeddings(s, d), "vec_id", "embedding", queryId = 0L, k = 20,
      minSpread = 0.0),
    Some(s"""
      WITH flat AS ($sqlQuantFlat),
      qf AS (SELECT i, qv AS qqv FROM flat WHERE vec_id = 0),
      dots AS (
        SELECT f.vec_id, CAST(SUM(f.qv * q.qqv) AS BIGINT) AS dot_q
        FROM flat f JOIN qf q USING (i)
        GROUP BY f.vec_id)
      SELECT vec_id, dot_q FROM dots WHERE vec_id <> 0
      ORDER BY dot_q DESC, vec_id LIMIT 20"""))

  /** Matryoshka truncation audit (Eval.rboFromRankings over two
    * knnJoin runs): per query, the RBO@10 agreement between the
    * full-64-dim cosine ranking and the ranking from the FIRST 16
    * DIMENSIONS only — the question a pipeline asks before serving
    * truncated embeddings as a cheap prefilter ("how much of the
    * top-k ranking survives cutting storage 4×"). Both rankings are
    * exact quantized-cosine top-10s (the knnJoin shape — per-query
    * map-side pair-top-k, corpus never shuffles); the RBO fold is
    * |queries|·depth-bounded. The oracle replays both dot-product
    * rankings (full and i ≤ 16) and the pinned weight table.
    */
  private val qMatryoshkaRbo = {
    val (w, den) = graft.ops.Eval.rboWeights(10)
    val weightCase = (1 to 10).map(d => s"WHEN $d THEN ${w(d - 1)}")
      .mkString(" ")
    val wMax = (1 to 10).map(d => w(d - 1) * d).sum
    QueryDef(
      "q_matryoshka_rbo",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.where(col("vec_id") % 100 === 0)
        val full = Similarity.knnJoin(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 10)
        val emb16 = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("emb16"))
        val trunc = Similarity.knnJoin(emb16, "vec_id", "emb16",
          emb16.where(col("vec_id") % 100 === 0), "vec_id", "emb16",
          k = 10)
        graft.ops.Eval.rboFromRankings(
          full.select(col("query_id"), col("vec_id"), col("rank")),
          trunc.select(col("query_id"), col("vec_id"), col("rank")),
          Seq("query_id"), "vec_id", "rank", "rank", depth = 10)
      },
      Some(s"""
        WITH flat AS ($sqlQuantFlat),
        norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM flat GROUP BY 1),
        norms16 AS (
          SELECT vec_id, SUM(qv * qv) AS nrm FROM flat
          WHERE i <= 16 GROUP BY 1),
        dots AS (
          SELECT g.vec_id AS query_id, f.vec_id,
            SUM(f.qv * g.qv) AS qdot,
            SUM(CASE WHEN f.i <= 16 THEN f.qv * g.qv ELSE 0 END)
              AS qdot16
          FROM flat f
          JOIN flat g ON g.i = f.i AND g.vec_id % 100 = 0
            AND f.vec_id <> g.vec_id
          GROUP BY 1, 2),
        ra AS (
          SELECT d.query_id, d.vec_id, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY
              CAST(qdot AS BIGINT) /
                (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
              DESC, d.vec_id) AS pa
          FROM dots d
          JOIN norms na ON na.vec_id = d.vec_id
          JOIN norms nq ON nq.vec_id = d.query_id),
        rb AS (
          SELECT d.query_id, d.vec_id, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY
              CAST(qdot16 AS BIGINT) /
                (sqrt(CAST(na.nrm AS BIGINT)) * sqrt(CAST(nq.nrm AS BIGINT)))
              DESC, d.vec_id) AS pb
          FROM dots d
          JOIN norms16 na ON na.vec_id = d.vec_id
          JOIN norms16 nq ON nq.vec_id = d.query_id),
        j AS (
          SELECT ra.query_id, ra.vec_id, GREATEST(pa, pb) AS mx
          FROM ra JOIN rb ON ra.query_id = rb.query_id
            AND ra.vec_id = rb.vec_id
          WHERE pa <= 10 AND pb <= 10),
        t AS (SELECT query_id, mx, unnest(range(mx, 11)) AS d FROM j),
        g AS (
          SELECT query_id,
            CAST(COUNT(*) FILTER (d = 10) AS BIGINT) AS n_common,
            SUM(CASE d $weightCase END) AS num
          FROM t GROUP BY 1),
        ku AS (
          SELECT DISTINCT query_id FROM ra WHERE pa <= 10
          UNION
          SELECT DISTINCT query_id FROM rb WHERE pb <= 10)
        SELECT ku.query_id,
          CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
          CAST(COALESCE((num * 1000000) // $den, 0) AS BIGINT) AS rbo_x1e6,
          CAST(COALESCE((num * 1000000) // $wMax, 0) AS BIGINT)
            AS rbo_norm_x1e6
        FROM ku LEFT JOIN g USING (query_id)"""))
  }

  def all: Seq[QueryDef] = Seq(qMatryoshkaRbo, qMips, qTopKQuant, qTopKFloat, qLsh, qRpTopK, qKnnJoin, qIvf, qIvfServed,
    qIvfAppended, qNearDup, qLshNearDup, qSemanticDedup, qKmeans,
    qKmeansSample, qStreamKmeans, qPqCodes, qPqAdc, qIvfPq, qIvfPqServed, qIvfPqRefined, qIvfPqAdaptive,
    qCentroids, qCentroidVectors, qLabelOutliers, qHardNegatives, qMarginMining,
    qMarginMiningIvf, qPcaTop1, qAbtt, qCentroidAuc, qKnnPrecision, qKnnMrr, qKnnNdcg, qKnnMap)
}
