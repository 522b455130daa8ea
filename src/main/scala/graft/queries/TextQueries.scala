package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{Dedup, QualityClassifier, TextFunctions => TF}

/** Text-analysis + dedup query surface over `documents`.
  *
  * Oracle notes: DuckDB mirrors use regexp_split_to_array /
  * list_filter lambdas; DuckDB's regexp_replace needs the 'g' flag to
  * match Spark's global-by-default semantics. Ratio columns are a single
  * int/int double division → bit-identical across engines. Hash-based
  * operators (minhash/simhash/fingerprint, all on xxhash64) are not
  * SQL-portable → no oracle, rows-only checks; their *verification*
  * columns (true Jaccard, Hamming) are exact integer math.
  */
object TextQueries {

  private val sqlTokens = """regexp_split_to_array(trim(text), '\s+')"""

  /** The shared tokenize → distinct-3-gram-shingle CTE block (tok, sh,
    * ex, sizes) every Jaccard-family oracle builds on — ONE definition
    * so the SQL mirror of Dedup.shingleHashFrame can never drift per
    * query. `src` is the relation shingles are built from.
    */
  private def sqlShingleCtes(src: String): String = """
      tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM __SRC__ WHERE length(trim(text)) > 0),
      sh AS (
        SELECT doc_id,
          list_distinct(list_transform(range(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM tok WHERE len(t) >= 3),
      ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      sizes AS (SELECT doc_id, len(s) AS n FROM sh)""".replace("__SRC__", src)
  private val sqlNTokens =
    s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlTokens) END"
  private val sqlStops = "('the', 'a', 'of', 'and')"
  private val sqlNStop =
    s"len(list_filter($sqlTokens, t -> t IN $sqlStops))"
  private val sqlCharsNoWs = """length(regexp_replace(text, '\s', '', 'g'))"""

  // --------------------------------------------------------- text stats
  private val qStats = QueryDef(
    "q_text_stats",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars"),
        TF.avgTokenLength(col("text")).as("avg_token_len"),
        TF.stopwordRatio(col("text")).as("stop_ratio"))
    },
    Some(s"""
      SELECT doc_id,
        CAST($sqlNTokens AS INT) AS n_tokens,
        CAST(length(text) AS INT) AS len_chars,
        CASE WHEN $sqlNTokens = 0 THEN 0.0
             ELSE $sqlCharsNoWs / $sqlNTokens END AS avg_token_len,
        CASE WHEN $sqlNTokens = 0 THEN 0.0
             ELSE $sqlNStop / $sqlNTokens END AS stop_ratio
      FROM documents"""),
    headline = true)

  // --------------------------------------------------------- language ID
  private val qLang = QueryDef(
    "q_lang_id_confusion",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TF.langIdGuess(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs")),
    Some(s"""
      WITH pred AS (
        SELECT lang,
          CASE WHEN $sqlNTokens = 0 THEN 'other'
               WHEN $sqlNStop / $sqlNTokens >= 0.10 THEN 'en'
               WHEN $sqlNStop / $sqlNTokens >= 0.03 THEN 'en-ish'
               ELSE 'other' END AS lang_pred
        FROM documents)
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY lang, lang_pred"""))

  /** Cohen's kappa between the declared language tag and the n-gram
    * heuristic's guess (ops/Experiment.cohensKappa) — the
    * chance-corrected agreement number a labeling-quality review
    * starts from. The domains only overlap on 'en' (the heuristic
    * answers en/en-ish/other), which kappa handles natively: expected
    * agreement comes from the marginal products over SHARED labels.
    * All terms exact integers; kappa is one int/int division.
    */
  private val qLangKappa = QueryDef(
    "q_langid_kappa",
    (s, d) => graft.ops.Experiment.cohensKappa(
      Tables.documents(s, d)
        .select(col("lang").as("a"), TF.langIdGuess(col("text")).as("b")),
      "a", "b"),
    Some(s"""
      WITH pred AS (
        SELECT lang AS a,
          CASE WHEN $sqlNTokens = 0 THEN 'other'
               WHEN $sqlNStop / $sqlNTokens >= 0.10 THEN 'en'
               WHEN $sqlNStop / $sqlNTokens >= 0.03 THEN 'en-ish'
               ELSE 'other' END AS b
        FROM documents),
      cells AS (SELECT a, b, COUNT(*) AS o FROM pred GROUP BY 1, 2),
      tot AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
          CAST(COALESCE(SUM(CASE WHEN a = b THEN o END), 0) AS BIGINT)
            AS n_agree
        FROM cells),
      ra AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
      cb AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
      pe AS (SELECT COALESCE(SUM(r * c), 0) AS pe FROM ra JOIN cb ON ra.a = cb.b)
      SELECT n, n_agree,
        CASE WHEN n * n - pe <> 0
          THEN CAST(n_agree * n - pe AS DOUBLE) /
               CAST(n * n - pe AS DOUBLE) END AS kappa
      FROM tot, pe"""))

  // ------------------------------------------------------ quality filter
  /** The quality-score `scored` CTE (→ column `q`), ONE definition so
    * the SQL mirror of TextFunctions.withQualityScore can never drift
    * between the histogram and the percentile-filter oracles.
    * `passCols` = source columns carried through alongside `q`.
    */
  private def sqlScoredCte(passCols: String,
      src: String = "documents"): String = s"""
      scored AS (
        SELECT $passCols, (
          (CASE WHEN $sqlNTokens BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN $sqlNTokens > 0
                 AND $sqlCharsNoWs / $sqlNTokens >= 2.0
                 AND $sqlCharsNoWs / $sqlNTokens <= 12.0 THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN $sqlNTokens > 0
                 AND $sqlNStop / $sqlNTokens >= 0.01 THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN $sqlCharsNoWs = 0 OR
                 ($sqlCharsNoWs - length(regexp_replace(regexp_replace(text, '\\s', '', 'g'), '[^A-Za-z0-9]', '', 'g'))) / $sqlCharsNoWs <= 0.2
                 THEN 1.0 ELSE 0.0 END)
        ) / 4.0 AS q
        FROM $src)"""

  /** Curriculum ordering (ops/Sampling.curriculumOrder): documents
    * banded 1..5 by equi-depth quality rank (band 1 = best), shuffled
    * within band, globally enumerated band-major — the quality-first
    * write order curriculum training consumes. Both ranks are the
    * distributed two-level prefix sum; the oracle replays the same
    * total orders with plain ROW_NUMBERs.
    */
  private val qCurriculum = QueryDef(
    "q_curriculum_order",
    (s, d) => graft.ops.Sampling.curriculumOrder(
      TF.withQualityScore(Tables.documents(s, d), "text", "q")
        .select(col("doc_id"), col("q")),
      "doc_id", "q", bands = 5, seed = 7L),
    Some(s"""
      WITH ${sqlScoredCte("doc_id")},
      r AS (
        SELECT doc_id, q,
          ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM scored),
      b AS (
        SELECT doc_id, q,
          CAST(FLOOR((rn - 1) * 5 / n) + 1 AS INT) AS band
        FROM r)
      SELECT doc_id, q, band,
        CAST(ROW_NUMBER() OVER (ORDER BY band,
          md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id) AS BIGINT)
          AS curriculum_pos
      FROM b"""))

  private val qQuality = QueryDef(
    "q_quality_score_histogram",
    (s, d) =>
      TF.withQualityScore(Tables.documents(s, d), "text", "q")
        .groupBy(col("source"), col("q"))
        .agg(count(lit(1)).as("n_docs")),
    Some(s"""
      WITH ${sqlScoredCte("source")}
      SELECT source, q, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM scored GROUP BY source, q"""))

  /** Per-language quality gate (graft.ops.GroupQuantile): drop docs
    * strictly below their language's lower-quartile quality score.
    * The Spark side computes the per-group threshold from the
    * aggregated (lang, q) DISTRIBUTION and broadcasts it back — the
    * corpus never sorts and never shuffles (see GroupQuantile
    * scaladoc for why percent_rank-over-corpus is the wrong shape at
    * 100 TB). The oracle mirrors the same CDF algebra over the
    * distribution, so the threshold semantics (lower type-1 quantile,
    * ties survive) are pinned exactly.
    */
  private val qQualityPercentile = QueryDef(
    "q_quality_percentile_filter",
    (s, d) =>
      graft.ops.GroupQuantile.filterAtQuantile(
        TF.withQualityScore(Tables.documents(s, d), "text", "q"),
        Seq(col("lang")), col("q"), p = 0.25)
        .select(col("doc_id"), col("lang"), col("q")),
    Some(s"""
      WITH ${sqlScoredCte("doc_id, lang")},
      dist AS (
        SELECT lang, q, COUNT(*) AS n FROM scored GROUP BY lang, q),
      cdf AS (
        SELECT lang, q,
          SUM(n) OVER (PARTITION BY lang ORDER BY q) AS cum,
          SUM(n) OVER (PARTITION BY lang) AS tot
        FROM dist),
      thr AS (
        SELECT lang, MIN(q) AS q_thr FROM cdf
        WHERE cum >= 0.25 * tot GROUP BY lang)
      SELECT s.doc_id, s.lang, s.q
      FROM scored s JOIN thr t ON s.lang = t.lang
      WHERE s.q >= t.q_thr"""))

  // --------------------------------------------------- common n-grams
  /** Corpus boilerplate detector (TextFunctions.commonNgrams): top-20
    * 3-grams by document frequency. Map-side distinct grams → one
    * partial-agg shuffle of (gram, count) → TakeOrdered; the text
    * itself never shuffles.
    */
  private val qCommonNgrams = QueryDef(
    "q_common_ngrams",
    (s, d) => TF.commonNgrams(Tables.documents(s, d), "text", n = 3, k = 20),
    Some(s"""
      WITH${sqlShingleCtes("documents")}
      SELECT g AS gram, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM ex GROUP BY g ORDER BY n_docs DESC, gram LIMIT 20"""))

  /** Vocabulary coverage curve (TextFunctions.vocabCoverage): top-100
    * tokens with rank and cumulative corpus share — the statistic that
    * sizes a tokenizer vocabulary. Windows run over the 100-row top-k
    * only; the corpus contributes one partial-agg shuffle.
    */
  private val qVocabCoverage = QueryDef(
    "q_vocab_coverage",
    (s, d) => TF.vocabCoverage(Tables.documents(s, d), "text", k = 100),
    Some(s"""
      WITH counts AS (
        SELECT token, COUNT(*) AS n FROM (
          SELECT unnest($sqlTokens) AS token
          FROM documents WHERE length(trim(text)) > 0)
        GROUP BY token),
      total AS (SELECT SUM(n) AS tot FROM counts),
      top AS (
        SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 100)
      SELECT
        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS rank,
        token, CAST(n AS BIGINT) AS n_occurrences,
        CAST(SUM(n) OVER (ORDER BY n DESC, token
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          / CAST(tot AS DOUBLE) AS cum_share
      FROM top, total"""))

  // --------------------------------------------------------- exact dedup
  private val qDedupExact = QueryDef(
    "q_dedup_exact_keepers",
    (s, d) => Dedup.exactKeepers(Tables.documents(s, d), "text", "doc_id"),
    Some("""
      SELECT doc_id, content_md5 FROM (
        SELECT doc_id, md5(text) AS content_md5,
          ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents)
      WHERE rn = 1"""),
    headline = true)

  // ------------------------------------------------- n-gram Jaccard pairs
  private val qJaccard = QueryDef(
    "q_ngram_jaccard_sample",
    (s, d) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).where(col("doc_id") % 7 === 0),
        "doc_id", "text", shingleN = 3, threshold = 0.01),
    Some("""
      WITH sel AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),""" +
      sqlShingleCtes("sel") + """,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
        common / (sa.n + sb.n - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common / (sa.n + sb.n - common) >= 0.01"""))

  /** Connected-component dedup clustering over the deterministic
    * sampled-Jaccard pair set: each doc labeled with its component's
    * min id (the keeper). Spark side is iterative label propagation;
    * the oracle is a DuckDB recursive CTE computing min reachable id —
    * graph connectivity, hash-checked exactly.
    */
  private val qClusters = QueryDef(
    "q_neardup_clusters",
    (s, d) => {
      val sel = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
      val pairs = Dedup.ngramJaccardPairs(sel, "doc_id", "text",
        shingleN = 3, threshold = 0.01).select(col("id_a"), col("id_b"))
      Dedup.nearDupClusters(sel.select(col("doc_id")), "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH RECURSIVE
      sel AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),""" +
      sqlShingleCtes("sel") + """,
      rawpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jpairs AS (
        SELECT id_a, id_b FROM rawpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n + sb.n - common) >= 0.01),
      edges AS (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION ALL SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM sel
        UNION
        SELECT e.s AS id, reach.r FROM edges e, reach WHERE e.d = reach.id)
      SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS rep,
        (MIN(r) = id) AS is_keeper
      FROM reach GROUP BY id"""))

  /** Priority-keeper variant of the clustering exhibit: same connected
    * components, but the keeper per cluster is the LONGEST member
    * (n_chars DESC, id ASC) via Dedup.priorityKeepers — the "keep the
    * best copy" rule production dedup uses, with an integer priority so
    * the selection is engine-exact. Oracle = the same recursive-CTE
    * components + a window over (rep, n_chars).
    */
  private val qBestKeepers = QueryDef(
    "q_neardup_best_keepers",
    (s, d) => {
      val sel = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
      val pairs = Dedup.ngramJaccardPairs(sel, "doc_id", "text",
        shingleN = 3, threshold = 0.01).select(col("id_a"), col("id_b"))
      val labels =
        Dedup.nearDupClusters(sel.select(col("doc_id")), "doc_id", pairs)
      Dedup.priorityKeepers(labels, sel, "doc_id", "n_chars")
        .withColumnRenamed("id", "doc_id")
    },
    Some("""
      WITH RECURSIVE
      sel AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 7 = 0),""" +
      sqlShingleCtes("sel") + """,
      rawpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jpairs AS (
        SELECT id_a, id_b FROM rawpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n + sb.n - common) >= 0.01),
      edges AS (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION ALL SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM sel
        UNION
        SELECT e.s AS id, reach.r FROM edges e, reach WHERE e.d = reach.id),
      clusters AS (
        SELECT id, CAST(MIN(r) AS BIGINT) AS rep FROM reach GROUP BY id)
      SELECT c.id AS doc_id, c.rep, CAST(s.n_chars AS BIGINT) AS n_chars,
        (ROW_NUMBER() OVER (PARTITION BY c.rep
           ORDER BY s.n_chars DESC, c.id) = 1) AS is_keeper
      FROM clusters c JOIN sel s ON s.doc_id = c.id"""))

  /** Leakage-free dataset split (Sampling.leakFreeSplit): same
    * connected components as q_neardup_clusters, but the md5-range
    * train/val/test draw keys on the cluster REPRESENTATIVE, so a
    * near-dup pair can never straddle train and test — the
    * eval-contamination guarantee plain per-doc splitting lacks.
    * Oracle = the recursive-CTE components + the same CASE ladder as
    * q_dataset_split applied to rep.
    */
  private val qLeakFreeSplit = QueryDef(
    "q_leakfree_split",
    (s, d) => {
      val sel = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
      val pairs = Dedup.ngramJaccardPairs(sel, "doc_id", "text",
        shingleN = 3, threshold = 0.01).select(col("id_a"), col("id_b"))
      graft.ops.Sampling.leakFreeSplit(sel.select(col("doc_id")), "doc_id",
        pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },
    Some("""
      WITH RECURSIVE
      sel AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),""" +
      sqlShingleCtes("sel") + s""",
      rawpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jpairs AS (
        SELECT id_a, id_b FROM rawpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n + sb.n - common) >= 0.01),
      edges AS (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION ALL SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM sel
        UNION
        SELECT e.s AS id, reach.r FROM edges e, reach WHERE e.d = reach.id),
      clusters AS (
        SELECT id, CAST(MIN(r) AS BIGINT) AS rep FROM reach GROUP BY id)
      SELECT id AS doc_id, rep,
        CASE WHEN md5(CAST(rep AS VARCHAR)) <
               '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train'
             WHEN md5(CAST(rep AS VARCHAR)) <
               '${graft.ops.Sampling.hexThreshold(0.9)}' THEN 'val'
             ELSE 'test' END AS split
      FROM clusters"""))

  /** MinHash-LSH near-dups at the DEDUP-DECISION threshold (0.5),
    * declared against the full-corpus exact-Jaccard oracle. Sound
    * because the corpus similarity distribution is bimodal (measured:
    * every pair above 0.3 is ≥0.7; background <0.3): at j≥0.7, 16 bands
    * × r=2 miss a pair with p=(1−0.49)¹⁶≈2e-5 and the signature
    * pre-filter at 0.35 with p(Bin(32,0.7)<11.2)≈1e-5 — recall is 1 at
    * any test scale with ~1e-3 slack. est_jaccard (engine-specific
    * xxhash64 minhash estimate) is not declared; the verified exact
    * jaccard is. Banding recall for WEAK pairs (the old 0.01-threshold
    * variant) is inherently partial — that operating point stays a
    * library capability, exercised in DedupSpec.
    */
  private val qMinhash = QueryDef(
    "q_minhash_lsh_neardup",
    (s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5, numHashes = 32, bands = 16,
        estThresholdOpt = Some(0.35))
        .select(col("id_a"), col("id_b"), col("jaccard")),
    Some("""
      WITH""" + sqlShingleCtes("documents") + """,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, common / (sa.n + sb.n - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common / (sa.n + sb.n - common) >= 0.5"""),
    headline = true)

  /** Served near-dup index exhibit — the incremental-ingestion shape
    * (Dedup.buildAndWriteNearDupIndex / servedNearDups): the corpus
    * (doc_id % 5 != 0) is indexed ONCE as narrow minhash signatures;
    * the "incoming batch" (doc_id % 5 == 0) shingles itself, broadcasts
    * its banded signatures to the index scan, and exact-verifies only
    * candidate corpus docs. Same 16-band/est-0.35/j≥0.5 operating point
    * as q_minhash_lsh_neardup, whose recall argument covers this
    * subset pair population → exact batch×corpus Jaccard oracle.
    */
  /** The served near-dup index (corpus = doc_id % 5 ≠ 0), built once
    * (util.BuildDir) and shared by the batch and streaming exhibits —
    * whichever runs first builds; both serve the same layout.
    */
  private def ensureNearDupIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.util.BuildDir(s, d, "graft_neardup_index", "documents")(
      Dedup.buildAndWriteNearDupIndex(
        Tables.documents(s, d).where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", _))

  private val sqlServedNearDups = """
      WITH""" + sqlShingleCtes("documents") + """,
      pairs AS (
        SELECT b.doc_id AS id_batch, a.doc_id AS id_corpus,
          COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g
        WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        GROUP BY 1, 2)
      SELECT id_batch, id_corpus, common / (sa.n + sb.n - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_corpus
      JOIN sizes sb ON sb.doc_id = id_batch
      WHERE common / (sa.n + sb.n - common) >= 0.5"""

  private val qNearDupServed = QueryDef(
    "q_neardup_index_served",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      val batch = docs.where(col("doc_id") % 5 === 0)
      val dir = ensureNearDupIndex(s, d)
      Dedup.servedNearDups(s, batch, corpus, "doc_id", "text", dir,
        threshold = 0.5, numHashes = 32, bands = 16,
        estThresholdOpt = Some(0.35))
    },
    Some(sqlServedNearDups))

  /** The served near-dup check as a CONTINUOUS ingest query
    * (StreamingNearDup): micro-batches of arriving documents are
    * checked against the same served index via foreachBatch — the
    * streaming-dedup rung where the reference set is an unbounded
    * TABLE rather than a literal-sized probe set. Hash-checked against
    * the SAME exact-Jaccard oracle as the batch exhibit: the union of
    * micro-batch outputs must equal the one-shot run whatever the
    * arrival partitioning (servedNearDups reports batch×index pairs
    * only, so per-document verdicts are independent of batching).
    */
  private val qStreamNearDup = QueryDef(
    "q_stream_neardup_index",
    (s, d) => graft.streaming.StreamingNearDup.runBatchEquivalent(
      s, d, ensureNearDupIndex(s, d)),
    Some(sqlServedNearDups))

  private val sqlSimhashOracle = """
      WITH""" + sqlShingleCtes("documents") + """,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, common / (sa.n + sb.n - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common / (sa.n + sb.n - common) >= 0.5"""

  /** SimHash dedup pipeline, exact-verified, at the library's PRUNING
    * operating point (chunks = 0 → 8 × 8-bit banding × 2 chunk
    * alignments, 256 buckets/band — ~16× fewer candidates than the
    * 16×4 guarantee point, the config a 100 TB corpus actually runs):
    * shingle-feature signatures → chunk-banded candidates → true
    * shingle-Jaccard ≥ 0.5. Recall: pigeonhole-complete to Hamming 7
    * from the first alignment alone; pairs at Hamming 8–15 must cover
    * all 8 chunks in BOTH alignments to be missed (~1e-4 each — the
    * single-alignment ~1% materialized as a real miss when the round-7
    * testdata regeneration produced a Hamming-9 true pair covering all
    * 8 chunks; the offset alignment restores ~6 bits of margin).
    * Measured complete at every test SF on current data → the output
    * equals the exact j ≥ 0.5 pair set and shares the minhash route's
    * oracle.
    */
  private val qSimhash = QueryDef(
    "q_simhash_neardup",
    (s, d) =>
      Dedup.simhashVerifiedNearDups(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxHamming = 15),
    Some(sqlSimhashOracle))

  /** The 16 × 4-bit GUARANTEE twin: candidates within Hamming 15 are
    * COMPLETE a priori by pigeonhole (≤15 bit-diffs cannot touch all 16
    * chunks) — no corpus measurement needed, at the price of 16-bucket
    * bands admitting ~64% of all pairs to the (cheap, pre-shuffle
    * Hamming-filtered) candidate stage. That makes the candidate set
    * Θ(n²), so the exhibit is DECLARED over an absolutely capped slice
    * (doc_id < 2000 — an audit-sized sample, bounded by construction at
    * ANY corpus scale): the pigeonhole property is proved end-to-end
    * while no declared query carries a quadratic exposure to full
    * corpus size. The pruning point above (8 × 8, measured-complete)
    * is what production runs corpus-wide. Same exact-Jaccard oracle,
    * over the same capped slice.
    */
  private val qSimhashGuarantee = QueryDef(
    "q_simhash_neardup_guarantee",
    (s, d) =>
      Dedup.simhashVerifiedNearDups(
        Tables.documents(s, d).where(col("doc_id") < 2000),
        "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxHamming = 15, chunks = 16),
    Some("""
      WITH capped AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 2000),""" +
      sqlShingleCtes("capped") + """,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, common / (sa.n + sb.n - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE common / (sa.n + sb.n - common) >= 0.5"""))

  /** The end-to-end dedup DECISION (Dedup.dedupCorpus): exact md5 stage
    * → MinHash-LSH verified near-dup pairs (j ≥ 0.5) among exact
    * keepers → connected components → keep each component's min id.
    * Output = the surviving corpus's doc ids. The oracle recomputes the
    * whole pipeline from first principles in SQL (window-function exact
    * stage, inverted-index Jaccard, recursive-CTE reachability) — one
    * hash check over the composite of three operator families.
    */
  private val qCorpusDedup = QueryDef(
    "q_corpus_dedup_keepers",
    (s, d) => Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.5),
    Some("""
      WITH RECURSIVE
      exact AS (
        SELECT doc_id FROM (
          SELECT doc_id,
            ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn = 1),
      kept AS (
        SELECT d.doc_id, d.text FROM documents d JOIN exact USING (doc_id)),""" +
      sqlShingleCtes("kept") + """,
      rawpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jpairs AS (
        SELECT id_a, id_b FROM rawpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n + sb.n - common) >= 0.5),
      edges AS (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION ALL SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM exact
        UNION
        SELECT e.s AS id, reach.r FROM edges e, reach WHERE e.d = reach.id)
      SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) = id"""))

  /** The END-TO-END curation pipeline as ONE declared query — the
    * "complete engine" exhibit chaining five operator families the way
    * a production run would: exact+near dedup keepers (dedupCorpus) →
    * benchmark decontamination (drop docs sharing any 3-gram with the
    * %97 probe set; anti-join on the CONTAMINATED side so shingle-less
    * docs pass) → per-language lower-quartile quality gate
    * (GroupQuantile CDF) → deterministic train/val/test split
    * (md5-range) → per-(split, lang) doc/token counts. The oracle
    * replays every stage: the recursive keeper closure, probe-shingle
    * contamination, the scored-CDF threshold, the hex split CASE.
    */
  private val qCurationE2E = QueryDef(
    "q_curation_end2end",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      val probes = docs.where(col("doc_id") % 97 === 0)
      val keepers = Dedup.dedupCorpus(corpus, "doc_id", "text",
        threshold = 0.5)
      val clean = corpus.join(keepers, Seq("doc_id"), "left_semi")
      val contaminated = Dedup.contaminationFlags(clean, probes,
          "doc_id", "text", shingleN = 3, minOverlap = 1)
        .where(col("contaminated")).select(col("doc_id"))
      val decon = clean.join(contaminated, Seq("doc_id"), "left_anti")
      val gated = graft.ops.GroupQuantile.filterAtQuantile(
        TF.withQualityScore(decon, "text", "q"),
        Seq(col("lang")), col("q"), p = 0.25)
      graft.ops.Sampling.assignSplit(gated, col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
    },
    Some(s"""
      WITH RECURSIVE
      corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
      exact AS (
        SELECT doc_id FROM (
          SELECT doc_id,
            ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM corpus)
        WHERE rn = 1),
      kept AS (
        SELECT d.doc_id, d.text FROM corpus d JOIN exact USING (doc_id)),""" +
      sqlShingleCtes("kept") + s""",
      rawpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jpairs AS (
        SELECT id_a, id_b FROM rawpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n + sb.n - common) >= 0.5),
      edges AS (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION ALL SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM exact
        UNION
        SELECT e.s AS id, reach.r FROM edges e, reach WHERE e.d = reach.id),
      keepers AS (
        SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) = id),
      ptok AS (
        SELECT regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
        WHERE doc_id % 97 = 0 AND length(trim(text)) > 0),
      psh AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
          range(1, len(t) - 1),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        FROM ptok WHERE len(t) >= 3),
      kex AS (
        SELECT sh.doc_id, unnest(sh.s) AS g
        FROM sh JOIN keepers USING (doc_id)),
      contam AS (SELECT DISTINCT kex.doc_id FROM kex JOIN psh USING (g)),
      surv AS (
        SELECT c.* FROM corpus c
        JOIN keepers USING (doc_id)
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      ${sqlScoredCte(
        s"doc_id, lang, CAST($sqlNTokens AS BIGINT) AS n_tok", "surv")},
      dist AS (
        SELECT lang, q, COUNT(*) AS n FROM scored GROUP BY lang, q),
      cdf AS (
        SELECT lang, q,
          SUM(n) OVER (PARTITION BY lang ORDER BY q) AS cum,
          SUM(n) OVER (PARTITION BY lang) AS tot
        FROM dist),
      thr AS (
        SELECT lang, MIN(q) AS q_thr FROM cdf
        WHERE cum >= 0.25 * tot GROUP BY lang),
      gated AS (
        SELECT s.doc_id, s.lang, s.n_tok
        FROM scored s JOIN thr t ON s.lang = t.lang
        WHERE s.q >= t.q_thr),
      sp AS (
        SELECT lang, n_tok,
          CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666' THEN 'train'
               WHEN md5(CAST(doc_id AS VARCHAR)) < 'f3333333' THEN 'val'
               ELSE 'test' END AS split
        FROM gated)
      SELECT split, lang,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM sp GROUP BY 1, 2"""))

  /** Gopher-style repetition filter (TextFunctions.repetitionSignals):
    * top-2-gram occurrence fraction + duplicate-3-gram fraction per
    * document, with the repetitive flag at the adapted thresholds.
    * Integer-count fractions → single double division → hash-exact.
    */
  private val qRepetition = QueryDef(
    "q_repetition_signals",
    (s, d) => TF.repetitionSignals(Tables.documents(s, d), "doc_id", "text"),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      ex2 AS (
        SELECT doc_id,
          unnest(list_transform(range(1, len(t)),
            i -> t[i] || ' ' || t[i+1])) AS g
        FROM tok WHERE len(t) >= 2),
      c2 AS (SELECT doc_id, g, COUNT(*) AS n FROM ex2 GROUP BY 1, 2),
      s2 AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tot2,
          CAST(MAX(n) AS BIGINT) AS top2
        FROM c2 GROUP BY 1),
      ex3 AS (
        SELECT doc_id,
          unnest(list_transform(range(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        FROM tok WHERE len(t) >= 3),
      c3 AS (SELECT doc_id, g, COUNT(*) AS n FROM ex3 GROUP BY 1, 2),
      s3 AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tot3,
          CAST(COUNT(*) AS BIGINT) AS dist3
        FROM c3 GROUP BY 1)
      SELECT doc_id, tot2 AS n_2grams, top2 / tot2 AS top2gram_frac,
        tot3 AS n_3grams, (tot3 - dist3) / tot3 AS dup3gram_frac,
        (top2 / tot2 > 0.20 OR (tot3 - dist3) / tot3 > 0.18) AS repetitive
      FROM s2 JOIN s3 USING (doc_id)"""))

  /** Cross-document duplicate spans (Dedup.dupSpanStats): per doc, how
    * many of its 8-token stride-1 windows occur verbatim in at least
    * one other document — the exact-substring-dedup signal. Oracle
    * groups by the span STRING where the engine groups by xxhash64 of
    * the token columns; identical counts (established hash-vs-string
    * equivalence, see sqlShingleCtes consumers).
    */
  private val qDupSpans = QueryDef(
    "q_dup_span_stats",
    (s, d) => Dedup.dupSpanStats(Tables.documents(s, d), "doc_id", "text", k = 8),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      idx AS (
        SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        FROM tok WHERE len(t) >= 8),
      wins AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx),
      per AS (SELECT g, doc_id, COUNT(*) AS cnt FROM wins GROUP BY 1, 2),
      nd AS (
        SELECT g, doc_id, cnt, COUNT(*) OVER (PARTITION BY g) AS ndocs
        FROM per)
      SELECT doc_id,
        CAST(SUM(cnt) AS BIGINT) AS n_windows,
        CAST(SUM(CASE WHEN ndocs > 1 THEN cnt ELSE 0 END) AS BIGINT)
          AS n_dup_windows,
        SUM(CASE WHEN ndocs > 1 THEN cnt ELSE 0 END) / SUM(cnt)
          AS dup_frac
      FROM nd GROUP BY doc_id"""))

  /** Per-source vocabulary cardinality via the portable HLL sketch
    * (ops/Sketches.hllRegisters/hllEstimate): md5-derived 256-register
    * HLL whose register table AND raw harmonic estimate are bit-exact
    * cross-engine (every 2^-M term is dyadic, the 256-term sum exact
    * in a double). The oracle replays bucket, rho CASE ladder, max
    * registers, and the estimate arithmetic verbatim.
    */
  private val qHllSourceVocab = QueryDef(
    "q_hll_source_vocab",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val items = docs.where(length(trim(col("text"))) > 0)
        .select(col("source"), explode(TF.tokens(col("text"))).as("term"))
      graft.ops.Sketches.hllEstimate(
        graft.ops.Sketches.hllRegisters(items, "term", Seq("source")),
        Seq("source"))
    },
    hllSourceVocabOracle)

  /** Per-source data card (the dataset-report step every curation
    * pipeline ends with — counts, token volume, empty/dup rates,
    * language mix, mean heuristic quality, sketched vocabulary): five
    * independent per-source aggregates joined on the handful of
    * source keys. Every number is either integer-exact or a single
    * pinned IEEE operation (q sums are dyadic quarters → exact; the
    * two fractions are one division each; the HLL estimate is the
    * dyadic-sum raw form) — the whole card replays in the oracle.
    * 100 TB shape: each branch is a partial→final aggregate whose
    * exchange carries (source, few longs); the dup branch shuffles
    * 16-byte digests; the join side is |sources| rows.
    */
  private val qSourceDatacard = QueryDef(
    "q_source_datacard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = TF.withQualityScore(docs, "text", "q")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L))
            .as("n_empty"),
          sum(col("q")).as("q_sum"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      val dups = docs
        .groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L))
          .as("n_dup_docs"))
      val vocab = graft.ops.Sketches.hllEstimate(
          graft.ops.Sketches.hllRegisters(
            docs.where(length(trim(col("text"))) > 0)
              .select(col("source"),
                explode(TF.tokens(col("text"))).as("term")),
            "term", Seq("source")),
          Seq("source"))
        .select(col("source"), col("hll_raw_estimate").as("vocab_est"))
      base.join(dups, Seq("source")).join(vocab, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_empty"), col("n_en"),
          (col("n_en") / col("n_docs")).as("en_frac"),
          (col("q_sum") / col("n_docs")).as("mean_q"),
          col("n_dup_docs"), col("vocab_est"))
    },
    Some(s"""
      WITH ${sqlScoredCte("source, lang, text")},
      base AS (
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM($sqlNTokens) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empty,
          SUM(q) AS q_sum,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_en
        FROM scored GROUP BY source),
      dup AS (
        SELECT source,
          CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
            AS n_dup_docs
        FROM (SELECT source, md5(text) AS h, COUNT(*) AS c
              FROM documents GROUP BY 1, 2)
        GROUP BY source),
      tok AS (
        SELECT source, unnest($sqlTokens) AS term
        FROM documents WHERE length(trim(text)) > 0),
      bits AS (
        SELECT source, substr(md5(term), 1, 2) AS bucket,
          substr(md5(term), 3, 8) AS tail
        FROM tok),
      lzt AS (
        SELECT source, bucket, tail,
          length(regexp_extract(tail, '^0*')) AS lzc
        FROM bits),
      rho AS (
        SELECT source, bucket,
          CASE WHEN lzc = 8 THEN 33
            ELSE 1 + lzc * 4 +
              CASE WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 8 THEN 0
                   WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 4 THEN 1
                   WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 2 THEN 2
                   ELSE 3 END END AS rho
        FROM lzt),
      regs AS (
        SELECT source, bucket, MAX(rho) AS m_reg FROM rho GROUP BY 1, 2),
      est AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_nonzero,
          SUM(CAST(1 AS DOUBLE) /
            CAST(CAST(1 AS BIGINT) << m_reg AS DOUBLE)) AS s
        FROM regs GROUP BY 1),
      vocab AS (
        SELECT source,
          (CAST(0.7213 AS DOUBLE) /
            (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)) * 65536 /
            (s + CAST(256 - n_nonzero AS DOUBLE)) AS vocab_est
        FROM est)
      SELECT source, n_docs, n_tokens, n_empty, n_en,
        n_en / n_docs AS en_frac,
        q_sum / n_docs AS mean_q,
        n_dup_docs, vocab_est
      FROM base JOIN dup USING (source) JOIN vocab USING (source)"""))

  /** Streaming twin of q_hll_source_vocab: registers maintained as ONE
    * streaming max-aggregate (state ≤ sources × 256 — bounded by sketch
    * geometry, no watermark), estimate read from the final snapshot.
    * `Sketches.hllRegisters` runs UNCHANGED on the unbounded frame, so
    * the twin shares the batch oracle verbatim.
    */
  private val qStreamHll = QueryDef(
    "q_stream_hll_vocab",
    (s, d) => graft.streaming.StreamingSketch.runHllBatchEquivalent(s, d),
    hllSourceVocabOracle)

  private lazy val hllSourceVocabOracle: Option[String] = Some(s"""
      WITH tok AS (
        SELECT source, unnest($sqlTokens) AS term
        FROM documents WHERE length(trim(text)) > 0),
      bits AS (
        SELECT source, substr(md5(term), 1, 2) AS bucket,
          substr(md5(term), 3, 8) AS tail
        FROM tok),
      lzt AS (
        SELECT source, bucket, tail,
          length(regexp_extract(tail, '^0*')) AS lzc
        FROM bits),
      rho AS (
        SELECT source, bucket,
          CASE WHEN lzc = 8 THEN 33
            ELSE 1 + lzc * 4 +
              CASE WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 8 THEN 0
                   WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 4 THEN 1
                   WHEN strpos('0123456789abcdef', substr(tail, lzc + 1, 1)) - 1 >= 2 THEN 2
                   ELSE 3 END END AS rho
        FROM lzt),
      regs AS (
        SELECT source, bucket, MAX(rho) AS m_reg FROM rho GROUP BY 1, 2),
      est AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_nonzero,
          SUM(CAST(1 AS DOUBLE) /
            CAST(CAST(1 AS BIGINT) << m_reg AS DOUBLE)) AS s
        FROM regs GROUP BY 1)
      SELECT source, n_nonzero,
        (CAST(0.7213 AS DOUBLE) /
          (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)) * 65536 /
          (s + CAST(256 - n_nonzero AS DOUBLE)) AS hll_raw_estimate
      FROM est""")

  /** Model-based quality classifier (text/QualityClassifier): train
    * integer-ppm token weights on a weakly labeled slice (doc_id%3=0,
    * label = lang=='en' — a stand-in for any trusted-source flag),
    * score EVERY doc as mean token weight, predict above-prior. The
    * whole model + scoring path is BIGINT (floor divisions), so the
    * oracle replays training and inference exactly.
    */
  private val qQualityClassifier = QueryDef(
    "q_quality_classifier",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = QualityClassifier.trainTokenWeights(
        docs.where(col("doc_id") % 3 === 0), "text", col("lang") === "en")
      QualityClassifier.scoreDocs(docs, "doc_id", "text", w)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      tr AS (
        SELECT lang = 'en' AS pos, unnest(t) AS term
        FROM tok WHERE doc_id % 3 = 0),
      w AS (
        SELECT term,
          CAST(1000000 * (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) //
            (COUNT(*) + 2) AS BIGINT) AS w_ppm
        FROM tr GROUP BY term),
      sc AS (SELECT doc_id, unnest(t) AS term FROM tok),
      agg AS (
        SELECT sc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          SUM(COALESCE(w.w_ppm, 500000)) AS w_sum
        FROM sc LEFT JOIN w USING (term) GROUP BY 1)
      SELECT agg.doc_id, n_tokens,
        CAST(w_sum // n_tokens AS BIGINT) AS score_ppm,
        (w_sum // n_tokens >= 500000) AS pred_pos, tok.lang
      FROM agg JOIN tok ON tok.doc_id = agg.doc_id"""))

  /** Duplicate-span REMOVAL (Dedup.dupSpanRemoval): cut every token
    * position covered by an 8-token window that occurs verbatim in >1
    * document, emit stats + cleaned text. Oracle mirrors the coverage
    * set positionally (covered positions → gaps-and-islands run count →
    * ordered string_agg of survivors); the engine merges intervals
    * before positions ever shuffle, but the covered-position SET is
    * identical, so counts, runs, and the rejoined text all hash-match.
    */
  private val qDupSpanRemoval = QueryDef(
    "q_dup_span_removal",
    (s, d) => Dedup.dupSpanRemoval(Tables.documents(s, d), "doc_id", "text", k = 8),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      idx AS (
        SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        FROM tok WHERE len(t) >= 8),
      wins AS (
        SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS g FROM idx),
      dup AS (
        SELECT g FROM wins GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1),
      covw AS (SELECT w.doc_id, w.i FROM wins w JOIN dup USING (g)),
      cov AS (
        SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(range(i, i + 8)) AS p FROM covw)),
      runs AS (
        SELECT doc_id, p,
          p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM cov),
      stats AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed,
          CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_spans
        FROM runs GROUP BY 1),
      posi AS (
        SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tok),
      kept AS (
        SELECT posi.doc_id, posi.p, posi.t[posi.p] AS w FROM posi
        WHERE NOT EXISTS (SELECT 1 FROM cov
          WHERE cov.doc_id = posi.doc_id AND cov.p = posi.p)),
      agg AS (
        SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned_text
        FROM kept GROUP BY 1)
      SELECT tok.doc_id,
        CAST(len(tok.t) AS BIGINT) AS n_tokens,
        COALESCE(stats.n_removed, 0) AS n_removed,
        COALESCE(stats.n_spans, 0) AS n_spans,
        COALESCE(stats.n_removed, 0) / len(tok.t) AS removed_frac,
        COALESCE(agg.cleaned_text, '') AS cleaned_text
      FROM tok LEFT JOIN stats USING (doc_id) LEFT JOIN agg USING (doc_id)"""))

  /** Intra-doc repeated-span removal (Dedup.selfSpanRemoval): cut
    * every position covered by an 8-token window that repeats an
    * EARLIER identical window in the same doc (keep-first). Oracle
    * mirrors dup_span_removal's positional reconstruction with the
    * duplicate test swapped to the within-doc earlier-occurrence
    * EXISTS.
    */
  private val qSelfSpanRemoval = QueryDef(
    "q_self_span_removal",
    (s, d) => graft.text.Dedup.selfSpanRemoval(
      Tables.documents(s, d), "doc_id", "text", k = 3),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      idx AS (
        SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        FROM tok WHERE len(t) >= 3),
      wins AS (
        SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS g FROM idx),
      covw AS (
        SELECT w.doc_id, w.i FROM wins w
        WHERE EXISTS (SELECT 1 FROM wins w2
          WHERE w2.doc_id = w.doc_id AND w2.g = w.g AND w2.i < w.i)),
      cov AS (
        SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(range(i, i + 3)) AS p FROM covw)),
      runs AS (
        SELECT doc_id, p,
          p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM cov),
      stats AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed,
          CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_spans
        FROM runs GROUP BY 1),
      posi AS (
        SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM tok),
      kept AS (
        SELECT posi.doc_id, posi.p, posi.t[posi.p] AS w FROM posi
        WHERE NOT EXISTS (SELECT 1 FROM cov
          WHERE cov.doc_id = posi.doc_id AND cov.p = posi.p)),
      agg AS (
        SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned_text
        FROM kept GROUP BY 1)
      SELECT tok.doc_id,
        CAST(len(tok.t) AS BIGINT) AS n_tokens,
        COALESCE(stats.n_removed, 0) AS n_removed,
        COALESCE(stats.n_spans, 0) AS n_spans,
        COALESCE(stats.n_removed, 0) / len(tok.t) AS removed_frac,
        COALESCE(agg.cleaned_text, '') AS cleaned_text
      FROM tok LEFT JOIN stats USING (doc_id) LEFT JOIN agg USING (doc_id)"""))

  /** Train/test decontamination (Dedup.contaminationFlags): corpus =
    * doc_id%97≠0, probe "benchmark" set = doc_id%97=0; flag corpus docs
    * sharing ≥1 distinct 3-gram shingle with any probe doc. The probe
    * shingle set is broadcast — the corpus side never shuffles text.
    */
  private val sqlContamination = """
      WITH""" + sqlShingleCtes("documents") + """,
      corpus AS (
        SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
      probe AS (
        SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)
      SELECT corpus.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN probe.g IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_overlap,
        SUM(CASE WHEN probe.g IS NOT NULL THEN 1 ELSE 0 END)
          / COUNT(*) AS overlap_frac,
        (SUM(CASE WHEN probe.g IS NOT NULL THEN 1 ELSE 0 END) >= 1)
          AS contaminated
      FROM corpus LEFT JOIN probe ON corpus.g = probe.g
      GROUP BY corpus.doc_id"""

  /** Per-document n-gram NOVELTY (the memorization-risk readout of the
    * same operator): fraction of a corpus doc's distinct 3-gram
    * shingles NOT present in the benchmark/reference slice, as exact
    * integer ppm — the continuous complement of the boolean
    * contamination flag (filters want "novelty ≥ X", not just
    * "any overlap"). Docs shorter than 3 tokens carry no shingles and
    * are absent by spec in both engines.
    */
  private val qNgramNovelty = QueryDef(
    "q_ngram_novelty",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFlags(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleN = 3, minOverlap = 1)
        .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
          expr("((n_shingles - n_overlap) * 1000000) div n_shingles")
            .as("novelty_ppm"))
    },
    Some("""
      WITH""" + sqlShingleCtes("documents") + """,
      corpus AS (
        SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
      probe AS (
        SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
      m AS (
        SELECT corpus.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_shingles,
          CAST(SUM(CASE WHEN probe.g IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap
        FROM corpus LEFT JOIN probe ON corpus.g = probe.g
        GROUP BY corpus.doc_id)
      SELECT doc_id, n_shingles, n_overlap,
        CAST(((n_shingles - n_overlap) * 1000000) // n_shingles
          AS BIGINT) AS novelty_ppm
      FROM m"""))

  /** Cross-source duplication matrix: near-dup pairs (the
    * q_minhash_lsh_neardup pair set, complete at these SFs) attributed
    * to their documents' SOURCES — the provenance readout that tells a
    * corpus owner which feeds duplicate each other (mirror detection,
    * licensing double-counting). Unordered source pair via
    * LEAST/GREATEST; one broadcast-able id→source join on each side of
    * the bounded pair frame.
    */
  private val qCrossSourceDup = QueryDef(
    "q_cross_source_dup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 32, bands = 16,
        estThresholdOpt = Some(0.35)).select(col("id_a"), col("id_b"))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("__sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("__sb")), Seq("id_b"))
        .groupBy(least(col("__sa"), col("__sb")).as("source_lo"),
          greatest(col("__sa"), col("__sb")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    Some("""
      WITH""" + sqlShingleCtes("documents") + """,
      rawpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jp AS (
        SELECT id_a, id_b FROM rawpairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE common / (sa.n + sb.n - common) >= 0.5)
      SELECT LEAST(x.source, y.source) AS source_lo,
        GREATEST(x.source, y.source) AS source_hi,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM jp
      JOIN documents x ON x.doc_id = jp.id_a
      JOIN documents y ON y.doc_id = jp.id_b
      GROUP BY 1, 2"""))

  private val qContamination = QueryDef(
    "q_contamination_flags",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFlags(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleN = 3, minOverlap = 1)
    },
    Some(sqlContamination))

  /** Ratio-threshold containment join (Dedup.containmentJoin): probe
    * docs matched to corpus docs containing ≥ half the probe's
    * shingles — decontamination as an eval contract actually states
    * it. Candidates from each probe's rarest-in-corpus shingle prefix
    * (containment form of the prefix lemma: at most |q|−⌈t|q|⌉
    * shingles may be missing, so the first |q|−α+1 must hit);
    * verification re-shingles candidate corpus docs only. The oracle
    * is the independent full overlap-count formulation.
    */
  private val qContainment = QueryDef(
    "q_containment_join",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.containmentJoin(
        docs.where(col("doc_id") % 11 =!= 0),
        docs.where(col("doc_id") % 11 === 0),
        "doc_id", "text", tNum = 1, tDen = 2)
    },
    Some("""
      WITH""" + sqlShingleCtes("documents") + """,
      q AS (SELECT doc_id AS query_id, g FROM ex WHERE doc_id % 11 = 0),
      c AS (SELECT doc_id, g FROM ex WHERE doc_id % 11 <> 0),
      ov AS (
        SELECT q.query_id, c.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
        FROM q JOIN c USING (g) GROUP BY 1, 2),
      sz AS (
        SELECT doc_id AS query_id, CAST(n AS BIGINT) AS q_size
        FROM sizes WHERE doc_id % 11 = 0)
      SELECT query_id, doc_id, overlap, q_size,
        CAST((1000000 * overlap) // q_size AS BIGINT) AS containment_ppm
      FROM ov JOIN sz USING (query_id)
      WHERE overlap >= (q_size + 1) // 2"""))

  /** Streaming twin: the frozen probe slice checks every arriving
    * corpus micro-batch (per-doc stateless — the StreamingLm
    * contract); prefix pruning is complete under any per-batch
    * rarity order, so the verified union is order-invariant (shared
    * oracle).
    */
  private val qStreamContainment = QueryDef(
    "q_stream_containment",
    (s, d) => graft.streaming.StreamingRankings
      .runContainmentBatchEquivalent(s, d),
    qContainment.oracle)

  /** The same decontamination through the Bloom-prefilter path
    * (Dedup.contaminationFlagsBloom): probe shingles enter the plan as
    * a serialized sketch literal, candidates exact-verify through a
    * semi-join — identical output, so the three contamination variants
    * (broadcast, bloom, streaming) all share one oracle.
    */
  private val qContaminationBloom = QueryDef(
    "q_contamination_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationFlagsBloom(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleN = 3, minOverlap = 1)
    },
    Some(sqlContamination))

  /** The contamination filter as a CONTINUOUS query (stateless
    * map-side streaming projection, append mode — the ingest-time
    * shape) over the same corpus/probe split, hash-checked against the
    * SAME batch oracle: the stream must emit exactly the batch flags
    * whatever the arrival order.
    */
  private val qStreamContamination = QueryDef(
    "q_stream_contamination",
    (s, d) => graft.streaming.StreamingContamination.runBatchEquivalent(s, d),
    Some(sqlContamination))

  /** The streaming filter's BLOOM rung: probe sketch built once,
    * `foreachBatch` applies the batch Bloom prefilter + exact verify
    * per micro-batch into a parquet sink. Per-document flags make
    * per-batch application exactly the batch semantics, so the SAME
    * oracle hash-checks the rung a production-sized probe set (past
    * literal/broadcast reach) actually needs.
    */
  private val qStreamContaminationBloom = QueryDef(
    "q_stream_contamination_bloom",
    (s, d) => graft.streaming.StreamingContamination
      .runBatchEquivalentBloom(s, d),
    Some(sqlContamination))

  /** Fuzzy entity-resolution join (FuzzyJoin.fuzzyJoinTop1): the part
    * catalog split into two disjoint "vendor feeds" (even/odd partkey),
    * entity string = name+brand+type+size; each even-side record gets
    * its best odd-side match by char-5-gram Jaccard ≥ 0.8. Prefix
    * filtering is exact (zero false negatives), so the oracle is the
    * full cross-join ground truth — no recall operating point pinned.
    */
  private val qFuzzyJoin = QueryDef(
    "q_fuzzy_join_top1",
    (s, d) => {
      val entity = concat_ws(" ", col("p_name"), col("p_brand"),
        col("p_type"), col("p_size").cast("string"))
      val parts = Tables.part(s, d).select(col("p_partkey"), entity.as("entity"))
      graft.text.FuzzyJoin.fuzzyJoinTop1(
        parts.where(col("p_partkey") % 2 === 0),
        parts.where(col("p_partkey") % 2 === 1),
        "p_partkey", "entity", threshold = 0.8)
    },
    Some("""
      WITH ent AS (
        SELECT p_partkey AS id,
          p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
            CAST(p_size AS VARCHAR) AS entity
        FROM part),
      tri AS (
        SELECT id, list_distinct(list_transform(
            range(1, length(entity) - 3),
            i -> substr(entity, i, 5))) AS t
        FROM ent WHERE length(entity) >= 5),
      l AS (SELECT id, t FROM tri WHERE id % 2 = 0),
      r AS (SELECT id, t FROM tri WHERE id % 2 = 1),
      pairs AS (
        SELECT l.id AS left_id, r.id AS right_id,
          len(list_intersect(l.t, r.t)) /
            (len(l.t) + len(r.t) - len(list_intersect(l.t, r.t))) AS jaccard
        FROM l, r),
      ranked AS (
        SELECT left_id, right_id, jaccard,
          row_number() OVER (PARTITION BY left_id
            ORDER BY jaccard DESC, right_id ASC) AS rn
        FROM pairs WHERE jaccard >= 0.8)
      SELECT left_id, right_id, jaccard FROM ranked WHERE rn = 1"""))

  /** Sorted-neighborhood blocking (FuzzyJoin.sortedNeighborhoodPairs):
    * the THIRD blocking strategy in the ER family (vs q-gram prefix
    * postings and LSH bands) — candidates are the n·(w−1) pairs within
    * w=5 positions of the global (p_name, id) order, verified by
    * 5-gram Jaccard ≥ 0.5 over the full entity string. The engine
    * runs it as order-preserving prefix buckets + driver-coalesced
    * super-buckets (≥ w−1 rows each) + one-hop tail replication — no
    * global single-partition sort; the oracle replays the textbook
    * single ROW_NUMBER definition, so the hash checks the bucketed
    * decomposition IS the global window.
    */
  private val qSortedNeighborhood = QueryDef(
    "q_sorted_neighborhood",
    (s, d) => {
      val entity = concat_ws(" ", col("p_name"), col("p_brand"),
        col("p_type"), col("p_size").cast("string"))
      val parts = Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"), entity.as("entity"))
      graft.text.FuzzyJoin.sortedNeighborhoodPairs(parts, "p_partkey",
        "p_name", "entity", window = 5, threshold = 0.5)
    },
    Some("""
      WITH ent AS (
        SELECT p_partkey AS id, p_name AS key,
          p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
            CAST(p_size AS VARCHAR) AS txt
        FROM part),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY key, id) AS rn FROM ent),
      cand AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4),
      tri AS (
        SELECT id, list_distinct(list_transform(
          range(1, length(txt) - 3), i -> substr(txt, i, 5))) AS t
        FROM ent WHERE length(txt) >= 5),
      v AS (
        SELECT id_a, id_b,
          len(list_intersect(x.t, y.t)) * 1.0 /
            (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))) AS jaccard
        FROM cand JOIN tri x ON x.id = id_a JOIN tri y ON y.id = id_b)
      SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5"""))

  /** The ADAPTIVE operating point (round-12 verdict #4 — act on the
    * recall-decay law): the window is DERIVED from the data via
    * FuzzyJoin.windowFromClusterSize — the q90 first-token cluster
    * size + 1, clamped to [2, 64] — instead of a constant, so it
    * grows with the catalog's duplicate-cluster structure. The oracle
    * re-derives the SAME window in SQL (discrete quantile by
    * ROW_NUMBER position — quantile_disc differs at exact cut points;
    * 0.9 CAST to DOUBLE so both engines ceil the same IEEE product)
    * and replays the textbook single-ROW_NUMBER definition at it, so
    * the hash pins both the derivation and the blocking.
    */
  private val qSortedNeighborhoodAdaptive = QueryDef(
    "q_sorted_neighborhood_adaptive",
    (s, d) => {
      val entity = concat_ws(" ", col("p_name"), col("p_brand"),
        col("p_type"), col("p_size").cast("string"))
      val parts = Tables.part(s, d)
        .select(col("p_partkey"), col("p_name"), entity.as("entity"))
      val w = graft.text.FuzzyJoin.windowFromClusterSize(
        parts, "p_name", quantile = 0.9)
      graft.text.FuzzyJoin.sortedNeighborhoodPairs(parts, "p_partkey",
        "p_name", "entity", window = w, threshold = 0.5)
    },
    Some("""
      WITH ent AS (
        SELECT p_partkey AS id, p_name AS key,
          p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
            CAST(p_size AS VARCHAR) AS txt
        FROM part),
      cl AS (
        SELECT split_part(key, ' ', 1) AS c, COUNT(*) AS n
        FROM ent GROUP BY 1),
      ws AS (
        SELECT CAST(LEAST(64, GREATEST(2, n + 1)) AS BIGINT) AS w
        FROM (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS r,
                COUNT(*) OVER () AS tot FROM cl)
        WHERE r = CAST(CEIL(CAST(0.9 AS DOUBLE) * tot) AS BIGINT)),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY key, id) AS rn FROM ent),
      cand AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM r a JOIN r b
          ON b.rn > a.rn AND b.rn <= a.rn + (SELECT w FROM ws) - 1),
      tri AS (
        SELECT id, list_distinct(list_transform(
          range(1, length(txt) - 3), i -> substr(txt, i, 5))) AS t
        FROM ent WHERE length(txt) >= 5),
      v AS (
        SELECT id_a, id_b,
          len(list_intersect(x.t, y.t)) * 1.0 /
            (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))) AS jaccard
        FROM cand JOIN tri x ON x.id = id_a JOIN tri y ON y.id = id_b)
      SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5"""))

  /** Feature hashing (TfIdf.featureHash — the Weinberger hashing
    * trick): fixed-64-dim signed token-count vectors with no
    * vocabulary pass, md5-derived buckets/signs so the oracle replays
    * them (DuckDB parses hex via CAST('0x…')); sparse vectors
    * serialize zero-padded (the q_inverted_index atomic-columns
    * precedent).
    */
  private val qFeatureHash = QueryDef(
    "q_feature_hashing",
    (s, d) => graft.text.TfIdf.featureHash(
      Tables.documents(s, d), "doc_id", "text", dim = 64),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($sqlTokens) AS t
        FROM documents WHERE length(trim(text)) > 0),
      b AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) % 64 AS idx,
          CASE WHEN CAST('0x' || substr(md5(t), 5, 1) AS INTEGER) % 2 = 0
            THEN 1 ELSE -1 END AS sgn
        FROM tok),
      v AS (
        SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS v
        FROM b GROUP BY 1, 2 HAVING SUM(sgn) <> 0)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_nonzero,
        array_to_string(list_sort(list(
          lpad(CAST(idx AS VARCHAR), 2, '0') || ':' || CAST(v AS VARCHAR))),
          ';') AS features
      FROM v GROUP BY doc_id"""))

  /** Streaming twin: the hashing trick is corpus-state-free, so the
    * micro-batch union is row-identical by construction — the twin
    * pins exactly that property (shared oracle).
    */
  private val qStreamFeatureHash = QueryDef(
    "q_stream_feature_hashing",
    (s, d) => graft.streaming.StreamingRankings
      .runFeatureHashBatchEquivalent(s, d),
    qFeatureHash.oracle)

  /** Document fingerprint + subword count, both oracle-portable: the
    * fingerprint is md5 over the canonical token stream (the xxhash64
    * rolling variant stays in the library, spec-covered — its values
    * are engine-specific). The subword oracle rewrites Spark's
    * lookaround split (unsupported by DuckDB's RE2) as a camelCase
    * boundary insertion + non-alnum split — same token stream.
    */
  private val qFingerprint = QueryDef(
    "q_doc_fingerprint",
    (s, d) =>
      graft.ops.Partitioning.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          TF.contentFingerprint(col("text")).as("fp_md5"),
          TF.subwordCount(col("text")).as("n_subwords")),
    Some(s"""
      SELECT doc_id,
        md5(CASE WHEN length(trim(text)) = 0 THEN ''
                 ELSE array_to_string($sqlTokens, ' ') END) AS fp_md5,
        CAST(len(list_filter(
          regexp_split_to_array(
            regexp_replace(text, '([a-z])([A-Z])', '\\1 \\2', 'g'),
            '[^A-Za-z0-9]+'),
          t -> length(t) > 0)) AS INT) AS n_subwords
      FROM documents"""))

  /** Banded phrase-postings inverted index (TfIdf.invertedIndex over
    * word bigrams): sorted doc-id posting lists + parallel tf arrays
    * for grams with 2 ≤ df ≤ 50. The df band is applied BEFORE lists
    * materialize, so stopword-scale postings never build (the unigram
    * vocabulary here is 31 dense terms — every unigram IS a stopword;
    * bigrams give the banded middle a real index serves from).
    *
    * The DECLARED output serializes the posting/tf arrays to
    * comma-joined strings: the driver's oracle harness canonicalizes
    * by sorting every column, and array cells are unhashable there.
    * Library consumers use TfIdf.invertedIndex directly and keep the
    * array-typed columns; the query layer projects a hashable view
    * of the exact same lists (order is pinned by doc_id on both
    * sides, so the serialization is deterministic).
    */
  private val qInvertedIndex = QueryDef(
    "q_inverted_index",
    (s, d) => graft.text.TfIdf.invertedIndex(Tables.documents(s, d),
        "doc_id", "text", n = 2, minDf = 2L, maxDf = 50L)
      .select(col("term"), col("df"),
        concat_ws(",", col("postings")).as("postings_csv"),
        concat_ws(",", col("tfs")).as("tfs_csv")),
    Some("""
      WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE length(trim(text)) > 0),
      bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
          i -> t[i] || ' ' || t[i+1])) AS term
        FROM tok WHERE len(t) >= 2),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM bg GROUP BY doc_id, term),
      df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)
      SELECT tf.term, df.df,
        array_to_string(list(tf.doc_id ORDER BY tf.doc_id), ',') AS postings_csv,
        array_to_string(list(tf.tf ORDER BY tf.doc_id), ',') AS tfs_csv
      FROM tf JOIN df USING (term)
      WHERE df.df BETWEEN 2 AND 50
      GROUP BY tf.term, df.df"""))

  /** The served inverted index (term-sharded parquet layout of
    * q_inverted_index's banded bigram index), built once (util.BuildDir). */
  private def ensurePhraseIndex(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.util.BuildDir(s, d, "graft_phrase_index", "documents")(
      graft.text.TfIdf.buildAndWriteIndex(Tables.documents(s, d),
        "doc_id", "text", n = 2, minDf = 2L, maxDf = 50L, _))

  /** The inverted index's SERVE path (TfIdf.conjunctiveLookup): a
    * conjunctive two-phrase query answered from the term-sharded index
    * layout alone — shard partition-pruned at the scan, posting lists
    * intersected by doc_id, ranked by summed tf. The exhibit's query
    * terms are the anchor doc's top-2 banded bigrams (deterministic,
    * non-empty by construction — the anchor doc matches itself); a
    * real caller passes its own literals. PlanSpec asserts the lookup
    * never touches documents.parquet and the shard set lands in
    * PartitionFilters.
    */
  private val qPhraseLookup = QueryDef(
    "q_index_phrase_lookup",
    (s, d) => {
      val index = graft.text.TfIdf.readIndex(s, ensurePhraseIndex(s, d))
      val terms = graft.text.TfIdf.anchorQueryTerms(index, 2)
      graft.text.TfIdf.conjunctiveLookup(index, terms)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE length(trim(text)) > 0),
      bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
          i -> t[i] || ' ' || t[i+1])) AS term
        FROM tok WHERE len(t) >= 2),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM bg GROUP BY doc_id, term),
      df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      banded AS (
        SELECT tf.doc_id, tf.term, tf.tf
        FROM tf JOIN df USING (term) WHERE df.df BETWEEN 2 AND 50),
      anchor AS (
        SELECT MIN(doc_id) AS doc_id FROM (
          SELECT doc_id FROM banded GROUP BY doc_id HAVING COUNT(*) >= 2)),
      qterms AS (
        SELECT b.term FROM banded b JOIN anchor a USING (doc_id)
        ORDER BY b.tf DESC, b.term LIMIT 2)
      SELECT b.doc_id, CAST(SUM(b.tf) AS BIGINT) AS score
      FROM banded b JOIN qterms USING (term)
      GROUP BY b.doc_id HAVING COUNT(*) = 2"""))

  /** Top-3 terms per document by the integer tf-idf ordering
    * (tf DESC, df ASC, term ASC) — keyword extraction with a fully
    * integer/string output, hash-exact against SQL.
    */
  private val qTopTerms = QueryDef(
    "q_tfidf_top_terms",
    (s, d) =>
      graft.text.TfIdf.topTermsPerDoc(Tables.documents(s, d),
        "doc_id", "text", k = 3),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($sqlTokens) AS term
        FROM documents WHERE length(trim(text)) > 0),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, term),
      df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
          ROW_NUMBER() OVER (PARTITION BY tf.doc_id
            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
        FROM tf JOIN df USING (term))
      SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df
      FROM ranked WHERE rank <= 3"""))

  /** PII scrubbing (emails, phone numbers → placeholder tokens). The
    * synthetic corpus is clean, so the query first INJECTS
    * deterministic doc_id-derived PII into the text (both engines
    * build the identical dirty string), then redacts and counts —
    * exercising the masking patterns against known-positive input.
    * Output carries md5 of the redacted text, counts, and a flag that
    * nothing email/phone-shaped survived redaction.
    */
  private val qRedact = QueryDef(
    "q_pii_redaction",
    (s, d) => {
      val dirty = Tables.documents(s, d).select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" call 555-867-530"), pmod(col("doc_id"), lit(10))))
            .otherwise(lit(""))).as("dirty"))
      dirty.select(
        col("doc_id"),
        TF.countMatches(col("dirty"), TF.emailPattern).as("n_emails"),
        TF.countMatches(col("dirty"), TF.phonePattern).as("n_phones"),
        md5(TF.redactPii(col("dirty"))).as("clean_md5"),
        (TF.countMatches(TF.redactPii(col("dirty")), TF.emailPattern) === 0 &&
          TF.countMatches(TF.redactPii(col("dirty")), TF.phonePattern) === 0)
          .as("fully_redacted"))
    },
    Some("""
      WITH dirty AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com' ||
          CASE WHEN doc_id % 3 = 0
               THEN ' call 555-867-530' || (doc_id % 10)
               ELSE '' END AS dirty
        FROM documents),
      red AS (
        SELECT doc_id, dirty,
          regexp_replace(
            regexp_replace(dirty,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
              'g'),
            '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS clean
        FROM dirty)
      SELECT doc_id,
        CAST(len(regexp_extract_all(dirty,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
          AS n_emails,
        CAST(len(regexp_extract_all(dirty,
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phones,
        md5(clean) AS clean_md5,
        (len(regexp_extract_all(clean,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) = 0 AND
         len(regexp_extract_all(clean,
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) = 0) AS fully_redacted
      FROM red"""))

  /** Overlapping token-window chunking (TextFunctions.chunkDocs):
    * 50-token chunks at stride 25 — the embedding-prep transform.
    * Map-side only; chunk identity travels as md5, never the text.
    */
  private val qChunk = QueryDef(
    "q_doc_chunking",
    (s, d) =>
      graft.text.TextFunctions.chunkDocs(Tables.documents(s, d),
        "doc_id", "text", chunkTokens = 50, stride = 25),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      starts AS (
        SELECT doc_id, t,
          unnest(generate_series(0, len(t) - 1, 25)) AS start
        FROM tok),
      chunks AS (
        SELECT doc_id,
          CAST(start // 25 AS INT) AS chunk_id,
          CAST(start AS INT) AS start_tok,
          list_slice(t, start + 1, least(start + 50, len(t))) AS c
        FROM starts)
      SELECT doc_id, chunk_id, start_tok,
        CAST(len(c) AS INT) AS n_tokens,
        md5(array_to_string(c, ' ')) AS chunk_md5
      FROM chunks"""))

  /** Vocabulary encoding (TextFunctions.vocabEncode): top-256 corpus
    * vocab → token ids, every (doc, pos) row encoded, OOV = null —
    * tokenizer application as a broadcast join.
    */
  private val qTokenIds = QueryDef(
    "q_token_ids",
    (s, d) =>
      graft.text.TextFunctions.vocabEncode(Tables.documents(s, d),
        "doc_id", "text", vocabSize = 256),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($sqlTokens) AS token,
          CAST(generate_subscripts($sqlTokens, 1) AS INT) AS pos
        FROM documents WHERE length(trim(text)) > 0),
      counts AS (
        SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
      vocab AS (
        SELECT token,
          CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS token_id
        FROM counts ORDER BY n DESC, token LIMIT 256)
      SELECT t.doc_id, t.pos, t.token, v.token_id
      FROM tok t LEFT JOIN vocab v USING (token)"""))

  /** BPE first-merge induction: corpus-wide counts of adjacent
    * character pairs within whitespace tokens — the statistic a BPE
    * tokenizer trainer maximizes at every merge step. Top-50 by
    * (count DESC, pair ASC). All-integer → hash-exact. Scale shape:
    * the pair explosion is map-side (two nested codegen'd HOFs); the
    * single shuffle carries (pair, partial count) — vocabulary-sized,
    * not corpus-sized — and the top-k is TakeOrderedAndProject.
    */
  private val qBpePairs = QueryDef(
    "q_bpe_merge_pairs",
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
        .select(explode(graft.text.TextFunctions.charPairs(col("tok"))).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50),
    Some(s"""
      WITH tok AS (
        SELECT unnest($sqlTokens) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      pairs AS (
        SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
          i -> substr(tok, i, 2))) AS pair
        FROM tok WHERE length(tok) >= 2)
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY pair
      ORDER BY n DESC, pair
      LIMIT 50"""))

  /** One BPE training round in the oracle: count adjacent symbol pairs
    * of the fenced strings in f{k-1}, pick the (n DESC, l, r) argmax,
    * rewrite with the same non-overlapping left-to-right `replace` the
    * Spark operator uses (identical greedy-merge semantics).
    */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"f${k - 1}"
    s"""
      p$k AS (
        SELECT p.l AS l, p.r AS r, COUNT(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(syms)),
            i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS p
          FROM (SELECT string_split(substr(s, 2, length(s) - 2),
            chr(1) || chr(1)) AS syms FROM $prev))
        GROUP BY 1, 2),
      b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
      f$k AS (
        SELECT replace(s,
          chr(1) || (SELECT l FROM b$k) || chr(1) || chr(1) ||
            (SELECT r FROM b$k) || chr(1),
          chr(1) || (SELECT l FROM b$k) || (SELECT r FROM b$k) || chr(1)) AS s
        FROM $prev)"""
  }

  /** The full iterative BPE merge-training loop (TextFunctions
    * .bpeTrainMerges, 3 rounds): counts adjacent symbol pairs, merges
    * the winner corpus-wide, repeats — the tokenizer-induction
    * counterpart of the unrolled-Lloyd's k-means exhibits. Every step
    * is deterministic (integer counts, lexicographic ties, and a
    * shared left-to-right non-overlapping replace = greedy merge), so
    * the oracle replays the whole trained trajectory.
    */
  private val qBpeTrain = QueryDef(
    "q_bpe_train_merges",
    (s, d) => TF.bpeTrainMerges(Tables.documents(s, d), "text", rounds = 3),
    Some(s"""
      WITH tok AS (
        SELECT unnest($sqlTokens) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      f0 AS (
        SELECT chr(1) || array_to_string(list_transform(
            range(1, length(tok) + 1), i -> substr(tok, i, 1)),
          chr(1) || chr(1)) || chr(1) AS s
        FROM tok WHERE length(tok) >= 1),
      ${bpeRoundSql(1)},
      ${bpeRoundSql(2)},
      ${bpeRoundSql(3)}
      SELECT CAST(1 AS INTEGER) AS round, l AS merge_left, r AS merge_right,
        CAST(n AS BIGINT) AS n FROM b1
      UNION ALL SELECT CAST(2 AS INTEGER), l, r, CAST(n AS BIGINT) FROM b2
      UNION ALL SELECT CAST(3 AS INTEGER), l, r, CAST(n AS BIGINT) FROM b3"""))

  /** Train-then-apply BPE: encode the corpus with the 3 learned merges
    * (TextFunctions.bpeEncodeSymbols — the merge table rides the plan
    * as N literal replaces, pure map-side) and emit the post-merge
    * symbol vocabulary with frequencies. The oracle's `f3` IS the
    * corpus after 3 merges, so the check covers training AND encoding
    * end to end: a divergence in either stage changes some symbol's
    * count.
    */
  private val qBpeEncode = QueryDef(
    "q_bpe_encode_vocab",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TF.bpeTrainMerges(docs, "text", rounds = 3)
        .orderBy("round")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncodeSymbols(docs, "text", merges)
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("symbol"))
        .limit(100)
    },
    Some(s"""
      WITH tok AS (
        SELECT unnest($sqlTokens) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      f0 AS (
        SELECT chr(1) || array_to_string(list_transform(
            range(1, length(tok) + 1), i -> substr(tok, i, 1)),
          chr(1) || chr(1)) || chr(1) AS s
        FROM tok WHERE length(tok) >= 1),
      ${bpeRoundSql(1)},
      ${bpeRoundSql(2)},
      ${bpeRoundSql(3)}
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT unnest(string_split(substr(s, 2, length(s) - 2),
          chr(1) || chr(1))) AS symbol
        FROM f3)
      GROUP BY symbol ORDER BY n DESC, symbol LIMIT 100"""))

  /** Tokenize-at-ingest (streaming/StreamingBpe): merges trained
    * batch-side (frozen model), the SAME native BpeEncode expression
    * applied to the unbounded document stream, per-symbol counts as one
    * vocabulary-bounded streaming aggregation. Shares
    * q_bpe_encode_vocab's oracle verbatim — the continuous encoder
    * must emit exactly the batch symbol table.
    */
  private val qStreamBpeEncode = QueryDef(
    "q_stream_bpe_encode",
    (s, d) => graft.streaming.StreamingBpe.runBatchEquivalent(s, d),
    qBpeEncode.oracle)

  /** One encode round in the compression oracle: the same
    * non-overlapping replace as bpeRoundSql's f-chain, but CARRYING the
    * doc's source column (training stays corpus-wide — the g-chain
    * reuses the f-chain's b$k winners verbatim).
    */
  private def bpeApplySrcSql(k: Int): String = s"""
      g$k AS (
        SELECT source, replace(s,
          chr(1) || (SELECT l FROM b$k) || chr(1) || chr(1) ||
            (SELECT r FROM b$k) || chr(1),
          chr(1) || (SELECT l FROM b$k) || (SELECT r FROM b$k) || chr(1)) AS s
        FROM g${k - 1})"""

  /** Tokenizer-efficiency-by-source: encode every token with the
    * 3-merge trained table and report chars-per-symbol per source —
    * the compression diagnostic a data-mix owner reads before
    * weighting sources (a source the tokenizer compresses badly costs
    * proportionally more of the token budget). Exact integer sums,
    * one final division; the oracle replays train AND encode through
    * a source-carrying copy of the q_bpe_encode_vocab fold.
    */
  private val qBpeCompression = QueryDef(
    "q_bpe_compression",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TF.bpeTrainMerges(docs, "text", rounds = 3)
        .orderBy("round")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val toks = docs
        .select(col("source"), explode(TF.tokens(col("text"))).as("tok"))
        .where(length(col("tok")) >= 1)
        .select(col("source"),
          size(graft.functions.VectorFunctions.bpe_encode(col("tok"),
            typedlit(merges.map(_._1)), typedlit(merges.map(_._2))))
            .cast("long").as("__nsym"))
        .groupBy(col("source"))
        .agg(sum(col("__nsym")).as("n_tokens"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .join(toks, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_chars"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            col("n_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"))
    },
    Some(s"""
      WITH tok AS (
        SELECT unnest($sqlTokens) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      f0 AS (
        SELECT chr(1) || array_to_string(list_transform(
            range(1, length(tok) + 1), i -> substr(tok, i, 1)),
          chr(1) || chr(1)) || chr(1) AS s
        FROM tok WHERE length(tok) >= 1),
      ${bpeRoundSql(1)},
      ${bpeRoundSql(2)},
      ${bpeRoundSql(3)},
      stok AS (
        SELECT source, unnest($sqlTokens) AS tok
        FROM documents WHERE length(trim(text)) > 0),
      g0 AS (
        SELECT source, chr(1) || array_to_string(list_transform(
            range(1, length(tok) + 1), i -> substr(tok, i, 1)),
          chr(1) || chr(1)) || chr(1) AS s
        FROM stok WHERE length(tok) >= 1),
      ${bpeApplySrcSql(1)},
      ${bpeApplySrcSql(2)},
      ${bpeApplySrcSql(3)},
      td AS (
        SELECT source, CAST(SUM(len(string_split(
            substr(s, 2, length(s) - 2), chr(1) || chr(1)))) AS BIGINT)
          AS n_tokens
        FROM g3 GROUP BY 1),
      ch AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1)
      SELECT ch.source, ch.n_docs, ch.n_chars,
        COALESCE(td.n_tokens, 0) AS n_tokens,
        CASE WHEN COALESCE(td.n_tokens, 0) > 0
          THEN CAST(ch.n_chars AS DOUBLE) / CAST(td.n_tokens AS DOUBLE)
        END AS chars_per_token
      FROM ch LEFT JOIN td ON td.source = ch.source"""))

  /** Count-Min heavy-hitter tokens (ops/Sketches): the corpus token
    * stream feeds a 4×256 md5-bucketed counter sketch; every distinct
    * token's estimate is the min over its 4 counters (≥ true count by
    * construction) and the top-20 rank by (estimate DESC, token). The
    * md5 bucket derivation is engine-portable, so the oracle replays
    * the SKETCH itself — collisions and all — not just the ranking.
    */
  private val qCmsHeavyHitters = QueryDef(
    "q_cms_heavy_hitters",
    (s, d) => {
      val items = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("key"))
      graft.ops.Sketches.cmsHeavyHitters(items, "key", d = 4, k = 20)
    },
    Some(s"""
      WITH items AS (
        SELECT unnest($sqlTokens) AS key
        FROM documents WHERE length(trim(text)) > 0),
      js AS (SELECT unnest(range(0, 4)) AS j),
      sketch AS (
        SELECT j, substr(md5(j || ':' || key), 1, 2) AS bucket,
          COUNT(*) AS n
        FROM items CROSS JOIN js
        GROUP BY 1, 2),
      keys AS (SELECT DISTINCT key FROM items),
      kh AS (
        SELECT key, j, substr(md5(j || ':' || key), 1, 2) AS bucket
        FROM keys CROSS JOIN js),
      est AS (
        SELECT key, MIN(n) AS cms_estimate
        FROM kh JOIN sketch USING (j, bucket)
        GROUP BY key)
      SELECT key, CAST(cms_estimate AS BIGINT) AS cms_estimate
      FROM est ORDER BY cms_estimate DESC, key LIMIT 20"""))

  /** The CMS counter table maintained as a CONTINUOUS query
    * (streaming/StreamingSketch): one streaming groupBy whose state is
    * the sketch itself (≤ d·256 groups — bounded by geometry, no
    * watermark needed). The final table must equal the batch sketch
    * whatever the arrival partitioning; the oracle replays the batch
    * construction.
    */
  private val qStreamCms = QueryDef(
    "q_stream_cms_sketch",
    (s, d) => graft.streaming.StreamingSketch.runBatchEquivalent(s, d),
    Some(s"""
      WITH items AS (
        SELECT unnest($sqlTokens) AS key
        FROM documents WHERE length(trim(text)) > 0),
      js AS (SELECT unnest(range(0, 4)) AS j)
      SELECT CAST(j AS INT) AS j, substr(md5(j || ':' || key), 1, 2) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM items CROSS JOIN js
      GROUP BY 1, 2"""))

  /** Pairwise source drift (TextFunctions.sourceTokenDrift): L1
    * distance between per-source token distributions for all source
    * pairs — integer numerator algebra, one double division, so the
    * oracle replays it exactly. The inner-join-only identity (absent
    * mass from totals) keeps the plan at one token self-join over the
    * (source × vocab) counts, no full outer, no token grid.
    */
  private val qSourceDrift = QueryDef(
    "q_source_token_drift",
    (s, d) => TF.sourceTokenDrift(Tables.documents(s, d), "source", "text"),
    Some(s"""
      WITH tok AS (
        SELECT source AS src, unnest($sqlTokens) AS t
        FROM documents WHERE length(trim(text)) > 0),
      counts AS (SELECT src, t, COUNT(*) AS n FROM tok GROUP BY 1, 2),
      totals AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot
        FROM counts GROUP BY 1),
      ct AS (
        SELECT c.src, c.t, CAST(c.n AS BIGINT) AS n, tt.tot
        FROM counts c JOIN totals tt USING (src)),
      inner_agg AS (
        SELECT a.src AS source_a, b.src AS source_b,
          CAST(SUM(ABS(a.n * b.tot - b.n * a.tot)) AS BIGINT) AS s_abs,
          CAST(SUM(a.n) AS BIGINT) AS s_a,
          CAST(SUM(b.n) AS BIGINT) AS s_b
        FROM ct a JOIN ct b ON a.t = b.t AND a.src < b.src
        GROUP BY 1, 2),
      pairs AS (
        SELECT x.src AS source_a, y.src AS source_b,
          x.tot AS tot_a, y.tot AS tot_b
        FROM totals x JOIN totals y ON x.src < y.src)
      SELECT p.source_a, p.source_b,
        CAST(COALESCE(i.s_abs, 0) +
          (p.tot_a - COALESCE(i.s_a, 0)) * p.tot_b +
          (p.tot_b - COALESCE(i.s_b, 0)) * p.tot_a AS BIGINT) /
          CAST(p.tot_a * p.tot_b AS BIGINT) AS l1_drift
      FROM pairs p LEFT JOIN inner_agg i USING (source_a, source_b)"""))

  /** Bigram-LM fluency scoring (NgramLm): train an add-one-smoothed
    * bigram model on the trusted `lang = 'en'` slice, score every doc
    * by mean bigram conditional likelihood (integer ppm — the CCNet
    * perplexity-bucket step made engine-replayable). The oracle
    * replays training AND inference: unigram/bigram counts, the three
    * smoothing cases (observed pair / seen history / OOV history), and
    * the per-doc floor-divided mean.
    */
  private val qLmBigramScore = QueryDef(
    "q_lm_bigram_score",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.NgramLm.train(
        docs.where(col("lang") === "en"), "text")
      graft.text.NgramLm.score(docs, "doc_id", "text", model)
    },
    lmBigramOracle)

  /** Streaming twin of q_lm_bigram_score (streaming/StreamingLm):
    * model frozen from the trusted slice, arriving micro-batches
    * scored via foreachBatch (stateless across batches — each doc
    * arrives whole), union row-identical to the batch run under any
    * arrival partitioning. Shares the batch oracle verbatim.
    */
  private val qStreamLm = QueryDef(
    "q_stream_lm_score",
    (s, d) => graft.streaming.StreamingLm.runBatchEquivalent(s, d),
    lmBigramOracle)

  /** CCNet's perplexity-bucket step end to end: docs scored by the
    * bigram LM, then cut per-language into terciles of lm_score_ppm
    * via the GroupQuantile CDF algebra (corpus never sorts; the
    * threshold table broadcasts). Bucket 2 = most fluent third under
    * the trusted model — CCNet's "head". Scores are integer ppm, so
    * thresholds, tie handling, and bucket membership replay exactly;
    * the two tercile fractions are the same IEEE literals in both
    * engines.
    */
  private val qLmBuckets = QueryDef(
    "q_lm_ppl_buckets",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.NgramLm.train(
        docs.where(col("lang") === "en"), "text")
      val scored = graft.text.NgramLm.score(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.ops.GroupQuantile.bucketAtQuantiles(scored, Seq(col("lang")),
          col("lm_score_ppm"), Seq(1.0 / 3, 2.0 / 3), "ppl_bucket")
        .groupBy(col("lang"), col("ppl_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(lm_score_ppm) div count(1)").as("mean_score_ppm"))
    },
    Some(s"""
      WITH sc AS (
        SELECT t.doc_id, t.lm_score_ppm, documents.lang
        FROM (${lmBigramOracle.get}) t
        JOIN documents USING (doc_id)),
      dist AS (
        SELECT lang, lm_score_ppm AS v, COUNT(*) AS n
        FROM sc GROUP BY 1, 2),
      cdf AS (
        SELECT lang, v,
          SUM(n) OVER (PARTITION BY lang ORDER BY v) AS cum,
          SUM(n) OVER (PARTITION BY lang) AS tot
        FROM dist),
      thr AS (
        SELECT lang,
          MIN(CASE WHEN cum >= (CAST(1 AS DOUBLE) / 3) * tot THEN v END) AS t0,
          MIN(CASE WHEN cum >= (CAST(2 AS DOUBLE) / 3) * tot THEN v END) AS t1
        FROM cdf GROUP BY lang),
      b AS (
        SELECT sc.lang,
          (CASE WHEN lm_score_ppm >= t0 THEN 1 ELSE 0 END +
           CASE WHEN lm_score_ppm >= t1 THEN 1 ELSE 0 END) AS ppl_bucket,
          lm_score_ppm
        FROM sc JOIN thr ON thr.lang = sc.lang)
      SELECT lang, CAST(ppl_bucket AS INT) AS ppl_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(lm_score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm
      FROM b GROUP BY 1, 2"""))

  private lazy val lmBigramOracle: Option[String] = Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      tr AS (SELECT t FROM tok WHERE lang = 'en'),
      uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
      vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      big AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS c12
        FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
            i -> t[i] || ' ' || t[i + 1])) AS pair
          FROM tr WHERE len(t) >= 2)
        GROUP BY pair),
      model AS (
        SELECT pair,
          CAST(1000000 * (c12 + 1) // (c1 + v) AS BIGINT) AS cond_ppm
        FROM big
        JOIN uni ON uni.w = split_part(big.pair, ' ', 1)
        CROSS JOIN vs),
      backoff AS (
        SELECT w, CAST(1000000 // (c1 + v) AS BIGINT) AS bo_ppm
        FROM uni CROSS JOIN vs),
      sc AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
          i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM tok WHERE len(t) >= 2),
      wgt AS (
        SELECT sc.doc_id,
          COALESCE(model.cond_ppm, backoff.bo_ppm,
            CAST(1000000 // v AS BIGINT)) AS w_ppm
        FROM sc
        LEFT JOIN model USING (pair)
        LEFT JOIN backoff ON backoff.w = split_part(sc.pair, ' ', 1)
        CROSS JOIN vs)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(w_ppm) // COUNT(*) AS BIGINT) AS lm_score_ppm
      FROM wgt GROUP BY doc_id""")

  /** Trigram LM with STUPID BACKOFF (NgramLm.trainStupidBackoff /
    * scoreStupidBackoff — Brants et al. 2007, the scheme designed for
    * MapReduce-scale LMs): S(w₃|w₁w₂) falls through seen-trigram →
    * α·bigram → α²·unigram → α²/V with α = 2/5 kept rational, so
    * every level is ONE integer floor division in ppm and the doc
    * score replays exactly. Training = three counting aggregates;
    * scoring = one trigram explode + three left lookups (broadcast
    * under the bigram scorer's reach rule).
    */
  private val qLmTrigram = QueryDef(
    "q_lm_trigram_score",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.NgramLm.trainStupidBackoff(
        docs.where(col("lang") === "en"), "text")
      graft.text.NgramLm.scoreStupidBackoff(docs, "doc_id", "text", model)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      tr AS (SELECT t FROM tok WHERE lang = 'en'),
      uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
      tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
          CAST(SUM(c1) AS BIGINT) AS n FROM uni),
      big AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS c12
        FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
            i -> t[i] || ' ' || t[i + 1])) AS pair
          FROM tr WHERE len(t) >= 2)
        GROUP BY pair),
      tri AS (
        SELECT tri, CAST(COUNT(*) AS BIGINT) AS c123
        FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tri
          FROM tr WHERE len(t) >= 3)
        GROUP BY tri),
      l1 AS (
        SELECT tri.tri, CAST(1000000 * c123 // c12 AS BIGINT) AS l1_ppm
        FROM tri JOIN big ON big.pair =
          split_part(tri.tri, ' ', 1) || ' ' || split_part(tri.tri, ' ', 2)),
      l2 AS (
        SELECT big.pair,
          CAST(2 * 1000000 * c12 // (5 * c1) AS BIGINT) AS l2_ppm
        FROM big JOIN uni ON uni.w = split_part(big.pair, ' ', 1)),
      l3 AS (
        SELECT w, CAST(4 * 1000000 * c1 // (25 * n) AS BIGINT) AS l3_ppm
        FROM uni CROSS JOIN tot),
      sc AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tri
        FROM tok WHERE len(t) >= 3),
      wgt AS (
        SELECT sc.doc_id,
          COALESCE(l1.l1_ppm, l2.l2_ppm, l3.l3_ppm,
            CAST(4 * 1000000 // (25 * v) AS BIGINT)) AS w_ppm
        FROM sc
        LEFT JOIN l1 USING (tri)
        LEFT JOIN l2 ON l2.pair =
          split_part(sc.tri, ' ', 2) || ' ' || split_part(sc.tri, ' ', 3)
        LEFT JOIN l3 ON l3.w = split_part(sc.tri, ' ', 3)
        CROSS JOIN tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        CAST(SUM(w_ppm) // COUNT(*) AS BIGINT) AS sb_score_ppm
      FROM wgt GROUP BY doc_id"""))

  /** BM25 keyword search (log-free odds idf — see graft.text.Bm25 for
    * why: every step is IEEE-exact with a pinned evaluation order, so
    * the double scores hash-match across engines; libm's ln would not).
    * The oracle mirrors the weight formula TEXTUALLY — same operand
    * order, same fixed-order 3-term sum.
    */
  private val qBm25 = QueryDef(
    "q_bm25_search",
    (s, d) =>
      graft.text.Bm25.search(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("hash", "join", "vector"), k = 20),
    Some(bm25OracleSql))

  /** Hybrid retrieval — the RAG-stack fusion step: BM25 keyword top-20
    * and exact-cosine vector top-20 (documents and embeddings share
    * the id space) fused by reciprocal-rank fusion, rrf(d) =
    * Σ 1/(60 + rank_r(d)) over the retrievers that returned d.
    * Determinism: ranks are integers over already-deterministic
    * retriever orders; each 1/(60+r) is ONE double division and the
    * two-term sum has a fixed evaluation order — both engines run the
    * identical IEEE ops. The rank windows run over k-row frames (the
    * vocabCoverage rule), never the corpus.
    */
  private val qHybrid = QueryDef(
    "q_hybrid_retrieval",
    (s, d) => {
      val wKw = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col("doc_id"))
      val kw = graft.text.Bm25.search(Tables.documents(s, d), "doc_id",
          "text", terms = Seq("hash", "join", "vector"), k = 20)
        .withColumn("rank_kw", row_number().over(wKw))
        .select(col("doc_id"), col("rank_kw"))
      val wVec = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("vec_id"))
      val vec = graft.sim.Similarity.topKByQueryId(
          Tables.embeddings(s, d), "vec_id", "embedding", queryId = 0L,
          k = 20, scoreFn = graft.functions.VectorFunctions.q_vec_cosine)
        .withColumn("rank_vec", row_number().over(wVec))
        .select(col("vec_id").as("doc_id"), col("rank_vec"))
      kw.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_kw")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""
      WITH kw AS (
        SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_kw
        FROM ($bm25OracleSql) bmtop),
      flat AS (
        SELECT vec_id,
          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qv,
          generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      qf AS (SELECT i, qv AS qqv FROM flat WHERE vec_id = 0),
      dots AS (
        SELECT f.vec_id, SUM(f.qv * q.qqv) AS qdot, SUM(f.qv * f.qv) AS nrm
        FROM flat f JOIN qf q USING (i)
        GROUP BY f.vec_id),
      qn AS (SELECT SUM(qqv * qqv) AS nrm0 FROM qf),
      vectop AS (
        SELECT vec_id AS doc_id,
          CAST(qdot AS BIGINT) /
            (sqrt(CAST(nrm AS BIGINT)) * sqrt(CAST(nrm0 AS BIGINT))) AS score
        FROM dots, qn
        WHERE vec_id <> 0
        ORDER BY score DESC, vec_id
        LIMIT 20),
      vec AS (
        SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_vec
        FROM vectop)
      SELECT doc_id,
        COALESCE(CAST(1 AS DOUBLE) / (60 + rank_kw), CAST(0 AS DOUBLE)) +
        COALESCE(CAST(1 AS DOUBLE) / (60 + rank_vec), CAST(0 AS DOUBLE))
          AS rrf
      FROM kw FULL JOIN vec USING (doc_id)
      ORDER BY rrf DESC, doc_id
      LIMIT 10"""))

  private lazy val bm25OracleSql: String = s"""
      WITH dl AS (
        SELECT doc_id, CAST($sqlNTokens AS BIGINT) AS dl FROM documents),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl),
      tok AS (
        SELECT doc_id, unnest($sqlTokens) AS term
        FROM documents WHERE length(trim(text)) > 0),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ('hash', 'join', 'vector')
        GROUP BY doc_id, term),
      df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      -- every fractional literal is CAST to DOUBLE: DuckDB parses them
      -- as DECIMAL and would do exact decimal arithmetic where Spark
      -- does IEEE double ops — the pinned-order contract requires both
      -- engines to run the SAME double operations
      w AS (
        SELECT tf.doc_id, tf.term,
          ((n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
            ((tf * CAST(2.2 AS DOUBLE)) /
             (tf + CAST(1.2 AS DOUBLE) *
               (CAST(0.25 AS DOUBLE) +
                CAST(0.75 AS DOUBLE) * (dl / avgdl)))) AS w
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats),
      piv AS (
        SELECT doc_id,
          MAX(CASE WHEN term = 'hash' THEN w END) AS w_hash,
          MAX(CASE WHEN term = 'join' THEN w END) AS w_join,
          MAX(CASE WHEN term = 'vector' THEN w END) AS w_vector
        FROM w GROUP BY doc_id)
      SELECT dl.doc_id,
        COALESCE(w_hash, CAST(0.0 AS DOUBLE))
          + COALESCE(w_join, CAST(0.0 AS DOUBLE))
          + COALESCE(w_vector, CAST(0.0 AS DOUBLE)) AS bm25
      FROM dl LEFT JOIN piv ON piv.doc_id = dl.doc_id
      ORDER BY bm25 DESC, dl.doc_id
      LIMIT 20"""

  /** Calibration readout for the NB quality classifier: score_ppm
    * banded into 2k-ppm bins, per-bin count + positive rate — the
    * reliability-diagram table (a well-calibrated scorer's pos_rate
    * tracks the bin midpoint). Bin id is a positive integer floor
    * division; pos_rate ONE int/int division — exact on both engines.
    * binDiv = 2000 matches q_isotonic_calibration: the original
    * 100000 collapsed every score into ONE bin (scores concentrate
    * near the 500k-ppm prior) — a vacuous reliability diagram that
    * stayed hash-green because the oracle degenerated identically.
    * Caught by the QueryDef.minDistinct floor the moment it was
    * mechanized (round-13); the floor stays as the regression guard.
    */
  private val qQualityCalibration = QueryDef(
    "q_quality_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = QualityClassifier.trainTokenWeights(
        docs.where(col("doc_id") % 3 === 0), "text", col("lang") === "en")
      QualityClassifier.scoreDocs(docs, "doc_id", "text", w)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(expr("score_ppm div 2000").as("bin"),
          (col("lang") === "en").cast("long").as("__y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__y")).as("n_pos"))
        .withColumn("pos_rate",
          col("n_pos").cast("double") / col("n_docs").cast("double"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      tr AS (
        SELECT lang = 'en' AS pos, unnest(t) AS term
        FROM tok WHERE doc_id % 3 = 0),
      w AS (
        SELECT term,
          CAST(1000000 * (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) //
            (COUNT(*) + 2) AS BIGINT) AS w_ppm
        FROM tr GROUP BY term),
      sc AS (SELECT doc_id, unnest(t) AS term FROM tok),
      agg AS (
        SELECT sc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          SUM(COALESCE(w.w_ppm, 500000)) AS w_sum
        FROM sc LEFT JOIN w USING (term) GROUP BY 1),
      scored AS (
        SELECT CAST((w_sum // n_tokens) // 2000 AS BIGINT) AS bin,
          CASE WHEN tok.lang = 'en' THEN 1 ELSE 0 END AS y
        FROM agg JOIN tok ON tok.doc_id = agg.doc_id)
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(y) AS BIGINT) AS n_pos,
        CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
      FROM scored GROUP BY bin"""),
    // a reliability diagram needs >= 2 score bins to say anything
    minDistinct = Some(("bin", 2L)))

  /** Isotonic (PAV) recalibration of the quality classifier
    * (ops/Calibration.isotonicCalibration): the best NON-DECREASING
    * bin→rate map under weighted L2, in closed form via the minimax
    * characterization fitted_k = max_{i≤k} min_{j≥k} pooled(i..j) —
    * no sequential pooling loop, every window bounded by the score
    * grid (binDiv=2000 → 16 populated bins at sf0.01, with REAL
    * monotonicity violations for the fit to pool — binDiv=1e5
    * collapsed the corpus into one vacuous bin). This is the ACTION
    * the Brier reliability term
    * (q_brier_decomposition) says to take; raw_ppm vs fitted_ppm shows
    * exactly which bins the monotone fit pools.
    */
  private val qIsotonic = QueryDef(
    "q_isotonic_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = QualityClassifier.trainTokenWeights(
        docs.where(col("doc_id") % 3 === 0), "text", col("lang") === "en")
      val scored = QualityClassifier.scoreDocs(docs, "doc_id", "text", w)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("score_ppm"), (col("lang") === "en").as("y"))
      graft.ops.Calibration.isotonicCalibration(
        scored, "score_ppm", "y", binDiv = 2000L)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      tr AS (
        SELECT lang = 'en' AS pos, unnest(t) AS term
        FROM tok WHERE doc_id % 3 = 0),
      w AS (
        SELECT term,
          CAST(1000000 * (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) //
            (COUNT(*) + 2) AS BIGINT) AS w_ppm
        FROM tr GROUP BY term),
      sc AS (SELECT doc_id, unnest(t) AS term FROM tok),
      agg AS (
        SELECT sc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          SUM(COALESCE(w.w_ppm, 500000)) AS w_sum
        FROM sc LEFT JOIN w USING (term) GROUP BY 1),
      scored AS (
        SELECT CAST((w_sum // n_tokens) // 2000 AS BIGINT) AS bin,
          CASE WHEN tok.lang = 'en' THEN 1 ELSE 0 END AS y
        FROM agg JOIN tok ON tok.doc_id = agg.doc_id),
      bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(y) AS BIGINT) AS n_pos
        FROM scored GROUP BY bin),
      idx AS (
        SELECT bin, n_docs, n_pos,
          ROW_NUMBER() OVER (ORDER BY bin) AS i,
          SUM(n_docs) OVER (ORDER BY bin) AS nc,
          SUM(n_pos) OVER (ORDER BY bin) AS pc
        FROM bins),
      pairs AS (
        SELECT a.i AS i, b.i AS j,
          (1000000 * (b.pc - (a.pc - a.n_pos)))
            // (b.nc - (a.nc - a.n_docs)) AS rate
        FROM idx a JOIN idx b ON a.i <= b.i),
      rm AS (
        SELECT i, j, MIN(rate) OVER (PARTITION BY i ORDER BY j DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin
        FROM pairs),
      f AS (SELECT j, MAX(rmin) AS fitted FROM rm GROUP BY j)
      SELECT idx.bin, idx.n_docs, idx.n_pos,
        CAST((1000000 * idx.n_pos) // idx.n_docs AS BIGINT) AS raw_ppm,
        CAST(f.fitted AS BIGINT) AS fitted_ppm
      FROM idx JOIN f ON f.j = idx.i"""),
    // the mechanized binDiv=1e5 catch: a one-bin (or one-pooled-value)
    // fit is vacuous even when hash-green
    minDistinct = Some(("fitted_ppm", 2L)))

  /** Streaming twin: micro-batches collapse to additive bin partials
    * at ingest (state = the bin grid, never documents); the PAV fold
    * runs on the summed state (shared oracle).
    */
  private val qStreamIsotonic = QueryDef(
    "q_stream_isotonic",
    (s, d) => graft.streaming.StreamingCalibration
      .runIsotonicBatchEquivalent(s, d),
    qIsotonic.oracle,
    minDistinct = Some(("fitted_ppm", 2L)))

  /** Murphy decomposition of the quality classifier's Brier score
    * (ops/Eval.brierDecomposition): reliability (miscalibration —
    * recalibrate to fix) vs resolution (discrimination — needs a
    * better model) vs uncertainty (the data's floor), over the same
    * scored frame as q_quality_calibration. Brier is exact; the
    * decomposition terms use ppm-quantized bin means (integral
    * divisions), replaying identically on both engines.
    */
  private val qBrier = QueryDef(
    "q_brier_decomposition",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = QualityClassifier.trainTokenWeights(
        docs.where(col("doc_id") % 3 === 0), "text", col("lang") === "en")
      val scored = QualityClassifier.scoreDocs(docs, "doc_id", "text", w)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("score_ppm"), (col("lang") === "en").as("y"))
      graft.ops.Eval.brierDecomposition(scored, "score_ppm", "y")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      tr AS (
        SELECT lang = 'en' AS pos, unnest(t) AS term
        FROM tok WHERE doc_id % 3 = 0),
      w AS (
        SELECT term,
          CAST(1000000 * (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) //
            (COUNT(*) + 2) AS BIGINT) AS w_ppm
        FROM tr GROUP BY term),
      sc AS (SELECT doc_id, unnest(t) AS term FROM tok),
      agg AS (
        SELECT sc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          SUM(COALESCE(w.w_ppm, 500000)) AS w_sum
        FROM sc LEFT JOIN w USING (term) GROUP BY 1),
      doc AS (
        SELECT CAST(w_sum // n_tokens AS BIGINT) AS p,
          CASE WHEN tok.lang = 'en' THEN 1 ELSE 0 END AS y
        FROM agg JOIN tok ON tok.doc_id = agg.doc_id),
      tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS base_rate_ppm
        FROM doc),
      bins AS (
        SELECT p // 100000 AS bin, COUNT(*) AS nk, SUM(p) AS sp,
          SUM(y) AS sy,
          SUM(CAST(p - y * 1000000 AS HUGEINT)
            * (p - y * 1000000)) AS se
        FROM doc GROUP BY 1),
      bm AS (
        SELECT bin, nk, se, CAST(sp // nk AS BIGINT) AS pbar,
          CAST(sy * 1000000 // nk AS BIGINT) AS ybar
        FROM bins)
      SELECT t.n, t.base_rate_ppm,
        CAST(SUM(se) // t.n AS BIGINT) AS brier_x1e12,
        CAST(SUM(nk * (pbar - ybar) * (pbar - ybar)) // t.n AS BIGINT)
          AS reliability_x1e12,
        CAST(SUM(nk * (ybar - t.base_rate_ppm)
          * (ybar - t.base_rate_ppm)) // t.n AS BIGINT)
          AS resolution_x1e12,
        CAST(t.base_rate_ppm * (1000000 - t.base_rate_ppm) AS BIGINT)
          AS uncertainty_x1e12
      FROM bm CROSS JOIN tot t GROUP BY t.n, t.base_rate_ppm"""))

  /** The shared DSIR CTE block: hashed-unigram buckets (B = 1024),
    * Laplace-smoothed target/raw ratio model in HUGEINT (target =
    * the trusted `lang = 'en'` slice — the NgramLm convention), and
    * per-doc floor-mean weights. Mirrors graft.text.Dsir exactly —
    * every step integer, see the operator's scaladoc for why there is
    * deliberately no libm log here.
    */
  private val sqlDsirWeights = s"""
      tok AS (
        SELECT doc_id, lang, unnest($sqlTokens) AS t
        FROM documents WHERE length(trim(text)) > 0),
      bkt AS (
        SELECT doc_id, lang,
          CAST(('0x' || substr(md5(t), 1, 13)) AS UBIGINT) % 1024 AS bucket
        FROM tok),
      rc AS (SELECT bucket, COUNT(*) AS rn FROM bkt GROUP BY 1),
      tc AS (SELECT bucket, COUNT(*) AS tn FROM bkt
        WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT
        (SELECT COUNT(*) FROM bkt WHERE lang = 'en') + 1024 AS tpl,
        (SELECT COUNT(*) FROM bkt) + 1024 AS rpl),
      model AS (
        SELECT rc.bucket,
          (CAST(COALESCE(tc.tn, 0) + 1 AS HUGEINT) * rpl * 1000000)
            // (CAST(rc.rn + 1 AS HUGEINT) * tpl) AS ratio_ppm
        FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot),
      wtab AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(CAST(SUM(m.ratio_ppm) AS HUGEINT) // COUNT(*) AS BIGINT)
            AS weight_ppm
        FROM bkt JOIN model m USING (bucket) GROUP BY doc_id)"""

  /** DSIR importance weights (text/Dsir): every document scored for
    * affinity to the trusted target distribution via hashed-unigram
    * probability ratios — the "make web data look like the trusted
    * slice" selection signal. Two B-row hash aggregates + a bounded
    * model frame + one broadcast-join scoring pass.
    */
  private val qDsirWeights = QueryDef(
    "q_dsir_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.Dsir.importanceModel(
        docs.where(col("lang") === "en"), docs, "text", 1024)
      graft.text.Dsir.weights(docs, "doc_id", "text", model, 1024)
    },
    dsirWeightsOracle)

  private lazy val dsirWeightsOracle: Option[String] = Some(s"""
      WITH $sqlDsirWeights
      SELECT doc_id, n_tokens, weight_ppm FROM wtab""")

  /** Streaming twin of q_dsir_weights (streaming/StreamingDsir):
    * model frozen from the corpus, arriving micro-batches scored via
    * foreachBatch — stateless across batches because each doc arrives
    * whole. Shares the batch oracle verbatim.
    */
  private val qStreamDsir = QueryDef(
    "q_stream_dsir_weights",
    (s, d) => graft.streaming.StreamingDsir.runBatchEquivalent(s, d),
    dsirWeightsOracle)

  /** DSIR selection end-to-end: systematic resampling ∝ weight
    * (Sampling.systematicResample — the particle-filter resampler,
    * RNG-free). Heavy target-affinity docs are drawn multiple times,
    * off-distribution docs drop out; E[times_drawn] = n·w/W exactly.
    */
  private val qDsirResample = QueryDef(
    "q_dsir_resample",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.Dsir.importanceModel(
        docs.where(col("lang") === "en"), docs, "text", 1024)
      val w = graft.text.Dsir.weights(docs, "doc_id", "text", model, 1024)
      graft.ops.Sampling.systematicResample(w, "doc_id", "weight_ppm",
        n = 200)
    },
    Some(s"""
      WITH $sqlDsirWeights,
      pool AS (
        SELECT doc_id AS id, weight_ppm AS w FROM wtab
        WHERE weight_ppm > 0),
      iv AS (
        SELECT id, w,
          COALESCE(SUM(w) OVER (ORDER BY id % 256, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
        FROM pool),
      tot2 AS (SELECT SUM(w) AS tw FROM pool),
      draws AS (
        SELECT j, (2 * j + 1) * (tw // 400)
          + ((2 * j + 1) * (tw % 400)) // 400 AS u
        FROM (SELECT unnest(range(200)) AS j) CROSS JOIN tot2)
      SELECT iv.id AS doc_id, CAST(MAX(iv.w) AS BIGINT) AS weight,
        CAST(COUNT(*) AS BIGINT) AS times_drawn
      FROM draws d JOIN iv ON d.u >= iv.lo AND d.u < iv.lo + iv.w
      GROUP BY 1"""))

  /** Collocation mining (text/Collocations): top adjacent word pairs
    * by PMI lift over the bigram distribution — the phrase-detection
    * pass before vocabulary induction. Staged integer floor division
    * in ppm (see the operator scaladoc for the overflow bound); one
    * pinned bigram shuffle, marginals re-aggregate it, top-k via
    * TakeOrderedAndProject.
    */
  private val qCollocations = QueryDef(
    "q_collocations",
    (s, d) => graft.text.Collocations.topCollocations(
      Tables.documents(s, d), "text", minCount = 5L, topK = 20),
    Some(s"""
      WITH tok AS (
        SELECT $sqlTokens AS t
        FROM documents WHERE length(trim(text)) > 0),
      bg AS (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
          i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM tok WHERE len(t) >= 2),
      big AS (
        SELECT split_part(pair, ' ', 1) AS w1,
          split_part(pair, ' ', 2) AS w2,
          CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM bg GROUP BY 1, 2),
      nx AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_x
        FROM big GROUP BY 1),
      ny AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_y
        FROM big GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS b FROM big)
      SELECT w1, w2, n_xy, n_x, n_y,
        CAST((((n_xy * 1000000) // n_x) * b) // n_y AS BIGINT)
          AS lift_ppm
      FROM big JOIN nx USING (w1) JOIN ny USING (w2) CROSS JOIN tot
      WHERE n_xy >= 5
      ORDER BY lift_ppm DESC, w1, w2 LIMIT 20"""))

  /** Readability scoring (TextFunctions.withReadability): Flesch
    * reading-ease ×1000 with integral divisions by spec — words,
    * sentence runs ([.!?]+, clamped ≥ 1), vowel-group syllable proxy.
    * The synthetic corpus has no punctuation, so the fixture derives a
    * punctuated twin first (every " a " becomes ". " — plain
    * left-to-right replace, identical in any engine), making the
    * sentence term vary per doc instead of exercising only the clamp.
    */
  private val qReadability = QueryDef(
    "q_readability",
    (s, d) => {
      val punct = Tables.documents(s, d).select(col("doc_id"),
        call_function("replace", col("text"), lit(" a "), lit(". "))
          .as("text"))
      TF.withReadability(punct, "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_vowel_groups"), col("flesch_milli"))
    },
    Some("""
      WITH punct AS (
        SELECT doc_id, replace(text, ' a ', '. ') AS t FROM documents),
      m AS (
        SELECT doc_id,
          GREATEST(CASE WHEN length(trim(t)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(t), '\s+')) END, 1)
            AS n_words,
          GREATEST(len(regexp_extract_all(t, '[.!?]+')), 1)
            AS n_sentences,
          GREATEST(len(regexp_extract_all(t, '[aeiouyAEIOUY]+')), 1)
            AS n_vowel_groups
        FROM punct)
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        CAST(n_sentences AS BIGINT) AS n_sentences,
        CAST(n_vowel_groups AS BIGINT) AS n_vowel_groups,
        CAST(206835 - (1015 * n_words) // n_sentences
          - (84600 * n_vowel_groups) // n_words AS BIGINT)
          AS flesch_milli
      FROM m"""))

  /** Rank-biased overlap (ops/Eval.rankBiasedOverlap — Webber et al.
    * TOIS'10) between the per-source readability ranking and the
    * per-source length ranking, truncated at depth 10: the
    * top-weighted "do two ranking signals agree" statistic, exact via
    * the pinned 9/10-geometric weight table (common denominator
    * 10^k·2520 — the nDCG pinned-log move for geometric weights).
    * Both rankings are partitioned windows; everything downstream is
    * |sources|·depth-bounded.
    */
  private val qRbo = {
    val (w, den) = graft.ops.Eval.rboWeights(10)
    val weightCase = (1 to 10).map(d => s"WHEN $d THEN ${w(d - 1)}")
      .mkString(" ")
    QueryDef(
      "q_rbo_rankings",
      (s, d) => {
        val punct = Tables.documents(s, d).select(col("doc_id"),
          col("source"), col("n_chars"),
          call_function("replace", col("text"), lit(" a "), lit(". "))
            .as("text"))
        val scored = TF.withReadability(punct, "text")
        graft.ops.Eval.rankBiasedOverlap(scored, Seq("source"), "doc_id",
          col("flesch_milli"), col("n_chars"), depth = 10)
      },
      Some(s"""
        WITH punct AS (
          SELECT doc_id, source, n_chars, replace(text, ' a ', '. ') AS t
          FROM documents),
        m AS (
          SELECT doc_id, source, n_chars,
            GREATEST(CASE WHEN length(trim(t)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(t), '\\s+')) END, 1)
              AS n_words,
            GREATEST(len(regexp_extract_all(t, '[.!?]+')), 1)
              AS n_sentences,
            GREATEST(len(regexp_extract_all(t, '[aeiouyAEIOUY]+')), 1)
              AS n_vowel_groups
          FROM punct),
        sc AS (
          SELECT doc_id, source, n_chars,
            206835 - (1015 * n_words) // n_sentences
              - (84600 * n_vowel_groups) // n_words AS flesch
          FROM m),
        ra AS (
          SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY flesch DESC, doc_id) AS pa FROM sc),
        rb AS (
          SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS pb FROM sc),
        j AS (
          SELECT ra.source, ra.doc_id, GREATEST(pa, pb) AS mx
          FROM ra JOIN rb ON ra.source = rb.source
            AND ra.doc_id = rb.doc_id
          WHERE pa <= 10 AND pb <= 10),
        t AS (SELECT source, mx, unnest(range(mx, 11)) AS d FROM j),
        g AS (
          SELECT source,
            CAST(COUNT(*) FILTER (d = 10) AS BIGINT) AS n_common,
            SUM(CASE d $weightCase END) AS num
          FROM t GROUP BY 1),
        ku AS (
          SELECT DISTINCT source FROM ra WHERE pa <= 10
          UNION
          SELECT DISTINCT source FROM rb WHERE pb <= 10)
        SELECT ku.source,
          CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
          CAST(COALESCE((num * 1000000) // $den, 0) AS BIGINT) AS rbo_x1e6,
          CAST(COALESCE((num * 1000000) //
            ${(1 to 10).map(d => w(d - 1) * d).sum}, 0) AS BIGINT)
            AS rbo_norm_x1e6
        FROM ku LEFT JOIN g USING (source)"""))
  }

  /** Streaming twin: per-batch per-source top-10 partials for BOTH
    * score columns (top-k is a semilattice merge: top10 of the union
    * equals top10 of unioned per-batch top10s), final re-rank + RBO
    * fold on the bounded union (shared oracle).
    */
  private val qStreamRbo = QueryDef(
    "q_stream_rbo",
    (s, d) => graft.streaming.StreamingRankings
      .runRboBatchEquivalent(s, d),
    qRbo.oracle)

  /** Heaps'-law vocabulary growth (text/VocabGrowth.heapsCurve):
    * cumulative distinct tokens vs cumulative token count over ten
    * id-range corpus prefixes — the vocab-saturation readout that
    * sizes a tokenizer against a growing crawl. Pure map-side bucket
    * formula (no corpus-wide sort/window), first-appearance bucket =
    * min(bucket) per token (one token-keyed shuffle), cumulative
    * window over the 10-row bucket frame only; TTR is one
    * DECIMAL(38)-safe integral division.
    */
  private val qHeapsLaw = QueryDef(
    "q_heaps_law",
    (s, d) => graft.text.VocabGrowth.heapsCurve(
      Tables.documents(s, d), "doc_id", "text", buckets = 10),
    Some(s"""
      WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
      d AS (
        SELECT doc_id, text,
          CAST(((doc_id - lo) * 10) // (hi - lo + 1) + 1 AS INT) AS bucket
        FROM documents, b),
      per AS (
        SELECT bucket, COUNT(*) AS docs,
          SUM(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len($sqlTokens) END) AS toks
        FROM d GROUP BY 1),
      ft AS (
        SELECT token, MIN(bucket) AS fb FROM (
          SELECT bucket, unnest($sqlTokens) AS token
          FROM d WHERE length(trim(text)) > 0)
        GROUP BY 1),
      fv AS (SELECT fb AS bucket, COUNT(*) AS new_vocab FROM ft GROUP BY 1),
      spine AS (SELECT CAST(unnest(generate_series(1, 10)) AS INT) AS bucket),
      cum AS (
        SELECT s.bucket,
          SUM(COALESCE(per.docs, 0)) OVER w AS docs_cum,
          SUM(COALESCE(per.toks, 0)) OVER w AS tokens_cum,
          SUM(COALESCE(fv.new_vocab, 0)) OVER w AS vocab_cum
        FROM spine s
        LEFT JOIN per USING (bucket) LEFT JOIN fv USING (bucket)
        WINDOW w AS (ORDER BY s.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT bucket, CAST(docs_cum AS BIGINT) AS docs_cum,
        CAST(tokens_cum AS BIGINT) AS tokens_cum,
        CAST(vocab_cum AS BIGINT) AS vocab_cum,
        CASE WHEN tokens_cum > 0 THEN
          CAST((vocab_cum * 1000000) // tokens_cum AS BIGINT)
        END AS ttr_ppm
      FROM cum"""))

  /** Exact pairwise vocabulary Jaccard between sources
    * (text/VocabGrowth.groupVocabJaccard) — the exact twin of
    * q_hll_source_vocab's sketch: high vocab overlap between two
    * sources is the cheapest mirror/double-licensing signal. One
    * token-keyed shuffle; the overlap join fans out ≤ |sources|² per
    * shared token; Jaccard is DECIMAL(38)-safe integer ppm.
    */
  private val qVocabOverlap = QueryDef(
    "q_source_vocab_overlap",
    (s, d) => graft.text.VocabGrowth.groupVocabJaccard(
      Tables.documents(s, d), "source", "text"),
    Some(s"""
      WITH st AS (
        SELECT DISTINCT g, tok FROM (
          SELECT source AS g, unnest($sqlTokens) AS tok
          FROM documents WHERE length(trim(text)) > 0)),
      sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
      c AS (
        SELECT a.g AS source_a, b.g AS source_b,
          CAST(COUNT(*) AS BIGINT) AS common
        FROM st a JOIN st b ON a.tok = b.tok AND a.g < b.g
        GROUP BY 1, 2)
      SELECT source_a, source_b, common, sa.n AS n_a, sb.n AS n_b,
        CAST((common * 1000000) // (sa.n + sb.n - common) AS BIGINT)
          AS jaccard_ppm
      FROM c
      JOIN sizes sa ON sa.g = source_a
      JOIN sizes sb ON sb.g = source_b"""))

  /** Decision-stump split finder (ops/SplitFinder.bestGiniSplits):
    * the best n_chars thresholds separating languages by weighted
    * Gini — the tree-learner inner loop as a standalone curation
    * probe. One (feature, label) hash aggregate collapses the corpus;
    * the objective is quantized x10^6 via integral divisions
    * (Changepoint pattern) so argmin + tiebreak replay anywhere;
    * threshold count is guarded (continuous features bucket upstream).
    */
  private val qSplitStump = QueryDef(
    "q_best_split_stump",
    (s, d) => graft.ops.SplitFinder.bestGiniSplits(
      Tables.documents(s, d), "n_chars", "lang", k = 3),
    Some("""
      WITH cnt AS (
        SELECT n_chars AS v, lang AS c, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      vals AS (SELECT DISTINCT v FROM cnt),
      cls AS (SELECT c, CAST(SUM(n) AS BIGINT) AS tot FROM cnt GROUP BY 1),
      grid AS (
        SELECT vals.v, cls.c, cls.tot, COALESCE(cnt.n, 0) AS n
        FROM vals CROSS JOIN cls
        LEFT JOIN cnt ON cnt.v = vals.v AND cnt.c = cls.c),
      cum AS (
        SELECT v, c, tot,
          SUM(n) OVER (PARTITION BY c ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM grid),
      pv AS (
        SELECT v, CAST(SUM(cum) AS BIGINT) AS nl,
          CAST(SUM(tot - cum) AS BIGINT) AS nr,
          SUM(cum * cum) AS a,
          SUM((tot - cum) * (tot - cum)) AS b
        FROM cum GROUP BY 1),
      scored AS (
        SELECT v, nl, nr,
          (nl + nr) * 1000000 - (a * 1000000) // nl
            - (b * 1000000) // nr AS g
        FROM pv WHERE nl > 0 AND nr > 0),
      rk AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY g, v) AS INT) AS rank
        FROM scored)
      SELECT v AS threshold, nl AS n_left, nr AS n_right,
        CAST(g AS BIGINT) AS gini_x1e6, rank
      FROM rk WHERE rank <= 3"""))

  /** Prefix-filtered EXACT Jaccard self-join (Dedup.
    * prefixFilterNearDups — AllPairs/PPJoin): same pair set as
    * q_minhash_lsh_neardup but with zero recall caveats — candidates
    * come from each document's rarest-shingles prefix (sound by the
    * prefix-filtering lemma, all-integer ⌈t·|x|⌉), not from banding
    * probabilities. Shares the exact-Jaccard oracle verbatim: two
    * independent engine paths (banded-LSH + estimate pre-filter vs
    * rarity-ordered prefixes) must land the identical pair set.
    */
  private val qPrefixJoin = QueryDef(
    "q_jaccard_prefix_join",
    (s, d) => Dedup.prefixFilterNearDups(
      Tables.documents(s, d), "doc_id", "text", tNum = 1, tDen = 2)
      .select(col("id_a"), col("id_b"), col("jaccard")),
    qMinhash.oracle)

  def all: Seq[QueryDef] = Seq(
    qPrefixJoin,
    qHeapsLaw, qVocabOverlap, qSplitStump,
    qReadability, qRbo, qStreamRbo,
    qDsirWeights, qDsirResample, qStreamDsir, qCollocations,
    qStats, qLang, qLangKappa, qQuality, qQualityPercentile, qCommonNgrams, qQualityCalibration, qIsotonic, qStreamIsotonic, qBrier,
    qVocabCoverage, qDedupExact, qBm25, qHybrid, qBpePairs, qBpeTrain, qBpeEncode, qStreamBpeEncode, qBpeCompression, qCmsHeavyHitters, qSourceDrift, qChunk, qTokenIds,
    qJaccard, qClusters, qBestKeepers, qLeakFreeSplit, qMinhash, qNearDupServed,
    qSimhash, qSimhashGuarantee, qCorpusDedup, qCurationE2E, qRepetition, qDupSpans,
    qDupSpanRemoval, qSelfSpanRemoval, qQualityClassifier, qLmBigramScore, qLmTrigram, qStreamLm, qLmBuckets, qHllSourceVocab,
    qStreamHll, qSourceDatacard,
    qContamination, qContainment, qStreamContainment, qContaminationBloom, qNgramNovelty, qCrossSourceDup, qFuzzyJoin, qSortedNeighborhood, qSortedNeighborhoodAdaptive,
    qStreamContamination, qStreamContaminationBloom, qStreamNearDup, qStreamCms, qFeatureHash, qStreamFeatureHash, qFingerprint, qTopTerms, qInvertedIndex, qPhraseLookup, qCurriculum, qRedact)
}
