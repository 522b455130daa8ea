package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Multimodal query surface. The container has no media files or
  * codecs, so the declared query manufactures a deterministic media
  * table from `documents` (payload = text bytes, metadata derived from
  * doc fields) and drives the REAL multimodal plumbing end-to-end:
  * typed encoder round-trip, batched `mapPartitions` feature
  * extraction, and the frame-sampling flatMap fan-out.
  *
  * The oracle covers everything deterministic across engines: ids,
  * kind routing, payload byte counts, feature dimensionality, frame
  * counts (pure metadata arithmetic), and a tolerance boolean asserting
  * the stub features are L1-normalized (they histogram payload bytes /
  * length, so components must sum to ~1) — the same accuracy-contract
  * pattern as q_approx_distinct. The feature VALUES are the stub
  * decoder's hash-fold, intentionally not declared.
  */
object MultimodalQueries {

  private val qFeatures = QueryDef(
    "q_multimodal_features",
    (s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        (pmod(col("n_chars"), lit(64)) * 10 + 10).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) * 10 + 10).cast("int").as("height"),
        lit(16000).as("sampleRate"),
        (col("n_chars") * 10).cast("long").as("durationMs"))
      val feats = Multimodal.featuresTable(media, dim = 64)
      val frames = Multimodal
        .framesTable(media, everyMs = 1000L)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      feats
        .join(frames, Seq("media_id"))
        .select(
          col("media_id"), col("kind"), col("n_bytes"),
          size(col("features")).as("feat_dim"),
          col("n_frames"),
          (abs(aggregate(col("features"), lit(0.0d), (a, x) => a + x)
            - 1.0d) < 0.001d).as("features_normalized"))
    },
    Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS kind,
        CAST(strlen(text) AS INT) AS n_bytes,
        CAST(64 AS INT) AS feat_dim,
        CAST(CEIL(GREATEST(1, n_chars * 10) / 1000.0) AS BIGINT) AS n_frames,
        TRUE AS features_normalized
      FROM documents"""))

  /** Media similarity, ORACLE-EXACT end to end: payloads → batched
    * mapPartitions feature extraction (PortableMd5Decoder: feature i =
    * md5 hex digit i / 16 — a dyadic rational, exact in float32, so
    * any engine reproduces the vectors AND the quantized cosine
    * bit-for-bit) → brute-force top-20 neighbours of media 0. This
    * upgrades the multimodal family from contract checks to a full
    * hash check through the decoder seam; a real codec swaps in at the
    * same injection point with the identical plan shape.
    */
  private val qMediaAnn = QueryDef(
    "q_media_ann_topk",
    (s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("image").as("kind"),
        lit(640).as("width"), lit(480).as("height"),
        lit(0).as("sampleRate"), lit(0L).as("durationMs"))
      val feats = Multimodal.featuresTable(media, dim = 32,
        decoder = Multimodal.PortableMd5Decoder)
      graft.sim.Similarity.topKByQueryId(feats, "media_id", "features",
        queryId = 0L, k = 20,
        scoreFn = graft.functions.VectorFunctions.q_vec_cosine)
    },
    Some("""
      WITH vec AS (
        SELECT doc_id AS media_id,
          list_transform(range(1, 33),
            i -> CAST(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1
              AS DOUBLE) / 16.0) AS v
        FROM documents),
      flat AS (
        SELECT media_id, CAST(ROUND(unnest(v) * 10000) AS BIGINT) AS qv,
          generate_subscripts(v, 1) AS i
        FROM vec),
      qf AS (SELECT i, qv AS qqv FROM flat WHERE media_id = 0),
      dots AS (
        SELECT f.media_id, SUM(f.qv * q.qqv) AS qdot, SUM(f.qv * f.qv) AS nrm
        FROM flat f JOIN qf q USING (i)
        GROUP BY f.media_id),
      qn AS (SELECT SUM(qqv * qqv) AS nrm0 FROM qf)
      SELECT media_id,
        CAST(qdot AS BIGINT) /
          (sqrt(CAST(nrm AS BIGINT)) * sqrt(CAST(nrm0 AS BIGINT))) AS score
      FROM dots, qn
      WHERE media_id <> 0
      ORDER BY score DESC, media_id
      LIMIT 20"""))

  /** The RESIZE transform declared through the gate (the one media
    * transform the other two exhibits don't exercise): every payload
    * re-scaled to a 64×48 byte budget via the batched partition-local
    * path — out = min(max(1, len·(64·48)/(w·h)), len), integer floor
    * arithmetic the oracle replays from (n_chars-derived) metadata.
    * Payloads never shuffle: resize is map-side; only (id, kind,
    * lengths) leave the scan stage.
    */
  private val qResize = QueryDef(
    "q_media_resize_budget",
    (s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        (pmod(col("n_chars"), lit(64)) * 10 + 10).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) * 10 + 10).cast("int").as("height"),
        lit(16000).as("sampleRate"),
        (col("n_chars") * 10).cast("long").as("durationMs"))
      Multimodal.resize(Multimodal.mediaTable(media), w = 64, h = 48).toDF()
        .select(col("media_id"), col("meta.kind").as("kind"),
          length(col("payload")).cast("long").as("n_bytes_resized"),
          col("meta.width").cast("int").as("width"),
          col("meta.height").cast("int").as("height"))
    },
    Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS kind,
        CAST(LEAST(GREATEST(1,
          strlen(text) * (64 * 48) //
            ((n_chars % 64 * 10 + 10) * (n_chars % 48 * 10 + 10))),
          strlen(text)) AS BIGINT) AS n_bytes_resized,
        CAST(64 AS INT) AS width,
        CAST(48 AS INT) AS height
      FROM documents"""))

  /** Media near-duplicate detection (Multimodal.nearDupPairs) — the
    * dedup member the media modality was missing: a 1-D dHash
    * perceptual hash behind the codec seam (65 bucket means over the
    * payload byte stream → 64 comparison bits; a real codec would
    * dHash decoded pixels at the same injection point), then the
    * SHARED SimHash Hamming-band machinery (text/Dedup
    * .hammingNearDups): 4 exact-match 16-bit chunks propose
    * candidates — pigeonhole-complete at maxHamming 3 — and
    * bit_count(xor) verifies. The fixture plants hand-built
    * near-duplicate twins (first byte overwritten with 'x', same
    * length → at most bucket 0's mean moves → Hamming ≤ 1) alongside
    * the raw corpus, so the band join, verify filter, and pair dedup
    * are all exercised on REAL collisions; every step is integer
    * arithmetic on unsigned bytes, so the oracle replays hash, bands,
    * candidates, and verdicts exactly. Payload bytes never leave the
    * map stage (PlanSpec-asserted).
    */
  private val qMediaNearDup = QueryDef(
    "q_media_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
      val twins = docs.where(pmod(col("doc_id"), lit(40)) === 0)
        .select((col("doc_id") + 10000000L).as("media_id"),
          concat(lit("x"), expr("substring(text, 2)"))
            .cast("binary").as("payload"))
      val media = base.unionByName(twins).select(
        col("media_id"), col("payload"), lit("image").as("kind"),
        lit(640).as("width"), lit(480).as("height"),
        lit(0).as("sampleRate"), lit(0L).as("durationMs"))
      Multimodal.nearDupPairs(media, maxHamming = 3, chunks = 4)
    },
    Some("""
      WITH media AS (
        SELECT doc_id AS media_id, text AS payload FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS media_id,
          'x' || substr(text, 2) AS payload
        FROM documents WHERE doc_id % 40 = 0),
      bytes AS (
        SELECT media_id, CAST(j AS BIGINT) - 1 AS j,
          ord(substr(payload, CAST(j AS INT), 1)) AS b,
          strlen(payload) AS n
        FROM media, unnest(range(1, strlen(payload) + 1)) t(j)),
      bsum AS (
        SELECT media_id, (j * 65) // n AS bucket, SUM(b) // COUNT(*) AS m
        FROM bytes GROUP BY 1, 2),
      spine AS (
        SELECT m.media_id, s.bucket, COALESCE(b.m, 0) AS m
        FROM (SELECT DISTINCT media_id FROM media) m
        CROSS JOIN (SELECT unnest(range(0, 65)) AS bucket) s
        LEFT JOIN bsum b ON b.media_id = m.media_id AND b.bucket = s.bucket),
      bits AS (
        SELECT media_id, bucket AS i,
          CASE WHEN nxt > m THEN 1 ELSE 0 END AS bit
        FROM (SELECT media_id, bucket, m,
            LEAD(m) OVER (PARTITION BY media_id ORDER BY bucket) AS nxt
          FROM spine) WHERE bucket < 64),
      bands AS (
        SELECT media_id, i // 16 AS band,
          CAST(SUM(bit * (1::BIGINT << CAST(i % 16 AS INT))) AS BIGINT) AS bv
        FROM bits GROUP BY 1, 2),
      cand AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
        WHERE a.media_id < b.media_id
        GROUP BY 1, 2)
      SELECT c.id_a, c.id_b,
        CAST(SUM(bit_count(xor(a.bv, b.bv))) AS INT) AS hamming
      FROM cand c
      JOIN bands a ON a.media_id = c.id_a
      JOIN bands b ON b.media_id = c.id_b AND b.band = a.band
      GROUP BY 1, 2
      HAVING SUM(bit_count(xor(a.bv, b.bv))) <= 3"""))

  /** The media near-dup screen as a CONTINUOUS ingest query
    * (StreamingMediaNearDup): arriving payloads are perceptual-hashed
    * map-side per micro-batch (codec seam), then band-joined against
    * the accumulated corpus's static phash table — pairs are
    * batch × INDEX only, so any micro-batch partitioning yields the
    * same rows as the one-shot run, which this oracle replays exactly.
    * Twin ids sit at +10000001 (≡ source+1 mod 5) so every planted
    * near-dup pair CROSSES the batch/corpus split.
    */
  private val qStreamMediaNearDup = QueryDef(
    "q_stream_media_neardup",
    (s, d) => graft.streaming.StreamingMediaNearDup
      .runBatchEquivalent(s, d),
    Some("""
      WITH media AS (
        SELECT doc_id AS media_id, text AS payload FROM documents
        UNION ALL
        SELECT doc_id + 10000001 AS media_id,
          'x' || substr(text, 2) AS payload
        FROM documents WHERE doc_id % 40 = 0),
      bytes AS (
        SELECT media_id, CAST(j AS BIGINT) - 1 AS j,
          ord(substr(payload, CAST(j AS INT), 1)) AS b,
          strlen(payload) AS n
        FROM media, unnest(range(1, strlen(payload) + 1)) t(j)),
      bsum AS (
        SELECT media_id, (j * 65) // n AS bucket, SUM(b) // COUNT(*) AS m
        FROM bytes GROUP BY 1, 2),
      spine AS (
        SELECT m.media_id, s.bucket, COALESCE(b.m, 0) AS m
        FROM (SELECT DISTINCT media_id FROM media) m
        CROSS JOIN (SELECT unnest(range(0, 65)) AS bucket) s
        LEFT JOIN bsum b ON b.media_id = m.media_id AND b.bucket = s.bucket),
      bits AS (
        SELECT media_id, bucket AS i,
          CASE WHEN nxt > m THEN 1 ELSE 0 END AS bit
        FROM (SELECT media_id, bucket, m,
            LEAD(m) OVER (PARTITION BY media_id ORDER BY bucket) AS nxt
          FROM spine) WHERE bucket < 64),
      bands AS (
        SELECT media_id, i // 16 AS band,
          CAST(SUM(bit * (1::BIGINT << CAST(i % 16 AS INT))) AS BIGINT) AS bv
        FROM bits GROUP BY 1, 2),
      cand AS (
        SELECT a.media_id AS probe_id, b.media_id AS index_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
        WHERE a.media_id % 5 = 0 AND b.media_id % 5 <> 0
          AND a.media_id <> b.media_id
        GROUP BY 1, 2)
      SELECT c.probe_id, c.index_id,
        CAST(SUM(bit_count(xor(a.bv, b.bv))) AS INT) AS hamming
      FROM cand c
      JOIN bands a ON a.media_id = c.probe_id
      JOIN bands b ON b.media_id = c.index_id AND b.band = a.band
      GROUP BY 1, 2
      HAVING SUM(bit_count(xor(a.bv, b.bv))) <= 3"""))

  def all: Seq[QueryDef] =
    Seq(qFeatures, qMediaAnn, qResize, qMediaNearDup, qStreamMediaNearDup)
}
