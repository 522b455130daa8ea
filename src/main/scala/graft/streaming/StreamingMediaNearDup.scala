package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.Tables
import graft.text.Dedup
import graft.util.Pin

/** Media near-duplicate screening at INGEST time — the streaming twin
  * of q_media_neardup, one tier down the cost ladder from
  * StreamingNearDup's minhash index: arriving media payloads are
  * perceptual-hashed MAP-SIDE inside each micro-batch (the codec-seam
  * mapPartitions — 8 bytes of state per item, no shingles, no
  * signatures), then band-joined against the accumulated corpus's
  * static phash table (Dedup.hammingNearDupsAcross).
  *
  * foreachBatch, zero streaming state stores: the corpus phash table
  * is a slowly-growing TABLE, not a stream — at deployment each
  * batch's flagged pairs write to a sink and the batch's hashes append
  * to the table in the same transaction.
  *
  * Batch-partitioning independence: pairs are batch × INDEX only and
  * each verdict is a pure function of (payload, static index), so any
  * micro-batch partitioning produces the same row set — which the
  * shared exact oracle hash-checks against the one-shot run.
  */
object StreamingMediaNearDup {

  /** The twin fixture shared with the batch exhibit, with twin ids at
    * +10000001 (≡ doc_id+1 mod 5) so every planted pair CROSSES the
    * batch/corpus split: sources (doc_id ≡ 0 mod 40 ⇒ ≡ 0 mod 5)
    * stream in as the batch; their twins (≡ 1 mod 5) sit in the
    * corpus.
    */
  private def mediaOf(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"))
    val twins = docs.where(pmod(col("doc_id"), lit(40)) === 0)
      .select((col("doc_id") + 10000001L).as("media_id"),
        concat(lit("x"), expr("substring(text, 2)"))
          .cast("binary").as("payload"))
    base.unionByName(twins).select(
      col("media_id"), col("payload"), lit("image").as("kind"),
      lit(640).as("width"), lit(480).as("height"),
      lit(0).as("sampleRate"), lit(0L).as("durationMs"))
  }

  /** Drive the streaming screen over the bounded documents file:
    * corpus = media_id % 5 ≠ 0 (hashed once, pinned), batch stream =
    * media_id % 5 = 0. Returns the union of all micro-batch outputs —
    * row-identical to the one-shot cross join.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val corpusPhash = Pin(Multimodal.perceptualHashTable(
      Multimodal.mediaTable(
        mediaOf(Tables.documents(spark, sfDir))
          .where(pmod(col("media_id"), lit(5)) =!= 0))))
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        Dedup.hammingNearDupsAcross(
          Multimodal.perceptualHashTable(
            Multimodal.mediaTable(mediaOf(batch)
              .where(pmod(col("media_id"), lit(5)) === 0))),
          corpusPhash, "media_id", "phash", maxHamming = 3, chunks = 4)
      }
    }
  }
}
