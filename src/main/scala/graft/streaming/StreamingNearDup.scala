package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.Dedup

/** Near-duplicate detection at INGEST time: documents arrive as a
  * stream and each micro-batch is checked against the SERVED minhash
  * index of the accumulated corpus
  * (`Dedup.buildAndWriteNearDupIndex` / `servedNearDups`).
  *
  * Spark-first shape: this is the `foreachBatch` tier of the streaming
  * dedup ladder — one rung past `StreamingContamination`'s stateless
  * projection (whose probe set is bounded enough to live in the plan
  * as a literal). A near-dup check against an unbounded corpus index
  * cannot be a map-side projection (it needs the banded-signature join
  * + exact verify), and it must not be a stream-stream join (the index
  * is not a stream — it is a slowly-growing TABLE). `foreachBatch`
  * runs the full batch operator per micro-batch with zero streaming
  * state stores; at deployment scale each batch's flagged pairs write
  * straight to a sink and the index gains the batch's signatures in
  * the same transaction (the build is mode-append-able).
  *
  * Batch-partitioning independence — why the streamed union equals the
  * one-shot batch run: `servedNearDups` reports batch × INDEX pairs
  * only, never batch-internal pairs (within-ingest duplicates are the
  * corpus-dedup composite's job once documents land). Each arriving
  * document's verdict therefore depends only on the static index, so
  * ANY micro-batch partitioning yields the same row set — which the
  * shared exact-Jaccard oracle hash-checks.
  */
object StreamingNearDup {

  /** Drive the streaming near-dup filter over the bounded documents
    * file with the same corpus/batch split as the batch exhibit
    * (corpus doc_id % 5 ≠ 0 indexed at `indexDir`; batch % 5 = 0
    * streams in). Returns the union of all micro-batch outputs —
    * row-identical to the one-shot `servedNearDups` run.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String,
      indexDir: String): DataFrame = {
    val corpus = Tables.documents(spark, sfDir).where(col("doc_id") % 5 =!= 0)
    StreamingRun.withStatePartitions(spark) { s =>
      val stream = StreamingRun.tableStream(s, sfDir, "documents")
        .where(col("doc_id") % 5 === 0)
      // collecting is the memory-sink equivalent for the bounded
      // exhibit; a deployment writes each batch's pairs to its sink
      StreamingRun.collectBatches(stream) { (batch, _) =>
        Dedup.servedNearDups(batch.sparkSession, batch, corpus,
          "doc_id", "text", indexDir, threshold = 0.5,
          numHashes = 32, bands = 16, estThresholdOpt = Some(0.35))
      }
    }
  }
}
