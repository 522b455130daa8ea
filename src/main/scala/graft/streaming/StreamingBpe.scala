package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenize-at-ingest — the deployment shape of a trained tokenizer:
  * merges are TRAINED batch-side (the frozen-model contract shared
  * with streaming k-means assignment and LM scoring), then applied to
  * the unbounded document stream through the SAME stateless native
  * `BpeEncode` expression the batch path uses; the per-symbol
  * frequency table is one
  * streaming groupBy whose state is vocabulary-sized (bounded by the
  * post-merge symbol vocabulary, corpus-independent — the
  * sketch-stream boundedness argument, no watermark needed).
  *
  * Batch-equivalence driver: run over the bounded documents file in
  * complete mode; the final top-100 symbol table must hash-match
  * q_bpe_encode_vocab's batch oracle — training AND streaming encode
  * covered end to end by one shared oracle.
  */
object StreamingBpe {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val merges = graft.text.TextFunctions.bpeTrainMerges(docs, "text", rounds = 3)
      .orderBy("round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val snapshot = StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.drain(graft.text.TextFunctions
        .bpeEncodeSymbols(StreamingRun.tableStream(s, sfDir, "documents"),
          "text", merges)
        .groupBy(col("symbol")).agg(count(lit(1)).as("n")), "complete")
    }
    // ranking on the driver-resident snapshot — complete-mode sorts
    // don't belong in the continuous query
    snapshot.orderBy(col("n").desc, col("symbol")).limit(100)
  }
}
