package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Tables
import graft.text.NgramLm

/** Bigram-LM fluency scoring at INGEST time: the model trains ONCE on
  * the trusted slice of the accumulated corpus (a TABLE, not a
  * stream — the StreamingNearDup ladder argument), then every arriving
  * micro-batch is scored against the frozen model via `foreachBatch`.
  *
  * Why foreachBatch and not a streaming aggregate: `NgramLm.score`
  * ends in a per-doc groupBy over exploded bigrams; as a streaming
  * aggregate that keys state by doc_id — state grows with the corpus,
  * the unbounded-state anti-pattern. Every document arrives WHOLE in
  * one row, so its score depends only on its own text + the frozen
  * model; scoring inside the micro-batch is stateless across batches
  * and the streamed union is row-identical to the one-shot batch run
  * under ANY arrival partitioning — which the shared oracle
  * hash-checks.
  */
object StreamingLm {

  /** Drive streaming LM scoring over the bounded documents file with
    * the same trusted slice as the batch exhibit (lang = 'en'). The
    * model is trained batch-side up front; micro-batches score against
    * it. Returns the union of all micro-batch outputs.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val model = NgramLm.train(
      Tables.documents(spark, sfDir).where(col("lang") === "en"), "text")
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        NgramLm.score(batch, "doc_id", "text", model)
      }
    }
  }
}
