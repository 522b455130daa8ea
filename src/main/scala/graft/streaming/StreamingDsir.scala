package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Tables
import graft.text.Dsir

/** DSIR importance scoring at INGEST time — the StreamingLm shape: the
  * importance model is built ONCE from the accumulated corpus (a
  * TABLE — both its target and raw distributions are corpus-level
  * statistics, meaningless as per-batch state), then every arriving
  * micro-batch is scored against the frozen model via `foreachBatch`.
  *
  * Each document arrives WHOLE, so its weight depends only on its own
  * tokens + the frozen B-row model; scoring is stateless across
  * batches and the streamed union is row-identical to the batch run
  * under any arrival partitioning — which the shared oracle
  * hash-checks. (Re-fitting the model on target drift is a rebuild,
  * exactly like the streaming near-dup index ladder.)
  */
object StreamingDsir {

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val model = Dsir.importanceModel(
      docs.where(col("lang") === "en"), docs, "text", 1024)
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        Dsir.weights(batch, "doc_id", "text", model, 1024)
      }
    }
  }
}
