package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.QualityClassifier
import graft.util.Pin

/** Continuously-maintained isotonic recalibration: the quality model
  * trains ONCE on the trusted slice of the accumulated corpus (table,
  * not stream — the StreamingLm contract), every arriving micro-batch
  * is scored against the frozen model and collapsed to per-bin
  * (n, pos) PARTIALS at ingest, and the PAV fit folds over the summed
  * bin state per refresh. Bin counts are additive, so the maintained
  * state is the BIN GRID (≤ score_range/binDiv rows), never documents
  * — the same bounded-state shape as the day-count monitor family.
  * Arrival order cannot change a sum of partials, so the result is
  * row-identical to the one-shot batch fit — which the shared oracle
  * hash-checks.
  */
object StreamingCalibration {

  def runIsotonicBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // frozen model: never recomputed per batch
    val weights = Pin(QualityClassifier.trainTokenWeights(
      docs.where(col("doc_id") % 3 === 0), "text", col("lang") === "en"))
    StreamingRun.withStatePartitions(spark) { s =>
      val partials = StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        QualityClassifier.scoreDocs(batch, "doc_id", "text", weights)
          .join(batch.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(expr("score_ppm div 2000").as("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum((col("lang") === "en").cast("long")).as("n_pos"))
      }
      graft.ops.Calibration.isotonicFromBins(partials)
    }
  }
}
