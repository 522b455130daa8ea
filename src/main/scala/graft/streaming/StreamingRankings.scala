package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{TextFunctions => TF}
import graft.util.Pin

/** Streaming twins for the ranking-agreement and containment
  * exhibits — both built on the same bounded-partials argument:
  *
  *  - RBO: top-k is a SEMILATTICE merge — top10(∪ batches) =
  *    top10(∪ per-batch top10s) — so each micro-batch contributes at
  *    most |keys|·k rows per ranking and the final re-rank + RBO fold
  *    runs on that bounded union, row-identical to the batch run
  *    under any arrival split (the shared oracle hash-checks it).
  *
  *  - Containment: each corpus document arrives WHOLE in one row and
  *    its verified matches depend only on its own shingles + the
  *    frozen probe set, so scoring inside the micro-batch is
  *    stateless across batches (the StreamingLm contract). The
  *    prefix-pruning order inside a batch differs from the batch
  *    run's corpus-wide rarity order, but pruning is COMPLETE under
  *    any order — the verified output is order-invariant, which the
  *    shared oracle checks.
  */
object StreamingRankings {

  /** Per-source readability-vs-length RBO@10 on streamed documents:
    * micro-batches emit per-source top-10 partials for BOTH scores;
    * the union re-ranks and folds. State ≤ |sources|·10 rows/side.
    */
  def runRboBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame = {
    def scored(batch: DataFrame): DataFrame =
      TF.withReadability(
        batch.select(col("doc_id"), col("source"), col("n_chars"),
          call_function("replace", col("text"), lit(" a "), lit(". "))
            .as("text")),
        "text")
        .select(col("source"), col("doc_id"), col("flesch_milli"),
          col("n_chars"))
    def topPartial(s: DataFrame, score: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col(score).desc, col("doc_id"))
      s.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= 10).drop("__rn")
    }
    // both rankings' partials in one frame, tagged by ranking
    val partials = StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        val sc = Pin(scored(batch))
        topPartial(sc, "flesch_milli").withColumn("__by", lit("a"))
          .unionByName(topPartial(sc, "n_chars").withColumn("__by", lit("b")))
      }
    }
    def ranked(by: String, score: String, pos: String): DataFrame =
      topPartial(partials.where(col("__by") === by).drop("__by"), score)
        .withColumn(pos, row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col(score).desc, col("doc_id"))))
        .select(col("source"), col("doc_id"), col(pos))
    graft.ops.Eval.rboFromRankings(
      ranked("a", "flesch_milli", "pa"), ranked("b", "n_chars", "pb"),
      Seq("source"), "doc_id", "pa", "pb", depth = 10)
  }

  /** Ingest-time feature hashing: every arriving document vectorizes
    * against NOTHING but itself (the hashing trick needs no
    * vocabulary — that is its point), so the micro-batch union is
    * trivially row-identical to the batch run; this twin pins that
    * the featurizer really is corpus-state-free (a vocabulary-based
    * vectorizer would hash-mismatch the moment a batch split changed
    * dictionary ids).
    */
  def runFeatureHashBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        graft.text.TfIdf.featureHash(batch, "doc_id", "text", dim = 64)
      }
    }

  /** Ingest-time ratio decontamination: the frozen probe slice
    * (doc_id % 11 = 0) checks every arriving corpus micro-batch via
    * the same containmentJoin; outputs union (per-doc stateless).
    */
  def runContainmentBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame = {
    val probes = Pin(Tables.documents(spark, sfDir)
      .where(col("doc_id") % 11 === 0)
      .select(col("doc_id"), col("text")))
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.collectBatches(
          StreamingRun.tableStream(s, sfDir, "documents")) { (batch, _) =>
        graft.text.Dedup.containmentJoin(
          batch.where(col("doc_id") % 11 =!= 0), probes,
          "doc_id", "text", tNum = 1, tDen = 2)
      }
    }
  }
}
