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
    val bufA = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    val bufB = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
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
    StreamingRun.withStatePartitions(spark, 4) { s =>
      val stream = StreamingContamination.documentsStream(s, sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val sc = Pin(scored(batch))
          bufA.addAll(topPartial(sc, "flesch_milli").collectAsList())
          bufB.addAll(topPartial(sc, "n_chars").collectAsList())
          (): Unit
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    val schema = scored(Tables.documents(spark, sfDir).limit(0)).schema
    val ra = topPartial(spark.createDataFrame(bufA, schema), "flesch_milli")
      .withColumn("pa", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("flesch_milli").desc, col("doc_id"))))
    val rb = topPartial(spark.createDataFrame(bufB, schema), "n_chars")
      .withColumn("pb", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
    graft.ops.Eval.rboFromRankings(
      ra.select(col("source"), col("doc_id"), col("pa")),
      rb.select(col("source"), col("doc_id"), col("pb")),
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
      sfDir: String): DataFrame = {
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    def feats(batch: DataFrame): DataFrame =
      graft.text.TfIdf.featureHash(batch, "doc_id", "text", dim = 64)
    StreamingRun.withStatePartitions(spark, 4) { s =>
      val stream = StreamingContamination.documentsStream(s, sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          buf.addAll(feats(batch).collectAsList())
          (): Unit
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.createDataFrame(buf,
      feats(Tables.documents(spark, sfDir).limit(0)).schema)
  }

  /** Ingest-time ratio decontamination: the frozen probe slice
    * (doc_id % 11 = 0) checks every arriving corpus micro-batch via
    * the same containmentJoin; outputs union (per-doc stateless).
    */
  def runContainmentBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val probes = Pin(docs.where(col("doc_id") % 11 === 0)
      .select(col("doc_id"), col("text")))
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    def score(batch: DataFrame): DataFrame =
      graft.text.Dedup.containmentJoin(
        batch.where(col("doc_id") % 11 =!= 0), probes,
        "doc_id", "text", tNum = 1, tDen = 2)
    StreamingRun.withStatePartitions(spark, 4) { s =>
      val stream = StreamingContamination.documentsStream(s, sfDir)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          buf.addAll(score(batch).collectAsList())
          (): Unit
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.createDataFrame(buf, score(docs.limit(0)).schema)
  }
}
