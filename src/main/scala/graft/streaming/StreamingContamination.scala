package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{Dedup, TextFunctions}

/** Ingest-time decontamination — the streaming face of
  * `Dedup.contaminationFlags` (train/test-leakage check): documents
  * arrive as a stream and each is flagged when its distinct n-gram
  * shingles overlap a STATIC probe (benchmark) set.
  *
  * Spark-first shape: the probe side is batch and BOUNDED (eval
  * benchmarks — thousands of documents, not the corpus), so its
  * distinct shingle-hash set is collected once at plan time and enters
  * the stream's plan as an array literal (the same bounded-driver-side
  * pattern as the IVF centroids, `sim/Similarity.scala`). The streaming
  * side is then a pure MAP-SIDE projection — tokenize → distinct
  * shingle-hash array → `array_intersect` against the probe array —
  * with append output, ZERO state stores, zero stream-side shuffle:
  * each micro-batch flags its documents independently at scan
  * parallelism, which is exactly how an ingest filter must behave at
  * 100 TB (per-doc cost bounded, no cross-doc coordination).
  *
  * Boundary: a probe set beyond comfortable literal/broadcast size
  * (≫10⁷ shingles ≈ 100 MB) moves to the `foreachBatch` Bloom rung
  * ([[runBatchEquivalentBloom]]): the sketch is built ONCE (~7.3
  * bits/key at 3% fpp — shippable where a literal array is not), each
  * micro-batch runs the batch `applyBloomFlags` (map-side sketch
  * prefilter → exact semi-join verify → per-doc rollup). Flags are
  * per-document, so per-batch application IS the batch semantics —
  * no cross-batch state.
  *
  * The per-row HOF (`transform`) evaluates interpreted, ~6× the CPU of
  * the batch path's codegen'd explode (measured for the batch shapes,
  * SCALE_NOTES) — the price of statelessness; the batch path remains
  * the bulk-backfill tool.
  */
object StreamingContamination {

  /** Per-row DISTINCT shingle-hash array — the map-side twin of
    * `Dedup.shingleHashFrame`'s exploded rows: same tokenization, same
    * `xxhash64` over the same n-gram windows → identical hash values,
    * held in an array instead of exploded (streams can't afford the
    * explode→aggregate round trip without state).
    */
  def shingleHashArray(tokensCol: Column, shingleN: Int = 3): Column = {
    val len = greatest(size(tokensCol) - (shingleN - 1), lit(0))
    val zipped = arrays_zip((1 to shingleN).map(i =>
      slice(tokensCol, lit(i), len)): _*)
    array_distinct(transform(zipped,
      z => xxhash64((0 until shingleN).map(i => z.getField(i.toString)): _*)))
  }

  /** Unbounded transform: flag each document against the probe shingle
    * set. Output matches `Dedup.contaminationFlags` row-for-row:
    * (id, n_shingles, n_overlap, overlap_frac, contaminated), emitted
    * only for documents that HAVE shingles (≥ `shingleN` tokens).
    */
  def flagStream(docs: DataFrame, idCol: String, textCol: String,
      probeShingles: Array[Long], shingleN: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    val probe = typedLit(probeShingles)
    docs
      // tokens aliased in their OWN projection (same reasoning as the
      // batch build: the shingle zip references the array shingleN+1
      // times; a bound attribute is free to re-read, a regex split isn't)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), shingleHashArray(col("__tk"), shingleN).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col(idCol),
        size(col("__sh")).cast("long").as("n_shingles"),
        size(array_intersect(col("__sh"), probe)).cast("long").as("n_overlap"))
      .select(col(idCol), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap") >= minOverlap).as("contaminated"))
  }

  /** Drive the streaming filter over the bounded documents file with
    * the same corpus/probe split as the batch query (corpus doc_id%97≠0,
    * probes %97=0) — the emitted rows must equal the batch
    * `contaminationFlags` output whatever the arrival order, which the
    * shared DuckDB oracle hash-checks.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val probeShingles = Dedup.shingleHashFrame(
        docs.where(col("doc_id") % 97 === 0), "doc_id", "text", 3)
      .select(col("s")).distinct()
      .collect().map(_.getLong(0)).sorted
    StreamingRun.withStatePartitions(spark) { s =>
      val stream = StreamingRun.tableStream(s, sfDir, "documents")
        .where(col("doc_id") % 97 =!= 0)
      StreamingRun.drain(
        flagStream(stream, "doc_id", "text", probeShingles))
    }
  }

  /** The Bloom rung driven batch-equivalently: build the probe sketch
    * once, stream the corpus, run `Dedup.applyBloomFlags` per
    * micro-batch through `foreachBatch`, sink each batch's flags to a
    * shared parquet directory (the production sink shape — a memory
    * sink would hide the write path), and read the union back. The
    * emitted rows must equal the batch `contaminationFlagsBloom`
    * output — and therefore `contaminationFlags` (bloom is
    * exact-after-verify) — whatever the micro-batch boundaries.
    */
  def runBatchEquivalentBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val (probeSh, sketch) = Dedup.bloomProbeBuild(
      docs.where(col("doc_id") % 97 === 0), "doc_id", "text",
      shingleN = 3, fpp = 0.03)
    StreamingRun.withStatePartitions(spark) { s =>
      val outDir = java.nio.file.Files.createTempDirectory("graft_stream_bloom")
      try {
        val stream = StreamingRun.tableStream(s, sfDir, "documents")
          .where(col("doc_id") % 97 =!= 0)
        StreamingRun.eachBatch(stream) { (batch, _) =>
          Dedup.applyBloomFlags(batch, probeSh, sketch,
              "doc_id", "text", shingleN = 3, minOverlap = 1)
            .write.mode("append").parquet(outDir.toString)
        }
        // snapshot to the driver (bounded: per-doc flags) BEFORE the
        // finally deletes the backing files
        val res = s.read.parquet(outDir.toString)
        s.createDataFrame(res.collectAsList(), res.schema)
      } finally StreamingRun.deleteRecursively(outDir)
    }
  }
}
