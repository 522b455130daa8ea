package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.KMeans
import graft.sources.Tables

/** Continuous cluster assignment — the streaming face of
  * `sim/KMeans`: vectors arrive as a stream and each is routed to its
  * nearest FROZEN centroid (batch-trained, the serve contract — online
  * arrivals don't retrain, same rule as the IVF index's appends).
  * This is the ingest-time shape of cluster-based curation: route each
  * incoming document's embedding to its region (for cluster-balanced
  * sampling quotas, SemDeDup cells, topic tagging) as it lands.
  *
  * Spark-first shape: the k×dim centroid matrix enters the stream's
  * plan as a literal (bounded by construction — same pattern as the
  * contamination probe array), and assignment is the codegen'd
  * QVecNearestL2 kernel — a pure MAP-SIDE projection with append
  * output, ZERO state stores, zero stream-side shuffle. Per-row cost
  * is bounded and independent of history, which is exactly what an
  * ingest router must guarantee at 100 TB.
  */
object StreamingKMeans {

  /** Unbounded transform: assign each arriving vector to its nearest
    * frozen centroid. Output matches `KMeans.fit`'s final assignment
    * row-for-row: (idCol, cluster, qdist).
    */
  def assignStream(vecs: DataFrame, idCol: String, vecCol: String,
      cents: KMeans.Centroids): DataFrame =
    KMeans.assign(
      vecs.select(col(idCol), KMeans.quantize(col(vecCol)).as("__qv")),
      cents)
      .select(col(idCol), col("cluster"), col("qdist"))

  /** Drive the streaming assignment over the bounded embeddings file
    * with centroids batch-trained exactly as q_kmeans_clusters trains
    * them — the emitted rows must equal the batch `KMeans.fit` output
    * whatever the arrival order, which the shared unrolled-Lloyd's
    * DuckDB oracle hash-checks.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String, k: Int,
      iters: Int): DataFrame = {
    val cents = KMeans.fitCentroids(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", k, iters)
    StreamingRun.withStatePartitions(spark) { s =>
      StreamingRun.drain(assignStream(
        StreamingRun.tableStream(s, sfDir, "embeddings"),
        "vec_id", "embedding", cents))
    }
  }
}
