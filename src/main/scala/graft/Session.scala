package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the configuration we want everywhere:
  * UTC timezone (oracle parity), AQE on (runtime re-planning: skew joins,
  * partition coalescing — critical at 100 TB), shuffle partitions sized
  * for the local harness but overridable for a real cluster.
  *
  * At cluster scale the same builder applies; only `master`,
  * `spark.sql.shuffle.partitions` (≈ 2–3× total cores) and
  * `spark.sql.files.maxPartitionBytes` need re-tuning.
  */
object Session {
  def builder(appName: String = "graft", cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) columns; Spark 4 reads
      // them only as LONG under this legacy flag. Set once at bootstrap
      // (it is read-path-only and harmless for every other table) —
      // previously each events source builder mutated it session-wide
      // mid-flight, a lingering side effect on later parquet reads.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Survive multi-second host stalls (virtualized boxes freeze the
      // whole JVM; the 10 s defaults let the local executor "lose" the
      // in-process driver and kill the run — observed round 4). These
      // are also the values a production cluster would run: infrequent
      // heartbeats cost nothing, and premature executor eviction under
      // GC/host pauses costs recomputation.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false")
      // documents/embeddings rows are wide (long text, 64-float vectors):
      // keep broadcast threshold at default 10 MB; dims (region/nation) are tiny.

  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
