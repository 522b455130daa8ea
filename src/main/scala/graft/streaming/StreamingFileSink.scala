package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Continuous parquet sink with exactly-once restart semantics — the
  * production shape for "stream the cleaned/derived table to storage":
  * Spark's file sink records committed files in a transaction log under
  * the checkpoint, so a restarted query resumes from the last committed
  * offset and never duplicates or loses a batch; readers see only
  * committed files (the `_spark_metadata` log).
  *
  * `Trigger.AvailableNow` drains everything available then stops —
  * the batch-style deployment mode ("run the continuous pipeline as a
  * scheduled job"), which is also what makes restart semantics
  * testable: run, write more input, run again with the SAME
  * checkpoint, and the second run processes only the new files.
  */
object StreamingFileSink {

  /** Drain `df` (a streaming DataFrame) to parquet at `outPath`,
    * exactly-once under `checkpoint`. Blocks until the drain finishes.
    */
  def drainToParquet(df: DataFrame, outPath: String,
      checkpoint: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
  }

  /** Read back ONLY the committed output of a file-sink directory
    * (goes through the `_spark_metadata` commit log, the reader-side
    * half of exactly-once).
    */
  def readCommitted(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

  /** Declared-query driver: stream the events table through the file
    * sink across a RESTART SEQUENCE — drain half the input, restart
    * with the same checkpoint and no new input (the commit log must
    * suppress re-emission), land the second half, restart again (only
    * the delta may process) — then read the committed output back
    * through `_spark_metadata`. The oracle is plain `SELECT ... FROM
    * events`: row-level hash equality proves exactly-once end to end —
    * a duplicated batch or a lost delta changes the hash.
    */
  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val srcRoot = Files.createTempDirectory("graft_sink_src")
    val outRoot = Files.createTempDirectory("graft_sink_out")
    val cpRoot = Files.createTempDirectory("graft_sink_cp")
    try {
      val src = srcRoot.toString
      val out = outRoot.toString + "/data"
      val cp = cpRoot.toString
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"), col("value"))
      // pmod, not %: Spark's % returns negative remainders, so a
      // negative odd id would fall out of BOTH halves — silent loss
      val half = pmod(col("event_id"), lit(2L))
      ev.where(half === 0L).write.mode("append").parquet(src)
      def stream = spark.readStream.schema(ev.schema).parquet(src)
      drainToParquet(stream, out, cp)
      // restart, same checkpoint, nothing new: must be a no-op
      drainToParquet(stream, out, cp)
      // the other half lands; the restart picks up ONLY the delta
      ev.where(half === 1L).write.mode("append").parquet(src)
      drainToParquet(stream, out, cp)
      // snapshot THROUGH the commit log so the temp dirs can be
      // deleted before returning — the bounded-SF harness contract
      // shared with every memory-sink driver (driver-resident result;
      // verification exhibits run at <= sf0.1 ≈ 105k rows / ~4 MB).
      // The production surface is drainToParquet/readCommitted
      // themselves; a lazily-read result frame here would instead pin
      // one events-sized /tmp copy per invocation across bench
      // min-of-N and multi-SF sweeps.
      val committed = readCommitted(spark, out)
        .select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
      spark.createDataFrame(committed.collectAsList(), committed.schema)
    } finally
      Seq(srcRoot, outRoot, cpRoot).foreach(StreamingRun.deleteRecursively)
  }
}
