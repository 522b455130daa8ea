package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.Tables

/** The bounded-stream harness every batch-equivalence exhibit runs
  * through: one table-stream source, one memory-sink drain and one
  * per-batch collector, each query stopped in a `finally`. The drain
  * and the collector return a driver-resident snapshot (a
  * `LocalRelation`), so callers fold, self-join and return it like any
  * batch frame after the query has stopped.
  */
object StreamingRun {

  private val sinkIds = new AtomicInteger(0)

  /** Streaming source over `<sfDir>/<table>.parquet`. The schema comes
    * from the footer (~10 ms; a readStream schema inference costs a
    * ~1 s job). A directory streams directly (a glob on its parent
    * would match no leaf file and stream nothing); a single file streams
    * through a glob on its parent, because FileStreamSource requires a
    * directory basePath (a bare file path throws at getBatch). `events`
    * gets `Tables.eventsTs`, the batch reader's `ts` dispatch.
    */
  def tableStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    // nanosAsLong as set at session bootstrap (Session.builder)
    val schema = graft.ingest.Footers.schemaOf(conf, path.toString,
      nanosAsLong = true)
    val raw =
      if (path.getFileSystem(conf).getFileStatus(path).isDirectory)
        spark.readStream.schema(schema).parquet(path.toString)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", path.getName)
        .parquet(path.getParent.toString)
    if (table == "events") Tables.eventsTs(raw) else raw
  }

  /** Run `stream` into a memory sink until it has processed all
    * available input, then (for each of `feeds`, in order) feed more
    * input and drain again. Returns the sink's final table as a driver
    * snapshot and drops the sink's view. The snapshot must stay a
    * local relation: the raw memory-sink frame cannot be self-joined
    * (analysis fails resolving the conflicting `MemoryPlan` references).
    */
  def drain(stream: DataFrame, outputMode: String = "append",
      feeds: Seq[() => Unit] = Nil): DataFrame = {
    val s = stream.sparkSession
    val name = s"graft_stream_${sinkIds.incrementAndGet()}"
    try {
      val q = stream.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .start()
      try {
        q.processAllAvailable()
        feeds.foreach { feed => feed(); q.processAllAvailable() }
      } finally q.stop()
      val table = s.table(name)
      s.createDataFrame(table.collectAsList(), table.schema)
    } finally s.catalog.dropTempView(name)
  }

  /** Run `f(batch, batchId)` on every micro-batch of `stream` until it
    * has processed all available input. */
  def eachBatch(stream: DataFrame, outputMode: String = "append")(
      f: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, batchId: Long) => f(batch, batchId) }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Run `f(batch, batchId)` on every micro-batch of `stream` and
    * return the union of its outputs as a driver snapshot. The schema
    * is the first batch's output schema; only when no batch arrived is
    * `f` planned over an empty frame of the stream's schema for it.
    */
  def collectBatches(stream: DataFrame, outputMode: String = "append")(
      f: (DataFrame, Long) => DataFrame): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    var schema: Option[StructType] = None
    eachBatch(stream, outputMode) { (batch, batchId) =>
      val out = f(batch, batchId)
      val got = out.collectAsList()
      rows.synchronized {
        if (schema.isEmpty) schema = Some(out.schema)
        rows.addAll(got)
      }
    }
    val s = stream.sparkSession
    val outSchema = rows.synchronized(schema).getOrElse(
      f(s.createDataFrame(java.util.Collections.emptyList[Row](),
        stream.schema), -1L).schema)
    s.createDataFrame(rows, outSchema)
  }

  /** Recursive temp-dir delete for the batch-equivalence drivers —
    * closes the `Files.walk` stream (its javadoc requires it) and
    * tolerates already-missing paths, so it is safe from `finally`
    * blocks on partially-created directories.
    */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  /** `spark.sql.shuffle.partitions` of every bounded exhibit's stream:
    * a streaming query fixes its STATE partition count from this conf
    * at start, and every state partition owns store instances that
    * checkpoint on every micro-batch (a stream-stream join keeps 4 per
    * partition — 128 stores at the batch default of 32, ~7 s of pure
    * store/commit overhead for kilobytes of state). State partitioning
    * is sized to stateful-key volume, not scan width — the bounded
    * exhibits carry a few thousand keys. At deployment scale this knob
    * is exactly what you tune upward again.
    */
  val StatePartitions = 4

  private val stateSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Run `f` on a session whose shuffle partitions are
    * [[StatePartitions]]. The conf is scoped to a CLONED session
    * (`spark.newSession`): the clone shares the SparkContext and cached
    * data but owns its SQLConf, so a query running concurrently on the
    * parent session (parallel tests, ad-hoc work) never silently
    * executes with the lowered partition count. One clone serves every
    * run on a parent: each session that starts a stream adds a listener
    * bus to the shared context that is never removed, so a clone per
    * run would grow them for the life of the JVM. Callers build their
    * streaming frames against the session passed to `f`.
    */
  def withStatePartitions[T](spark: SparkSession)(f: SparkSession => T): T =
    f(stateSessions.computeIfAbsent(spark, { parent =>
      val s = parent.newSession()
      s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      s
    }))

  /** Stage `batches` as one parquet file each with strictly increasing
    * modification times under a temp directory, run `f` with that
    * directory's path, and delete everything afterwards. Read through
    * [[arrivalStream]] (`maxFilesPerTrigger=1`), the file source then
    * replays batch i as micro-batch i — the deterministic multi-arrival
    * harness the late-data and appended-state exhibits drive their
    * streams with. Fixed epoch + minute steps stamp the order
    * deterministically however fast the writes ran.
    */
  def withArrivalDir[T](batches: Seq[DataFrame])(f: String => T): T = {
    require(batches.nonEmpty, "withArrivalDir: no arrival batches")
    val base = java.nio.file.Files
      .createTempDirectory("graft_arrivals_").toFile
    try {
      val srcDir = new java.io.File(base, "arrivals")
      require(srcDir.mkdirs(), s"could not create $srcDir")
      batches.zipWithIndex.foreach { case (b, i) =>
        val name = f"b$i%03d"
        val tmp = new java.io.File(base, s"w_$name")
        b.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles()
          .find(x => x.getName.startsWith("part-") &&
            x.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"no part file written for arrival batch $name"))
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(1700000000000L + i * 60000L),
          s"could not stamp arrival order on $dst")
      }
      f(srcDir.getAbsolutePath)
    } finally deleteRecursively(base.toPath)
  }

  /** The stream over a [[withArrivalDir]] directory: one file, in
    * modification-time order, per micro-batch. */
  def arrivalStream(spark: SparkSession, srcDir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(srcDir)
}
