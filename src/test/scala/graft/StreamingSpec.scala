package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Sessionize, StreamingHourPivot}

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("stream-test", "4").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("streaming hour pivot equals batch hour pivot") {
    import graft.sources.Tables
    val batch = graft.ops.HourPivot
      .pivot(Tables.events(spark, sf), col("ts"), Seq("event_type"))
      .collect().map(_.toSeq).toSet
    val streamed = StreamingHourPivot.runBatchEquivalent(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("withStatePartitions: one clone per parent, so repeated runs add no session's listener bus") {
    import graft.streaming.StreamingRun
    import org.apache.spark.GraftTestBus
    val sc = spark.sparkContext
    StreamingHourPivot.runBatchEquivalent(spark, sf)
    val before = GraftTestBus.streamingListenerBuses(sc)
    StreamingHourPivot.runBatchEquivalent(spark, sf)
    StreamingHourPivot.runBatchEquivalent(spark, sf)
    // Spark runs each query on its own copy of the session, and a
    // stateful query's copy registers a bus that stays: one per run.
    // A clone per run added a second one, its own.
    assert(GraftTestBus.streamingListenerBuses(sc) - before <= 2)
    val (s1, s2) = (StreamingRun.withStatePartitions(spark)(identity),
      StreamingRun.withStatePartitions(spark)(identity))
    assert((s1 eq s2) && !(s1 eq spark))
    assert(s1.conf.get("spark.sql.shuffle.partitions") ==
      StreamingRun.StatePartitions.toString)
  }

  test("file sink: exactly-once across restart, new files picked up incrementally") {
    import graft.streaming.StreamingFileSink
    import java.nio.file.Files
    import spark.implicits._
    val src = Files.createTempDirectory("sink_src").toString
    val out = Files.createTempDirectory("sink_out").toString + "/data"
    val cp = Files.createTempDirectory("sink_cp").toString
    // seed input: 2 rows
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def stream = spark.readStream.schema(schema).parquet(src)
    StreamingFileSink.drainToParquet(stream, out, cp)
    assert(StreamingFileSink.readCommitted(spark, out).count() == 2)
    // restart with the same checkpoint and NO new input → no duplicates
    StreamingFileSink.drainToParquet(stream, out, cp)
    assert(StreamingFileSink.readCommitted(spark, out).count() == 2,
      "restart must not re-emit committed batches")
    // new input file → only the delta is processed
    Seq((3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    StreamingFileSink.drainToParquet(stream, out, cp)
    val rows = StreamingFileSink.readCommitted(spark, out)
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L, 3L))
  }

  test("stream-stream interval join equals the batch range join") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val batch = graft.ops.RangeJoin.withinSeconds(
      ev.where(col("event_type") === "purchase"),
      ev.where(col("event_type") === "click"),
      keyCol = "user_id", idCol = "event_id", tsCol = "ts",
      toleranceSec = 600L)
      .select(col("k"), col("left_id"), col("right_id"),
        (unix_micros(col("right_ts")) - unix_micros(col("left_ts"))))
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingJoin
      .runBatchEquivalent(spark, sf, 600L)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("pivotStream append mode finalizes+evicts day groups at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val pivoted = StreamingHourPivot.pivotStream(
      input.toDF().toDF("ts", "event_type"), col("ts"), Seq("event_type"),
      watermarkDelay = "1 hour")
    // append mode would throw AnalysisException at start() if the group
    // keys had lost the event-time watermark (the round-1 to_date bug)
    val q = pivoted.writeStream.outputMode("append")
      .format("memory").queryName("pivot_append_test").start()
    input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), "a"),
      (Timestamp.valueOf("2024-01-01 22:00:00"), "a"))
    q.processAllAvailable()
    // next-day event pushes the watermark past Jan 1 → day group emits
    input.addData((Timestamp.valueOf("2024-01-03 01:00:00"), "b"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("pivot_append_test").collect()
    assert(rows.length == 1, s"exactly the finalized Jan-1 group: ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[java.sql.Date]("event_date").toString == "2024-01-01")
    assert(r.getAs[String]("event_type") == "a")
    assert(r.getAs[Long]("hour_10") == 1L && r.getAs[Long]("hour_22") == 1L)
    assert((0 until 24).map(h => r.getAs[Long](s"hour_$h")).sum == 2L)
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    // batch 1: two rows in hour 10; advance event time far past watermark
    input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), "a"),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "a"))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "a"))
    q.processAllAvailable()
    // batch 3: a LATE row back in hour 10 — watermark (12:50) is past
    // the hour-10 window end (11:00): must be dropped
    input.addData((Timestamp.valueOf("2024-01-01 10:30:00"), "a"))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-01-01 16:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm_test")
      .select(col("window.start").cast("string"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out("2024-01-01 10:00:00") == 2L) // late row NOT counted
  }

  test("late replay pivot: closed-window late rows drop, open merges, update re-emits") {
    import spark.implicits._
    import graft.streaming.StreamingLateData
    def ts(s: String) = Timestamp.valueOf(s)
    // Pins the MEASURED two-watermark semantics: batch N's late filter
    // uses batch N-1's watermark, eviction uses batch N's — so drops
    // start one batch AFTER the watermark passes a window's end.
    // batch 0: day1 10:00 and day2 23:00 — the watermark (1 h delay)
    // becomes day2 22:00 at its close, CLOSING day1's window
    val b0 = Seq((ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-02 23:00:00"), "a")).toDF("ts", "event_type")
    // batch 1: on-time filler (also proves the LAGGED filter: day1 is
    // already closed but batch 1 still filters with the initial 0 mark)
    val b1 = Seq((ts("2024-01-02 23:30:00"), "a")).toDF("ts", "event_type")
    // batch 2: one late row per day, now filtered with day2 22:00 —
    // day1's must DROP (end day2 00:00 <= mark), day2's must MERGE
    val b2 = Seq((ts("2024-01-01 11:00:00"), "a"),
      (ts("2024-01-02 09:00:00"), "a")).toDF("ts", "event_type")
    val sent = Seq((ts("2024-03-01 12:00:00"), "__wm_sentinel"))
      .toDF("ts", "event_type")
    val batches = Seq(b0, b1, b2, sent, sent)
    val append = StreamingLateData.lateReplayPivot(spark, batches)
    val byDay = append.collect().map(r => r.getDate(0).toString ->
      (r.getAs[Long]("hour_10"), r.getAs[Long]("hour_11"),
        r.getAs[Long]("hour_9"), r.getAs[Long]("hour_23"))).toMap
    // each day emitted exactly once (append), day1 without its late row
    assert(append.count() == 2L)
    assert(byDay("2024-01-01") == ((1L, 0L, 0L, 0L)), "late row must drop")
    assert(byDay("2024-01-02") == ((0L, 0L, 1L, 2L)), "late row must merge")
    assert(!byDay.contains("2024-03-01"), "sentinel window never closes")
    // update mode: day2 re-emits amended; the dropped day1 late row
    // appears in NO emission, ever
    val update = StreamingLateData.lateReplayPivot(spark, batches,
      outputMode = "update")
    val day1 = update.where(col("event_date") === "2024-01-01").collect()
    assert(day1.nonEmpty && day1.forall(_.getAs[Long]("hour_11") == 0L))
    val day2 = update.where(col("event_date") === "2024-01-02").collect()
    assert(day2.exists(_.getAs[Long]("hour_9") == 1L), "update must re-emit")
    assert(day2.exists(_.getAs[Long]("hour_9") == 0L), "first emission visible")
  }

  test("late filter for batch N derives from batches 0..N-2, not N-1") {
    import spark.implicits._
    import graft.streaming.StreamingLateData
    def ts(s: String) = Timestamp.valueOf(s)
    // Decisive two-watermark fixture (r13 ADVICE adjudication — the
    // fixture above cannot distinguish the candidates because its
    // batch-0/1 maxima share a day): batch 0 max = day1 10:00, batch 1
    // max = day5 23:00, and the batch-2 late row's window end (day4
    // 00:00) falls strictly BETWEEN wm(after b0) = day1 09:00 and
    // wm(after b1) = day5 22:00 at 1 h delay. Measured verdict
    // (WatermarkLagProbe (removed; see 7b19d2b)): the row is KEPT — batch 2's late
    // filter is the watermark from batch 0's data only, so the
    // nc-only wm CTE in q_stream_late_pivot[_update]'s oracle is
    // schedule-exact, not dataset-lucky.
    val b0 = Seq((ts("2024-01-01 10:00:00"), "a")).toDF("ts", "event_type")
    val b1 = Seq((ts("2024-01-05 23:00:00"), "a")).toDF("ts", "event_type")
    val b2 = Seq((ts("2024-01-03 12:00:00"), "a")).toDF("ts", "event_type")
    val sent = Seq((ts("2024-03-01 12:00:00"), "__wm_sentinel"))
      .toDF("ts", "event_type")
    val out = StreamingLateData.lateReplayPivot(
      spark, Seq(b0, b1, b2, sent, sent))
    val days = out.select(col("event_date").cast("string"))
      .as[String].collect().toSet
    assert(days("2024-01-03"),
      "batch-2 late row must pass the filter lagged to batch 0's wm")
    assert(days == Set("2024-01-01", "2024-01-03", "2024-01-05"))
  }

  test("update waves: a real business key amends across micro-batches") {
    // r13 verdict #8 done-criterion: the update stream must provably
    // emit >= 2 waves for a NON-sentinel key. The noon-split schedule
    // amends every (day, type) group with events on both sides of
    // noon; waves differ (wave 1 has hour_12..23 all zero).
    val out = graft.streaming.StreamingLateData
      .runLateHourPivotUpdateSplit(spark, sf)
      .where(col("event_type") =!= "__wm_sentinel")
      .localCheckpoint(true)
    val amended = out.groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("waves"))
      .where(col("waves") >= 2)
    assert(amended.count() > 0,
      "at least one real (day, type) group must emit two waves")
    // the two waves of an amended group are distinct rows: the morning
    // partial has zero afternoon counts, the amendment does not
    val afternoonSum = (12 until 24)
      .map(h => col(s"hour_$h")).reduce(_ + _)
    val firstWaves = out.where(afternoonSum === 0)
    val fullWaves = out.where(afternoonSum > 0)
    assert(firstWaves.join(fullWaves.select(col("event_date"),
        col("event_type")), Seq("event_date", "event_type"), "left_semi")
      .count() > 0, "partial and amended waves must coexist per group")
  }

  test("streaming dedup suppresses duplicates within the watermark window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = graft.streaming.StreamingDedup.dedupStream(
      input.toDF().toDF("ts", "user_id", "event_type"),
      Seq("user_id", "event_type"), "ts", watermarkDelay = "10 minutes")
      .select("user_id", "event_type")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream_test").start()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "click"), // dup
      (Timestamp.valueOf("2024-01-01 10:02:00"), 2L, "view"))
    q.processAllAvailable()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:03:00"), 1L, "click"), // dup, later batch
      (Timestamp.valueOf("2024-01-01 10:04:00"), 1L, "view"))  // new key
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_stream_test").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == rows.distinct.length, s"no dup emissions: ${rows.toSeq}")
    assert(rows.toSet == Set((1L, "click"), (2L, "view"), (1L, "view")))
  }

  test("streaming contamination filter equals the batch flags") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val batch = graft.text.Dedup.contaminationFlags(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleN = 3, minOverlap = 1)
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingContamination
      .runBatchEquivalent(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    assert(streamed.exists(r => r(4) == true), "some doc must be flagged")
  }

  test("streaming HLL estimate equals the batch sketch per source") {
    import graft.sources.Tables
    import graft.ops.Sketches
    val docs = Tables.documents(spark, sf)
    val items = docs.where(length(trim(col("text"))) > 0)
      .select(col("source"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("term"))
    val batch = Sketches.hllEstimate(
        Sketches.hllRegisters(items, "term", Seq("source")), Seq("source"))
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingSketch
      .runHllBatchEquivalent(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch) // MAX-merge is arrival-order-free
    assert(streamed.nonEmpty)
  }

  test("streaming k-means assignment equals batch fit, stateless plan") {
    import graft.sources.Tables
    import graft.sim.KMeans
    val emb = Tables.embeddings(spark, sf)
    val batch = KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingKMeans
      .runBatchEquivalent(spark, sf, k = 4, iters = 2)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the routing plan must be stateless: no aggregates, no state store
    val cents = KMeans.fitCentroids(emb, "vec_id", "embedding", 4, 2)
    val plan = graft.streaming.StreamingKMeans.assignStream(
      graft.streaming.StreamingRun.tableStream(spark, sf, "embeddings"),
      "vec_id", "embedding", cents).queryExecution.analyzed.toString
    assert(!plan.contains("Aggregate"), plan)
  }

  test("streaming near-dup ingest filter equals the batch served-index run") {
    import graft.sources.Tables
    import graft.text.Dedup
    val docs = Tables.documents(spark, sf)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("neardup_stream_spec")
      .toString + "/idx"
    Dedup.buildAndWriteNearDupIndex(corpus, "doc_id", "text", dir)
    val batch = Dedup.servedNearDups(spark,
        docs.where(col("doc_id") % 5 === 0), corpus, "doc_id", "text", dir,
        threshold = 0.5, numHashes = 32, bands = 16,
        estThresholdOpt = Some(0.35))
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingNearDup
      .runBatchEquivalent(spark, sf, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "the sf0.001 split must produce near-dup pairs")
  }

  test("batch sessionization: gap splits sessions, counts and bounds exact") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:10:00")),
      (1L, 3L, ts("2024-01-01 11:30:00")), // 80 min gap → new session
      (2L, 4L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "event_id", "ts")
    val out = Sessionize.sessions(events, 1800L).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.size == 3)
    val s1 = out((1L, 1L))
    assert(s1._1 == 2L) // two events
    assert(s1._3 - s1._2 == 600L) // 10-minute span
    assert(out((1L, 2L))._1 == 1L)
    assert(out((2L, 1L))._1 == 1L)
  }

  test("streaming sessionization emits sessions after watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessionizeStream(input.toDS(), gapSeconds = 600L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    input.addData(
      Sessionize.Event(1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      Sessionize.Event(1L, 2L, Timestamp.valueOf("2024-01-01 10:05:00")))
    q.processAllAvailable()
    // advance watermark far past 10:05 + 10 min
    input.addData(Sessionize.Event(2L, 3L, Timestamp.valueOf("2024-01-01 12:00:00")))
    q.processAllAvailable()
    input.addData(Sessionize.Event(2L, 4L, Timestamp.valueOf("2024-01-01 14:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_test").as[Sessionize.Session].collect()
    val u1 = rows.filter(_.user_id == 1L)
    assert(u1.length == 1)
    assert(u1(0).n_events == 2L)
    assert(u1(0).end_s - u1(0).start_s == 300L)
  }

  test("bounded-stream harness: only StreamingRun and the file sink start queries") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val allowed = Set("StreamingRun.scala", "StreamingFileSink.scala")
    val banned = Seq("writeStream", "nameCounter", "synchronizedList",
      ".limit(0)).schema")
    val hits = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") &&
        !allowed(f.getFileName.toString))
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f), "UTF-8")
        banned.filter(text.contains).map(b => s"$f: $b")
      }.toSeq
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("collectBatches: zero batches give an empty frame with the operator's schema") {
    import graft.streaming.StreamingRun
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    var batches = 0
    val out = StreamingRun.collectBatches(input.toDF()) { (batch, _) =>
      batches += 1
      batch.select((col("value") * 2).as("doubled"), lit("x").as("tag"))
    }
    assert(batches == 1, "only the schema fallback plans f")
    assert(out.schema.fieldNames.toSeq == Seq("doubled", "tag"))
    assert(out.schema("doubled").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.collect().isEmpty)
  }

  test("drain: the snapshot is a local relation that self-joins") {
    import graft.streaming.StreamingRun
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val snap = StreamingRun.drain(input.toDF().select(col("value").as("k")))
    assert(snap.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val joined = snap.as("a")
      .join(snap.as("b"), col("a.k") === col("b.k") + 1)
      .select(col("a.k"), col("b.k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(joined == Set((2L, 1L), (3L, 2L)))
  }
}
