package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.WideTablePipeline

/** End-to-end pipeline test over synthetic taxi files in the three
  * schema dialects the reference handles (SURVEY §5 / FIXTURES):
  * modern yellow (tpep + PULocationID int), legacy yellow (string
  * datetime + Start_Lat/Lon), FHV (epoch-millis + zone string).
  */
class WideTablePipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("pipeline-test", "4").getOrCreate()

  private def tmpDir(): String =
    Files.createTempDirectory("graft_pipeline").toString

  /** hours: 60 rows in hour 8, 3 rows in hour 9 on 2023-01-15 (+ one
    * row in 2022-12 = month mismatch).
    */
  private def yellowRows: Seq[(Timestamp, Int)] = {
    val h8 = (1 to 60).map(i =>
      (Timestamp.valueOf(f"2023-01-15 08:${i % 60}%02d:00"), 132))
    val h9 = (1 to 3).map(i =>
      (Timestamp.valueOf(f"2023-01-15 09:0$i:00"), 132))
    val mismatch = Seq((Timestamp.valueOf("2022-12-31 23:59:00"), 132))
    h8 ++ h9 ++ mismatch
  }

  private def writeFixtures(dir: String): Unit = {
    import spark.implicits._
    // dialect 1: modern yellow — tpep timestamp + int location id
    yellowRows.toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$dir/yellow_tripdata_2023-01.parquet")
    // dialect 2: legacy yellow — string datetime + lat/lon, 55 rows hour 7
    val legacy = (1 to 55).map(i =>
      (f"2009-03-02 07:${i % 60}%02d:00", 40.7215, -74.0051))
    legacy.toDF("Trip_Pickup_DateTime", "Start_Lat", "Start_Lon")
      .coalesce(1).write.parquet(s"$dir/yellow_tripdata_2009-03.parquet")
    // dialect 3: FHV — epoch millis + string zone, 52 rows hour 12
    val base = Timestamp.valueOf("2021-06-10 12:00:00").getTime
    val fhv = (1 to 52).map(i => (base + i * 1000L, "B00256"))
    fhv.toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$dir/fhv_tripdata_2021-06.parquet")
    // an undetectable file that must be skipped, not fatal
    Seq((1, "x")).toDF("a", "b")
      .coalesce(1).write.parquet(s"$dir/broken_tripdata_2021-01.parquet")
    // a non-tripdata file that must be filtered out
    Seq((1, "x")).toDF("a", "b")
      .coalesce(1).write.parquet(s"$dir/data_dictionary.parquet")
  }

  test("three dialects end-to-end: wide table content + report counters") {
    val in = tmpDir(); val out = tmpDir()
    writeFixtures(in)
    val report = WideTablePipeline.run(spark,
      WideTablePipeline.Config(in, out, minRides = 50L))

    // input rows: 64 yellow + 55 legacy + 52 fhv (broken file skipped)
    assert(report.inputRowCount == 64 + 55 + 52)
    assert(report.skippedFiles.map(_._1).exists(_.contains("broken_tripdata")))
    assert(report.skippedFiles.size == 1)
    // month mismatch: the single 2022-12 row in the 2023-01 file
    assert(report.monthMismatchRows == 1)

    val wide = spark.read.parquet(s"$out/wide_table.parquet")
    assert(wide.columns.toSeq ==
      Seq("taxi_type", "date", "pickup_place") ++ graft.ops.HourPivot.hourCols)

    val rows = wide.collect().map(r =>
      (r.getString(0), r.getDate(1).toString, r.getString(2))).toSet
    // yellow 2023-01-15: 63 rides (60+3) ≥ 50 → kept; mismatch row's
    // group (2022-12-31, 1 ride) dropped by min-rides
    assert(rows.contains(("yellow", "2023-01-15", "132")))
    // legacy: lat/lon bucket key, 55 ≥ 50 → kept
    assert(rows.contains(("yellow", "2009-03-02", "40.722_-74.005")) ||
           rows.contains(("yellow", "2009-03-02", "40.721_-74.005")))
    // fhv: 52 ≥ 50 → kept
    assert(rows.contains(("fhv", "2021-06-10", "B00256")))
    assert(rows.size == 3)
    // low-count dropped: the 2022-12-31 group
    assert(report.lowCountDropped == 1)
    assert(report.outputRowCount == 3)

    // hour columns: yellow row has 60 in hour_8, 3 in hour_9
    val y = wide.where(col("date") === "2023-01-15").collect()(0)
    assert(y.getLong(y.fieldIndex("hour_8")) == 60L)
    assert(y.getLong(y.fieldIndex("hour_9")) == 3L)
    assert(y.getLong(y.fieldIndex("hour_0")) == 0L)

    // per-phase seconds: every phase, in run order, disjoint parts of
    // the run, and written into both report formats
    assert(report.phaseSeconds.map(_._1) == Seq("discover", "detect", "plan", "write"))
    assert(report.phaseSeconds.forall(_._2 >= 0.0))
    assert(report.phaseSeconds.map(_._2).sum <= report.runTimeSeconds)
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$out/report.json")))
    assert(json.contains(s""""phase_seconds": {"discover": ${report.phaseSeconds.head._2}, "detect": """))
    assert(graft.pipeline.ReportSink.toLatex(report)
      .contains(s"\\item Phase write (seconds): ${report.phaseSeconds.last._2}\n"))
  }

  test("min-rides filter honors threshold and empty input writes canonical schema") {
    val in = tmpDir(); val out = tmpDir()
    // no usable file: one without a pickup column, one TIMESTAMP(NANOS)
    // file and one corrupt file
    import spark.implicits._
    Seq((1, "x")).toDF("a", "b")
      .coalesce(1).write.parquet(s"$in/odd_tripdata_2021-01.parquet")
    MultiFormatSpec.writeNanosTrip(spark, s"$in/yellow_tripdata_2021-02.parquet")
    MultiFormatSpec.writeCorrupt(s"$in/green_tripdata_2021-03.parquet")
    val report = WideTablePipeline.run(spark,
      WideTablePipeline.Config(in, out, minRides = 50L))
    assert(report.inputRowCount == 0 && report.outputRowCount == 0)
    // the report keeps each file's own skip reason from detection
    // (Spark writes the odd file as a directory of part files)
    val names = Seq("odd_tripdata_2021-01.parquet",
      "yellow_tripdata_2021-02.parquet", "green_tripdata_2021-03.parquet")
    assert(report.skippedFiles.size == 3, report.skippedFiles)
    val why = names.map(n => n ->
      report.skippedFiles.collectFirst { case (f, r) if f.contains(n) => r }
        .getOrElse(fail(s"$n not skipped: ${report.skippedFiles}"))).toMap
    assert(why(names(0)).startsWith("missing pickup datetime"), why)
    assert(why(names(1)).startsWith("unreadable: ") &&
      why(names(1)).contains("TIMESTAMP(NANOS"), why)
    assert(why(names(2)).startsWith("unreadable: "), why)
    val wide = spark.read.parquet(s"$out/wide_table.parquet")
    assert(wide.columns.toSeq ==
      Seq("taxi_type", "date", "pickup_place") ++ graft.ops.HourPivot.hourCols)
    assert(wide.count() == 0)
    assert(report.phaseSeconds.map(_._1) == Seq("discover", "detect", "plan", "write"))
    assert(report.phaseSeconds.map(_._2).sum <= report.runTimeSeconds)
  }

  test("place keys: numeric and canonical string IDs merge, other strings stay apart") {
    import spark.implicits._
    val in = tmpDir()
    val day = java.time.Instant.parse("2021-06-10T00:00:00Z").toEpochMilli
    def at(h: Int, i: Int) = day + h * 3600000L + i * 1000L
    // one taxi type and month, three location dialects
    ((1 to 5).map(i => (at(8, i), 132)) ++
        Seq((at(8, 6), 0), (at(8, 7), 0), (at(8, 8), -7)))
      .toDF("request_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/ids/fhv_tripdata_2021-06.parquet")
    // only strings of optional "-" and 1-19 digits reach the long cast;
    // the others must still key as themselves
    val strs = Seq("132", "132", "132", "0132", "0132", " 132", " 132",
      "Z001", null, "", "0", "-7", "+7", "-0", "9223372036854775808", "1e3")
    strs.zipWithIndex.map { case (z, i) => (at(9, i), z) }
      .toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/strs/fhv_tripdata_2021-06.parquet")
    (1 to 4).map(i => (at(10, i), 40.75, -73.95))
      .toDF("request_datetime", "Start_Lat", "Start_Lon")
      .coalesce(1).write.parquet(s"$in/latlon/fhv_tripdata_2021-06.parquet")
    val files = graft.ingest.Discovery.selectTripFiles(
      graft.ingest.Discovery.discoverParquet(spark, in), None)
    assert(files.size == 3)

    // the table the string key gives: IDs as decimal strings, string
    // IDs as written, lat/lon as the rounded pair; the empty string stays
    // apart from the place 0, "-0" apart from 0, "+7" apart from -7
    val expected = Set[(String, Map[Int, Long])](
      ("132", Map(8 -> 5L, 9 -> 3L)), ("0132", Map(9 -> 2L)),
      (" 132", Map(9 -> 2L)), ("Z001", Map(9 -> 1L)), (null, Map(9 -> 1L)),
      ("", Map(9 -> 1L)), ("0", Map(8 -> 2L, 9 -> 1L)),
      ("-7", Map(8 -> 1L, 9 -> 1L)), ("+7", Map(9 -> 1L)), ("-0", Map(9 -> 1L)),
      ("9223372036854775808", Map(9 -> 1L)), ("1e3", Map(9 -> 1L)),
      ("40.75_-73.95", Map(10 -> 4L)))
    val p = WideTablePipeline.plan(spark, files, minRides = 1L).get
    val got = p.wide.collect().map { r =>
      assert(r.getString(0) == "fhv" && r.getDate(1).toString == "2021-06-10")
      (r.getString(2), graft.ops.HourPivot.hourCols.indices
        .map(h => h -> r.getLong(3 + h)).filter(_._2 > 0).toMap)
    }.toSet
    assert(got == expected)
    assert(p.quality.get("input_rows") == 8L + strs.size + 4L)
    assert(p.groups.get("n_groups") == expected.size.toLong)
  }

  test("session time zone does not move the wide table or the counters") {
    import spark.implicits._
    val in = tmpDir()
    // instant-typed dialects around UTC midnight and a month edge, plus
    // a DATE column (midnight UTC of its day)
    val ts = Seq("2023-01-31T23:30:00Z", "2023-02-01T00:10:00Z",
      "2023-02-01T04:59:59Z", "2023-02-01T05:00:00Z", "2023-02-28T23:59:59Z")
      .map(t => Timestamp.from(java.time.Instant.parse(t)))
    ts.flatMap(t => Seq.fill(3)((t, 7)))
      .toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/yellow_tripdata_2023-02.parquet")
    ts.map(t => (t.getTime, "B1"))
      .toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/fhv_tripdata_2023-02.parquet")
    ts.map(t => (t.getTime / 1000, 9L))
      .toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/green_tripdata_2023-02.parquet")
    Seq("2023-02-01", "2023-02-01", "2023-03-01").map(d =>
        (java.sql.Date.valueOf(d), 4))
      .toDF("pickup_date", "PULocationID")
      .coalesce(1).write.parquet(s"$in/fhv/fhv_tripdata_2023-02.parquet")

    def runIn(tz: String): (Set[Seq[Any]], WideTablePipeline.Report) = {
      val prev = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", tz)
      try {
        val out = tmpDir()
        val r = WideTablePipeline.run(spark,
          WideTablePipeline.Config(in, out, minRides = 1L))
        (spark.read.parquet(s"$out/wide_table.parquet")
          .withColumn("date", col("date").cast("string"))
          .collect().map(_.toSeq).toSet, r)
      } finally spark.conf.set("spark.sql.session.timeZone", prev)
    }
    val (utc, rUtc) = runIn("UTC")
    val (ny, rNy) = runIn("America/New_York")
    assert(utc.nonEmpty && ny == utc)
    assert(rUtc.inputRowCount == 3 * 5 + 5 + 5 + 3)
    // 2023-01-31 23:30 UTC in three files, and the March date
    assert(rUtc.monthMismatchRows == 3 + 1 + 1 + 1)
    assert((rNy.inputRowCount, rNy.monthMismatchRows, rNy.outputRowCount,
      rNy.lowCountDropped) == (rUtc.inputRowCount, rUtc.monthMismatchRows,
      rUtc.outputRowCount, rUtc.lowCountDropped))
  }

  test("corrupt parquet file is skipped with a reason, pipeline continues") {
    import spark.implicits._
    val in = tmpDir(); val out = tmpDir()
    // valid file
    (1 to 60).map(i => (Timestamp.valueOf(f"2023-01-15 08:${i % 60}%02d:00"), 5))
      .toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/yellow_tripdata_2023-01.parquet")
    // garbage bytes with a .parquet name
    Files.write(java.nio.file.Paths.get(s"$in/green_tripdata_2023-02.parquet"),
      "not a parquet file at all".getBytes)
    val report = WideTablePipeline.run(spark,
      WideTablePipeline.Config(in, out, minRides = 1L))
    assert(report.inputRowCount == 60)
    assert(report.skippedFiles.exists { case (f, why) =>
      f.contains("green_tripdata") && why.startsWith("unreadable") })
    assert(spark.read.parquet(s"$out/wide_table.parquet").count() == 1)
  }

  test("double-typed location IDs format via long cast: 132.0 → \"132\"") {
    import spark.implicits._
    val in = tmpDir(); val out = tmpDir()
    val base = Timestamp.valueOf("2022-04-05 09:00:00").getTime
    (1 to 60).map(i => (base + i * 1000L, 132.0))
      .toDF("request_datetime", "PUlocationID")
      .coalesce(1).write.parquet(s"$in/fhv_tripdata_2022-04.parquet")
    WideTablePipeline.run(spark,
      WideTablePipeline.Config(in, out, minRides = 1L))
    val places = spark.read.parquet(s"$out/wide_table.parquet")
      .select("pickup_place").as[String].collect().toSeq
    // pinned spec (SURVEY §7.4 risk 1): numeric ids cast via LONG, so
    // the key is "132", never pandas-style "132.0"
    assert(places == Seq("132"))
  }

  test("unparseable datetime strings coerce to null and are dropped, not fatal") {
    import spark.implicits._
    val in = tmpDir(); val out = tmpDir()
    val rows = (1 to 55).map(i => (f"2009-03-02 07:${i % 60}%02d:00", 40.7, -74.0)) ++
      Seq(("not a date", 40.7, -74.0), ("", 40.7, -74.0))
    rows.toDF("Trip_Pickup_DateTime", "Start_Lat", "Start_Lon")
      .coalesce(1).write.parquet(s"$in/yellow_tripdata_2009-03.parquet")
    val report = WideTablePipeline.run(spark,
      WideTablePipeline.Config(in, out, minRides = 1L))
    // errors="coerce" semantics: bad rows nulled then dropped BEFORE
    // input_rows counting (pivot_all_files.py:150-157)
    assert(report.inputRowCount == 55)
    assert(report.outputRowCount == 1)
  }

  test("epoch-seconds FHV columns coerce via magnitude heuristic") {
    import spark.implicits._
    val in = tmpDir(); val out = tmpDir()
    val baseSec = Timestamp.valueOf("2021-06-10 15:00:00").getTime / 1000
    (1 to 60).map(i => (baseSec + i, "Z1"))
      .toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/fhv_tripdata_2021-06.parquet")
    val report = WideTablePipeline.run(spark,
      WideTablePipeline.Config(in, out, minRides = 1L))
    assert(report.inputRowCount == 60)
    val wide = spark.read.parquet(s"$out/wide_table.parquet")
    val r = wide.collect()(0)
    assert(r.getAs[java.sql.Date]("date").toString == "2021-06-10")
    assert(r.getAs[Long]("hour_15") == 60L)
  }
}
