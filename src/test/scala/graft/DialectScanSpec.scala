package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{DialectScan, Discovery, Normalize}

/** The single trip-file scan: every dialect through one `FileSourceScanExec`,
  * rows in canonical columns, per-file metadata as partition values —
  * and each trap that design has (see DialectScan's doc).
  */
class DialectScanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("dialect-scan-test", "4").getOrCreate()

  private def tmpDir(): String = Files.createTempDirectory("graft_dscan").toString

  /** The scan over every parquet file under `dir`, each file its own
    * group; `typeCode` tags a group by the file's path.
    */
  private def scanOf(dir: String, typeCode: String => Int = _ => 0): DataFrame = {
    val (ok, skipped) = Normalize.detectDialects(spark, Discovery.discoverParquet(spark, dir))
    assert(skipped.isEmpty && ok.nonEmpty, skipped)
    DialectScan(spark, ok.map(d =>
      DialectScan.Group(d.dialect, typeCode(d.path), 0L, 1L, d.files)))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def us(t: String): Long =
    java.time.Instant.parse(t).toEpochMilli * 1000L

  /** (pickup micros, place_num, place_str, type_code) of each scan row. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long, String, Int)] =
    df.select(unix_micros(col("pickup_datetime")), col("place_num"),
        col("place_str"), col("type_code"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSeq.sortBy(_.toString)

  test("one task reads five dialects that share column names with other types") {
    import spark.implicits._
    val in = tmpDir()
    val t = Seq("2023-01-15T08:00:00Z", "2023-01-15T09:30:00Z")
    val ts = t.map(s => Timestamp.from(java.time.Instant.parse(s)))
    // PULocationID as int32, int64 and double; pickup_datetime as
    // TIMESTAMP and as int64 epoch seconds / millis
    ts.map(x => (x, 11)).toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/a")
    ts.map(x => (x, 22L)).toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/b")
    ts.map(x => (x, 33.0)).toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/c")
    ts.map(x => (x.getTime / 1000, 44)).toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/d")
    ts.map(x => (x.getTime, 55.0)).toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/e")
    val code = Map("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4, "e" -> 5)
    val expected = code.toSeq.flatMap { case (dir, c) =>
      t.map(x => (us(x), c * 11L, "", c))
    }.sortBy(_.toString)

    // every file in one split: each dialect's delegate reads in the same
    // task, so one delegate's requested schema must not leak into
    // another's conf (the delegates also must return rows, not batches)
    withConf("spark.sql.files.maxPartitionBytes" -> "1g",
        "spark.sql.files.openCostInBytes" -> "1",
        "spark.sql.files.minPartitionNum" -> "1") {
      val scan = scanOf(in, p => code(p.split("/").reverse(1)))
      assert(scan.rdd.getNumPartitions == 1)
      assert(rowsOf(scan) == expected)
    }
  }

  test("data filters are evaluated on canonical values, never pushed into a file read") {
    import spark.implicits._
    val in = tmpDir()
    // a raw string `pickup_datetime` with unparseable values: its
    // canonical value is null where the raw one is not, so a pushed
    // `IsNull(pickup_datetime)` would let Parquet skip the row group
    Seq("2021-06-10 08:00:00", "not a date", "", "2021-06-10 09:00:00")
      .map(s => (s, "B1")).toDF("pickup_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/str")
    // a raw int64 `pickup_datetime` (FHV epoch seconds)
    Seq(1623312000L, 1623315600L).map(s => (s, 7)).toDF("pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/epoch")
    val scan = scanOf(in)
    assert(scan.where(col("pickup_datetime").isNull).count() == 2)
    assert(scan.where(col("pickup_datetime").isNotNull).count() == 4)
    assert(scan.where(col("pickup_datetime") >= Timestamp.from(
      java.time.Instant.parse("2021-06-10T08:30:00Z"))).count() == 2)
    assert(scan.where(col("place_str") === "B1").count() == 4)
  }

  test("partition filters prune files: the scan does not re-apply them") {
    import spark.implicits._
    val in = tmpDir()
    val t0 = Timestamp.valueOf("2023-01-15 08:00:00")
    Seq.fill(3)((t0, 1)).toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/t0")
    Seq.fill(5)((t0, 2)).toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(s"$in/t1")
    Seq.fill(7)((t0.getTime, "Z")).toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/t2")
    val scan = scanOf(in, p => p.split("/").reverse(1).stripPrefix("t").toInt)
    assert(scan.count() == 15)
    assert(scan.where(col("type_code") === 1).count() == 5)
    assert(scan.where(col("type_code") =!= 1).count() == 10)
    assert(scan.where(col("type_code") >= 1 && col("place_str") === "Z").count() == 7)
    assert(scan.groupBy("type_code").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(0 -> 3L, 1 -> 5L, 2 -> 7L))
  }

  test("a file split across tasks counts every row once") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import spark.implicits._
    val in = tmpDir()
    val n = 60000
    val t0 = Timestamp.valueOf("2023-01-01 00:00:00").getTime
    (0 until n).map(i => (new Timestamp(t0 + i * 7919L), (i * 31 % 1000).toLong))
      .toDF("tpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.option("parquet.block.size", "65536").parquet(s"$in/big")
    val files = Discovery.discoverParquet(spark, in)
    assert(files.size == 1)
    val conf = spark.sessionState.newHadoopConf()
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head), conf))
    val rowGroups = try footer.getRowGroups.size finally footer.close()
    assert(rowGroups > 2, s"$rowGroups row groups")
    val size = new java.io.File(new java.net.URI(files.head)).length
    withConf("spark.sql.files.maxPartitionBytes" -> (size / 4).toString,
        "spark.sql.files.openCostInBytes" -> "1") {
      val scan = scanOf(in)
      assert(scan.rdd.getNumPartitions >= 4)
      val got = scan.agg(count(lit(1)), sum("place_num"),
        min(unix_millis(col("pickup_datetime"))),
        max(unix_millis(col("pickup_datetime")))).first()
      assert(got.getLong(0) == n)
      assert(got.getLong(1) == (0 until n).map(i => (i * 31 % 1000).toLong).sum)
      assert(got.getLong(2) == t0 && got.getLong(3) == t0 + (n - 1) * 7919L)
    }
  }

  test("planning the scan makes no filesystem call: it reuses detection's statuses") {
    import spark.implicits._
    val in = tmpDir()
    val t0 = Timestamp.valueOf("2023-01-15 08:00:00")
    Seq((t0, 1), (t0, 2)).toDF("tpep_pickup_datetime", "PULocationID")
      .repartition(2).write.parquet(s"$in/a")
    Seq((t0.getTime, "Z")).toDF("request_datetime", "pickup_zone_id")
      .coalesce(1).write.parquet(s"$in/b")
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CallCountingFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try {
      CallCountingFs.calls.set(0)
      // directory inputs: detection lists each one and keeps its parts
      val (ok, _) = Normalize.detectDialects(spark, Seq(s"$in/a", s"$in/b"))
      assert(CallCountingFs.calls.get > 0)
      assert(ok.map(_.files.size).sum == 3)
      CallCountingFs.calls.set(0)
      val scan = DialectScan(spark, ok.map(d =>
        DialectScan.Group(d.dialect, 0, 0L, 1L, d.files)))
      assert(scan.rdd.getNumPartitions >= 1)
      assert(CallCountingFs.calls.get == 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    assert(scanOf(in).count() == 3)
  }
}

/** Local filesystem that counts status, listing and open calls. Installed
  * as `fs.file.impl` with the FileSystem cache off.
  */
class CallCountingFs extends LocalFileSystem(new CallCountingFs.Raw)

object CallCountingFs {
  val calls = new AtomicLong

  final class Raw extends RawLocalFileSystem {
    override def getFileStatus(f: Path): FileStatus = {
      calls.incrementAndGet(); super.getFileStatus(f)
    }
    override def listStatus(f: Path): Array[FileStatus] = {
      calls.incrementAndGet(); super.listStatus(f)
    }
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      calls.incrementAndGet(); super.open(f, bufferSize)
    }
  }
}
