package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Discovery, Normalize, PathMeta, SchemaDetector}
import graft.ingest.SchemaDetector.{LatLon, LocId}
import graft.util.SizeParser

/** Ports of the reference's pure-function unit tests
  * (/root/reference/pivot_and_boostrap/test_pivot_date_location_hour.py)
  * against our detectors/parsers.
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("ingest-test", "4").getOrCreate()

  // --- listing (pivot_utils.py:261-297) ---
  test("discovery walk: same files as fs.listFiles, sorted, no permission reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_listing").toString
    // directory-style dataset: part file + _SUCCESS + .crc sidecars
    val dataset = s"$root/green/2022/green_tripdata_2022-02.parquet"
    Seq((java.sql.Timestamp.valueOf("2022-02-01 08:00:00"), 7))
      .toDF("lpep_pickup_datetime", "PULocationID")
      .coalesce(1).write.parquet(dataset)
    val part = new java.io.File(dataset).listFiles
      .filter(_.getName.startsWith("part-")).head.toPath
    def place(rel: String): Unit = {
      val to = Paths.get(root, rel)
      Files.createDirectories(to.getParent)
      Files.copy(part, to)
    }
    place("yellow/2023/yellow_tripdata_2023-01.parquet")
    place("fhv/2021/FHV_TRIPDATA_2021-06.PARQUET")
    Files.write(Paths.get(root, "yellow/2023/README.txt"), "notes".getBytes)

    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[PermissionCountingFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try {
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(conf)
      assert(fs.isInstanceOf[PermissionCountingFs])
      PermissionCountingFs.reads.set(0)
      val found = Discovery.discoverParquet(spark, root)
      val (detected, skipped) = Normalize.detectDialects(spark, found)
      val fingerprint = graft.util.DataFingerprint.of(spark, root)
      val bytes = graft.ops.Compaction.datasetBytes(spark, root)
      assert(PermissionCountingFs.reads.get == 0)
      assert(detected.size == 3 && skipped.isEmpty)

      // the recursive listFiles loop the walk replaced: same strings,
      // same order, same fingerprint and byte total; its located
      // statuses read permission, owner and group for every file
      def listFiles(): Seq[FileStatus] = {
        val it = fs.listFiles(rootPath, true)
        val out = Seq.newBuilder[FileStatus]
        while (it.hasNext) out += it.next()
        out.result()
      }
      val viaListFiles = listFiles()
      assert(PermissionCountingFs.reads.get > 0)
      assert(found == viaListFiles.map(_.getPath)
        .filter(_.getName.toLowerCase.endsWith(".parquet")).map(_.toString).sorted)
      assert(found.map(_.stripPrefix(s"file:$root/")) == Seq(
        "fhv/2021/FHV_TRIPDATA_2021-06.PARQUET",
        s"green/2022/green_tripdata_2022-02.parquet/${part.getFileName}",
        "yellow/2023/yellow_tripdata_2023-01.parquet"))
      assert(Discovery.leafFiles(fs, rootPath).map(_.getPath) ==
        viaListFiles.map(_.getPath))
      assert(fingerprint == java.lang.Long.toHexString(viaListFiles.map { st =>
        scala.util.hashing.MurmurHash3.stringHash(
          s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}").toLong
      }.sum))
      assert(bytes == viaListFiles.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }.map(_.getLen).sum)
      // a file root lists as itself; a missing root throws, as listFiles does
      val single = new Path(s"$root/yellow/2023/yellow_tripdata_2023-01.parquet")
      assert(Discovery.leafFiles(fs, single).map(_.getPath) == Seq(fs.makeQualified(single)))
      intercept[java.io.FileNotFoundException](Discovery.leafFiles(fs, new Path(s"$root/missing")))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("s3 path handling: trip filter, month regex on URIs") {
    val p = "s3a://bucket/taxi/Dataset/yellow_tripdata_2023-01.parquet"
    // the discovery trip filter + path metadata work on URIs unchanged
    assert(graft.ingest.Discovery.selectTripFiles(
      Seq(p, "s3a://bucket/taxi/zones.parquet")) == Seq(p))
    assert(PathMeta.monthFromPath(p).contains((2023, 1)))
    assert(PathMeta.taxiType(p) == "yellow")
  }

  // --- pickup datetime detection (test file :37-55) ---
  test("detects exact datetime candidates") {
    assert(SchemaDetector.findPickupDatetime(
      Seq("tpep_pickup_datetime", "x")).contains("tpep_pickup_datetime"))
    assert(SchemaDetector.findPickupDatetime(
      Seq("lpep_pickup_datetime")).contains("lpep_pickup_datetime"))
    assert(SchemaDetector.findPickupDatetime(
      Seq("Trip_Pickup_DateTime")).contains("Trip_Pickup_DateTime"))
    assert(SchemaDetector.findPickupDatetime(
      Seq("request_datetime")).contains("request_datetime"))
  }

  test("candidate priority: pickup_datetime wins over request_datetime") {
    assert(SchemaDetector.findPickupDatetime(
      Seq("request_datetime", "pickup_datetime")).contains("pickup_datetime"))
  }

  test("case-insensitive match returns original casing") {
    assert(SchemaDetector.findPickupDatetime(
      Seq("TPEP_PICKUP_DATETIME")).contains("TPEP_PICKUP_DATETIME"))
  }

  test("fuzzy pickup+time match") {
    assert(SchemaDetector.findPickupDatetime(
      Seq("my_pickup_time_col")).contains("my_pickup_time_col"))
  }

  test("no datetime column → None") {
    assert(SchemaDetector.findPickupDatetime(Seq("a", "b", "dropoff_datetime")).isEmpty)
  }

  // --- pickup location detection (:57-69) ---
  test("detects location candidates with priority") {
    assert(SchemaDetector.findPickupLocation(
      Seq("PULocationID", "DOLocationID")).contains("PULocationID"))
    assert(SchemaDetector.findPickupLocation(
      Seq("pickup_zone_id")).contains("pickup_zone_id"))
    assert(SchemaDetector.findPickupLocation(Seq("DOLocationID")).isEmpty)
  }

  test("lat/lon pair fallback requires both") {
    assert(SchemaDetector.findLatLon(
      Seq("Start_Lat", "Start_Lon")).contains(("Start_Lat", "Start_Lon")))
    assert(SchemaDetector.findLatLon(
      Seq("pickup_latitude", "pickup_longitude"))
      .contains(("pickup_latitude", "pickup_longitude")))
    assert(SchemaDetector.findLatLon(Seq("Start_Lat")).isEmpty)
  }

  test("detect() precedence: location id over lat/lon; error when missing") {
    val d = SchemaDetector.detect(
      Seq("tpep_pickup_datetime", "PULocationID", "Start_Lat", "Start_Lon"))
    assert(d == Right(SchemaDetector.Detection("tpep_pickup_datetime", LocId("PULocationID"))))
    val d2 = SchemaDetector.detect(Seq("Trip_Pickup_DateTime", "Start_Lat", "Start_Lon"))
    assert(d2 == Right(SchemaDetector.Detection("Trip_Pickup_DateTime", LatLon("Start_Lat", "Start_Lon"))))
    assert(SchemaDetector.detect(Seq("tpep_pickup_datetime")).isLeft)
    assert(SchemaDetector.detect(Seq("PULocationID")).isLeft)
  }

  // --- path helpers (:75-99) ---
  test("taxi type from path: yellow/green/fhv precedence, else unknown") {
    assert(PathMeta.taxiType("yellow_tripdata_2023-01.parquet") == "yellow")
    assert(PathMeta.taxiType("/data/green_tripdata_2021-07.parquet") == "green")
    assert(PathMeta.taxiType("fhv_tripdata_2020-01.parquet") == "fhv")
    assert(PathMeta.taxiType("s3://bucket/fhvhv_tripdata_2022-03.parquet") == "fhv")
    assert(PathMeta.taxiType("mystery.parquet") == "unknown")
  }

  test("month from YYYY-MM filename") {
    assert(PathMeta.monthFromPath("yellow_tripdata_2023-01.parquet").contains((2023, 1)))
    assert(PathMeta.monthFromPath("green_tripdata_2009_7.parquet").contains((2009, 7)))
  }

  test("month from hive-style year=/month= path") {
    assert(PathMeta.monthFromPath("/data/year=2022/month=11/part.parquet").contains((2022, 11)))
  }

  test("hive-style wins over a YYYY-MM elsewhere in the path") {
    assert(PathMeta.monthFromPath("/archive-2001-01/year=2022/month=3/f.parquet")
      .contains((2022, 3)))
  }

  test("no month → None") {
    assert(PathMeta.monthFromPath("taxidata.parquet").isEmpty)
  }

  // --- size parsing (:176-182) ---
  test("size strings parse KiB-based") {
    assert(SizeParser.parse("200MB").contains(200L * 1024 * 1024))
    assert(SizeParser.parse("1.5GB").contains((1.5 * 1024 * 1024 * 1024).toLong))
    assert(SizeParser.parse("500K").contains(500L * 1024))
    assert(SizeParser.parse("12345").contains(12345L))
    assert(SizeParser.parse("nonsense").isEmpty)
  }
}

/** Local filesystem whose statuses count permission, owner and group
  * reads: without Hadoop's native IO library each such read on a local
  * status forks a shell `stat`, so per-file listing code must not make
  * them. Installed as `fs.file.impl` with the FileSystem cache off.
  */
class PermissionCountingFs extends LocalFileSystem(new PermissionCountingFs.Raw)

object PermissionCountingFs {
  val reads = new AtomicLong

  final class Status(s: FileStatus) extends FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath) {
    override def getPermission = { reads.incrementAndGet(); super.getPermission }
    override def getOwner = { reads.incrementAndGet(); super.getOwner }
    override def getGroup = { reads.incrementAndGet(); super.getGroup }
  }

  private def counted(s: FileStatus): FileStatus = s match {
    case c: Status => c
    case _ => new Status(s)
  }

  final class Raw extends RawLocalFileSystem {
    override def getFileStatus(f: Path): FileStatus = counted(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(counted)
  }
}
