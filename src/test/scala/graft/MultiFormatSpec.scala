package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MultiFormat, Tables}

class MultiFormatSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("fmt-test", "4").getOrCreate()

  test("csv and json round-trip the orders table") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val dir = Files.createTempDirectory("graft_fmt").toString

    MultiFormat.write(orders, s"$dir/o.csv", "csv")
    val backCsv = MultiFormat.read(spark, s"$dir/o.csv",
      schema = Some(orders.schema))
    assert(backCsv.count() == orders.count())
    assert(backCsv.agg(sum("o_orderkey")).first().getLong(0) ==
           orders.agg(sum("o_orderkey")).first().getLong(0))

    MultiFormat.write(orders, s"$dir/o.json", "json")
    val backJson = MultiFormat.read(spark, s"$dir/o.json",
      schema = Some(orders.schema))
    assert(backJson.count() == orders.count())

    // ORC: columnar like parquet — predicate/projection pushdown apply
    MultiFormat.write(orders, s"$dir/o.orc", "orc")
    val backOrc = MultiFormat.read(spark, s"$dir/o.orc")
    assert(backOrc.count() == orders.count())
    assert(backOrc.schema == orders.schema)
    val orcPlan = backOrc.where(col("o_orderkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(orcPlan.contains("PushedFilters: [IsNotNull(o_orderkey)"), orcPlan)

    // extension dispatch without explicit format
    assert(MultiFormat.read(spark, s"$dir/o.csv",
      schema = Some(orders.schema)).columns.toSeq == orders.columns.toSeq)
  }

  test("Footers.schemaOf: file path, directory path, and missing path") {
    import graft.ingest.Footers
    val conf = spark.sessionState.newHadoopConf()
    // directory-style dataset (part files + _SUCCESS)
    val dir = java.nio.file.Files.createTempDirectory("footers_t").toString
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val viaDir = Footers.schemaOf(conf, dir)
    assert(viaDir.fieldNames.toSet == Set("id", "s"))
    // single data file
    val part = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet")).head.getAbsolutePath
    val viaFile = Footers.schemaOf(conf, part)
    assert(viaFile == viaDir)
    // identical to what spark.read infers (same converter), modulo
    // nullability: the raw footer preserves parquet `required` while
    // the DataFrame reader forces nullable (detectDialects normalizes
    // the same way before using it as a read schema)
    import org.apache.spark.sql.types.StructType
    assert(StructType(viaDir.map(_.copy(nullable = true))) ==
      spark.read.parquet(dir).schema)
    intercept[java.io.FileNotFoundException] {
      Footers.schemaOf(conf, s"$dir/definitely_missing.parquet")
    }
  }

  test("detectDialects skip reasons: corrupt file, no pickup column, TIMESTAMP(NANOS)") {
    import graft.ingest.Normalize
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_skips").toString
    val corrupt = s"$dir/green_tripdata_2023-02.parquet"
    MultiFormatSpec.writeCorrupt(corrupt)
    val noPickup = s"$dir/yellow_tripdata_2023-03.parquet"
    Seq((1, "x")).toDF("a", "b").coalesce(1).write.parquet(noPickup)
    val nanos = s"$dir/yellow_tripdata_2023-04.parquet"
    MultiFormatSpec.writeNanosTrip(spark, nanos)

    val (ok, skipped) = Normalize.detectDialects(spark, Seq(corrupt, noPickup, nanos))
    assert(ok.isEmpty)
    val why = skipped.map(s => s.path -> s.reason).toMap
    assert(why.keySet == Set(corrupt, noPickup, nanos))
    assert(why(corrupt).startsWith("unreadable: "), why(corrupt))
    assert(why(noPickup) ==
      "missing pickup datetime or location (PULocationID or Start_Lat/Start_Lon)")
    // graftbench's correctness gate tolerates exactly this reason for
    // nanosecond-pickup trip files; a changed footer path must keep it
    assert(why(nanos).startsWith("unreadable: ") &&
      why(nanos).contains("TIMESTAMP(NANOS"), why(nanos))
  }

  test("partitioned write produces hive-style dirs readable with pruning") {
    val dir = Files.createTempDirectory("graft_fmt2").toString
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("status", col("o_orderstatus"))
    MultiFormat.write(orders, s"$dir/part", "parquet", partitionBy = Seq("status"))
    val back = spark.read.parquet(s"$dir/part").where(col("status") === "F")
    assert(back.count() > 0)
    assert(back.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(status"))
  }
}

object MultiFormatSpec {
  /** Garbage bytes under a `.parquet` name. */
  def writeCorrupt(path: String): Unit =
    Files.write(java.nio.file.Paths.get(path), "not a parquet file at all".getBytes)

  /** One yellow trip whose pickup is a TIMESTAMP(NANOS) column. Spark
    * writes no nanosecond timestamps; parquet-hadoop's example writer
    * does, the way pyarrow-written TLC files carry them.
    */
  def writeNanosTrip(spark: SparkSession, path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message trip {
        |  required int64 tpep_pickup_datetime (TIMESTAMP(NANOS,false));
        |  required int32 PULocationID;
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema)
      .withConf(spark.sessionState.newHadoopConf())
      .build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("tpep_pickup_datetime", 1680307200000000000L)
      .append("PULocationID", 132))
    finally writer.close()
  }
}
