package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-layout behaviors that carry the 100 TB story: hive-style
  * partition pruning (scan only matching date dirs) and bucketed
  * co-located joins (no shuffle when both sides are bucketed on the
  * join key) — see SCALE_NOTES "Joins".
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("layout-test", "4").getOrCreate()
  import spark.implicits._

  /** (rowGroupsTotal, rowGroupsOverlapping, rowsInOverlapping): footer
    * audit over every part file — a stats-aware reader must read
    * exactly the row groups whose `column` [min, max] intersects
    * [lo, hi].
    */
  private def footerAudit(conf: Configuration, dir: String, column: String,
      lo: Long, hi: Long): (Long, Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    var total = 0L; var overlap = 0L; var rows = 0L
    fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.foreach { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
      try r.getFooter.getBlocks.asScala.foreach { b =>
        total += 1
        b.getColumns.asScala.find(_.getPath.toDotString == column)
          .foreach { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) { overlap += 1; rows += b.getRowCount }
            else {
              val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
              val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
              if (mx >= lo && mn <= hi) { overlap += 1; rows += b.getRowCount }
            }
          }
      } finally r.close()
    }
    (total, overlap, rows)
  }

  test("partition pruning: date filter reaches PartitionFilters, files skipped") {
    val dir = Files.createTempDirectory("graft_part").toString
    (1 to 300).map(i => (i.toLong, s"2023-01-${i % 3 + 1}"))
      .toDF("id", "dt")
      .write.partitionBy("dt").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).where(col("dt") === "2023-01-2")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"), plan)
    assert(pruned.count() == 100)
    // only one of three partition dirs is actually read
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!scanned.contains("2023-01-1") || scanned.contains("PartitionFilters"))
  }

  test("compaction: many small files -> few target-sized files, rows intact") {
    import graft.ops.Compaction
    val dir = java.nio.file.Files.createTempDirectory("compact_in").toString
    val out = java.nio.file.Files.createTempDirectory("compact_out").toString
    // 64 tiny files
    spark.range(100000).toDF("id").repartition(64)
      .write.mode("overwrite").parquet(dir)
    def dataFiles(d: String) =
      new java.io.File(d).listFiles.count(f =>
        f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles(dir) == 64)
    val bytes = Compaction.datasetBytes(spark, dir)
    assert(bytes > 0)
    // bytes/4 floors, so ceil(bytes / target) is 4 or 5
    val n = Compaction.compact(spark, dir, out, targetFileBytes = bytes / 4)
    assert(n >= 4 && n <= 5 && dataFiles(out) == n,
      s"n=$n files=${dataFiles(out)}")
    assert(spark.read.parquet(out).count() == 100000L)
    // sorted variant: each output file covers a disjoint id range
    val outSorted = java.nio.file.Files.createTempDirectory("compact_s").toString
    Compaction.compact(spark, dir, outSorted, targetFileBytes = bytes / 4,
      sortBy = Seq("id"))
    import org.apache.spark.sql.functions._
    val ranges = spark.read.parquet(outSorted)
      .groupBy(input_file_name()).agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, ranges.toSeq)
      case _ =>
    }
  }

  test("z-order layout: every output file is narrow in BOTH columns") {
    import graft.ops.Compaction
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("zin").toString
    // two independent uniform dims — a linear sort can cluster only one
    spark.range(200000)
      .select(col("id"), (col("id") % 317).as("x"),
        ((col("id") * 7919) % 331).as("y"))
      .write.mode("overwrite").parquet(dir)
    val bytes = Compaction.datasetBytes(spark, dir)
    def avgSpan(d: String, c: String): Double = {
      val spans = spark.read.parquet(d)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("s"))
        .collect().map(_.getDouble(1))
      spans.sum / spans.length
    }
    // baseline: linear sort on x → x clusters, y files span ~full range
    val outX = java.nio.file.Files.createTempDirectory("zsx").toString
    Compaction.compact(spark, dir, outX, targetFileBytes = bytes / 16,
      sortBy = Seq("x"))
    assert(avgSpan(outX, "y") > 300.0, s"y span ${avgSpan(outX, "y")}")
    // z-order: BOTH dims narrow per file → skipping works for either
    val outZ = java.nio.file.Files.createTempDirectory("zout").toString
    val n = Compaction.compactZOrder(spark, dir, outZ, Seq("x", "y"),
      targetFileBytes = bytes / 16, bits = 4)
    assert(n >= 14 && n <= 18, s"n=$n")
    assert(spark.read.parquet(outZ).count() == 200000L)
    val sx = avgSpan(outZ, "x"); val sy = avgSpan(outZ, "y")
    assert(sx < 160.0, s"x span $sx") // < half the 317 range
    assert(sy < 170.0, s"y span $sy") // < half the 331 range
  }

  test("bucketed tables join without a shuffle exchange") {
    val t1 = Files.createTempDirectory("graft_b1").toString
    val t2 = Files.createTempDirectory("graft_b2").toString
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.bucketBy(4, "k").sortBy("k")
      .option("path", t1).mode("overwrite").saveAsTable("graft_bucket_a")
    (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "w")
      .write.bucketBy(4, "k").sortBy("k")
      .option("path", t2).mode("overwrite").saveAsTable("graft_bucket_b")
    try {
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("graft_bucket_a")
          .join(spark.table("graft_bucket_b"), Seq("k"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() == 1000)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("mips sorted storage: rung point-read pushes In, prefix row groups only") {
    // The Similarity.scala In-literal rung claims "row-group-skippable
    // on sorted parquet" (MipsStorageProbe, removed; see 7b19d2b,
    // measured it at 2M rows).
    // Deterministic half here: on an id-sorted layout with small row
    // groups, the footer stats audit must show the rung range touches
    // only the prefix row groups, and the filter must reach the scan
    // as PushedFilters (Spark pushes a wide In as the [min,max] range
    // — SPARK-32792).
    val dir = Files.createTempDirectory("graft_mips_sorted").toString
    spark.range(100000).select(col("id").as("vec_id"),
        concat(lit("pad_"), col("id")).as("payload"))
      .repartitionByRange(4, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(dir)
    val rung = 1000L
    val (total, hit, rowsHit) = footerAudit(
      spark.sparkContext.hadoopConfiguration, dir, "vec_id", 0L, rung - 1)
    assert(total >= 8, s"layout produced too few row groups to test: $total")
    assert(hit < total / 2,
      s"sorted layout did not skip: $hit of $total row groups overlap")
    assert(rowsHit >= rung && rowsHit < 100000 / 2,
      s"rows in overlapping groups out of range: $rowsHit")
    val read = spark.read.parquet(dir)
      .where(col("vec_id").isin((0L until rung): _*))
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert("PushedFilters: \\[[^\\]]*vec_id".r.findFirstIn(plan).isDefined,
      s"rung filter did not reach the parquet scan:\n$plan")
    assert(read.count() == rung)
  }
}
