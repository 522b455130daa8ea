package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.PlanCapture
import graft.util.Pin

/** `Pin` is the one way graft pins a frame: an eager local checkpoint
  * whose size statistics are measured, so Spark's planner makes the
  * broadcast-or-shuffle call that graft used to hard-code.
  */
class PinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = Session.builder("pin-test", "4").getOrCreate()

  /** A lineitem-shaped fact frame: 600,000 rows over 1,000 suppliers
    * (sf0.1's shape), generated so the spec needs no input files. */
  private def lineitem(): DataFrame = spark.range(0L, 600000L)
    .select(col("id").as("l_orderkey"), (col("id") % 7).as("l_linenumber"),
      (col("id") * 7919 % 1000).as("l_suppkey"),
      (col("id") % 50 + 1).as("l_quantity"))

  private def supplierAgg(): DataFrame =
    lineitem().groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("Pin: rowCount is the row count, size far below the checkpoint estimate") {
    val raw = supplierAgg().localCheckpoint(true)
      .queryExecution.optimizedPlan.stats
    val pinned = Pin(supplierAgg())
    val st = pinned.queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(pinned.count())), st)
    assert(st.sizeInBytes * 10 <= raw.sizeInBytes,
      s"pin ${st.sizeInBytes} B vs checkpoint estimate ${raw.sizeInBytes} B")
    assert(rowsOf(pinned) == rowsOf(supplierAgg()))
  }

  test("Pin: a small pin broadcasts; with size-based broadcast off it shuffles, same rows") {
    val small = Pin(supplierAgg())
    def joined(): DataFrame = lineitem()
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      .join(small, Seq("l_suppkey"))
    def ranJoins(df: DataFrame) = {
      val rows = rowsOf(df)
      (rows, collect(df.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => "broadcast"
        case j: SortMergeJoinExec => "shuffled"
        case j: ShuffledHashJoinExec => "shuffled"
      })
    }
    val (bRows, bJoins) = ranJoins(joined())
    assert(bJoins == Seq("broadcast"), bJoins)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (sRows, sJoins) =
      try ranJoins(joined())
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(sJoins == Seq("shuffled"), sJoins)
    assert(sRows == bRows && bRows.nonEmpty)
  }

  test("Pin.rows: the measured row count, read without a job") {
    val pinned = Pin(supplierAgg())
    val ran = PlanCapture(spark)(Pin.rows(pinned))
    assert(ran.jobs == 0, s"Pin.rows started ${ran.jobs} jobs")
    assert(ran.value == pinned.count() && ran.value > 0)
    intercept[IllegalArgumentException](Pin.rows(supplierAgg()))
  }

  test("Pin: starts no more jobs than a bare eager localCheckpoint") {
    val bare = PlanCapture(spark)(supplierAgg().localCheckpoint(true)).jobs
    val pin = PlanCapture(spark)(Pin(supplierAgg())).jobs
    assert(bare >= 1)
    assert(pin <= bare, s"Pin started $pin jobs, localCheckpoint $bare")
  }

  test("src/main pins only through Pin: .localCheckpoint( appears only in Pin.scala") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => Files.readString(f).contains(".localCheckpoint("))
      .map(_.getFileName.toString).toSet
    assert(hits == Set("Pin.scala"), hits)
  }
}
