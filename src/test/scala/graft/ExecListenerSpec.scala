package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{ExecListener, PlanCapture}
import graft.util.Pin

/** `graft.obs.ExecListener` is the one listener graft measures with:
  * its per-block totals feed Bench's per-query rows.
  */
class ExecListenerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("exec-listener-test", "4").getOrCreate()

  test("a groupBy over a Pin: jobs match PlanCapture, shuffle and pin bytes counted") {
    val listener = ExecListener.attach(spark.sparkContext)
    try {
      val ran = PlanCapture(spark)(listener.measure {
        val pinned = Pin(spark.range(0L, 20000L)
          .select((col("id") % 97).as("k"), col("id").as("v")))
        pinned.groupBy(col("k")).agg(sum(col("v")).as("s"))
          .write.format("noop").mode("overwrite").save()
      })
      val (_, totals) = ran.value
      assert(totals.jobs == ran.jobs && totals.jobs >= 2, s"$totals vs ${ran.jobs}")
      assert(totals.shuffleRead > 0 && totals.shuffleWrite > 0, totals)
      assert(totals.pinBytes > 0, totals)
      assert(totals.stages >= 2 && totals.tasks >= totals.stages, totals)
      assert(totals.stageTotals.map(_.tasks).sum == totals.tasks, totals)
      assert(totals.topStages(3).map(_.taskMs) ==
        totals.stageTotals.map(_.taskMs).sorted.reverse.take(3), totals)
      // a stage is named by the operators it runs, not by the AQE
      // thread-pool call site that submitted it
      val top = totals.topStages(1).head.name
      assert("Exchange|WholeStageCodegen|HashAggregate".r.findFirstIn(top).isDefined &&
        !top.contains(".java:"), top)
    } finally listener.detach()
  }

  private def mainFilesMatching(re: scala.util.matching.Regex): Set[String] =
    Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => re.findFirstIn(Files.readString(f)).isDefined)
      .map(f => Paths.get("src/main/scala").relativize(f).toString).toSet

  test("src/main has one SparkListener subclass (graft.obs) and one bus drain") {
    val listeners = mainFilesMatching("""(extends|new)\s+SparkListener\b""".r)
    assert(listeners == Set("graft/obs/ExecListener.scala"), listeners)
    val drains = mainFilesMatching("""waitUntilEmpty""".r)
    assert(drains == Set("org/apache/spark/GraftTestBus.scala"), drains)
  }
}
