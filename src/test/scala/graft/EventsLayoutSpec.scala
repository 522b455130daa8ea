package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the events.ts physical-layout drift (the
  * round-5 wound): the driver's testdata generator has shipped `ts` as
  * parquet TIMESTAMP(NANOS) (one generation) and as naive
  * timestamp[us] → TIMESTAMP_NTZ (the next). Both static fixtures here
  * (src/test/resources/events_layouts, pyarrow-written, identical rows)
  * must coerce to the SAME session-UTC TimestampType rows through BOTH
  * read paths — `Tables.events` (batch) and
  * `StreamingRun.tableStream` (file-source stream), which share the
  * `Tables.eventsTs` dispatch — and an unrecognized third layout must
  * fail loudly, not pass through.
  */
class EventsLayoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session.builder("events-layout-test", "4").getOrCreate()

  private val res = "src/test/resources/events_layouts"
  private val nanosDir = s"$res/nanos"
  private val ntzDir = s"$res/ntz"
  private val bogusDir = s"$res/bogus"

  private def batchRows(dir: String): Seq[String] = {
    val df = graft.sources.Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"$dir must normalize ts to TimestampType, got ${df.schema("ts")}")
    df.orderBy("event_id").collect().map(_.mkString("|")).toSeq
  }

  test("batch read: nanos-long and TIMESTAMP_NTZ layouts yield identical rows") {
    val a = batchRows(nanosDir)
    val b = batchRows(ntzDir)
    assert(a.nonEmpty && a.size == 48)
    assert(a == b, s"layouts diverged:\n  nanos=${a.take(2)}\n  ntz=${b.take(2)}")
  }

  test("streaming read: both layouts produce the identical hour pivot") {
    def pivot(dir: String): Seq[String] =
      graft.streaming.StreamingHourPivot.runBatchEquivalent(spark, dir)
        .orderBy("event_date", "event_type")
        .collect().map(_.mkString("|")).toSeq
    val a = pivot(nanosDir)
    val b = pivot(ntzDir)
    assert(a.nonEmpty, "pivot produced no rows")
    assert(a == b, s"streaming layouts diverged:\n  nanos=$a\n  ntz=$b")
  }

  test("an unrecognized third layout fails loudly in both read paths") {
    val eBatch = intercept[IllegalStateException] {
      graft.sources.Tables.events(spark, bogusDir).collect()
    }
    assert(eBatch.getMessage.contains("unrecognized physical type"))
    val eStream = intercept[IllegalStateException] {
      graft.streaming.StreamingRun.tableStream(spark, bogusDir, "events")
    }
    assert(eStream.getMessage.contains("unrecognized physical type"))
  }
}
