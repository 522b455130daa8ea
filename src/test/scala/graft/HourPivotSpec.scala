package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.HourPivot

/** Exactness of the pivot's integer date/hour kernel against a
  * `java.time` UTC reference at the bucket edges where a Double
  * division or a truncating `div` would go wrong, under the UTC session
  * and under zones whose offsets are whole and half hours.
  */
class HourPivotSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("hour-pivot-test", "2").getOrCreate()

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  private def micros(ldt: String): Long = {
    val i = LocalDateTime.parse(ldt).toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private val edges: Seq[Long] = (
    Seq(0L, -1L, micros("1969-12-31T23:59:59.999999")) ++
      (-49L to 49L).map(k => k * HourUs - 1) ++
      Seq(-3L, -1L, 1L, 2L, 19358L, 19359L).map(_ * DayUs) ++
      Seq(-(1L << 53) - 1, (1L << 53) + 1) ++
      Seq("1900-01-01T00:00:00", "1900-02-28T23:59:59.999999",
        "1900-03-01T00:00:00.000001", "1899-12-31T23:59:59.999999",
        "2262-01-01T00:00:00", "2262-04-11T23:47:16.854775",
        "2262-12-31T23:59:59.999999").map(micros)
  ).distinct

  /** (epoch day, hour) per input micros, read from the pivot output. */
  private def pivoted(tz: String): Map[Long, (Long, Int)] = {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try {
      val df = edges.toDF("us").withColumn("ts", timestamp_micros(col("us")))
      val out = HourPivot.pivot(df, col("ts"), Seq("us"), dateColName = "d")
        .withColumn("day", unix_date(col("d")))
        .collect()
      out.map { r =>
        val hours = HourPivot.hourCols.map(h => r.getAs[Long](h))
        assert(hours.sum == 1L, s"one row per instant: $r")
        r.getAs[Long]("us") -> (r.getAs[Int]("day").toLong, hours.indexOf(1L))
      }.toMap
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("date and hour equal java.time UTC at bucket edges, any session zone") {
    val expected = edges.map { us =>
      val t = Instant.EPOCH.plus(us, ChronoUnit.MICROS).atOffset(ZoneOffset.UTC)
      us -> (t.toLocalDate.toEpochDay, t.getHour)
    }.toMap
    assert(expected(-1L) == ((-1L, 23)))
    for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata")) {
      val got = pivoted(tz)
      val wrong = edges.filter(us => got.get(us) != expected.get(us))
      assert(wrong.isEmpty, s"$tz: " + wrong.take(5).map(us =>
        s"$us → ${got.get(us)} expected ${expected(us)}").mkString("; "))
    }
  }

  test("extraAggs ride the same aggregate, after the hour columns") {
    import spark.implicits._
    val df = Seq((0L, "a"), (HourUs, "a"), (HourUs + 1, "a"), (DayUs, "b"))
      .toDF("us", "k").withColumn("ts", timestamp_micros(col("us")))
    val out = HourPivot.pivot(df, col("ts"), Seq("k"),
      extraAggs = Seq(count(lit(1)).as("n"), max(col("us")).as("last")))
    assert(out.columns.toSeq == ("event_date" +: "k" +: HourPivot.hourCols) ++
      Seq("n", "last"))
    val rows = out.orderBy("event_date").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(3L, 1L))
    assert(rows.map(_.getAs[Long]("last")).toSeq == Seq(HourUs + 1, DayUs))
    assert(rows(0).getAs[Long]("hour_1") == 2L && rows(1).getAs[Long]("hour_0") == 1L)
    assert("Exchange hashpartitioning".r
      .findAllIn(out.queryExecution.executedPlan.toString).size == 1)
  }
}
