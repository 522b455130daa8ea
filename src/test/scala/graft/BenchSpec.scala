package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout record: a failed headline query (best time -1.0)
  * must mark the record invalid, never shorten `headline_total`.
  */
class BenchSpec extends AnyFunSuite {
  private val headline = Set("q_a", "q_b")

  test("a failed headline query makes the record invalid") {
    val line = Bench.recordLine(
      Seq("q_a" -> 1.5, "q_b" -> -1.0, "q_other" -> -1.0),
      headline, "sf0.1", 0.25)
    assert(line.contains("\"n_failed\":1"), line)
    assert(line.contains("\"valid\":false"), line)
    assert(line.contains("\"value\":1.500"), line)
    assert(line.contains("\"queries\":{\"q_a\":1.500,\"q_b\":-1.000}"), line)
  }

  test("an all-success headline gives a valid record") {
    val line = Bench.recordLine(
      Seq("q_a" -> 1.5, "q_b" -> 2.25, "q_other" -> -1.0),
      headline, "sf0.1", 0.25)
    assert(line == """{"metric":"headline_total","value":3.750,"unit":"sec",""" +
      """"n_failed":0,"valid":true,"queries":{"q_a":1.500,"q_b":2.250},""" +
      """"sf":"sf0.1","calibration_sec":0.250}""")
  }
}
