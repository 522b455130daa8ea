package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout record: a failed headline query (best time -1.0)
  * must mark the record invalid, never shorten `headline_total`. Its
  * per-query stderr rows: medians over successful draws only, the
  * best attempt's execution totals, `Locale.ROOT` decimals.
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

  private def exec(jobs: Long, taskMs: Long) = graft.obs.ExecTotals(
    jobs = jobs, stages = 2, tasks = 5, taskMs = taskMs, shuffleRead = 100,
    shuffleWrite = 90, spill = 0, peakExecMem = 4096, pinBytes = 2048,
    stageTotals = Seq(
      graft.obs.StageTotals(3, 1, 50, 0, 90, "save at Q.scala:1"),
      graft.obs.StageTotals(4, 2, taskMs - 50, 100, 0, "a \"quoted\" name"),
      graft.obs.StageTotals(5, 2, 0, 0, 0, "collect at Q.scala:2")))

  test("query row: failed draw -1, median over successful draws, best attempt's totals") {
    val row = Bench.queryRow("q_a", headline = true, "sf0.01", 4, 0.25, Seq(
      Bench.Attempt(0.5, 0.125, 0.375, exec(jobs = 3, taskMs = 900)),
      Bench.Attempt(-1.0, 0.0, 0.0, exec(jobs = 1, taskMs = 60)),
      Bench.Attempt(0.25, 0.0625, 0.1875, exec(jobs = 2, taskMs = 300))))
    assert(row == """{"query":"q_a","median_sec":0.500,"draws":[0.500,-1.000,0.250],""" +
      """"sf":"sf0.01","headline":true,"best_sec":0.250,"cpus":4,"calibration_sec":0.250,""" +
      """"build_s":0.063,"exec_s":0.188,"jobs":2,"stages":2,"tasks":5,"task_s":0.300,""" +
      """"shuffle_read_bytes":100,"shuffle_write_bytes":90,"spill_bytes":0,""" +
      """"peak_exec_mem_bytes":4096,"pin_bytes":2048,"top_stages":[""" +
      """{"id":4,"tasks":2,"task_s":0.250,"shuffle_read_bytes":100,"shuffle_write_bytes":0,"name":"a \"quoted\" name"},""" +
      """{"id":3,"tasks":1,"task_s":0.050,"shuffle_read_bytes":0,"shuffle_write_bytes":90,"name":"save at Q.scala:1"},""" +
      """{"id":5,"tasks":2,"task_s":0.000,"shuffle_read_bytes":0,"shuffle_write_bytes":0,"name":"collect at Q.scala:2"}]}""")
  }

  test("query row: every draw failed gives -1 times and null totals") {
    val row = Bench.queryRow("q_b", headline = false, "sf0.1", 32, 1.5,
      Seq(Bench.Attempt(-1.0, 0.0, 0.0, exec(jobs = 1, taskMs = 60))))
    assert(row.startsWith("""{"query":"q_b","median_sec":-1.000,"draws":[-1.000],""" +
      """"sf":"sf0.1","headline":false,"best_sec":-1.000,"cpus":32,"calibration_sec":1.500,""" +
      """"build_s":null,"exec_s":null,"jobs":null"""), row)
    assert(row.endsWith(""""pin_bytes":null,"top_stages":null}"""), row)
  }

  test("query row decimals ignore a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val row = Bench.queryRow("q_c", headline = false, "sf0.1", 4, 0.5,
        Seq(Bench.Attempt(1.5, 0.5, 1.0, exec(jobs = 1, taskMs = 1500))))
      assert(row.contains(""""median_sec":1.500,"draws":[1.500]"""), row)
      assert(row.contains(""""task_s":1.500"""), row)
    } finally java.util.Locale.setDefault(saved)
  }
}
