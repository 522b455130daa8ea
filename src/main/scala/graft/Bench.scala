package graft

import org.apache.spark.sql.SparkSession

import graft.util.Json.quote

/** Benchmark main: runs every declared query on
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), writes one JSON row per query
  * to stderr ([[queryRow]]) and prints ONE JSON line to stdout
  * ([[recordLine]]).
  *
  * Each query is forced through the `noop` sink — a plain `count()`
  * would let Catalyst prune the computed columns away and time a
  * row-count instead of the query (e.g. q_text_stats would never
  * tokenize anything). noop materializes every output row with zero
  * sink cost.
  *
  * `value` is the total wall time of the headline set (the stderr rows
  * carry every query, headline and not).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Unconditional heartbeat BEFORE any Spark/IO work: round 4's bench
    // died before main() (JVM pre-touch stall) and the harness tail was
    // completely empty — the first statement must prove main() ran.
    System.err.println(s"[bench] starting pid=${ProcessHandle.current.pid} " +
      s"heap_max=${Runtime.getRuntime.maxMemory() >> 20}MiB")
    System.err.flush()
    val benchStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: JVM/codegen/scan-infrastructure costs must not land on
    // whichever query happens to run first (q1 measured ~2 s of pure
    // first-query overhead). A small representative agg + join compiles
    // the common codegen shapes; limit() keeps the data work trivial.
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      val or = spark.read.parquet(s"$sfDir/orders.parquet").limit(1000)
      // include the decimal money shapes — q1's BigDecimal sum buffers
      // codegen differently from long sums and used to pay ~1 s of
      // first-use compilation inside q1's measurement
      def m(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
      li.join(or, li("l_orderkey") === or("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)), sum(col("l_quantity")),
          sum(m(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))))
        .write.format("noop").mode("overwrite").save()
    }

    // Box-state calibration unit (r14 verdict #2): one DISK_ONLY
    // corpus-move round-trip (read the documents corpus once,
    // serialize it once through the block manager — GatePinProbe's
    // unit), median-of-3 because the same move measured 2.7→5.4→2.7 s
    // within an hour on this time-shared box. Published in the JSON
    // line so a round-over-round headline delta on byte-identical code
    // is FALSIFIABLE: divide both rounds' headline by their own
    // calibration_sec before attributing a swing to the code.
    val calibrationSec = {
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val c = docs.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        c.count(); c.unpersist(true)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      System.err.println(f"[bench] calibration corpus-move median " +
        f"${reps(1)}%.3f s " + reps.map(r => f"$r%.2f").mkString("[", " ", "]"))
      reps(1)
    }

    val headline = SparkEntry.headlineQueries.map(_.name).toSet
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // Headline queries run FIRST: the wall-clock budget degrades later
    // queries to min-of-1, and in registry order that hit the LATE
    // headline queries (round-5 record: q_ann_lsh_topk got one cold
    // attempt, ~2× its min-of-3). The recorded headline set must always
    // get its full min-of-N; non-headline queries absorb the degradation.
    val toRun = graft.queries.Registry.all
      .filter(q => only.forall(_.contains(q.name)))
      .sortBy(q => !headline.contains(q.name))
    // min-of-N per query: this box is time-shared, and a single-shot
    // record mixes ~2 s of scheduler noise into individual queries
    // (round-3 record ran 23% over the same build's clean runs). The
    // min is the reproducible number; each attempt still runs cold
    // (cache cleared between attempts, see below).
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // Wall-clock budget: min-of-3 across ~60 queries on a time-shared
    // box can outlast any fixed harness timeout even when every query is
    // fast. Once total elapsed crosses the budget, later queries degrade
    // gracefully to min-of-1 (every query still runs AT LEAST once — a
    // partial record beats a silent rc=124 timeout).
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(300.0)
    import scala.util.control.NonFatal
    val listener = graft.obs.ExecListener.attach(spark.sparkContext)
    val sf = sfDir.split('/').last
    val cpus = spark.sparkContext.defaultParallelism
    val results = toRun.map { q =>
      val attempts = scala.collection.mutable.ArrayBuffer.empty[Attempt]
      // first attempt always runs (every query gets at least one
      // record); retries only while the global budget holds
      while (attempts.size < runs && (attempts.isEmpty || elapsed < budgetSec)) {
        // the listener drains its bus outside this block, so the
        // timer holds only the query
        val (timed, exec) = listener.measure {
          val t0 = System.nanoTime()
          try {
            val df = q.fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
          } catch {
            // NonFatal only: an OOM/fatal JVM error must kill the run
            // loudly, not silently become a -1.0 entry. Print the cause —
            // a bare -1.0 in the record cost a full round-trip to diagnose.
            case NonFatal(e) =>
              System.err.println(s"[bench] ${q.name} FAILED: " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          }
        }
        // Queries persist intermediates (shingle frames, IVF cells) that
        // stay pinned after the run — by mid-bench the accumulated caches
        // thrash the storage pool and later dedup queries measured ~2×
        // slower than in isolation. Each attempt times a cold,
        // independent run.
        spark.sharedState.cacheManager.clearCache()
        attempts += timed.fold(Attempt(-1.0, 0.0, 0.0, exec)) {
          case (build, run) => Attempt(build + run, build, run, exec)
        }
      }
      // Pinned blocks (graft.util.Pin frames in the dedup/fuzzy/ANN
      // pipelines) outlive clearCache(): they free only when the RDD is
      // GC'd AND the ContextCleaner runs, and on a fixed pre-touched
      // heap full GCs are rare — after ~60 queries the accumulated
      // blocks squeezed execution memory until window sorts spilled
      // (q_fuzzy_join_top1: 3.6 s alone, 8.7 s mid-suite, a 7.5 s
      // single-task spill stage). One explicit GC per QUERY (not per
      // attempt) keeps the storage pool drained at ~0.1–0.3 s each.
      // Long-lived cluster sessions don't need this: regular young GCs
      // keep the ContextCleaner fed.
      System.gc()
      System.err.println(queryRow(q.name, headline.contains(q.name), sf,
        cpus, calibrationSec, attempts.toSeq))
      (q.name, bestOf(attempts.toSeq).fold(-1.0)(_.wallSec))
    }
    println(recordLine(results, headline, sf, calibrationSec))
    spark.stop()
  }

  /** One timed attempt of a query: `wallSec` is -1.0 when it failed.
    * `buildSec` is the query function's call (eager pins included),
    * `execSec` the noop write; `exec` is what Spark ran for both.
    */
  final case class Attempt(wallSec: Double, buildSec: Double,
      execSec: Double, exec: graft.obs.ExecTotals)

  /** The fastest successful attempt. */
  private def bestOf(attempts: Seq[Attempt]): Option[Attempt] =
    attempts.filter(_.wallSec >= 0).minByOption(_.wallSec)

  // Locale.ROOT: f"%.3f" under a comma-decimal default locale would
  // emit 10,974 and break every JSON parse of Bench's output
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** One query's stderr row. It keeps the keys of the older median
    * records (`query`, `median_sec`, `draws`, `sf`, `headline`), so they
    * stay comparable. `draws` lists every attempt in run order, -1.0
    * for a failed one; `median_sec` and `best_sec` are taken over the
    * successful draws (-1.0 when none succeeded; an even count takes
    * the upper median). The execution fields describe the best attempt
    * and are null when none succeeded; `top_stages` are its 3 stages
    * with the most task time.
    */
  def queryRow(query: String, headline: Boolean, sf: String, cpus: Int,
      calibrationSec: Double, attempts: Seq[Attempt]): String = {
    val ok = attempts.map(_.wallSec).filter(_ >= 0).sorted
    val median = if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    val best = bestOf(attempts)
    def field(k: String, v: Attempt => Any): String =
      s""""$k":${best.fold("null")(a => v(a).toString)}"""
    val stages = best.fold("null") { b =>
      b.exec.topStages(3).map { st =>
        s"""{"id":${st.id},"tasks":${st.tasks},"task_s":${f3(st.taskMs / 1e3)},""" +
          s""""shuffle_read_bytes":${st.shuffleRead},"shuffle_write_bytes":${st.shuffleWrite},""" +
          s""""name":${quote(st.name)}}"""
      }.mkString("[", ",", "]")
    }
    Seq(
      s""""query":${quote(query)}""",
      s""""median_sec":${f3(median)}""",
      s""""draws":${attempts.map(a => f3(a.wallSec)).mkString("[", ",", "]")}""",
      s""""sf":${quote(sf)}""",
      s""""headline":$headline""",
      s""""best_sec":${f3(best.fold(-1.0)(_.wallSec))}""",
      s""""cpus":$cpus""",
      s""""calibration_sec":${f3(calibrationSec)}""",
      field("build_s", a => f3(a.buildSec)),
      field("exec_s", a => f3(a.execSec)),
      field("jobs", _.exec.jobs),
      field("stages", _.exec.stages),
      field("tasks", _.exec.tasks),
      field("task_s", a => f3(a.exec.taskMs / 1e3)),
      field("shuffle_read_bytes", _.exec.shuffleRead),
      field("shuffle_write_bytes", _.exec.shuffleWrite),
      field("spill_bytes", _.exec.spill),
      field("peak_exec_mem_bytes", _.exec.peakExecMem),
      field("pin_bytes", _.exec.pinBytes),
      s""""top_stages":$stages"""
    ).mkString("{", ",", "}")
  }

  /** The one stdout JSON line. Readers scrape a bounded tail of
    * stdout; a map with all ~55 queries (~2900 chars) gets truncated
    * mid-line and fails to parse (BENCH_r02.json parsed:null). Keep it
    * short: headline queries only, 3-decimal times. Full per-query
    * detail is in the stderr rows.
    *
    * `results` holds (query, best seconds), -1.0 for a query whose every
    * attempt failed. `headline_total` sums the headline queries that
    * ran; a failed headline query cannot make it faster unnoticed — it
    * counts in `n_failed` and marks the record `"valid":false`.
    */
  def recordLine(results: Seq[(String, Double)], headline: Set[String],
      sf: String, calibrationSec: Double): String = {
    val head = results.filter { case (name, _) => headline.contains(name) }
    val qs = head.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = head.collect { case (_, t) if t > 0 => t }.sum
    val nFailed = head.count { case (_, t) => t < 0 }
    s"""{"metric":"headline_total","value":${f3(total)},"unit":"sec","n_failed":$nFailed,"valid":${nFailed == 0},"queries":$qs,"sf":"$sf","calibration_sec":${f3(calibrationSec)}}"""
  }
}
