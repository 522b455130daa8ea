package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{count, lit}

import graft.Session
import graft.ingest.{Discovery, Normalize}
import graft.pipeline.{ReportSink, WideTablePipeline}
import graft.queries.{QueryDef, Registry}

/** The benchmark's JVM. It times calls into graft's public functions in a
  * closed loop (one client, one operation at a time) and writes what it
  * measured to `<work>/result.json`; `run.py` computes the metrics
  * and checks outputs.
  *
  * Usage: Harness --workload W --input DIR --work DIR --ops N --cpus C
  *   [--setups K] [--warmup W] [--trace 0|1] [--trace-period P] [--min-rides N]
  *
  * Order of work: set-up (session + inputs registered), one cold operation,
  * the untimed check pass (query_mix), `warmup` untimed operations, then
  * `ops` timed operations. Between operations, outside
  * the timer: pinned bytes are sampled, the cache is cleared and one GC
  * runs. With --trace 1 every other block of `trace-period` timed
  * operations is traced (spans, listener totals, filesystem op counts);
  * the untraced blocks give the tracing overhead by difference.
  */
object Harness {

  /** The query_mix rotation and the family each query exercises. */
  val rotation: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "relational",
    "q_text_stats" -> "text",
    "q3_top_orders" -> "relational",
    "q_hour_pivot" -> "pipeline",
    "q_ann_topk_quantized" -> "sim",
    "q5_region_revenue" -> "relational",
    "q_dedup_exact_keepers" -> "text",
    "q_copurchase_pagerank" -> "graph",
    "q_ann_lsh_topk" -> "sim",
    "q_ks_drift_timeseries" -> "pipeline",
    "q_minhash_lsh_neardup" -> "text",
    "q_stream_late_pivot" -> "streaming",
    "q_fuzzy_join_top1" -> "text")

  final class Op(val k: Int, val timed: Boolean, val traced: Boolean) {
    var name = ""; var family = ""
    var wallS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var ok = true; var error = ""
    var rows = -1L
    var report: Option[WideTablePipeline.Report] = None
    var exec: Option[OpExec] = None
    var startMs = 0L; var endMs = 0L
    var pinLive = 0L
    var fsLists = 0L; var fsReads = 0L
    var files = 0L; var skipped = 0L
    var scanLeaves = 0L; var metaJoin = 0L
    var inputBytes = 0L; var outputBytes = 0L
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = cpuBean.getProcessCpuTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg("workload")
    val input = arg("input")
    val work = arg("work")
    val cpus = arg("cpus")
    val nOps = arg.get("ops").map(_.toInt).getOrElse(0)
    val trace = arg.get("trace").contains("1")
    val minRides = arg.get("min-rides").map(_.toLong).getOrElse(50L)
    val isTaxi = workload.startsWith("taxi")

    // Set-up is repeated `setups` times and run.py reports the median:
    // the first is timed from JVM launch, the others stop the session and
    // build it again in the same JVM.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def setUp(fromMs: Long): (SparkSession, Double, Double) = {
      val builder = Session.builder("graftbench", cpus)
        .config("spark.local.dir", s"$work/spark-local")
      if (trace) builder.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
      val s = builder.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val sessionS = (System.currentTimeMillis() - fromMs) / 1e3
      val t0 = System.nanoTime()
      if (isTaxi) require(new File(input).isDirectory, s"no input dir $input")
      else graft.sources.Tables.names.foreach(graft.sources.Tables(s, input, _))
      (s, sessionS, (System.nanoTime() - t0) / 1e9)
    }
    val setups = mutable.ArrayBuffer(setUp(jvmStartMs))
    (2 to arg.get("setups").map(_.toInt).getOrElse(1)).foreach { _ =>
      setups.last._1.stop()
      setups += setUp(System.currentTimeMillis())
    }
    val spark = setups.last._1

    val listener = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer
    val queries: Map[String, QueryDef] = Registry.all.map(q => q.name -> q).toMap
    def drain(): Unit = if (trace) org.apache.spark.GraftbenchBusDrain(spark.sparkContext)

    def taxiOp(op: Op): Unit = {
      op.name = "wide_table"
      val out = s"$work/out/op-${op.k}"
      val cfg = WideTablePipeline.Config(inputDir = input, outputDir = out,
        minRides = minRides)
      if (!op.traced) op.report = Some(WideTablePipeline.run(spark, cfg))
      else {
        val (lists0, reads0) = (CountingLocalFileSystem.lists.get, CountingLocalFileSystem.reads.get)
        val files = tracer.span("ingest.discover") {
          Discovery.selectTripFiles(Discovery.discoverParquet(spark, input))
        }
        val (_, skippedDet) = tracer.span("ingest.detect") {
          Normalize.detectDialects(spark, files)
        }
        op.fsLists = CountingLocalFileSystem.lists.get - lists0
        op.fsReads = CountingLocalFileSystem.reads.get - reads0
        op.files = files.size
        op.skipped = skippedDet.size
        val p = tracer.span("pipeline.plan") {
          WideTablePipeline.plan(spark, files, minRides)
        }.getOrElse(throw new IllegalStateException("no usable input files"))
        val leaves = p.wide.queryExecution.analyzed.collectLeaves()
        op.scanLeaves = leaves.count(_.isInstanceOf[LogicalRelation]).toLong
        op.metaJoin = if (leaves.exists(_.isInstanceOf[LocalRelation])) 1L else 0L
        tracer.span("pipeline.execute") {
          p.wide.write.mode("overwrite").parquet(s"$out/wide_table.parquet")
        }
        op.report = Some(tracer.span("pipeline.report") {
          val q = p.quality.get
          val nOut = p.survivors.get("n_out").asInstanceOf[Long]
          val mismatch = Option(q("month_mismatch")).map(_.asInstanceOf[Long]).getOrElse(0L)
          val dropped = p.groups.get("n_groups").asInstanceOf[Long] - nOut
          val r = WideTablePipeline.Report(q("input_rows").asInstanceOf[Long], nOut,
            mismatch, dropped, mismatch + dropped, p.skipped, 0.0)
          ReportSink.write(r, s"$out/${cfg.reportName}")
          r
        })
        op.inputBytes = files.map(f => new File(new java.net.URI(f)).length).sum
        op.outputBytes = dirBytes(new File(s"$out/wide_table.parquet"))
      }
      op.rows = op.report.get.outputRowCount
    }

    def queryOp(op: Op): Unit = {
      val (name, family) = rotation(Math.floorMod(op.k, rotation.size))
      op.name = name; op.family = family
      val q = queries(name)
      val df = if (op.traced) tracer.span("query.build")(q.fn(spark, input))
               else q.fn(spark, input)
      val obs = Observation(s"rows_${op.k}")
      val write = () => df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      if (op.traced) tracer.span("query.exec")(write()) else write()
      op.rows = obs.get("n").asInstanceOf[Long]
    }

    def runOp(op: Op): Op = {
      drain()
      if (trace) listener.begin()
      tracer.op = op.k
      val (c0, g0) = (cpuNs, gcMs)
      op.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        if (op.traced) tracer.span("op")(if (isTaxi) taxiOp(op) else queryOp(op))
        else if (isTaxi) taxiOp(op) else queryOp(op)
      } catch {
        case NonFatal(e) =>
          op.ok = false
          op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[graftbench] op ${op.k} ${op.name} failed: ${op.error}")
      }
      op.wallS = (System.nanoTime() - t0) / 1e9
      op.endMs = System.currentTimeMillis()
      op.cpuS = (cpuNs - c0) / 1e9
      op.gcS = (gcMs - g0) / 1e3
      // hygiene, outside the timer
      drain()
      if (trace) {
        op.exec = Some(listener.end())
        op.pinLive = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      spark.catalog.clearCache()
      System.gc()
      if (isTaxi && op.k != 0) deleteTree(new File(s"$work/out/op-${op.k}"))
      op
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    ops += runOp(new Op(0, timed = false, traced = false))

    // query_mix check pass: every query once, result kept for the oracle
    // compare; untimed
    if (!isTaxi) {
      val oracles = mutable.ArrayBuffer.empty[String]
      rotation.foreach { case (name, _) =>
        val q = queries(name)
        try {
          q.fn(spark, input).coalesce(1).write.mode("overwrite")
            .parquet(s"$work/check/$name")
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[graftbench] check run of $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        val floor = q.minDistinct.map { case (c, n) => s"[${str(c)},$n]" }.getOrElse("null")
        oracles += s"${str(name)}:{\"oracle\":${q.oracle.map(str).getOrElse("null")},\"floor\":$floor}"
      }
      System.gc()
      Files.writeString(Paths.get(s"$work/check/queries.json"), oracles.mkString("{", ",", "}"))
    }

    // untimed warm-up operations: the JIT keeps speeding the taxi
    // operations up for several runs after the cold one
    (1 to arg.get("warmup").map(_.toInt).getOrElse(0)).foreach { k =>
      ops += runOp(new Op(-k, timed = false, traced = false))
    }

    // traced and untraced operations alternate in blocks of `period` ops
    // (one rotation for query_mix), so both sides run the same operations
    val period = arg.get("trace-period").map(_.toInt).getOrElse(1)
    (1 to nOps).foreach { k =>
      ops += runOp(new Op(k, timed = true, traced = trace && (k - 1) / period % 2 == 1))
    }

    val master = spark.sparkContext.master
    val heapMb = Runtime.getRuntime.maxMemory >> 20
    val sparkVersion = spark.version
    spark.stop()

    val sb = new StringBuilder
    sb ++= s"""{"workload":${str(workload)},"cpus":$cpus,"master":${str(master)},"""
    sb ++= s""""heap_mb":$heapMb,"spark":${str(sparkVersion)},"""
    sb ++= setups.map { case (_, a, b) => s"[$a,$b]" }.mkString("\"setups\":[", ",", "],")
    sb ++= "\"ops\":["
    sb ++= ops.map(opJson).mkString(",")
    sb ++= "],\"spans\":["
    sb ++= tracer.spans.map { s =>
      s"""{"name":${str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${str(s.parent)},"op":${s.op}}"""
    }.mkString(",")
    sb ++= "]}"
    Files.writeString(Paths.get(s"$work/result.json"), sb.toString)
  }

  private def opJson(o: Op): String = {
    val fields = mutable.ArrayBuffer[String](
      s""""k":${o.k}""", s""""timed":${o.timed}""", s""""traced":${o.traced}""",
      s""""name":${str(o.name)}""", s""""family":${str(o.family)}""",
      s""""wall_s":${o.wallS}""", s""""cpu_s":${o.cpuS}""", s""""gc_s":${o.gcS}""",
      s""""ok":${o.ok}""", s""""error":${str(o.error)}""", s""""rows":${o.rows}""",
      s""""start_ms":${o.startMs}""", s""""end_ms":${o.endMs}""",
      s""""pin_live":${o.pinLive}""", s""""fs_lists":${o.fsLists}""",
      s""""fs_reads":${o.fsReads}""", s""""files":${o.files}""",
      s""""skipped_files":${o.skipped}""", s""""scan_leaves":${o.scanLeaves}""",
      s""""meta_join":${o.metaJoin}""", s""""input_bytes":${o.inputBytes}""",
      s""""output_bytes":${o.outputBytes}""")
    o.report.foreach { r =>
      val skipped = r.skippedFiles.map { case (p, why) => s"[${str(p)},${str(why)}]" }
      fields += s""""report":{"input_rows":${r.inputRowCount},"output_rows":${r.outputRowCount},""" +
        s""""month_mismatch":${r.monthMismatchRows},"low_count_dropped":${r.lowCountDropped},""" +
        s""""skipped":${skipped.mkString("[", ",", "]")}}"""
    }
    o.exec.foreach { e =>
      fields += s""""exec":{"jobs":${e.jobs},"stages":${e.stages},"tasks":${e.tasks},""" +
        s""""task_ms":${e.taskMs},"map_task_ms":${e.mapTaskMs},"reduce_task_ms":${e.reduceTaskMs},""" +
        s""""input_bytes":${e.inputBytes},"output_bytes":${e.outputBytes},""" +
        s""""shuffle_read_bytes":${e.shuffleRead},"shuffle_write_bytes":${e.shuffleWrite},""" +
        s""""spill_bytes":${e.spill},"peak_exec_mem":${e.peakExecMem},""" +
        s""""idle_ms":${e.idleMs(o.startMs, o.endMs)},"stage_skew":${e.stageSkew},""" +
        s""""pin_bytes":${e.pinBytes},"pin_blocks":${e.pinBlocks}}"""
    }
    fields.mkString("{", ",", "}")
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(dirBytes).sum

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
