package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.util.Json.quote

/** Metrics report sink: JSON by default, LaTeX itemize when the target
  * ends in `.tex` — same surface as the reference
  * (/root/reference/pivot_and_boostrap/pivot_all_files.py:511-539),
  * including its peak-memory field (performance.md:44): we report the
  * driver JVM's peak heap across pools — the closest single-process
  * analog of the reference's RSS. On a real cluster, per-executor peaks
  * live in the Spark metrics system; this field keeps single-node
  * report parity for migrating users.
  */
object ReportSink {

  /** Peak heap usage (MB) across JVM memory pools since start. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
  }

  def toJson(r: WideTablePipeline.Report): String = {
    val skipped = r.skippedFiles
      .map { case (f, why) => s"""{"file": ${quote(f)}, "reason": ${quote(why)}}""" }
      .mkString("[", ", ", "]")
    val phases = r.phaseSeconds
      .map { case (name, secs) => s"""${quote(name)}: $secs""" }
      .mkString("{", ", ", "}")
    s"""{
  "input_row_count": ${r.inputRowCount},
  "output_row_count": ${r.outputRowCount},
  "bad_rows_ignored": ${r.badRowsIgnored},
  "month_mismatch_rows": ${r.monthMismatchRows},
  "low_count_dropped": ${r.lowCountDropped},
  "skipped_files": $skipped,
  "run_time_seconds": ${r.runTimeSeconds},
  "peak_memory_mb": ${r.peakMemoryMb},
  "phase_seconds": $phases
}"""
  }

  def toLatex(r: WideTablePipeline.Report): String = {
    val phases = r.phaseSeconds
      .map { case (name, secs) => s"\n\\item Phase $name (seconds): $secs" }
      .mkString
    s"""\\documentclass{article}
\\begin{document}
\\section{Pipeline Report}
\\begin{itemize}
\\item Input row count: ${r.inputRowCount}
\\item Output row count: ${r.outputRowCount}
\\item Bad rows ignored: ${r.badRowsIgnored}
\\item Month mismatch rows: ${r.monthMismatchRows}
\\item Low count dropped: ${r.lowCountDropped}
\\item Run time (seconds): ${r.runTimeSeconds}
\\item Peak memory (MB): ${r.peakMemoryMb}$phases
\\end{itemize}
\\end{document}"""
  }

  def write(r: WideTablePipeline.Report, path: String): Unit = {
    val content = if (path.endsWith(".tex")) toLatex(r) else toJson(r)
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }
}
