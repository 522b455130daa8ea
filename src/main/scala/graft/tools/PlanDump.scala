package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal
import scala.util.matching.Regex

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

import graft.Session
import graft.obs.PlanCapture

/** Per-query formatted-plan dump: writes `<outDir>/<query>_<suffix>.txt`
  * with `.explain("formatted")` output for each named query, or for every
  * registry query when the list is `all`, followed by the plan of every
  * execution the query ran while it was built (pins, collects).
  *
  * The text is normalized so that two dumps of the same plans diff as
  * text: expression, plan, RDD and lambda-variable ids, object hash
  * codes, observation names and temporary-directory suffixes are
  * renumbered in order of first appearance; RDD call sites, lambda
  * class addresses, and codegen and query-stage ids are dropped.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|all>
  */
object PlanDump {
  // run-specific numbers, each kind renumbered by first appearance
  // (group 1 is the number)
  private val numbered: Seq[Regex] = Seq(
    "#(\\d+)".r,
    "plan_id=(\\d+)".r,
    "RDD\\[(\\d+)\\]".r,
    "@([0-9a-f]{4,})".r,
    "lambda [A-Za-z]\\w*?_(\\d+)\\b".r,
    "([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})".r, // observations
    "[A-Za-z_](\\d{9,})".r) // temporary directories

  // the call sites of checkpointed RDDs (which thread created one
  // varies), JVM lambda class addresses, and the codegen and query-stage
  // ids of an executed plan, which follow the order its stages ran in
  private val dropped: Seq[(Regex, String)] = Seq(
    "(RDD\\[\\d+\\]) at [^,\\]]*".r -> "$1",
    "(\\$Lambda)\\$\\d+/0x[0-9a-f]+".r -> "$1",
    "(codegen id) : \\d+".r -> "$1",
    "(QueryStage\\n(?:Output[^\\n]*\\n)?Arguments: )\\d+".r -> "$1")

  /** `plan` with run-specific numbers normalized, so equal plans give
    * equal text. */
  def normalize(plan: String): String = {
    val fixed = dropped.foldLeft(plan) { case (t, (re, to)) => re.replaceAllIn(t, to) }
    numbered.foldLeft(fixed) { (text, re) =>
      val seen = mutable.Map.empty[String, Int]
      re.replaceAllIn(text, m => {
        val n = seen.getOrElseUpdate(m.group(1), seen.size + 1)
        Regex.quoteReplacement(m.matched.take(m.start(1) - m.start) + n +
          m.matched.drop(m.end(1) - m.start))
      })
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <names|all>")
    val Array(outDir, suffix, names) = args
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.builder("plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // optional conf overrides (e.g. turn off size-based broadcast so a
    // join's shuffled shape can be dumped next to the default one):
    // GRAFT_PLANDUMP_CONF="spark.sql.autoBroadcastJoinThreshold=-1,..."
    sys.env.get("GRAFT_PLANDUMP_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    Files.createDirectories(Paths.get(outDir))
    val all = graft.queries.Registry.all
    val want = if (names == "all") all.map(_.name).toSet
      else names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val picked = all.filter(q => want(q.name))
    val missing = want -- picked.map(_.name)
    require(missing.isEmpty, s"unknown queries: $missing")
    def formatted(qe: QueryExecution): String =
      normalize(qe.explainString(FormattedMode))
    picked.foreach { q =>
      // the executions a query runs while it is built (pins and other
      // eager actions) are captured too: those joins never show in its
      // final plan. A query that cannot plan is recorded in its file;
      // the run goes on.
      val ran = PlanCapture(spark) {
        try formatted(q.fn(spark, sf).queryExecution)
        catch { case NonFatal(e) => s"FAILED: $e\n" }
      }
      val plan = ran.value
      // completion order of concurrent pins varies: sort the sections
      val built = ran.executions.map(formatted).sorted
      val text = (plan +: built.zipWithIndex.map { case (p, i) =>
        s"== Execution ${i + 1} of ${built.size} while building ==\n$p"
      }).mkString("\n")
      Files.writeString(Paths.get(outDir, s"${q.name}_$suffix.txt"), text)
      System.err.println(s"[plandump] wrote ${q.name}_$suffix.txt")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
