package graft.tools

import java.nio.file.{Files, Paths}

import graft.Session

/** Per-query formatted-plan dump for the optimization-round evidence
  * trail: writes `<outDir>/<query>_<suffix>.txt` with
  * `.explain("formatted")` output for each named query.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <names>")
    val Array(outDir, suffix, names) = args
    val want = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.builder("plan-dump", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // optional conf overrides (e.g. turn off size-based broadcast so a
    // join's shuffled shape can be dumped next to the default one):
    // GRAFT_PLANDUMP_CONF="spark.sql.autoBroadcastJoinThreshold=-1,..."
    sys.env.get("GRAFT_PLANDUMP_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    Files.createDirectories(Paths.get(outDir))
    val picked = graft.queries.Registry.all.filter(q => want(q.name))
    val missing = want -- picked.map(_.name).toSet
    require(missing.isEmpty, s"unknown queries: $missing")
    picked.foreach { q =>
      val plan = q.fn(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${q.name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote ${q.name}_$suffix.txt")
    }
    spark.stop()
  }
}
