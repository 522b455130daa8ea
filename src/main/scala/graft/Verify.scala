package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.util.Json.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for fast local iteration
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(',').toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // vacuous-output floor (QueryDef.minDistinct): a pooling query
        // whose output collapsed to one group would still hash-match a
        // degenerate oracle — fail loudly instead. Checked on the
        // written parquet (results are small; no recompute). ANY error
        // inside the check (a typo'd/renamed floor column, an unreadable
        // dump) withdraws the dump too: a floor that cannot evaluate
        // must fail the gate, not silently never enforce (r13 ADVICE).
        SparkEntry.minDistinct.get(name).foreach { case (c, floor) =>
          def withdraw(): Unit = {
            // remove the dump so the gate records a missing result, not
            // a trivially-matching degenerate one
            import scala.reflect.io.Directory
            new Directory(new java.io.File(s"$outDir/$name")).deleteRecursively()
          }
          val got =
            try {
              val back = spark.read.parquet(s"$outDir/$name")
              if (!back.columns.contains(c))
                throw new IllegalStateException(
                  s"minDistinct column '$c' absent from output schema " +
                    back.columns.mkString("[", ",", "]"))
              back.select(c).distinct().count()
            } catch { case NonFatal(e) =>
              withdraw()
              throw new IllegalStateException(
                s"minDistinct check unevaluable for $name: ${e.getMessage}",
                e)
            }
          if (got < floor) {
            withdraw()
            throw new IllegalStateException(
              s"vacuous output: $name has $got distinct '$c' " +
                s"values, floor is $floor")
          }
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist intermediates (shingle frames, IVF cells);
      // drop them so 59 queries don't stack caches in one session
      spark.sharedState.cacheManager.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
