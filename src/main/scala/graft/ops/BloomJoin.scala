package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime Bloom pruning for fact-fact joins — the row-level runtime
  * filter (a.k.a. sideways information passing) that turns "shuffle
  * everything, join, discard 95%" into "discard 95% map-side, shuffle
  * the survivors". Spark injects this itself behind
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` when statistics
  * line up; this operator is the explicit, always-on form: build a
  * Bloom sketch of the build side's join keys (one narrow pass,
  * sketch size ∝ build-side cardinality — KBs to a few MB for a
  * filtered dimension-ish side), plant it as a literal scan-stage
  * `bloom_might_contain` filter on the fact side, then run the exact
  * join. False positives survive the prefilter but die in the join,
  * so the result is IDENTICAL to the plain join — the oracle is plain
  * SQL and the hash compare proves the equivalence (the salted-join
  * proof pattern).
  *
  * At 100 TB: the fact-side exchange is the dominant cost of a
  * selective fact-fact join; with a 1% FPP sketch the shuffled volume
  * drops to ~(selectivity + 1%) of the corpus. The build pays one
  * extra aggregation (Spark's BloomFilterAggregate — partial sketches
  * OR-merge, so the pass is map-side parallel like any agg).
  *
  * Guardrail: past `maxBuildKeys` DISTINCT keys the sketch stops
  * being broadcast-cheap (Spark's own runtime filter has the same
  * creation threshold) — the operator then SKIPS pruning and returns
  * the plain join rather than shipping a hundred-MB literal. Both the
  * guardrail and the sketch's expectedNumItems use an approximate
  * distinct-key count (HLL++, one narrow agg), not the raw row count:
  * a build side with heavily duplicated keys would otherwise oversize
  * the sketch AND trip the guardrail for no reason.
  */
object BloomJoin {

  /** `fact ⋈ build` on `factKey = buildKey`, fact side Bloom-pruned
    * map-side before the shuffle. Result ≡ the plain inner join.
    */
  def bloomPrunedJoin(fact: DataFrame, build: DataFrame, factKey: String,
      buildKey: String, fpp: Double = 0.01,
      maxBuildKeys: Long = 100000000L): DataFrame = {
    def join(f: DataFrame): DataFrame =
      if (factKey == buildKey) f.join(build, Seq(factKey))
      else f.join(build, f.col(factKey) === build.col(buildKey))
    // One narrow agg: approximate DISTINCT keys (HLL++ at an explicit
    // 2% rsd — Spark's DEFAULT rsd is 5%, which a ×1.1 pad would only
    // cover to ~2σ) sizes the sketch. The pad keeps HLL under-estimates
    // from pushing the realized FPP above the target; the guardrail
    // compares the UNPADDED estimate so pruning isn't skipped below
    // the documented cap.
    val nDistinct = build
      .agg(approx_count_distinct(col(buildKey), 0.02).as("n")).head().getLong(0)
    val n = math.ceil(nDistinct * 1.1).toLong
    if (nDistinct == 0L || nDistinct > maxBuildKeys) join(fact)
    else {
      val bf = build.stat.bloomFilter(buildKey, n, fpp)
      val bytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
      }
      join(fact.where(
        graft.functions.VectorFunctions.bloom_might_contain(
          lit(bytes), col(factKey))))
    }
  }
}
