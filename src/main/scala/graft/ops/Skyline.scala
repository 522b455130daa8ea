package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin

/** Pareto frontier (2-D skyline): the rows not dominated on a
  * (minimize cost, maximize benefit) pair — the "best trade-off"
  * query a curation pipeline asks of any price/quality,
  * latency/accuracy, or size/coverage surface (Börzsönyi et al.,
  * "The Skyline Operator", ICDE 2001).
  *
  * A row p is dominated iff some q has q.cost ≤ p.cost ∧
  * q.benefit ≥ p.benefit with at least one strict. The naive form is
  * an all-pairs anti join — O(n²) and a cartesian at cluster scale.
  * This implementation is exact with NO pair join:
  *
  *  1. collapse to one row per distinct cost: only the max-benefit
  *     row at a cost can survive (same cost, more benefit dominates);
  *  2. LOCAL prune: bucket the cost axis by range (bucket bounds from
  *     one 2-value global aggregate, broadcast); within a bucket,
  *     ordered by cost, a row dominated by the bucket-local running
  *     max is dropped. Any bucketing is conservative-correct — stage
  *     2 only removes rows a strictly-cheaper row already dominates —
  *     so the (engine-internal, float) bucket arithmetic never
  *     touches the output;
  *  3. GLOBAL pass: one ordered window over the survivors — at most
  *     one survivor per distinct benefit value per bucket, i.e.
  *     frontier-sized input, so the single-partition sort that makes
  *     a global 1-D window a scale hazard runs over a vanishingly
  *     small frame (the classic local-skyline/merge split);
  *  4. equi-join the frontier (cost, benefit) pairs back to the
  *     input to emit row identities (broadcast left to AQE — the
  *     frontier is OUTPUT-sized and can approach n on adversarial
  *     anti-correlated data); ties (identical points) do not
  *     dominate each other and are all kept.
  *
  * Scale shape: one groupBy shuffle on cost (partial max combine),
  * one bucket-partitioned window, one frontier-sized window, one
  * equi re-join. No comparison arithmetic is performed on the
  * (possibly double) measure columns — values pass through unchanged,
  * so output equals the oracle's byte-for-byte.
  */
object Skyline {

  /** Frontier rows of `df` under (minimize `costCol`, maximize
    * `benefitCol`), optionally per group (`keyCols` — the per-group
    * form has no global stage at all: every window is keyed, so the
    * operator is embarrassingly parallel across groups).
    * Output: keyCols ++ (idCol, costCol, benefitCol).
    */
  def paretoFrontier(df: DataFrame, idCol: String, costCol: String,
      benefitCol: String, keyCols: Seq[String] = Nil,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val keys = keyCols.map(col)
    // 1. one survivor candidate per (group, cost)
    val perCost = df.groupBy(keys :+ col(costCol).as("__cost"): _*)
      .agg(max(col(benefitCol)).as("__bmax"))
    // 2. range buckets off a per-group 2-value aggregate (broadcast)
    val bounds = df.groupBy(keys: _*)
      .agg(min(col(costCol)).as("__lo"), max(col(costCol)).as("__hi"))
    val bucketed = perCost
      // hint kept: bounds is priced at its input's size (else perCost builds)
      .join(broadcast(bounds), keyCols, if (keyCols.isEmpty) "cross" else "inner")
      .withColumn("__bkt",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(lit(buckets - 1),
            floor((col("__cost") - col("__lo")) * buckets /
              (col("__hi") - col("__lo"))).cast("int"))))
    val wLocal = Window
      .partitionBy(keys :+ col("__bkt"): _*)
      .orderBy(col("__cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val localSurvivors = bucketed
      .withColumn("__prev", max(col("__bmax")).over(wLocal))
      .where(col("__prev").isNull || col("__bmax") > col("__prev"))
      .drop("__prev", "__bkt", "__lo", "__hi")
    // 3. global (per-group) pass over the frontier-sized survivor set
    val wGlobal = Window.partitionBy(keys: _*).orderBy(col("__cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = localSurvivors
      .withColumn("__prev", max(col("__bmax")).over(wGlobal))
      .where(col("__prev").isNull || col("__bmax") > col("__prev"))
      .drop("__prev")
    // 4. identities back from the input (AQE sizes the join)
    val fr = keyCols.foldLeft(frontier)(
      (f, k) => f.withColumnRenamed(k, s"__k_$k"))
    val cond = (keyCols.map(k => col(k) === col(s"__k_$k")) ++ Seq(
      col(costCol) === col("__cost"),
      col(benefitCol) === col("__bmax"))).reduce(_ && _)
    // no forced broadcast: the frontier is OUTPUT-sized, and on
    // anti-correlated continuous dims the skyline can approach n —
    // AQE picks broadcast from the runtime size (the fkOrphans rule:
    // an unconditional hint on an unbounded frame is a driver OOM)
    df.select(keyCols.map(col) ++
        Seq(col(idCol), col(costCol), col(benefitCol)): _*)
      .join(fr, cond)
      .select(keyCols.map(col) ++
        Seq(col(idCol), col(costCol), col(benefitCol)): _*)
  }

  /** 3-D skyline with one BOUNDED dimension: rows not dominated on
    * (minimize cost, maximize benefit, minimize level), where `level`
    * ranges over a small grid (a discount ladder, a quality tier, a
    * priority class — bounded by the domain, not the data).
    *
    * Decomposition by the dominator's level: a q at a STRICTLY lower
    * level dominates p iff q.cost ≤ p.cost ∧ q.benefit ≥ p.benefit
    * (level supplies the strict coordinate); a q at the SAME level
    * needs strict 2-D dominance — which is exactly the running-max
    * test once same-(level, cost) rows are collapsed to their max
    * benefit. Both cases fold into ONE ordered pass per level:
    *
    *  1. collapse to (level, cost) → max benefit (L·|costs| rows);
    *  2. CONTRIBUTORS: replicate each collapsed row to every
    *     strictly-higher level present (≤ L× blowup of the collapsed
    *     frame — the bounded-dimension bet; levels cross as a
    *     broadcast bounded join); SUBJECTS: the level's own rows;
    *  3. per target level, ordered by (cost, contributors-first),
    *     a subject is dominated iff the running max of everything
    *     BEFORE it ≥ its benefit — preceding contributors encode
    *     lower-level ≤-cost dominators (ties included: equal cost +
    *     equal benefit from a lower level IS domination), preceding
    *     subjects encode same-level strictly-cheaper ones. The same
    *     bucket-local prune as the 2-D operator keeps every window
    *     partitioned by (level, bucket) before a survivor-sized
    *     per-level pass;
    *  4. equi identity re-join on (level, cost, benefit) — AQE sizes it.
    */
  def paretoFrontier3D(df: DataFrame, idCol: String, costCol: String,
      benefitCol: String, levelCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val g = Pin(df.groupBy(col(levelCol).as("__lvl"), col(costCol).as("__cost"))
      .agg(max(col(benefitCol)).as("__bmax"))) // feeds levels, contributors, subjects
    val levels = g.select(col("__lvl").as("__tgt")).distinct()
    // hint kept: levels is a distinct of g, priced at g's size (an
    // inequality join, |levels|² pairs)
    val contribs = g.join(broadcast(levels), col("__tgt") > col("__lvl"))
      .select(col("__tgt"), col("__cost"), col("__bmax"), lit(0).as("__tag"))
    val subjects = g.select(col("__lvl").as("__tgt"), col("__cost"),
      col("__bmax"), lit(1).as("__tag"))
    val frame = contribs.unionByName(subjects)
    val bounds = df.groupBy()
      .agg(min(col(costCol)).as("__lo"), max(col(costCol)).as("__hi"))
    val bucketed = frame.crossJoin(bounds)
      .withColumn("__bkt",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(lit(buckets - 1),
            floor((col("__cost") - col("__lo")) * buckets /
              (col("__hi") - col("__lo"))).cast("int"))))
    val wLocal = Window.partitionBy(col("__tgt"), col("__bkt"))
      .orderBy(col("__cost"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // keep rows that RAISE the local running max (contributors kept
    // only as new maxima — dropped ones are covered by a survivor)
    val localSurvivors = bucketed
      .withColumn("__prev", max(col("__bmax")).over(wLocal))
      .where(col("__prev").isNull || col("__bmax") > col("__prev"))
      .drop("__prev", "__bkt", "__lo", "__hi")
    val wGlobal = Window.partitionBy(col("__tgt"))
      .orderBy(col("__cost"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = localSurvivors
      .withColumn("__prev", max(col("__bmax")).over(wGlobal))
      .where(col("__tag") === 1 &&
        (col("__prev").isNull || col("__bmax") > col("__prev")))
      .select(col("__tgt").as("__flvl"), col("__cost"), col("__bmax"))
    val cond = col(levelCol) === col("__flvl") &&
      col(costCol) === col("__cost") && col(benefitCol) === col("__bmax")
    df.select(col(idCol), col(costCol), col(benefitCol), col(levelCol))
      .join(frontier, cond) // AQE decides broadcast (output-sized frame)
      .select(col(idCol), col(costCol), col(benefitCol), col(levelCol))
  }
}
