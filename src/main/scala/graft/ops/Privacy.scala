package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-anonymity primitives — the release-gate check a training-data
  * pipeline runs before publishing any table carrying quasi-
  * identifiers (the PII-redaction family's structural sibling: regex
  * redaction removes direct identifiers, k-anonymity bounds re-
  * identification through identifier COMBINATIONS).
  *
  * Scale shape: the audit is one hash aggregate over the QID tuple
  * (partial→final — the shuffle carries distinct combinations, not
  * rows). Suppression joins rows back to the sub-k cohort list on the
  * same keys — the cohort frame is |small cohorts| rows (the long
  * tail), and AQE broadcasts it when it fits. NULL quasi-identifier
  * values are a cohort like any other (null-safe equality
  * throughout), because "attribute withheld" is itself identifying.
  */
object Privacy {

  /** Per QID combination: cohort size and whether it meets `k`.
    * is_safe is INT (0/1) — the cross-engine-stable projection.
    */
  def kAnonymityAudit(df: DataFrame, qidCols: Seq[String],
      k: Long): DataFrame = {
    require(qidCols.nonEmpty && k >= 1L, "need QID columns and k >= 1")
    df.groupBy(qidCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(qidCols.map(col) :+ col("n") :+
        (col("n") >= k).cast("int").as("is_safe"): _*)
  }

  /** Per QID combination: cohort size, distinct sensitive values, and
    * whether the cohort is l-diverse — the audit k-anonymity alone
    * misses (a size-50 cohort whose sensitive attribute is constant
    * still reveals it for every member; distinct l-diversity requires
    * ≥ l distinct sensitive values per cohort). One hash aggregate
    * with a distinct-agg — partial combine on (QIDs, sensitive) pairs.
    */
  def lDiversityAudit(df: DataFrame, qidCols: Seq[String],
      sensitive: Column, l: Long): DataFrame = {
    require(qidCols.nonEmpty && l >= 2L, "need QID columns and l >= 2")
    df.groupBy(qidCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .select(qidCols.map(col) :+ col("n") :+ col("n_sensitive") :+
        (col("n_sensitive") >= l).cast("int").as("is_diverse"): _*)
  }

  /** t-closeness audit — the distributional disclosure check
    * l-diversity misses: a cohort can span ≥ l distinct sensitive
    * values yet be wildly skewed toward one of them. Per QID cohort,
    * the Earth-Mover's Distance between the cohort's sensitive-value
    * distribution and the GLOBAL one, for an ORDERED sensitive
    * attribute (numeric band): EMD = (1/(m−1)) Σ_i |CumP_i − CumQ_i|
    * over the m global bands (Li et al., ICDE 2007's ordered-distance
    * form). Everything is exact integer arithmetic — probabilities
    * are cross-multiplied away (|cumC_i·N − cumG_i·n| summed, then ONE
    * integral division to ppm), so any engine replays the audit
    * bit-identically. DECIMAL(38) products: n·N ≤ 10²⁶ at 100 TB-scale
    * row counts, ×10⁶ still inside 38 digits.
    *
    * Scale shape: one hash aggregate on (QIDs, band); the grid is
    * |cohorts| × m rows with the m-row global band frame broadcast;
    * the cumulative window partitions by cohort (≤ m rows per
    * partition — bounded, never corpus-ordered).
    */
  def tClosenessAudit(df: DataFrame, qidCols: Seq[String],
      sensitive: Column, tPpm: Long): DataFrame = {
    require(qidCols.nonEmpty && tPpm >= 0L, "need QID columns, tPpm >= 0")
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = df.select(qidCols.map(col) :+
      sensitive.cast("long").as("__b"): _*)
    val cohortBand = base.groupBy(qidCols.map(col) :+ col("__b"): _*)
      .agg(count(lit(1)).as("__c"))
    // bounded global band frame: per-band count, cumulative count,
    // total N, band count m — all via windows over ≤ m rows
    val wOrd = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bands = base.groupBy(col("__b")).agg(count(lit(1)).as("__g"))
      .select(col("__b"), sum(col("__g")).over(wOrd).as("__cumg"),
        sum(col("__g")).over(wAll).as("__N"),
        count(lit(1)).over(wAll).as("__m"))
    val cohorts = cohortBand.groupBy(qidCols.map(col): _*)
      .agg(sum(col("__c")).as("n"))
    val wCoh = Window.partitionBy(qidCols.map(col): _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // hint kept: bands is a grouped aggregate, priced at base's size
    val grid = cohorts.crossJoin(broadcast(bands))
      .join(cohortBand, qidCols :+ "__b", "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__cumc", sum(col("__c")).over(wCoh))
      .withColumn("__term", abs(
        col("__cumc").cast(dec) * col("__N").cast(dec) -
          col("__cumg").cast(dec) * col("n").cast(dec)))
    grid.groupBy(qidCols.map(col): _*)
      .agg(max(col("n")).as("n"),
        sum(col("__term")).as("__num"),
        max(col("__N")).as("__NN"), max(col("__m")).as("__mm"))
      .select(qidCols.map(col) :+ col("n") :+
        expr("(cast(__num as decimal(38,0)) * 1000000) div " +
          "(cast(n as decimal(38,0)) * cast(__NN as decimal(38,0)) * " +
          "greatest(cast(__mm as decimal(38,0)) - 1, 1))").as("emd_ppm"): _*)
      .withColumn("is_close", (col("emd_ppm") <= tPpm).cast("int"))
  }

  /** Suppress (null out) the quasi-identifiers of every row whose QID
    * cohort is smaller than `k` — the generalize-to-top suppression
    * that makes the release k-anonymous while keeping row counts (and
    * every non-QID column) intact.
    */
  def suppressBelowK(df: DataFrame, qidCols: Seq[String],
      k: Long): DataFrame = {
    require(qidCols.nonEmpty && k >= 1L, "need QID columns and k >= 1")
    val unsafe = df.groupBy(qidCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") < k)
      .select(qidCols.map(col) :+ lit(true).as("__suppress"): _*)
    val d = df.as("d")
    val u = unsafe.as("u")
    val cond = qidCols.map(c => col(s"d.$c") <=> col(s"u.$c"))
      .reduce(_ && _)
    d.join(u, cond, "left")
      .select(df.columns.toSeq.map { c =>
        if (qidCols.contains(c))
          when(col("u.__suppress"), lit(null))
            .otherwise(col(s"d.$c")).as(c)
        else col(s"d.$c")
      }: _*)
  }
}
