package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType,
  StructField, StructType}

/** Continuous seasonality scoring — the streaming face of
  * `ops/Forecast.seasonalNaiveMase`: day-grain counts per key are
  * maintained as ONE streaming aggregation (state = |keys| × |days|,
  * bounded by the calendar — the StreamingChangepoint contract) and
  * the MASE fold runs on the counts SNAPSHOT through the identical
  * batch code path (`maseFromDaily`). A volume monitor's serving
  * shape: "is this stream still week-seasonal" refreshes continuously
  * without re-scanning history, and must equal the batch answer
  * whatever the arrival order — the shared oracle hash-checks it.
  */
object StreamingForecast {

  /** Per-(event_type, day) event counts maintained as ONE complete-mode
    * streaming aggregation, drained and folded by `fold` on the
    * snapshot — the shared state of the day-count monitor twins.
    */
  private[streaming] def dailySnapshot(spark: SparkSession, sfDir: String,
      fold: DataFrame => DataFrame): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      fold(StreamingRun.drain(StreamingRun.tableStream(s, sfDir, "events")
        .groupBy(col("event_type").as("k"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c")), "complete"))
    }

  def runBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    dailySnapshot(spark, sfDir,
      graft.ops.Forecast.maseFromDaily(_, "event_type", season = 7))

  /** Theil–Sen trend on the same continuously-maintained day counts —
    * the robust "is volume trending" monitor, refreshed per
    * micro-batch; identical batch fold on the snapshot.
    */
  def runTheilSenBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    dailySnapshot(spark, sfDir,
      graft.ops.Forecast.theilSenFromDaily(_, "event_type"))

  /** EWMA forecast-band monitor on the same continuously-maintained
    * day counts — "is today's volume inside the exponentially-
    * weighted band, and what is tomorrow's forecast, as of NOW";
    * identical batch fold (`ewmaFromDaily`) on the snapshot.
    */
  def runEwmaBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    dailySnapshot(spark, sfDir,
      graft.ops.Forecast.ewmaFromDaily(_, "event_type"))

  /** Robust MAD outlier audit on a continuously-maintained VALUE
    * DISTRIBUTION: state = (type, value_cents, count) — bounded by
    * the cents grid, not the stream — folded through
    * GroupQuantile.madFromDistribution per snapshot.
    */
  def runMadBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      val dist = StreamingRun.tableStream(s, sfDir, "events")
        .groupBy(col("event_type"),
          (col("value").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(12, 2))
            * 100).cast("long").as("__v"))
        .agg(count(lit(1)).as("__n"))
      graft.ops.GroupQuantile.madFromDistribution(
        StreamingRun.drain(dist, "complete"), Seq("event_type"), k = 3L)
    }

  /** Day-of-week profile on the same continuously-maintained day
    * counts — "what does the weekly shape look like as of NOW";
    * identical batch fold (`dowProfileFromDaily`) on the snapshot.
    */
  def runDowProfileBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    dailySnapshot(spark, sfDir,
      graft.ops.Forecast.dowProfileFromDaily(_, "event_type"))

  /** Rolling HLL reach on continuously-maintained SKETCH state: the
    * per-(day, bucket) max-rho registers are a streaming MAX
    * aggregate — state is days × 256 registers, bounded by the
    * calendar and the sketch, never by users (the exact
    * rollingDistinct needs the distinct (day, user) frame; this is
    * its 100 TB-reach approximate twin) — and the trailing-window
    * register merge + raw estimate fold on the snapshot through the
    * identical batch path (shared oracle: the estimate is bit-exact
    * cross-engine because every 2^-M term is dyadic).
    */
  def runHllRollingBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      val ev = StreamingRun.tableStream(s, sfDir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val regs = graft.ops.Sketches.hllRegisters(ev, "user_id", Seq("day"))
      graft.ops.Sketches.hllRollingEstimate(
        StreamingRun.drain(regs, "complete"), "day", windowDays = 3)
    }

  /** Hamilton budget allocation on continuously-maintained stratum
    * counts — "how many rows does tonight's eval set take from each
    * type, as of NOW"; state = |strata| rows, fold per snapshot.
    */
  def runAllocationBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    StreamingRun.withStatePartitions(spark) { s =>
      val counts = StreamingRun.tableStream(s, sfDir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"))
      graft.ops.Sampling.allocationFromCounts(
        StreamingRun.drain(counts, "complete"), Seq("event_type"),
        budget = 1000L)
    }

  /** Streaming twin of q_ks_value_drift: the per-(type, value, pop)
    * distribution counts are ONE streaming aggregation (state =
    * distinct values per group — distribution-sized, the
    * GroupQuantile caveat, never corpus rows) and the exact-rational
    * KS fold runs on the snapshot through the identical batch code
    * path (`Profiling.ksFromCounts`), sharing the batch oracle. The
    * population cut (first 15 days) is derived batch-side up front —
    * a deployment would configure the reference window statically.
    */
  def runKsBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    driftCountsSnapshot(spark, sfDir, "stream_ks",
      graft.ops.Profiling.ksFromCounts(_, Seq("event_type")))

  /** Streaming CvM twin — the same continuously-maintained
    * distribution-count state, folded through
    * `Profiling.cvmFromCounts` on the snapshot (the integrated-square
    * member of the drift triple in its serving shape), sharing the
    * batch oracle.
    */
  def runCvmBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    driftCountsSnapshot(spark, sfDir, "stream_cvm",
      graft.ops.Profiling.cvmFromCounts(_, Seq("event_type"))
        .select(col("event_type"), col("n_a"), col("n_b"), col("cvm")))

  /** Streaming Mann–Whitney twin — same continuous count state,
    * identical mwuFromCounts rank-sum fold on the snapshot, shared
    * oracle.
    */
  def runMwuBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    driftCountsSnapshot(spark, sfDir, "stream_mwu",
      graft.ops.Profiling.mwuFromCounts(_, Seq("event_type")))

  /** Streaming Wasserstein-1 twin — state keyed on the INTEGER-SCALED
    * value (the batch query's exactness-on-the-value-axis discipline
    * applies to the state key too), identical wassersteinFromCounts
    * fold on the snapshot, shared oracle.
    */
  def runWassersteinBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    driftCountsSnapshot(spark, sfDir, "stream_w1",
      graft.ops.Profiling.wassersteinFromCounts(_, Seq("event_type"),
        scale = 100L)
        .select(col("event_type"), col("n_a"), col("n_b"), col("w1")),
      valueExpr = round(col("value") * 100).cast("long"))

  /** Streaming drift-time-series twin — the monitor's PRODUCTION
    * shape: per-(type, value, day) counts maintained as ONE
    * complete-mode streaming aggregation (state = distribution ×
    * active days per type; the window membership of a day changes as
    * eval days advance, but the COUNT state never does — that is why
    * a monitor maintains day-grain counts rather than windowed
    * statistics), then the identical `Profiling.ksTimeseriesFold`
    * join + exact fold runs on the snapshot, shared oracle. The
    * eval-day frame is derived batch-side like every twin's
    * configuration (a deployment derives it from the monitor's
    * calendar, not from stream state).
    */
  def runKsTimeseriesBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val minDay = ev.select(to_date(col("ts")).as("__day"))
      .filter(col("__day").isNotNull)
      .agg(min(col("__day"))).head().getDate(0)
    val evalDays = ev.select(to_date(col("ts")).as("eval_day"))
      .distinct()
      .filter(col("eval_day") >= date_add(lit(minDay), 13))
      .collect().map(_.getDate(0))
    StreamingRun.withStatePartitions(spark) { s =>
      val dist = StreamingRun.tableStream(s, sfDir, "events")
        .filter(col("value").isNotNull && to_date(col("ts")).isNotNull)
        .groupBy(col("event_type"), col("value").as("__v"),
          to_date(col("ts")).as("__day"))
        .agg(count(lit(1)).as("__n"))
      val snapshot = StreamingRun.drain(dist, "complete")
      import scala.jdk.CollectionConverters._
      val evalFrame = s.createDataFrame(
        evalDays.toSeq.map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("eval_day",
            org.apache.spark.sql.types.DateType))))
      graft.ops.Profiling.ksTimeseriesFold(snapshot, evalFrame,
        Seq("event_type"), refDays = 7, curDays = 7)
    }
  }

  /** Streaming Kuiper twin — hour-of-day distribution counts as
    * continuous state (24 values × types, bounded by construction),
    * identical kuiperFromCounts fold on the snapshot, shared oracle.
    */
  def runKuiperBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    driftCountsSnapshot(spark, sfDir, "stream_kuiper",
      graft.ops.Profiling.kuiperFromCounts(_, Seq("event_type")),
      valueExpr = hour(col("ts")))

  /** Streaming TVD twin — the categorical composition monitor in its
    * serving shape: state is (segment, event_type, pop) counts — the
    * category DOMAIN per traffic segment, the smallest state any
    * member of the family carries — and the snapshot folds through
    * the identical `Profiling.tvdFromCounts` batch code, shared
    * oracle.
    */
  def runTvdBatchEquivalent(spark: SparkSession,
      sfDir: String): DataFrame =
    driftCountsSnapshot(spark, sfDir, "stream_tvd",
      graft.ops.Profiling.tvdFromCounts(_, Seq("segment")),
      valueExpr = col("event_type"),
      groupName = "segment",
      // signed % to match the oracle's % for every sign of user_id
      groupExpr = col("user_id") % 4)

  /** Shared serving shape of the drift family's batch-equivalence
    * twins: per-(group, value, pop) distribution counts as ONE
    * complete-mode streaming aggregation (state = distinct values per
    * group — distribution-sized, the GroupQuantile caveat, never
    * corpus rows), then `fold` runs on the snapshot through the
    * identical batch code path. The group key defaults to event_type;
    * the TVD twin re-keys on traffic segment with the CATEGORY as the
    * value. The population cut (first 15 days) is derived batch-side
    * up front — a deployment would configure the reference window
    * statically.
    */
  private def driftCountsSnapshot(spark: SparkSession, sfDir: String,
      prefix: String, fold: DataFrame => DataFrame,
      valueExpr: org.apache.spark.sql.Column = col("value"),
      groupName: String = "event_type",
      groupExpr: org.apache.spark.sql.Column = col("event_type")): DataFrame = {
    val minTs = graft.sources.Tables.events(spark, sfDir)
      .agg(min(col("ts"))).head().getTimestamp(0)
    StreamingRun.withStatePartitions(spark) { s =>
      val dist = StreamingRun.tableStream(s, sfDir, "events")
        // same null discipline as Profiling.driftCounts: a NULL value
        // has no CDF position and would also bloat state with a dead key
        .filter(valueExpr.isNotNull)
        .groupBy(groupExpr.as(groupName), valueExpr.as("__v"),
          (to_date(col("ts")) < date_add(to_date(lit(minTs)), 15))
            .as("__p"))
        .agg(count(lit(1)).as("__n"))
      val snapshot = StreamingRun.drain(dist, "complete")
      val counts = snapshot.groupBy(col(groupName), col("__v"))
        .agg(
          sum(when(col("__p"), col("__n")).otherwise(0L)).as("__na"),
          sum(when(col("__p"), lit(0L)).otherwise(col("__n")))
            .as("__nb"))
      // the streaming twin carries the same bounded-domain contract as
      // the batch path — state itself is distinct-values-per-group, so
      // if the guard fires here the aggregation state was already the
      // hazard; a deployment must bucket BEFORE the groupBy (the
      // ksDriftBucketed bin expression works unchanged on a stream)
      graft.ops.Profiling.guardKsDomain(counts,
        graft.ops.Profiling.DefaultKsDomainCap, s"${prefix}_twin")
      fold(counts)
    }
  }

  /** The KS monitor with state SURVIVING a new-data arrival — the
    * served/appended exhibit the ANN family models, for drift
    * (r14 verdict #6). The reference population (first 15 days) is
    * static; the CURRENT population arrives in two waves (days 15–22,
    * then 23+), one micro-batch each over the shared arrival harness.
    * The per-(type, value, pop) distribution counts are ONE
    * complete-mode streaming aggregation whose state persists across
    * the waves, and after EACH micro-batch the exact-rational KS fold
    * runs on that batch's full snapshot through the identical batch
    * code path (`Profiling.ksFromCounts`, via foreachBatch). Output is
    * both snapshots tagged by wave: n_a is complete from wave 1 (the
    * reference all arrived in batch 0), n_b grows, and a green hash
    * proves the D statistic UPDATED correctly when new data landed on
    * live state — wave 2's counts are cumulative merges, not a rebuild
    * (a re-created-state bug would compute wave-2 D from days 23+
    * alone and miss every earlier current row).
    *
    * Bounded-domain pre-flight: distinct (type, value) cardinality is
    * probed batch-side BEFORE the stream commits to
    * distribution-sized state — the deployment-shaped placement of
    * [[graft.ops.Profiling.guardKsDomain]] (state, once built, is the
    * hazard; bucket before the groupBy, not after).
    */
  def runKsAppended(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val minTs = ev.agg(min(col("ts"))).head().getTimestamp(0)
    val d0 = to_date(lit(minTs))
    val base = ev.filter(col("value").isNotNull)
      .select(col("event_type"),
        col("value").cast("double").as("__v"),
        (to_date(col("ts")) < date_add(d0, 15)).as("__p"),
        to_date(col("ts")).as("__day"))
    graft.ops.Profiling.guardKsDomain(
      base.select(col("event_type"), col("__v")).distinct(),
      graft.ops.Profiling.DefaultKsDomainCap, "runKsAppended")
    val arrivals = Seq(
      base.filter(col("__day") < date_add(d0, 23)).drop("__day"),
      base.filter(col("__day") >= date_add(d0, 23)).drop("__day"))
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("__v", DoubleType),
      StructField("__p", BooleanType)))
    val waves = StreamingRun.withArrivalDir(arrivals) { srcDir =>
      StreamingRun.withStatePartitions(spark) { s =>
        val dist = StreamingRun.arrivalStream(s, srcDir, schema)
          .groupBy(col("event_type"), col("__v"), col("__p"))
          .agg(count(lit(1)).as("__n"))
        StreamingRun.collectBatches(dist, "complete") { (batch, batchId) =>
          graft.ops.Profiling.ksFromCounts(
            batch.groupBy(col("event_type"), col("__v"))
              .agg(
                sum(when(col("__p"), col("__n")).otherwise(0L))
                  .as("__na"),
                sum(when(col("__p"), lit(0L)).otherwise(col("__n")))
                  .as("__nb")),
            Seq("event_type"))
            .select(lit(batchId + 1L).as("wave"), col("event_type"),
              col("n_a"), col("n_b"), col("ks_num"), col("ks"))
        }
      }
    }
    val seen = waves.collect().map(_.getLong(0)).distinct.sorted.toSeq
    require(seen == Seq(1L, 2L),
      s"runKsAppended: expected exactly waves 1 and 2, got " +
        seen.mkString("[", ",", "]"))
    waves
  }
}
