package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Discovery, Normalize, PathMeta}
import graft.ops.HourPivot

/** The reference's end-to-end pipeline
  * (/root/reference/pivot_and_boostrap/pivot_all_files.py:366-550) as a
  * SINGLE lazy Spark plan:
  *
  *   discover → detect dialects (driver) → per-dialect scans → union
  *   → path metadata (literals per scan group, or a broadcast join)
  *   → drop bad timestamps → hour pivot + month-mismatch count (one
  *   hash agg) → observe(quality, groups) → min-rides filter
  *   → place/type strings → observe(survivors) → write
  *
  * What the reference does with two materialization passes (per-file
  * intermediate parquet + pandas merge, :279-283 / :307-340) and a
  * process pool collapses into one shuffle keyed on
  * (type_code, place_num, place_str, date) — no string work per row for
  * numeric places: the taxi type is an INT code into the sorted list of
  * taxi types and the place is Normalize's (LONG, STRING) key pair, whose
  * string side is empty for numeric IDs. The output strings are rebuilt
  * after the filter, for surviving groups only. The quality counters the reference
  * accumulates across worker result dicts (:448-482) are sums over the
  * pre-filter groups: input rows = Σ hour counts, month mismatches = an
  * extra count in the pivot's own aggregate — no per-row CollectMetrics,
  * zero extra scans.
  *
  * Per-file metadata (taxi type, expected year/month) is computed on the
  * driver from the path list and joined in via a BROADCAST join on the
  * normalized source path — arbitrary driver-side path logic, no UDF in
  * the hot path, one tiny build side.
  *
  * 100 TB notes: the only shuffle is the pivot's group-by; its
  * cardinality is days × places × types (≈ millions), independent of
  * input rows. `coalesce(1)` is NOT applied by default — the
  * single-file output of the reference is a small-data convenience, the
  * `singleFileOutput` flag reproduces it for parity tests only.
  */
object WideTablePipeline {

  final case class Config(
      inputDir: String,
      outputDir: String,
      minRides: Long = 50L,
      maxFiles: Option[Int] = None,
      reportName: String = "report.json",
      singleFileOutput: Boolean = false)

  final case class Report(
      inputRowCount: Long,
      outputRowCount: Long,
      monthMismatchRows: Long,
      lowCountDropped: Long,
      badRowsIgnored: Long,
      skippedFiles: Seq[(String, String)],
      runTimeSeconds: Double,
      peakMemoryMb: Double = 0.0,
      // `run` fills discover (listing), detect (footer dialects), plan
      // and write (the one job: scan, pivot, Parquet write), in order
      phaseSeconds: Seq[(String, Double)] = Nil)

  /** Composable core (no I/O): files → (wide table plan, observations,
    * skipped). The caller triggers an action, then reads the metrics.
    */
  final case class Planned(
      wide: DataFrame,
      quality: Observation,
      groups: Observation,
      survivors: Observation,
      skipped: Seq[(String, String)])

  /** Above this many (dialect × taxi_type × month) combinations, fall
    * back from literal-constant scan groups to one scan per dialect +
    * broadcast metadata join — scan-group count is a planner/driver
    * cost, per-row join hashing is an executor cost; 64 groups is
    * comfortably cheap to plan while covering years of monthly files.
    */
  val maxConstantScanGroups = 64

  /** Expected-month window as [start, end) epoch-MICROS bounds (UTC,
    * the frame of the pivot's date and hour). The mismatch check is then
    * two long comparisons per row instead of two calendar decompositions
    * (`year(ts)`/`month(ts)` each re-derive the civil date per row).
    * (0,0) — month not inferrable from the path — yields the empty
    * window, so every row counts as a mismatch, the reference's
    * behavior (pivot_all_files.py:179-182); same for out-of-range
    * months a loose path regex might produce.
    */
  def monthBoundsUs(y: Int, m: Int): (Long, Long) =
    if (y == 0 || m < 1 || m > 12) (0L, 0L)
    else {
      val start = java.time.LocalDate.of(y, m, 1)
      (start.toEpochDay * 86400000000L,
        start.plusMonths(1).toEpochDay * 86400000000L)
    }

  def plan(spark: SparkSession, files: Seq[String], minRides: Long,
      maxConstGroups: Int = maxConstantScanGroups): Option[Planned] =
    planDetected(spark, files, Normalize.detectDialects(spark, files),
      minRides, maxConstGroups)

  /** `plan` over dialects `Normalize.detectDialects` already found. */
  private def planDetected(spark: SparkSession, files: Seq[String],
      detected: (Seq[(Normalize.Dialect, String)], Seq[Normalize.Skipped]),
      minRides: Long, maxConstGroups: Int): Option[Planned] = {
    import spark.implicits._

    val (ok, skippedDet) = detected
    val metaOf = files.map(f => f -> PathMeta.fileMeta(f)).toMap
    val types = metaOf.values.map(_.taxiType).toSeq.distinct.sorted
    val typeCode = types.zipWithIndex.toMap
    val combos = ok
      .groupBy { case (dia, f) =>
        val m = metaOf(f)
        (dia, m.taxiType, m.expectedYear, m.expectedMonth)
      }
      .view.mapValues(_.map(_._2)).toSeq
      .sortBy(_._2.head)

    val tripsOpt =
      if (combos.isEmpty) None
      else if (combos.size <= maxConstGroups) {
        // constant metadata per scan group: no input_file_name(), no
        // join — rows carry three literals. Fastest path; measured
        // ~25% of pipeline time saved vs the join at 50M rows.
        // Group DataFrame construction pays a per-group FileIndex
        // listing (~0.25 s each) — driver-side and independent → build
        // them on a pool like the footer reads.
        val built = {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, combos.size))
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          try Await.result(Future.sequence(combos.map {
            case ((dia, t, y, m), paths) => Future {
              val (lo, hi) = monthBoundsUs(y, m)
              Normalize.readDialect(spark, dia, paths,
                constants = Seq(
                  "type_code" -> lit(typeCode(t)),
                  "exp_start_us" -> lit(lo),
                  "exp_end_us" -> lit(hi)),
                withSrcPath = false)
            }
          }), Duration.Inf)
          finally pool.shutdown()
        }
        Some(built.reduce(_.unionByName(_)))
      } else {
        // many combos: one scan per DIALECT + broadcast (path → meta)
        // join on the raw input_file_name value (keys enumerate every
        // spelling — no per-row path rewrite).
        val byDialect = ok.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
          .sortBy(_._2.head)
        val trips = byDialect
          .map { case (dia, paths) => Normalize.readDialect(spark, dia, paths) }
          .reduce(_.unionByName(_))
        val meta = files.map(PathMeta.fileMeta)
          .flatMap { m =>
            val (lo, hi) = monthBoundsUs(m.expectedYear, m.expectedMonth)
            Normalize.pathKeyVariants(m.path)
              .map(k => (k, typeCode(m.taxiType), lo, hi))
          }
          .toDF("src_path", "type_code", "exp_start_us", "exp_end_us")
        Some(trips.join(broadcast(meta), Seq("src_path")))
      }

    tripsOpt.map { trips =>
      val us = unix_micros(col("pickup_datetime"))
      val pivoted = HourPivot.pivot(
        trips.where(col("pickup_datetime").isNotNull), // errors="coerce" + dropna
        col("pickup_datetime"), Seq("type_code", "place_num", "place_str"),
        dateColName = "date",
        extraAggs = Seq(count(when(
          us < col("exp_start_us") || us >= col("exp_end_us"), 1)).as("__mm")))

      val quality = Observation("quality")
      val groups = Observation("groups")
      val observed = pivoted
        .withColumn("__total", HourPivot.hourCols.map(col).reduce(_ + _))
        .observe(quality,
          coalesce(sum(col("__total")), lit(0L)).as("input_rows"),
          coalesce(sum(col("__mm")), lit(0L)).as("month_mismatch"))
        .observe(groups, count(lit(1)).as("n_groups"))

      val survivors = Observation("survivors")
      val wide = observed
        .where(col("__total") >= minRides)
        // canonical 27-column order (pivot_all_files.py:50-51, :334-339)
        .select((typedLit(types).apply(col("type_code")).as("taxi_type") +:
          col("date") +: Normalize.placeString.as("pickup_place") +:
          HourPivot.hourCols.map(col)): _*)
        // post-filter row count rides the write job — saves the
        // re-read-and-count pass over the output
        .observe(survivors, count(lit(1)).as("n_out"))

      Planned(wide, quality, groups, survivors,
        skippedDet.map(s => (s.path, s.reason)))
    }
  }

  def run(spark: SparkSession, cfg: Config): Report = {
    val t0 = System.nanoTime()
    val phases = Seq.newBuilder[(String, Double)]
    def phase[T](name: String)(body: => T): T = {
      val start = System.nanoTime()
      try body finally phases += name -> (System.nanoTime() - start) / 1e9
    }
    val files = phase("discover") {
      Discovery.selectTripFiles(
        Discovery.discoverParquet(spark, cfg.inputDir), cfg.maxFiles)
    }
    val detected = phase("detect")(Normalize.detectDialects(spark, files))
    val planned = phase("plan") {
      planDetected(spark, files, detected, cfg.minRides, maxConstantScanGroups)
    }
    val outPath = s"${cfg.outputDir}/wide_table.parquet"

    val report = planned match {
      case None =>
        // No usable files: write the canonical empty 27-col table
        // (pivot_all_files.py:317-321).
        import org.apache.spark.sql.types._
        val schema = StructType(
          StructField("taxi_type", StringType) ::
          StructField("date", DateType) ::
          StructField("pickup_place", StringType) ::
          // hour counts are never null, as in the pivot's output
          HourPivot.hourCols.map(h =>
            StructField(h, LongType, nullable = false)).toList)
        phase("write") {
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
            .write.mode("overwrite").parquet(outPath)
        }
        val skipped = files.map(f => (f, "undetectable or unreadable"))
        Report(0L, 0L, 0L, 0L, 0L, skipped, 0.0)
      case Some(p) =>
        val out = if (cfg.singleFileOutput) p.wide.coalesce(1) else p.wide
        phase("write")(out.write.mode("overwrite").parquet(outPath))
        val outputRows = p.survivors.get("n_out").asInstanceOf[Long]
        val q = p.quality.get
        val inputRows = q("input_rows").asInstanceOf[Long]
        val mismatch = q("month_mismatch").asInstanceOf[Long]
        val nGroups = p.groups.get("n_groups").asInstanceOf[Long]
        val dropped = nGroups - outputRows
        Report(inputRows, outputRows, mismatch, dropped,
          mismatch + dropped, p.skipped, 0.0)
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val finalReport = report.copy(runTimeSeconds = elapsed,
      peakMemoryMb = ReportSink.peakHeapMb(), phaseSeconds = phases.result())
    ReportSink.write(finalReport, s"${cfg.outputDir}/${cfg.reportName}")
    finalReport
  }
}
