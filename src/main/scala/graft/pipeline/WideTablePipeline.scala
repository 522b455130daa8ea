package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{DialectScan, Discovery, Normalize, PathMeta}
import graft.ops.HourPivot

/** The reference's end-to-end pipeline
  * (/root/reference/pivot_and_boostrap/pivot_all_files.py:366-550) as a
  * SINGLE lazy Spark plan:
  *
  *   discover → detect dialects (driver footer reads) → one DialectScan
  *   over every usable file (canonical columns + per-file metadata as
  *   partition values) → drop bad timestamps → hour pivot +
  *   month-mismatch count (one hash agg) → observe(quality, groups)
  *   → min-rides filter → place/type strings → observe(survivors)
  *   → write
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
  * Per-file metadata (taxi type, expected month window) is computed on
  * the driver from each path (PathMeta) and rides the scan as partition
  * values of the file's group — arbitrary driver-side path logic, no
  * per-row path string, no join.
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

  def plan(spark: SparkSession, files: Seq[String], minRides: Long): Option[Planned] =
    planDetected(spark, Normalize.detectDialects(spark, files), minRides)

  /** `plan` over files `Normalize.detectDialects` already detected. */
  private def planDetected(spark: SparkSession,
      detected: (Seq[Normalize.Detected], Seq[Normalize.Skipped]),
      minRides: Long): Option[Planned] = {
    val (ok, skippedDet) = detected
    val metaOf = ok.map(d => d.path -> PathMeta.fileMeta(d.path)).toMap
    val types = metaOf.values.map(_.taxiType).toSeq.distinct.sorted
    val typeCode = types.zipWithIndex.toMap
    val groups = ok
      .groupBy { d =>
        val m = metaOf(d.path)
        (d.dialect, m.taxiType, m.expectedYear, m.expectedMonth)
      }
      .toSeq.sortBy(_._2.head.path)
      .map { case ((dialect, t, y, m), members) =>
        val (lo, hi) = monthBoundsUs(y, m)
        DialectScan.Group(dialect, typeCode(t), lo, hi, members.flatMap(_.files))
      }

    Option.when(groups.nonEmpty)(DialectScan(spark, groups)).map { trips =>
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
    val planned = phase("plan")(planDetected(spark, detected, cfg.minRides))
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
        Report(0L, 0L, 0L, 0L, 0L,
          detected._2.map(s => (s.path, s.reason)), 0.0)
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
