package graft.ingest

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import SchemaDetector.{Detection, LatLon, LocId}

/** Schema-drift-tolerant ingestion: heterogeneous per-file schemas →
  * one DataFrame with the canonical columns
  * `(pickup_datetime TIMESTAMP, place_num LONG, place_str STRING,
  * src_path STRING)`.
  *
  * Reference behavior: per-file rename + projection + timestamp coercion
  * (/root/reference/pivot_and_boostrap/pivot_all_files.py:100-123,
  * :139-150). Spark-first restatement:
  *
  *  - Footer-only schema reads on the driver (cheap) detect each file's
  *    dialect; undetectable files are skipped and reported, not fatal
  *    (error isolation, pivot_all_files.py:204-216).
  *  - Files are GROUPED BY DIALECT (same detected columns + physical
  *    types) and each group becomes ONE multi-path scan with an aliased
  *    select — so the number of Spark jobs is O(dialects), not O(files).
  *    At 100 TB / thousands of files this is what keeps scheduling and
  *    scan planning sane; a per-file loop of plans would not scale.
  *  - `unionByName` merges the groups; Catalyst pushes the 2-3 column
  *    projection into every parquet scan (the reference reads ALL
  *    columns of every file — pivot_all_files.py:232 — then projects in
  *    pandas; we never deserialize the unused columns at all).
  *
  * Timestamp coercion ladder (reference :139-149, `errors="coerce"`):
  * dispatch on the DETECTED column's physical type —
  *  - timestamp → pass through
  *  - date → midnight UTC of that date (integer days × micros per day,
  *    independent of the session time zone)
  *  - numeric (FHV epoch) → per-row magnitude heuristic: |v| < 1e11 is
  *    epoch SECONDS, else epoch MILLIS. (The reference tries ms first
  *    per column and only falls back on overflow, which silently turns
  *    epoch-seconds into 1970 dates; our spec pins the magnitude rule —
  *    documented divergence. 1e11 s ≈ year 5138, 1e11 ms ≈ 1973.)
  *  - string → `try_to_timestamp` (invalid → NULL, dropped downstream).
  *    A zone-less string is read in the session time zone, which
  *    `Session.builder` sets to UTC.
  *
  * Pickup place, as a group key pair (place_num LONG, place_str STRING):
  *  - integer/decimal location IDs → (id, "") via a LONG cast (so the
  *    place string is "132", never pandas' "132.0");
  *  - a string ID that is the canonical decimal of a long (`try_cast` to
  *    long and back gives the same string) → (id, ""), so "132" from a
  *    string file and 132 from an int file are the same key; any other
  *    string s ("0132", " 132", "Z001") → (0, s), the empty string →
  *    (null, "");
  *  - lat/lon pairs → a string place `round(lat,3) <"_"> round(lon,3)`
  *    with format_number-free plain casts, e.g. "40.721_-74.005";
  *  - a null place → (null, null).
  * `placeString` maps a key pair back to its place string one-to-one,
  * so grouping on the pair groups exactly as grouping on the string
  * would, without a string hash and compare per row for numeric IDs.
  * Neither side is null for a non-empty place: the hash aggregate's
  * fast map takes only rows whose group keys are all non-null.
  */
object Normalize {

  /** One detected schema dialect. `required` holds the EXACT footer
    * types of just the detected columns — it doubles as the explicit
    * read schema (parquet prunes to these columns; files in the group
    * may differ in their other columns) and as the grouping key (same
    * detection + same physical types ⇒ one multi-path scan).
    */
  final case class Dialect(detection: Detection, required: StructType)

  final case class Skipped(path: String, reason: String)

  /** Uniform path key used to join per-file metadata onto rows:
    * scheme + slash-run differences between Hadoop listings
    * ("file:/a/b") and `input_file_name()` ("file:///a/b") collapse to
    * the same key.
    */
  def normPathKey(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")

  /** All spellings of a listing path that `input_file_name()` might
    * report for its rows. The per-row side joins on the RAW
    * input_file_name value and the driver enumerates variants instead —
    * a per-row regexp_replace over 50M rows measured ~30 s, pure
    * overhead (SCALE_NOTES lesson: never spend per-row work to save
    * per-FILE work).
    */
  def pathKeyVariants(p: String): Seq[String] = {
    val noScheme = normPathKey(p)
    Seq(p, noScheme, s"file:$noScheme", s"file://$noScheme",
      s"file:///${noScheme.stripPrefix("/")}").distinct
  }

  private def coerceTimestamp(name: String, t: DataType): Column = t match {
    case _: TimestampType => col(name)
    case _: DateType =>
      timestamp_micros(unix_date(col(name)).cast(LongType) * 86400000000L)
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType =>
      val v = col(name).cast(LongType)
      when(abs(v) < lit(100000000000L), timestamp_seconds(v))
        .otherwise(timestamp_millis(v))
    case _ => expr(s"try_to_timestamp(`$name`)")
  }

  private def placeKey(det: Detection, schema: StructType): (Column, Column) = {
    // a string place s keys as (0, s); the empty string as (null, ""),
    // since (0, "") is the numeric place 0
    def stringKey(s: Column): (Column, Column) = (when(s =!= "", lit(0L)), s)
    det.location match {
      case LocId(name) =>
        schema(name).dataType match {
          case _: NumericType =>
            val n = col(name).cast(LongType)
            (n, when(n.isNotNull, lit("")))
          case _ =>
            val s = col(name).cast(StringType)
            val n = s.try_cast(LongType)
            val canonical = coalesce(n.cast(StringType) === s, lit(false))
            val (sNum, sStr) = stringKey(s)
            (when(canonical, n).otherwise(sNum),
              when(canonical, lit("")).otherwise(sStr))
        }
      case LatLon(lat, lon) =>
        stringKey(concat_ws("_",
          round(col(lat).cast(DoubleType), 3).cast(StringType),
          round(col(lon).cast(DoubleType), 3).cast(StringType)))
    }
  }

  /** The place string of a (place_num, place_str) key pair. */
  val placeString: Column =
    when(col("place_str") === "",
      coalesce(col("place_num").cast(StringType), lit("")))
      .otherwise(col("place_str"))

  /** Read one dialect group (all files share detected columns + types)
    * as a single multi-path scan, normalized to the canonical schema.
    * `constants` lets the caller inline per-group metadata as literal
    * columns — when a group's files share taxi_type/month, the rows
    * need no `input_file_name()` and no metadata join at all.
    */
  def readDialect(spark: SparkSession, dialect: Dialect, paths: Seq[String],
      constants: Seq[(String, Column)] = Nil,
      withSrcPath: Boolean = true): DataFrame = {
    // explicit schema (the detected columns with their exact footer
    // types): skips the reader's inference pass entirely AND prunes the
    // scan to the needed columns at the source
    val df = spark.read.schema(dialect.required).parquet(paths: _*)
    val schema = dialect.required
    val dtName = dialect.detection.dtCol
    val (placeNum, placeStr) = placeKey(dialect.detection, schema)
    val base = Seq(
      coerceTimestamp(dtName, schema(dtName).dataType).as("pickup_datetime"),
      placeNum.as("place_num"), placeStr.as("place_str"))
    val src = if (withSrcPath) Seq(input_file_name().as("src_path")) else Nil
    val consts = constants.map { case (n, c) => c.as(n) }
    df.select(base ++ src ++ consts: _*)
  }

  /** Detect every file's dialect. Footer reads are driver-side but
    * independent — run them on a bounded pool. They go through
    * `Footers.schemaOf` (direct parquet-hadoop footer read: one status
    * lookup, one open, the footer bytes, over the session's Hadoop conf),
    * NOT `spark.read.parquet(f).schema` (FileIndex + datasource
    * resolution + inference, ~1 s cold, measured ~5 s of pure driver
    * overhead on a 4-group input). This is the per-file driver work
    * that scales with the file count, so it stays metadata-only (see
    * Footers for what that takes).
    */
  def detectDialects(spark: SparkSession, files: Seq[String]): (Seq[(Dialect, String)], Seq[Skipped]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, math.max(4, files.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // one Configuration per detection task: Hadoop Configuration is not
    // safe for concurrent mutation, and FileSystem init can write to it
    val hadoopConfBase = spark.sessionState.newHadoopConf()
    val detected: Seq[Either[Skipped, (Dialect, String)]] =
      try Await.result(Future.sequence(files.map { f =>
        Future {
          Try(Footers.schemaOf(new org.apache.hadoop.conf.Configuration(
              hadoopConfBase), f)).toEither.left
            .map(e => Skipped(f, s"unreadable: ${e.getMessage}"))
            .flatMap { schema =>
              SchemaDetector.detect(schema) match {
                case Right(det) =>
                  val requiredNames = det.dtCol +: (det.location match {
                    case LocId(n) => Seq(n)
                    case LatLon(lat, lon) => Seq(lat, lon)
                  })
                  val required = StructType(
                    requiredNames.map(n => schema(n).copy(nullable = true)))
                  Right((Dialect(det, required), f))
                case Left(reason) => Left(Skipped(f, reason))
              }
            }
        }
      }), Duration.Inf)
      finally pool.shutdown()
    (detected.collect { case Right(x) => x },
      detected.collect { case Left(s) => s })
  }
}
