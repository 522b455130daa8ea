package graft.ingest

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import SchemaDetector.{Detection, LatLon, LocId}

/** Schema-drift-tolerant ingestion: heterogeneous per-file schemas →
  * the canonical columns
  * `(pickup_datetime TIMESTAMP, place_num LONG, place_str STRING)`.
  *
  * Reference behavior: per-file rename + projection + timestamp coercion
  * (/root/reference/pivot_and_boostrap/pivot_all_files.py:100-123,
  * :139-150). Spark-first restatement:
  *
  *  - Footer-only schema reads on the driver (cheap) detect each file's
  *    dialect; undetectable files are skipped and reported, not fatal
  *    (error isolation, pivot_all_files.py:204-216).
  *  - A dialect is the detected columns with their exact footer types.
  *    `canonical` gives its projection onto the canonical columns, and
  *    [[DialectScan]] reads every detected file in ONE file scan that
  *    applies each file's projection — one plan leaf and one set of
  *    splits whatever the number of dialects, files or months. Each
  *    file is read pruned to its 2-3 detected columns (the reference
  *    reads ALL columns of every file — pivot_all_files.py:232 — then
  *    projects in pandas; we never deserialize the unused columns).
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
  *  - a string ID that is the canonical decimal of a long (cast to long
  *    and back gives the same string) → (id, ""), so "132" from a string
  *    file and 132 from an int file are the same key; any other string
  *    s ("0132", " 132", "-0", "Z001") → (0, s), the empty string →
  *    (null, ""). Only strings matching `-?[0-9]{1,19}` reach the cast:
  *    every `Long.toString` matches, so the guard never hides a
  *    canonical ID, and a non-numeric place never takes the cast's
  *    throw-and-catch path;
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
    * types of just the detected columns — it doubles as the read schema
    * (parquet prunes to these columns; files of one dialect may differ
    * in their other columns) and as the dialect's identity (same
    * detection + same physical types ⇒ same projection).
    */
  final case class Dialect(detection: Detection, required: StructType)

  /** A usable input: `path` as given, its dialect, and the statuses of
    * the data files it names (the file itself, or a dataset directory's
    * part files) — fetched by the footer read and reused by the scan.
    */
  final case class Detected(dialect: Dialect, path: String, files: Seq[FileStatus])

  final case class Skipped(path: String, reason: String)

  /** The columns every dialect is projected onto. */
  val canonicalSchema: StructType = StructType(Seq(
    StructField("pickup_datetime", TimestampType),
    StructField("place_num", LongType),
    StructField("place_str", StringType)))

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
            val n = when(s.rlike("^-?[0-9]{1,19}$"), s.try_cast(LongType))
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

  /** The dialect's projection onto `canonicalSchema`, in its order,
    * over columns named as in `dialect.required`.
    */
  def canonical(dialect: Dialect): Seq[Column] = {
    val schema = dialect.required
    val dtName = dialect.detection.dtCol
    val (placeNum, placeStr) = placeKey(dialect.detection, schema)
    Seq(coerceTimestamp(dtName, schema(dtName).dataType), placeNum, placeStr)
      .zip(canonicalSchema)
      .map { case (c, f) => c.cast(f.dataType).as(f.name) }
  }

  /** Detect every file's dialect. Footer reads are driver-side but
    * independent — run them on a bounded pool. They go through
    * `Footers.dataFilesAndSchema` (direct parquet-hadoop footer read: one
    * status lookup, one open, the footer bytes, over the session's Hadoop
    * conf; the statuses come back for the scan to plan over),
    * NOT `spark.read.parquet(f).schema` (FileIndex + datasource
    * resolution + inference, ~1 s cold, measured ~5 s of pure driver
    * overhead on a 4-group input). This is the per-file driver work
    * that scales with the file count, so it stays metadata-only (see
    * Footers for what that takes).
    */
  def detectDialects(spark: SparkSession, files: Seq[String]): (Seq[Detected], Seq[Skipped]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, math.max(4, files.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // one Configuration per detection task: Hadoop Configuration is not
    // safe for concurrent mutation, and FileSystem init can write to it
    val hadoopConfBase = spark.sessionState.newHadoopConf()
    val detected: Seq[Either[Skipped, Detected]] =
      try Await.result(Future.sequence(files.map { f =>
        Future {
          Try(Footers.dataFilesAndSchema(new Configuration(hadoopConfBase), f))
            .toEither.left
            .map(e => Skipped(f, s"unreadable: ${e.getMessage}"))
            .flatMap { case (dataFiles, schema) =>
              SchemaDetector.detect(schema) match {
                case Right(det) =>
                  val requiredNames = det.dtCol +: (det.location match {
                    case LocId(n) => Seq(n)
                    case LatLon(lat, lon) => Seq(lat, lon)
                  })
                  val required = StructType(
                    requiredNames.map(n => schema(n).copy(nullable = true)))
                  Right(Detected(Dialect(det, required), f, dataFiles))
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
