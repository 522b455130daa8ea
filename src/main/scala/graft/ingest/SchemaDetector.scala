package graft.ingest

import org.apache.spark.sql.types.StructType

/** Schema-drift detection: NYC-TLC-style files disagree on column names
  * across years/types, so the pickup-datetime and pickup-location columns
  * are detected per file against ordered candidate lists, then fuzzy
  * substring match.
  *
  * Behavioral spec from the reference:
  *  - datetime candidates + fuzzy pickup/request match:
  *    /root/reference/pivot_and_boostrap/pivot_utils.py:19-62
  *  - location candidates + fuzzy pickup/pu_ match: pivot_utils.py:65-105
  *  - lat/lon pair fallback: pivot_utils.py:108-138
  *
  * Driver-side only: runs over the `StructType` of a file's own footer
  * (`Footers.dataFilesAndSchema`) — no data scan, no Catalyst
  * extension. Matching is case-insensitive but returns the original
  * column name (needed for the aliased select).
  */
object SchemaDetector {

  /** Where the pickup location comes from for a given file. */
  sealed trait LocationSpec
  /** A location-ID column (PULocationID etc.) — cast to string. */
  final case class LocId(col: String) extends LocationSpec
  /** Legacy lat/lon pair — bucketed to a `round3(lat)_round3(lon)` key. */
  final case class LatLon(lat: String, lon: String) extends LocationSpec
  /** Detected datetime + location for one file. */
  final case class Detection(dtCol: String, location: LocationSpec)

  private val dtCandidates = Seq(
    "pickup_datetime", "tpep_pickup_datetime", "lpep_pickup_datetime",
    "trip_pickup_datetime", "pickup_datetime_utc", "pickup_date",
    "pickup_time", "request_datetime", "request_date")

  private val locCandidates = Seq(
    "pulocationid", "pu_location_id", "pickup_location_id",
    "pickup_location", "pickup_locationid", "pickup_zone_id", "pu_zone",
    "origin_location_id", "location_id")

  private val latCandidates = Set(
    "start_lat", "start_latitude", "pickup_lat", "pickup_latitude",
    "origin_lat")
  private val lonCandidates = Set(
    "start_lon", "start_longitude", "pickup_lon", "pickup_longitude",
    "origin_lon")

  private def firstMatch(cols: Seq[String], candidates: Seq[String]): Option[String] = {
    val lower = cols.map(_.toLowerCase)
    candidates.collectFirst {
      case c if lower.contains(c) => cols(lower.indexOf(c))
    }
  }

  def findPickupDatetime(cols: Seq[String]): Option[String] =
    firstMatch(cols, dtCandidates)
      .orElse(cols.find { c =>
        val n = c.toLowerCase
        n.contains("pickup") &&
          (n.contains("datetime") || n.contains("date") || n.contains("time"))
      })
      .orElse(cols.find { c =>
        val n = c.toLowerCase
        n.contains("request") &&
          (n.contains("datetime") || n.contains("date") || n.contains("time"))
      })

  def findPickupLocation(cols: Seq[String]): Option[String] =
    firstMatch(cols, locCandidates)
      .orElse(cols.find { c =>
        val n = c.toLowerCase
        n.contains("pickup") && (n.contains("location") || n.contains("zone"))
      })
      .orElse(cols.find { c =>
        val n = c.toLowerCase
        n.contains("pu_") && (n.contains("location") || n.contains("zone"))
      })

  def findLatLon(cols: Seq[String]): Option[(String, String)] = {
    val lat = cols.find(c => latCandidates.contains(c.toLowerCase))
    val lon = cols.find(c => lonCandidates.contains(c.toLowerCase))
    (lat, lon) match {
      case (Some(a), Some(o)) => Some((a, o))
      case _ => None
    }
  }

  /** Detect against a schema; Left(reason) when the file is unusable.
    * Mirrors process_single_file's precedence: location-ID first, then
    * lat/lon pair (pivot_all_files.py:191-216). Undetectable files are
    * skipped (counted in the report), not fatal — the reference's
    * error-isolation contract.
    */
  def detect(schema: StructType): Either[String, Detection] =
    detect(schema.fields.map(_.name).toSeq)

  def detect(cols: Seq[String]): Either[String, Detection] = {
    val dt = findPickupDatetime(cols)
    val loc: Option[LocationSpec] = findPickupLocation(cols).map(LocId)
      .orElse(findLatLon(cols).map { case (a, o) => LatLon(a, o) })
    (dt, loc) match {
      case (Some(d), Some(l)) => Right(Detection(d, l))
      case _ =>
        Left("missing pickup datetime or location (PULocationID or Start_Lat/Start_Lon)")
    }
  }
}
