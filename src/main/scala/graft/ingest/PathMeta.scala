package graft.ingest

/** Path-derived file metadata: taxi type from the filename and expected
  * (year, month) from the path.
  *
  * Behavioral spec: /root/reference/pivot_and_boostrap/pivot_utils.py
  * :141-154 (taxi type precedence yellow → green → fhv → unknown) and
  * :157-176 (month regex precedence: hive-style `year=YYYY/month=MM`,
  * then `YYYY-MM` anchored at `.parquet`/`/`/end, then loose `YYYY-MM`).
  *
  * Driver-side pure functions. In-plan they ride along as the partition
  * values of each file's group in the one DialectScan — see
  * WideTablePipeline — rather than as a per-row path function or a join.
  */
object PathMeta {

  final case class FileMeta(path: String, taxiType: String,
      expectedYear: Int, expectedMonth: Int)

  def taxiType(path: String): String = {
    val p = path.toLowerCase
    if (p.contains("yellow")) "yellow"
    else if (p.contains("green")) "green"
    else if (p.contains("fhv")) "fhv"
    else "unknown"
  }

  private val hiveRe = "(?i)year[=_]?(\\d{4})[/_]month[=_]?(\\d{1,2})".r
  private val anchoredRe = "(?i)(\\d{4})[-_](\\d{1,2})(?:\\.parquet|/|$)".r
  private val looseRe = "(\\d{4})[-_](\\d{1,2})".r

  def monthFromPath(path: String): Option[(Int, Int)] = {
    val p = path.replace('\\', '/')
    (hiveRe.findFirstMatchIn(p) orElse anchoredRe.findFirstMatchIn(p)
      orElse looseRe.findFirstMatchIn(p))
      .map(m => (m.group(1).toInt, m.group(2).toInt))
  }

  /** Expected month defaults to (0,0) when not inferrable — every row
    * then counts as a month mismatch only if its year/month != 0, i.e.
    * always, matching the reference (pivot_all_files.py:179-182).
    */
  def fileMeta(path: String): FileMeta = {
    val (y, m) = monthFromPath(path).getOrElse((0, 0))
    FileMeta(path, taxiType(path), y, m)
  }
}
