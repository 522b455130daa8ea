package graft.ingest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** File discovery over any Hadoop-supported filesystem (file://, s3a://,
  * hdfs://…) — one code path replaces the reference's separate local /
  * s3fs / PyArrow-FS branches (pivot_utils.py:261-297) and its shell-out
  * S3 upload (credentials, listing, retries are Hadoop-FS concerns).
  *
  * The listing is driver-side and deliberate: per-file schema detection
  * needs explicit paths (a naive `spark.read.parquet(dir)` can't rename
  * columns per file). At 100 TB / O(100k) files a driver listing is still
  * fine (strings only); the subsequent scan is ONE file scan over every
  * detected file, planned from the footer reads' statuses without
  * listing again — see DialectScan.
  *
  * Listing cost is per file, so it must stay metadata-only. Hadoop's
  * recursive `FileSystem.listFiles` wraps every status in a
  * `LocatedFileStatus`, whose constructor reads permission, owner and
  * group; on the local filesystem without Hadoop's native IO library
  * each of those reads forks a shell `stat` (measured on a 4-core Linux
  * VM: 0.63 s for 202 files, vs 0.007 s for a plain `listStatus` walk).
  * `leafFiles` is that walk; Spark's `HadoopFSUtils` builds its located
  * statuses without permission fields for the same reason.
  *
  * On object stores the walk issues one LIST per directory where S3A's
  * `listFiles` would page through one flat listing; the footer reads
  * already make one status request per file, so this does not change
  * the order of requests.
  */
object Discovery {

  /** Every non-directory status under `root`, depth-first in listing
    * order — the statuses recursive `listFiles` yields, without
    * reading permission or owner. A file `root` yields itself; a
    * missing one throws `FileNotFoundException`.
    */
  def leafFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isFile) out += st else walk(st.getPath)
    }
    walk(root)
    out.result()
  }

  /** Recursive `*.parquet` listing, sorted for determinism
    * (pivot_utils.py:275,289,297). Single-file paths pass through.
    */
  def discoverParquet(spark: SparkSession, inputPath: String): Seq[String] = {
    val p = new Path(inputPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    if (fs.getFileStatus(p).isFile) {
      return if (inputPath.toLowerCase.endsWith(".parquet")) Seq(fs.makeQualified(p).toString)
             else Seq.empty
    }
    leafFiles(fs, p)
      .map(_.getPath)
      .filter(_.getName.toLowerCase.endsWith(".parquet"))
      .map(_.toString)
      .sorted
  }

  /** Trip-data filter + priority sort + head-N, mirroring
    * pivot_all_files.py:401 (keep "tripdata" paths), :406 (yellow/green
    * before fhv — standard datetime columns first), :407-409 (--max-files).
    */
  def selectTripFiles(files: Seq[String], maxFiles: Option[Int] = None): Seq[String] = {
    val trips = files.filter(_.toLowerCase.contains("tripdata"))
    val sorted = trips.sortBy { f =>
      val l = f.toLowerCase
      (if (l.contains("yellow") || l.contains("green")) 0 else 1, f)
    }
    maxFiles.fold(sorted)(sorted.take)
  }
}
