package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-files compaction — the operational fix for the classic
  * many-tiny-parquet-files problem (every micro-batch sink, incremental
  * month directory, or over-parallel write produces them; at 100 TB the
  * NameNode/listing pressure and per-file open cost dominate scans long
  * before data volume does).
  *
  * Target file count = ceil(actual dataset bytes / targetFileBytes),
  * measured from the file listing (cheap, driver-side) — NOT from
  * `spark.sql.files.maxPartitionBytes` heuristics, which see compressed
  * input splits, not output sizing. The rewrite is one
  * `repartition(n)` round-robin shuffle: even output sizes, no skewed
  * final file. With a `sortBy` column list the shuffle becomes a
  * range-partitioned sort so each output file covers a key range —
  * min/max footer stats then let readers skip whole files (poor man's
  * clustering; the layout lever behind data-skipping indexes).
  */
object Compaction {

  /** Total bytes of data files under a path (driver-side listing). */
  def datasetBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ingest.Discovery.leafFiles(fs, p).filter { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getLen).sum
  }

  /** Rewrite `inDir` (parquet) into `outDir` as ~targetFileBytes files.
    * Returns the chosen file count.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0)
    val bytes = datasetBytes(spark, inDir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inDir)
    val shaped: DataFrame =
      if (sortBy.isEmpty) df.repartition(n)
      else df.repartitionByRange(n, sortBy.map(df.col): _*)
        .sortWithinPartitions(sortBy.map(df.col): _*)
    shaped.write.mode("overwrite").parquet(outDir)
    n
  }

  /** Morton (z-order) interleave of per-column quantile-cell ids —
    * the MULTI-column clustering `sortBy` can't give: a linear sort
    * clusters its leading column only, so footer min/max skipping
    * works for one predicate; interleaving `bits` bits per column
    * makes every output file a small hyper-rectangle in ALL zCols, so
    * a selective filter on ANY of them skips most files. Cells come
    * from approxQuantile cuts (driver-side, 2^bits−1 doubles per
    * column) so skewed distributions still fill cells evenly; the cell
    * lookup is a map-side literal-array filter HOF, and the interleave
    * plain bit ops — nothing shuffles until the final range partition.
    */
  def zOrderValue(df: DataFrame, zCols: Seq[String],
      bits: Int = 8): Column = {
    require(zCols.size >= 2, "z-order needs at least two columns")
    require(bits >= 1 && bits * zCols.size <= 62)
    val nCells = 1 << bits
    val probs = (1 until nCells).map(_.toDouble / nCells).toArray
    val cells = zCols.map { c =>
      val cuts = df.stat.approxQuantile(c, probs, 0.001)
      size(filter(typedlit(cuts.toSeq),
        x => x < col(c).cast("double"))).cast("long")
    }
    val k = zCols.size
    (0 until bits).flatMap { i =>
      cells.zipWithIndex.map { case (cell, j) =>
        shiftleft(shiftright(cell, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
  }

  /** Compact + z-order cluster `inDir` into `outDir`: ~targetFileBytes
    * files, each covering a small rectangle in every zCol (footer
    * min/max skipping for any single-column predicate). Returns the
    * file count.
    */
  def compactZOrder(spark: SparkSession, inDir: String, outDir: String,
      zCols: Seq[String], targetFileBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8): Int = {
    require(targetFileBytes > 0)
    val bytes = datasetBytes(spark, inDir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inDir)
    df.withColumn("__z", zOrderValue(df, zCols, bits))
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
    n
  }
}
