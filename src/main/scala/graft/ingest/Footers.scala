package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** Direct parquet footer → Spark schema, bypassing the DataFrameReader.
  *
  * `spark.read.parquet(f).schema` costs a FileIndex listing + datasource
  * resolution + an inference pass per call (~1 s each cold); schema-only
  * detection over many files needs none of that. Reading the footer with
  * parquet-hadoop and converting with Spark's own
  * ParquetToSparkSchemaConverter returns the identical StructType (same
  * converter Spark's scan uses).
  * The reference's equivalent is `_read_schema_only`
  * (pivot_and_boostrap/pivot_all_files.py:87-97).
  *
  * The per-file cost is one status lookup, one open and the footer
  * bytes, because the reader is built from the caller's `conf` and the
  * status already in hand: `ParquetFileReader.open(InputFile)` alone
  * builds its read options over a fresh `new Configuration()`, which
  * finds and parses `core-default.xml`/`core-site.xml` on the classpath
  * again for every file, and `HadoopInputFile.fromPath` repeats the
  * status lookup.
  */
object Footers {

  /** Converter matching Spark's read-path defaults (binary→string off,
    * int96→timestamp on, nanos stay long — `Tables.events` handles the
    * rebuild for nanos inputs).
    */
  private def converter(nanosAsLong: Boolean) =
    new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = true,
      assumeInt96IsTimestamp = true,
      caseSensitive = false,
      inferTimestampNTZ = false,
      nanosAsLong = nanosAsLong)

  /** Schema of one parquet file, or of the first data part when `path`
    * is a directory-style dataset (part files sorted by name for
    * determinism; `_SUCCESS`/hidden files skipped).
    */
  def schemaOf(conf: Configuration, path: String,
      nanosAsLong: Boolean = false): StructType =
    dataFilesAndSchema(conf, path, nanosAsLong)._2

  /** The data files `path` names — itself, or a directory dataset's
    * part files in name order — with the schema of the first. The
    * statuses are the ones the footer read already fetched, so a scan
    * can be planned over them with no further filesystem call.
    */
  def dataFilesAndSchema(conf: Configuration, path: String,
      nanosAsLong: Boolean = false): (Seq[FileStatus], StructType) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val dataFiles =
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .sortBy(_.getPath.getName)
    val first = dataFiles.headOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no data files under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf),
      HadoopReadOptions.builder(conf).build())
    try (dataFiles, converter(nanosAsLong)
      .convert(reader.getFooter.getFileMetaData.getSchema))
    finally reader.close()
  }
}
