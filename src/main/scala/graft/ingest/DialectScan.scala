package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex,
  HadoopFsRelation, OutputWriterFactory, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import Normalize.Dialect

/** ONE file scan over trip files of every dialect: a `HadoopFsRelation`
  * whose rows are already in `Normalize.canonicalSchema`, with the
  * per-file metadata as partition columns
  * `(__dialect INT, type_code INT, exp_start_us LONG, exp_end_us LONG)`.
  *
  *  - File index: one partition directory per (dialect, taxi type, month
  *    window), built from the statuses the footer reads already fetched —
  *    planning makes no filesystem call, and Spark sizes one set of
  *    splits over all files (small files pack into few tasks).
  *  - File format: for each file it reads `__dialect` from the file's
  *    partition values, delegates the read to a `ParquetFileFormat`
  *    reader built for that dialect's detected columns, and maps each
  *    row through the dialect's canonical projection. The projection is
  *    `Normalize.canonical`, analyzed and optimized once per dialect on
  *    the driver, bound to the delegate's columns.
  *
  * So the plan has one leaf whatever the number of dialects, files or
  * months: no per-dialect scans, no union, no join for path metadata.
  *
  * Traps the design must respect (each pinned by DialectScanSpec):
  *  - each delegate gets its OWN copy of the Hadoop conf: Parquet's
  *    reader writes its requested schema into the conf it is given, and
  *    in local mode every broadcast of one conf object is that object;
  *  - delegates return rows (`OPTION_RETURNING_BATCH` false): the
  *    projection works row by row;
  *  - data filters arrive in canonical names (`pickup_datetime` is also a
  *    raw FHV column of another type), so none is pushed into a delegate;
  *    Spark re-applies them above the scan;
  *  - partition filters are NOT re-applied above the scan, so the index
  *    prunes by them.
  */
object DialectScan {

  val partitionSchema: StructType = StructType(Seq(
    StructField("__dialect", IntegerType, nullable = false),
    StructField("type_code", IntegerType, nullable = false),
    StructField("exp_start_us", LongType, nullable = false),
    StructField("exp_end_us", LongType, nullable = false)))

  /** Files of one dialect sharing per-file metadata. */
  final case class Group(dialect: Dialect, typeCode: Int,
      expStartUs: Long, expEndUs: Long, files: Seq[FileStatus])

  def apply(spark: SparkSession, groups: Seq[Group]): DataFrame = {
    val dialects = groups.map(_.dialect).distinct
    val code = dialects.zipWithIndex.toMap
    val index = new DialectIndex(groups.map { g =>
      (InternalRow(code(g.dialect), g.typeCode, g.expStartUs, g.expEndUs),
        g.files)
    })
    val format = new DialectFormat(dialects.map(projection(spark, _)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      Normalize.canonicalSchema, None, format, Map.empty)(spark))
  }

  /** A dialect's canonical columns as expressions over its raw columns. */
  private[ingest] final case class DialectProjection(input: Seq[Attribute],
      exprs: Seq[NamedExpression])

  /** `Normalize.canonical` for one dialect, analyzed and optimized (so
    * `try_to_timestamp` and friends are replaced by what they compute)
    * over an empty leaf that is not a local relation — the optimizer
    * would fold a projection over an empty local relation away.
    */
  private def projection(spark: SparkSession, d: Dialect): DialectProjection = {
    val leaf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], d.required)
    leaf.select(Normalize.canonical(d): _*).queryExecution.optimizedPlan match {
      case Project(exprs, child: LeafNode) => DialectProjection(child.output, exprs)
      case other =>
        throw new IllegalStateException(s"DialectScan: no projection in\n$other")
    }
  }
}

private final class DialectIndex(groups: Seq[(InternalRow, Seq[FileStatus])])
    extends FileIndex {
  private val partitions =
    groups.map { case (values, files) => PartitionDirectory(values, files.toArray) }

  override def partitionSchema: StructType = DialectScan.partitionSchema

  override def rootPaths: Seq[Path] =
    groups.flatMap(_._2.map(_.getPath.getParent)).distinct

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = false)
      })
      partitions.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    groups.flatMap(_._2.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = groups.map(_._2.map(_.getLen).sum).sum
}

private final class DialectFormat(dialects: Seq[DialectScan.DialectProjection])
    extends FileFormat with Serializable {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(Normalize.canonicalSchema)

  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("DialectScan is read-only")

  override def isSplitable(spark: SparkSession, options: Map[String, String],
      path: Path): Boolean = true

  override def toString: String = "TripDialects"

  override def buildReaderWithPartitionValues(spark: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val perDialect = dialects.map { d =>
      val wanted = requiredSchema.map(f => d.exprs.find(_.name == f.name).get)
      val refs = AttributeSet(wanted.flatMap(_.references))
      val read = d.input.filter(refs.contains)
      // no filters: they name canonical columns, not this dialect's raw
      // ones; a conf copy each: the reader writes its schema into it
      val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, DataTypeUtils.fromAttributes(d.input), new StructType(),
        DataTypeUtils.fromAttributes(read),
        Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new Configuration(hadoopConf))
      val partitionValues = partitionSchema.fields.indices.map { i =>
        BoundReference(read.size + i, partitionSchema(i).dataType, nullable = false)
      }
      (reader, BindReferences.bindReferences(wanted, read) ++ partitionValues)
    }
    new DialectReader(perDialect.map(_._1).toArray, perDialect.map(_._2).toArray)
  }
}

/** Reads one file with its dialect's delegate and projects each raw row,
  * joined with the file's partition values, to the scan's output row.
  */
private final class DialectReader(
    readers: Array[PartitionedFile => Iterator[InternalRow]],
    projections: Array[Seq[Expression]])
    extends (PartitionedFile => Iterator[InternalRow]) with Serializable {

  // built on first use: every task deserializes its own reader
  @transient private lazy val built = new Array[UnsafeProjection](readers.length)

  override def apply(file: PartitionedFile): Iterator[InternalRow] = {
    val d = file.partitionValues.getInt(0)
    if (built(d) == null) built(d) = UnsafeProjection.create(projections(d))
    val project = built(d)
    val joined = new JoinedRow(InternalRow.empty, file.partitionValues)
    readers(d)(file.copy(partitionValues = InternalRow.empty))
      .map(raw => project(joined.withLeft(raw)))
  }
}
