package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataStructField, FileSourceMetadataAttribute}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.DataSkipping
import graft.sinks.DataSkipping.FileStats

/** CATALYST-NATIVE manifest-table scan — the TahoeFileIndex
  * architecture from the open lake formats, reduced to its core: a
  * custom [[FileIndex]] whose `listFiles` consults the manifest's
  * per-file statistics, wrapped in a standard parquet
  * [[HadoopFsRelation]]. The payoff over the API-level
  * `ManifestTable.readWhere` is composability: the result is ONE
  * ordinary parquet relation, so a plain `.filter(...)` — or a filter
  * Catalyst pushes down from a join, a view, or SQL — arrives at
  * `listFiles` as resolved split conjuncts and prunes FILES before any
  * task is planned, with partition pruning and parquet row-group
  * pushdown still applying inside the survivors. `.explain` shows a
  * single FileScan with PushedFilters, and the whole plan stays inside
  * whole-stage codegen.
  *
  * The index is pinned to ONE resolved snapshot (files are immutable;
  * `refresh()` is a no-op) — the reader-side half of snapshot
  * isolation. Partition values come from the manifest file paths,
  * typed by the recorded schema (by inference where it has no
  * codec), so Hive layouts work without a catalog. The data schema is
  * the schema the manifest records, which `ManifestTable` passes in
  * physical names: the parquet reader widens narrow file types
  * natively and fills a column older files lack with its
  * EXISTS_DEFAULT or null. Every `ManifestTable` snapshot read, the
  * DSv2 catalog and the streaming source plan over this relation.
  *
  * Each row names its file as the manifest writes it: the scan serves
  * the file's rel path as the per-file constant `_metadata.graft_file`
  * ([[FileField]]), beside parquet's own `_metadata.row_index`. That
  * pair is the lake's one row identity: deletion vectors, row-level
  * commits, the change feed and `analyze` key by it, and it survives a
  * move of the table root because no root is in it.
  *
  * Lives in the `org.apache.spark.sql` package for the same reason the
  * lake formats' equivalents do: [[HadoopFsRelation]]/[[FileIndex]]
  * are `private[sql]` extension points.
  */
object GraftManifestScan {

  /** One manifest data file: its manifest entry (`rel`), its location,
    * its manifest statistics and its partition values in `partCols`
    * order (None = null). Its status is built from the location and the
    * recorded byte size, so planning a scan lists nothing; it carries
    * no modification time (`_metadata.file_modification_time` reads the
    * epoch).
    */
  final case class ManifestFile(rel: String, path: Path, stats: FileStats,
      partValues: Seq[Option[String]]) {
    val status: FileStatus = new FileStatus(stats.bytes, false, 1, 0L, 0L, path)
  }

  /** The `_metadata` field that carries each row's manifest rel path. */
  val FileField = "graft_file"

  /** Parquet whose `_metadata` also holds [[FileField]], a per-file
    * constant the index attaches to each listed file.
    */
  final class ManifestParquetFormat extends ParquetFileFormat {
    override def metadataSchemaFields: Seq[StructField] =
      super.metadataSchemaFields :+
        FileSourceConstantMetadataStructField(FileField, StringType, nullable = false)
  }

  /** Infer a partition column's type from its distinct string values —
    * Spark's own ladder truncated to the cases partition dirs actually
    * produce here: all-int → IntegerType, all-long → LongType, else
    * StringType.
    */
  private def inferType(values: Seq[String]): DataType = {
    def all(p: String => Boolean) = values.nonEmpty && values.forall(p)
    if (all(v => v.toIntOption.isDefined)) IntegerType
    else if (all(v => v.toLongOption.isDefined)) LongType
    else StringType
  }

  private def toCatalyst(v: Option[String], dt: DataType): Any = v match {
    case None => null
    case Some(s) => dt match {
      case ByteType => java.lang.Byte.valueOf(s.toByte)
      case ShortType => java.lang.Short.valueOf(s.toShort)
      case IntegerType => java.lang.Integer.valueOf(s.toInt)
      case LongType => java.lang.Long.valueOf(s.toLong)
      case FloatType => java.lang.Float.valueOf(s.toFloat)
      case DoubleType => java.lang.Double.valueOf(s.toDouble)
      case BooleanType => java.lang.Boolean.valueOf(s.toBoolean)
      // Catalyst internal for DateType is days-since-epoch Int — a
      // date-partitioned layout gets TYPED partition pruning instead
      // of scanning the column as strings (ADVICE r11)
      case DateType =>
        java.lang.Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case _ => UTF8String.fromString(s)
    }
  }

  /** The stats-pruning [[FileIndex]]: `listFiles` keeps a file only if
    * every pushed conjunct MAY match its manifest ranges
    * ([[DataSkipping.mayMatch]] — partition values are part of the
    * stats, so partition and data predicates prune through one walk).
    */
  final class ManifestFileIndex(
      tableRoot: Path,
      files: Seq[ManifestFile],
      val partitionSchema: StructType,
      recordedSchema: StructType) extends FileIndex {

    override def rootPaths: Seq[Path] = Seq(tableRoot)

    private val partTypes = partitionSchema.fields.map(_.dataType).toSeq

    private[sql] def partRow(f: ManifestFile): Seq[Any] =
      f.partValues.zip(partTypes).map { case (v, dt) => toCatalyst(v, dt) }

    // one-entry memo: the planner asks the same pinned-snapshot index
    // the same question more than once per query (FileSourceStrategy,
    // estimateStatistics) — and the bloom tier does real sidecar I/O,
    // which should run once. Keyed on the filters' rendering; sound
    // because the snapshot is immutable and pruning is deterministic.
    @volatile private var lastCall
      : Option[(String, Seq[PartitionDirectory])] = None

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val memoKey = (partitionFilters ++ dataFilters).map(_.toString)
        .mkString(";")
      lastCall match {
        case Some((k, res)) if k == memoKey => return res
        case _ => ()
      }
      // partitionFilters are a CORRECTNESS contract, not an
      // optimization: FileSourceStrategy REMOVES partition-only
      // predicates from the post-scan Filter, trusting the index to
      // apply them exactly — best-effort stats pruning here would
      // return unfiltered rows for any shape DataSkipping cannot
      // prove (modulus, UDF, unknown range). Evaluate them the way
      // PartitioningAwareFileIndex does: bind to the partition row
      // and eval per file. (Dynamic pruning filters are stripped by
      // FileSourceScanExec before this call.)
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference => CAttr, BoundReference, Predicate => CPredicate}
      val exactPart: Option[org.apache.spark.sql.catalyst.expressions.BasePredicate] =
        partitionFilters.reduceOption(CAnd).map { pred =>
          CPredicate.createInterpreted(pred.transform {
            case a: CAttr =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        }
      // dataFilters stay in the post-scan Filter too, so manifest
      // statistics may prune them best-effort (fail-open is safe).
      // Generated-column derivation rides here: a data filter on the
      // SOURCE column of a generated PARTITION column implies bounds
      // on the partition value (`WHERE ts >= X` prunes `dt =
      // to_date(ts)` dirs) — prune-only conjuncts, the row filter
      // stays the original
      // a conjunct over `_metadata` (a file's own name or path) names
      // no stats column: it stays in the post-scan Filter, never pruned
      val normConjuncts = dataFilters.filterNot(_.references.exists(a =>
        FileSourceMetadataAttribute.isValid(a.metadata)))
        .map(DataSkipping.normalize)
      val statConjuncts = normConjuncts ++ normConjuncts.flatMap(c =>
        graft.sinks.GeneratedPruning.derive(SparkSession.active,
          recordedSchema, partitionSchema.fieldNames.toSeq, c))
      val rangeKept = files.filter { f =>
        lazy val row = InternalRow.fromSeq(partRow(f))
        exactPart.forall(_.eval(row)) &&
          statConjuncts.forall(c => DataSkipping.mayMatch(f.stats, c))
      }
      // BLOOM tier (same fail-open contract): when surviving files
      // carry filters for an equality/IN conjunct's column, the
      // point-lookup pruning the native readWhere does also serves
      // SQL text through this index — planning-time sidecar reads,
      // exactly the Delta/Iceberg index-lookup shape
      val kept =
        if (statConjuncts.isEmpty ||
          !rangeKept.exists(_.stats.bloom.nonEmpty)) rangeKept
        else {
          val pred = statConjuncts.reduce(
            org.apache.spark.sql.catalyst.expressions.And(_, _))
          val keptRels = graft.sinks.ManifestTable.bloomPrune(
            SparkSession.active, tableRoot, rangeKept.map(_.rel),
            rangeKept.map(f => f.rel -> f.stats).toMap, pred).toSet
          rangeKept.filter(f => keptRels.contains(f.rel))
        }
      val res = kept.groupBy(partRow).toSeq
        .sortBy(_._2.head.rel)
        .map { case (values, fs) =>
          PartitionDirectory(InternalRow.fromSeq(values),
            fs.map(f => FileStatusWithMetadata(f.status,
              Map(FileField -> UTF8String.fromString(f.rel)))))
        }
      lastCall = Some((memoKey, res))
      res
    }

    override def inputFiles: Array[String] =
      files.map(_.status.getPath.toString).toArray

    override def refresh(): Unit = () // pinned snapshot; files immutable

    override def sizeInBytes: Long = files.map(_.status.getLen).sum
  }

  /** The (data, partition) schemas of a resolved snapshot — shared by
    * the relation builder and the DSv2 catalog table. Partition types
    * come from the recorded schema when the dir-string codec covers
    * them, else from value inference; the data schema is the recorded
    * schema minus partition columns, relaxed to nullable for
    * add-column evolution.
    */
  private[sql] def schemasOf(files: Seq[ManifestFile], partCols: Seq[String],
      recordedSchema: StructType): (StructType, StructType) = {
    val partitionSchema = StructType(partCols.zipWithIndex.map {
      case (c, i) =>
        // the recorded schema knows the TRUE partition type; fall back
        // to value inference for types the dir-string codec lacks
        val dt = recordedSchema.fields.find(_.name == c)
          .map(_.dataType) match {
          case Some(t @ (ByteType | ShortType | IntegerType | LongType |
              FloatType | DoubleType | BooleanType | DateType |
              StringType)) => t
          // no dir-string codec (timestamp zone semantics, decimal
          // scale): fall back to inference so both read paths at least
          // agree on the inferable cases
          case _ => inferType(files.flatMap(_.partValues(i)))
        }
        StructField(c, dt)
    })
    // asNullable: a column added by evolution is ABSENT from older
    // files — the scan can only fill nulls if the read schema allows
    // them (the same relaxation Spark's file-source resolution applies)
    val dataSchema = StructType(recordedSchema.fields
      .filterNot(f => partCols.contains(f.name))).asNullable
    (dataSchema, partitionSchema)
  }

  /** Build the scan DataFrame over a resolved snapshot. `partCols` is
    * the partition layout; files carry their pre-parsed partition
    * values. `recordedSchema` is the manifest's schema-on-commit
    * record, and it IS the scan schema: O(1), never a footer read, and
    * authoritative under evolution.
    */
  def relation(spark: SparkSession, tableRoot: Path,
      files: Seq[ManifestFile], partCols: Seq[String],
      recordedSchema: StructType,
      isStreaming: Boolean = false): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val (dataSchema, partitionSchema) =
      schemasOf(files, partCols, recordedSchema)
    val index = new ManifestFileIndex(tableRoot, files, partitionSchema,
      recordedSchema)
    val rel = HadoopFsRelation(index, partitionSchema, dataSchema,
      None, new ManifestParquetFormat, Map.empty[String, String])(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel, isStreaming = isStreaming))
  }

  /** A streaming parquet relation over every file under `dir`, found
    * by Spark's own listing: a commit's recorded change files, which
    * the manifest names by dir only.
    */
  def streamingDir(spark: SparkSession, dir: Path,
      schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(cs, Seq(dir), Map.empty, Some(schema))
    val rel = HadoopFsRelation(index, index.partitionSchema, schema, None,
      new ParquetFileFormat, Map.empty[String, String])(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel, isStreaming = true))
  }
}
