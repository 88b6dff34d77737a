package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.ScanShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong

import graft.delta.{AddFile, DeletionVectors, Snapshot}

/**
 * Native DSv2 batch scan over a graft Delta table — the one reader of table
 * data: catalog `SELECT`s, `format("graft-delta").load(path)` and every
 * [[graft.delta.DeltaTable.toDF]] caller plan here. It plans exact file
 * lists from the log's add actions — path, size and partition values;
 * nothing is listed in the store — with file pruning via partition values
 * + zone-map stats + bloom and LIMIT / ORDER-BY-LIMIT trimming
 * ([[DeltaRelation.plannedSnapshot]]), and hands the surviving files to
 * Spark's own vectorized parquet reader factory, so rows flow columnar
 * through `BatchScanExec` and whole-stage codegen.
 *
 * Scale properties:
 *  - Split planning uses Spark's own size formula + bin-packer, so a
 *    large file splits across tasks exactly like a native parquet scan.
 *  - [[SupportsRuntimeV2Filtering]]: runtime predicates (dynamic partition
 *    pruning from a broadcast join, runtime IN-subquery filters) re-prune
 *    the FILE LIST at execution time — on a date-partitioned or
 *    Z-ordered 100-TB fact table, a dimension-side join predicate skips
 *    whole files before any task launches. Every column is advertised:
 *    the pruner is stats-conservative (keeps files it can't refute), so
 *    extra predicates can only skip, never lose, rows.
 *  - Deletion-vector files are planned as whole-file row-mode partitions
 *    with parquet pushdown disabled (row-group skipping would break
 *    physical row positions); the reader drops masked positions by
 *    running index against the file's bitmap, which ships INSIDE the
 *    partition — each executor receives exactly the bitmaps of the files
 *    it reads. DV-free snapshots (the overwhelming default) stay fully
 *    columnar; the uniformity rule (Spark forbids mixed columnar/row
 *    partitions in one scan) downgrades only scans that actually carry
 *    a DV.
 *  - Column mapping reads physical parquet names positionally: the
 *    engine consumes rows by ordinal, so no rename projection exists at
 *    all. Pushed filters are rewritten to physical names (dropped, not
 *    mis-pushed, when a shape can't be rewritten — Spark re-evaluates
 *    every predicate post-scan regardless).
 *  - `_metadata.file_path` / `_metadata.row_index` (MERGE, DML and the
 *    DV build key rows by them): the path is a per-file constant next to
 *    the partition values, the position Parquet's own row-index column
 *    (exact under row-group skipping); scans requesting them read rows.
 *  - Driver metrics: `numFiles` (files read after runtime filtering),
 *    `runtimeFilters` (runtime-filter calls) and `runtimeSkippedFiles`
 *    (planned files the last runtime filtering dropped).
 *
 * Reference behavior: scan with projection/filter over the snapshot's
 * file list (src/delta/table.ts:1689-1761); the planning/execution split
 * here is the Spark-native re-expression.
 */
private[sources] final class GraftBatchScan(
    relation: DeltaRelation,
    required: StructType,
    filters: Array[Filter],
    claimed: Array[Filter] = Array.empty,
    // Some(paths) = driver-memoized claim; None = exact per-file re-eval
    claimedPaths: Option[Set[String]] = None,
    pinnedVersion: Option[Long] = None,
    limit: Option[Int] = None,
    topN: Option[DeltaRelation.TopN] = None,
    options: java.util.Map[String, String] = java.util.Collections.emptyMap())
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  /** Residual + claimed = the full pushed predicate set, used wherever the
    * conservative (may-keep) machinery wants every pushed filter. */
  private def allPushed: Array[Filter] = filters ++ claimed

  private def spark: SparkSession = relation.sqlContext.sparkSession
  private def table = relation.table

  // Partition columns of the version this scan reads (O(1) in file count).
  private val partCols: Set[String] = relation.partitionColumnSet
  private val requiredMeta: Option[StructType] =
    required.fields.collectFirst { case f if relation.isMetadataField(f) =>
      f.dataType.asInstanceOf[StructType] }
  private val requiredCols: Array[StructField] =
    required.fields.filterNot(relation.isMetadataField)
  private val requiredData: Array[StructField] =
    requiredCols.filterNot(f => partCols.contains(f.name))
  private val requiredPart: Array[StructField] =
    requiredCols.filter(f => partCols.contains(f.name))

  /** Data columns first, partition columns appended — the row layout
    * Spark's file readers produce; the engine rewires references by name.
    * A requested `_metadata` struct comes last. */
  override def readSchema(): StructType =
    StructType(requiredData ++ requiredPart ++
      requiredMeta.map(StructField(GraftBatchScan.MetadataColumn, _, nullable = false)))

  override def toBatch: Batch = this

  // ---- runtime filtering ----------------------------------------------------

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  /** Advertise every column this scan outputs (a runtime predicate's key
    * is always a join/output column; Spark resolves the advertised refs
    * against the PRUNED scan output, so naming dropped columns fails
    * resolution). Zone-map/bloom pruning is conservative — keeps files it
    * can't refute — so any translatable runtime predicate is safe to
    * apply to the file list, partition column or not. */
  override def filterAttributes(): Array[NamedReference] =
    (requiredData ++ requiredPart).map(f => Expressions.column(f.name))

  override def filter(predicates: Array[Predicate]): Unit = {
    runtimeFilters = predicates.flatMap(p => ScanShim.toV1Filter(p).toSeq)
    runtimeFilterCalls += 1
  }

  // ---- planning -------------------------------------------------------------

  /** Planned once per filter set; the base plan also fixes the
    * columnar/row decision (runtime filtering only REMOVES files, so a
    * DV-free base plan stays DV-free after refiltering). */
  private lazy val basePlan: GraftBatchScan.Planned = plan(filters)

  private def plan(fs: Array[Filter]): GraftBatchScan.Planned = {
    val snap = relation.plannedSnapshot(fs, limit, topN, pinnedVersion,
      claimed, claimedPaths)
    val (parts, columnarOk) = GraftBatchScan.planFiles(spark, table,
      snap.activeFiles, requiredPart.toIndexedSeq, withFilePath = needsFilePath)
    GraftBatchScan.Planned(parts, columnarOk, snap)
  }

  private def needsFilePath: Boolean =
    requiredMeta.exists(_.fieldNames.contains(GraftBatchScan.FilePath))

  private def fileCount(ps: Array[InputPartition]): Long = ps.iterator.flatMap {
    case fp: FilePartition => fp.files.iterator.map(_.filePath)
    case dv: GraftDvPartition => dv.inner.files.iterator.map(_.filePath)
  }.toSet.size.toLong

  // The driver metrics: files the executed scan reads, runtime-filter
  // calls, and the base-plan files the last runtime filtering dropped.
  @volatile private var plannedFiles: Long = 0L
  @volatile private var runtimeFilterCalls: Long = 0L
  @volatile private var runtimeSkipped: Long = 0L

  override def planInputPartitions(): Array[InputPartition] = {
    val parts =
      if (runtimeFilters.isEmpty) basePlan.partitions
      else {
        // Re-prune the PINNED base snapshot — never re-read the latest
        // scan state here. A commit landing between planning and execution
        // must not change which snapshot this query reads (within-query
        // snapshot consistency), and runtime filtering must only REMOVE
        // files: the columnar/row decision and the skipped-file metric both
        // assume the refiltered set is a subset of the base plan's.
        val snap = basePlan.snapshot
        val pruned = graft.delta.DataSkipping.prune(
          snap, DeltaRelation.conjunction(runtimeFilters.toSeq))
        val (refiltered, _) = GraftBatchScan.planFiles(spark, table, pruned,
          requiredPart.toIndexedSeq, withFilePath = needsFilePath)
        runtimeSkipped = fileCount(basePlan.partitions) - fileCount(refiltered)
        refiltered
      }
    plannedFiles = fileCount(parts)
    parts
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new GraftBatchScan.NumFiles, new GraftBatchScan.RuntimeFilters,
    new GraftBatchScan.RuntimeSkippedFiles)

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    GraftBatchScan.NumFilesMetric -> plannedFiles,
    GraftBatchScan.RuntimeFiltersMetric -> runtimeFilterCalls,
    GraftBatchScan.RuntimeSkippedFilesMetric -> runtimeSkipped).map { case (n, v) =>
    new CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
  }

  // ---- reading --------------------------------------------------------------

  /** Built once per scan: Spark asks again for every `BatchScanExec` that
    * planning and each adaptive re-plan make over this scan, and runtime
    * filters change only the partitions, never the factory. */
  private lazy val readerFactory: PartitionReaderFactory =
    GraftBatchScan.readerFactoryFor(spark, table, basePlan.snapshot.schema,
      partCols, requiredData, requiredPart, allPushed, basePlan.columnarOk,
      metadata = requiredMeta)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** `spark.readStream.table(...)` — the scan builder is the only DSv2
    * entry point for streaming reads, so the batch scan doubles as the
    * stream factory. Streaming gets no column pruning from Spark, so
    * `required` is the full table schema here. */
  override def toMicroBatchStream(
      checkpointLocation: String): graft.streaming.GraftMicroBatchStream = {
    // The stream ignores pushed filters (Spark re-evaluates residuals on
    // top). CLAIMED filters are the one thing it must never ignore —
    // they were removed from the post-scan plan on the promise that the
    // scan enforces them. Batch planning is the only path that claims
    // today; fail loudly if that invariant ever changes.
    require(claimed.isEmpty,
      "claimed partition filters cannot back a streaming read")
    new graft.streaming.GraftMicroBatchStream(spark, table, options)
  }

  // ---- statistics (what the join planner compares against the broadcast
  // threshold) ----------------------------------------------------------------

  override def estimateStatistics(): Statistics = {
    // Pinned to the claim-time version: the stats the join planner reads
    // must describe the snapshot this scan actually reads. Under a CLAIM
    // the planned file set is exact, so report ITS dimensions instead of
    // the conservative estimate — a fact table filtered to one partition
    // then reports one partition's size and can auto-broadcast into a
    // join that would otherwise shuffle both sides.
    val dims: Option[(Long, Option[Long])] =
      if (claimed.isEmpty) relation.scanDimensions(allPushed, pinnedVersion)
      else {
        val (bytes, rows) =
          graft.delta.StatsAggregates.dimensions(basePlan.snapshot)
        Some((DeltaRelation.scaleBytes(relation.sqlContext, bytes), rows))
      }
    new Statistics {
      override def sizeInBytes(): OptionalLong = dims match {
        case Some((bytes, _)) => OptionalLong.of(bytes)
        case None => OptionalLong.empty()
      }
      override def numRows(): OptionalLong = dims.flatMap(_._2) match {
        case Some(rows) => OptionalLong.of(rows)
        case None => OptionalLong.empty()
      }
    }
  }

  override def description(): String =
    s"GraftBatchScan ${table.path} " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      (if (claimed.nonEmpty)
        s"ClaimedFilters: [${claimed.mkString(", ")}], " else "") +
      s"RuntimeFilters: [${runtimeFilters.mkString(", ")}], " +
      (if (limit.nonEmpty) s"PushedLimit: ${limit.get}, " else "") +
      (if (topN.nonEmpty) s"PushedTopN: ${topN.get}, " else "") +
      s"ReadSchema: ${readSchema().catalogString}"
}

private[graft] object GraftBatchScan {

  final case class Planned(partitions: Array[InputPartition],
                           columnarOk: Boolean, snapshot: Snapshot)

  /** The metadata column a graft table exposes, and its two fields: the
    * file's qualified URI (the string Spark's file source reports) and
    * the row's physical position in that file. */
  val MetadataColumn = "_metadata"
  val FilePath = "file_path"
  val RowIndex = "row_index"
  val MetadataType: StructType = StructType(Seq(
    StructField(FilePath, StringType, nullable = false),
    StructField(RowIndex, LongType, nullable = false)))

  // Reader-side names of the two metadata inputs: Parquet fills its row-index
  // column itself; the path is one more per-file partition value.
  private val RowIndexInput = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
  private val FilePathInput = "_graft_file_path"

  val NumFilesMetric = "numFiles"
  val RuntimeFiltersMetric = "runtimeFilters"
  val RuntimeSkippedFilesMetric = "runtimeSkippedFiles"

  // The scan's driver metrics. Spark re-instantiates a metric by its class
  // name when it aggregates, so each needs its own no-argument class.
  sealed abstract class DriverMetric(override val name: String,
                                     override val description: String)
    extends CustomSumMetric
  final class NumFiles extends DriverMetric(NumFilesMetric, "number of files read")
  final class RuntimeFilters
    extends DriverMetric(RuntimeFiltersMetric, "runtime filters applied")
  final class RuntimeSkippedFiles
    extends DriverMetric(RuntimeSkippedFilesMetric, "files skipped by runtime filters")

  /** File list → read partitions: clean files slice by Spark's split-size
    * formula and bin-pack; DV files become whole-file row-mode partitions
    * carrying their own serialized bitmap. Returns the partitions plus
    * whether the whole plan may read columnar (no DV partition present —
    * Spark requires partition-uniform columnar support). `withFilePath`
    * appends each file's URI to its partition row. Shared by the batch
    * scan and the micro-batch stream. */
  def planFiles(spark: SparkSession, table: graft.delta.DeltaTable,
                files: Seq[AddFile], partFields: Seq[StructField],
                withFilePath: Boolean = false)
      : (Array[InputPartition], Boolean) = {
    val (dvFiles, cleanFiles) = files.partition(_.deletionVector.isDefined)
    val partRows = graft.delta.PartitionPaths.rowDecoder(partFields)
    val partTypes = partFields.map(_.dataType)
    def partRow(f: AddFile, p: Path): InternalRow = {
      val row = partRows(f.partitionValues)
      if (!withFilePath) row
      else InternalRow.fromSeq(row.toSeq(partTypes) :+
        UTF8String.fromString(p.toUri.toString))
    }
    val tableRoot = table.log.fs.makeQualified(table.tablePath)
    val splitBytes = ScanShim.maxSplitBytes(spark, cleanFiles.map(_.size))
    val slices = cleanFiles.flatMap { f =>
      val p = new Path(tableRoot, f.path)
      val row = partRow(f, p)
      (0L until math.max(f.size, 1L) by splitBytes).map { off =>
        ScanShim.partitionedFile(row, p, off,
          math.min(splitBytes, f.size - off), f.size, f.modificationTime)
      }
    }
    val clean: Seq[InputPartition] =
      ScanShim.filePartitions(spark, slices, splitBytes)
    val dv: Seq[InputPartition] = dvFiles.zipWithIndex.map { case (f, i) =>
      val p = new Path(tableRoot, f.path)
      val whole = ScanShim.filePartitions(spark,
        Seq(ScanShim.partitionedFile(partRow(f, p), p, 0L, f.size, f.size,
          f.modificationTime)), Long.MaxValue)
      GraftDvPartition(
        whole.head.copy(index = clean.size + i),
        DeletionVectors.serialize(
          DeletionVectors.load(table.log, f.deletionVector.get)))
    }
    ((clean ++ dv).toArray, dvFiles.isEmpty)
  }

  /** Reader factory for a (data-columns, partition-columns) projection of
    * `tableSchema`: column mapping reads physical parquet names
    * positionally, pushed filters are renamed to physical names (or
    * dropped from pushdown — Spark re-evaluates them post-scan anyway).
    * `metadata` (the requested `_metadata` fields) appends that struct
    * after the partition columns; `order` (column names) reorders the
    * produced data ++ partition layout — the streaming path needs table
    * order. Either costs row-mode reads. */
  def readerFactoryFor(spark: SparkSession, table: graft.delta.DeltaTable,
                       tableSchema: StructType, partCols: Set[String],
                       requiredData: Array[StructField],
                       requiredPart: Array[StructField],
                       filters: Array[Filter], columnarOk: Boolean,
                       order: Seq[String] = Nil,
                       metadata: Option[StructType] = None)
      : PartitionReaderFactory = {
    val physical = table.physicalSchema(tableSchema).getOrElse(tableSchema)
    def physicalOf(logical: String): String =
      tableSchema.fields.indexWhere(_.name == logical) match {
        case -1 => logical
        case i => physical.fields(i).name
      }
    val metaFields = metadata.map(_.fieldNames.toSeq).getOrElse(Nil)
    // Nullable as requested: Parquet refuses a required column the file
    // lacks, and it fills this one itself.
    val rowIndexIn = Option.when(metaFields.contains(RowIndex))(
      StructField(RowIndexInput, LongType))
    val filePathIn = Option.when(metaFields.contains(FilePath))(
      StructField(FilePathInput, StringType, nullable = false))
    // Strip CURRENT_DEFAULT/EXISTS_DEFAULT from the reader-facing schemas:
    // parquet readers fill columns missing from a file with EXISTS_DEFAULT,
    // but this engine's defaults are write-time-only — old files must read
    // NULL (the catalog-facing schema keeps the keys for INSERT resolution).
    val dataSchema = graft.delta.DeltaTable.stripDefaultMetadata(StructType(
      physical.fields.zip(tableSchema.fields)
        .collect { case (pf, lf) if !partCols.contains(lf.name) => pf }))
    val readDataSchema = graft.delta.DeltaTable.stripDefaultMetadata(StructType(
      requiredData.map(f => f.copy(name = physicalOf(f.name))) ++ rowIndexIn))
    val partSchema = StructType(requiredPart ++ filePathIn)
    val mapped = physical ne tableSchema
    val pushable =
      if (!mapped) filters
      else filters.flatMap(renameFilter(_, physicalOf))
    // The readers produce data ++ [row index] ++ partition ++ [file path].
    val produced = readDataSchema.fields ++ partSchema.fields
    def ref(name: String): Expression = {
      val i = produced.indexWhere(_.name == name)
      // a file may hold nulls in any column; only the metadata inputs cannot
      BoundReference(i, produced(i).dataType, name != RowIndexInput && name != FilePathInput)
    }
    val columns = (requiredData ++ requiredPart).map(_.name).toSeq
    val target = if (order.isEmpty) columns else order
    def column(n: String) = ref(if (partCols.contains(n)) n else physicalOf(n))
    val project: Seq[Expression] =
      if (metadata.nonEmpty)
        target.map(column) :+ CreateNamedStruct(metaFields.flatMap { n =>
          Seq(Literal(n), ref(if (n == RowIndex) RowIndexInput else FilePathInput))
        })
      else if (target == columns) Nil
      else target.map(column)
    // DV readers must see every physical row IN ORDER: the second factory
    // pushes no filter, so no row-group or page skipping can shift positions.
    val (clean, dvRaw) = ScanShim.parquetReaderFactories(spark, dataSchema,
      readDataSchema, partSchema, pushable)
    GraftReaderFactory(clean, dvRaw,
      columnarOk = columnarOk && project.isEmpty, project = project)
  }

  /** Rewrite a pushed filter's field names for column-mapped reads; None
    * drops the filter from parquet pushdown (Spark still re-evaluates it
    * post-scan, so dropping is always safe). */
  def renameFilter(f: Filter, rename: String => String): Option[Filter] = f match {
    case EqualTo(a, v) => Some(EqualTo(rename(a), v))
    case EqualNullSafe(a, v) => Some(EqualNullSafe(rename(a), v))
    case GreaterThan(a, v) => Some(GreaterThan(rename(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(rename(a), v))
    case LessThan(a, v) => Some(LessThan(rename(a), v))
    case LessThanOrEqual(a, v) => Some(LessThanOrEqual(rename(a), v))
    case In(a, vs) => Some(In(rename(a), vs))
    case IsNull(a) => Some(IsNull(rename(a)))
    case IsNotNull(a) => Some(IsNotNull(rename(a)))
    case StringStartsWith(a, v) => Some(StringStartsWith(rename(a), v))
    case StringEndsWith(a, v) => Some(StringEndsWith(rename(a), v))
    case StringContains(a, v) => Some(StringContains(rename(a), v))
    case And(l, r) =>
      for (lc <- renameFilter(l, rename); rc <- renameFilter(r, rename))
        yield And(lc, rc)
    case Or(l, r) =>
      for (lc <- renameFilter(l, rename); rc <- renameFilter(r, rename))
        yield Or(lc, rc)
    case Not(c) => renameFilter(c, rename).map(Not)
    case _ => None
  }
}

/** A whole-file read partition whose rows are masked by a deletion
  * vector; `dvBytes` is the file's serialized RoaringBitmapArray. */
private[graft] final case class GraftDvPartition(
    inner: FilePartition, dvBytes: Array[Byte]) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/**
 * Dispatching reader factory: clean partitions read through Spark's
 * vectorized parquet factory (columnar when the whole scan is DV-free —
 * Spark requires partition-uniform columnar support); DV partitions read
 * row-mode through the no-pushdown factory, dropping bitmap-masked
 * physical row positions by running index. A non-empty `project` (bound
 * to the produced data ++ partition layout) reshapes every row — the
 * `_metadata` struct, streaming's table order — rows only.
 */
private[graft] final case class GraftReaderFactory(
    clean: PartitionReaderFactory,
    dvRaw: PartitionReaderFactory,
    columnarOk: Boolean,
    project: Seq[Expression] = Nil) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val base = p match {
      case GraftDvPartition(fp, dvBytes) =>
        val deleted = DeletionVectors.deserialize(dvBytes)
        val r = dvRaw.createReader(fp)
        new PartitionReader[InternalRow] {
          private var idx = -1L
          override def next(): Boolean = {
            while (r.next()) {
              idx += 1
              if (!DeletionVectors.contains(deleted, idx)) return true
            }
            false
          }
          override def get(): InternalRow = r.get()
          override def close(): Unit = r.close()
        }
      case fp => clean.createReader(fp)
    }
    if (project.isEmpty) base
    else {
      val proj = UnsafeProjection.create(project)
      new PartitionReader[InternalRow] {
        override def next(): Boolean = base.next()
        override def get(): InternalRow = proj(base.get())
        override def close(): Unit = base.close()
      }
    }
  }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    clean.createColumnarReader(p)

  override def supportColumnarReads(p: InputPartition): Boolean =
    columnarOk && project.isEmpty && !p.isInstanceOf[GraftDvPartition] &&
      clean.supportColumnarReads(p)
}
