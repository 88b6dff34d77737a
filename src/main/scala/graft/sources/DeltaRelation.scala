package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.catalyst.{expressions => catalyst}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{StructField, StructType}

import graft.delta.{DataSkipping, DeltaTable, ProtocolSupport, Snapshot, Txn, ValidationException}

/**
 * The planning side of one read of a graft Delta table, behind
 * [[GraftTable]]: schema, claims, metadata aggregates, planner statistics
 * and the file list [[GraftBatchScan]] reads — at a version (latest,
 * `versionAsOf` or `timestampAsOf`: catalog and path reads) or over
 * exactly one given snapshot (`pinned`, [[DeltaTable.toDF]]), which it
 * plans alone: no log read, no distributed route, no file outside it.
 * The read protocol is checked once, when the metadata first resolves.
 * Also the V1 relation `df.write.format("graft-delta").save(path)`
 * returns ([[DeltaRelation.write]]).
 */
final class DeltaRelation(
    val sqlContext: SQLContext,
    private[sources] val table: DeltaTable,
    version: Option[Long],
    timestampMs: Option[Long],
    pinned: Option[Snapshot] = None) extends BaseRelation {

  private def resolvedVersion(): Option[Long] = pinned match {
    case Some(snap) => Some(snap.version)
    case None => timestampMs match {
      case Some(ts) => Some(table.versionAt(ts))
      case None => version
    }
  }

  /** Metadata and protocol of the version read (O(1) in file count off
    * the pinned path), checked readable once. */
  private lazy val meta: Snapshot = {
    val m = pinned.getOrElse(table.metaSnapshot(resolvedVersion()))
    ProtocolSupport.assertReadable(m.protocol, table.path)
    m
  }

  /** The table schema. A pinned read reports every column nullable, as
    * file reads always have. */
  override lazy val schema: StructType =
    if (pinned.isDefined) Shims.asNullable(meta.schema) else meta.schema

  private[sources] def partitionColumns: Seq[String] = meta.partitionColumns

  private[sources] lazy val partitionColumnSet: Set[String] = partitionColumns.toSet

  /** The `_metadata` column, unless a table column already has its name. */
  private[sources] def isMetadataField(f: StructField): Boolean =
    f.name == GraftBatchScan.MetadataColumn && !schema.fieldNames.contains(f.name)

  /** The files of the version read that may hold a row satisfying
    * `predicate` ([[graft.delta.DataSkipping]]; bloom sidecars too off the
    * pinned path). */
  private def prunedState(pinnedVersion: Option[Long], predicate: Column): Snapshot =
    pinned match {
      case Some(snap) => snap.copy(activeFiles = DataSkipping.prune(snap, predicate))
      case None => table.scanState(pinnedVersion.orElse(resolvedVersion()), predicate)
    }

  /** Driver-materialized snapshot pinned at an explicit version, for DSv2
    * filter claiming; None above the distributed-snapshot threshold
    * (then [[distributedClaim]] is the claim path). */
  private[sources] def claimState(): Option[(Long, Snapshot)] = pinned match {
    case Some(snap) => Some((snap.version, snap))
    case None => table.pinnedScanState(resolvedVersion())
  }

  /** Distributed claimability over the pinned version — the claim path
    * for tables above the snapshot threshold (round 15). Returns the
    * claimable subset of `candidates`; the kept FILE set is not
    * materialized (downstream consumers re-run the exact tri-state eval
    * over their pruned survivors — see [[exactClaimKeep]]). */
  private[sources] def distributedClaim(
      candidates: Seq[Filter]): Option[(Long, Seq[Filter])] =
    if (pinned.isDefined) None
    else table.distributedClaim(resolvedVersion(), candidates, schema)

  /** Restrict pruned survivors to the files EVERY claimed filter decides
    * True on. `Some(paths)` is the pushFilters-time memoized claim (driver
    * path — one tri-state evaluation per query); `None` re-runs the eval
    * per file (distributed path — the verdict is a pure function of the
    * file's partition values, so re-evaluation is exact and the 10⁷-path
    * set never has to exist). */
  private def exactClaimKeep(snap: Snapshot, claimed: Array[Filter],
                             claimedPaths: Option[Set[String]]): Seq[graft.delta.AddFile] =
    claimedPaths match {
      case Some(paths) => snap.activeFiles.filter(f => paths.contains(f.path))
      case None =>
        val keep = graft.delta.PartitionFilters.selects(claimed.toSeq,
          snap.partitionColumns.toSet, schema)
        snap.activeFiles.filter(f => keep(f.partitionValues))
    }

  /** Metadata-only aggregate answer, grouped by `groupCols` (partition
    * columns; empty for one global row), over this relation's (possibly
    * time-traveled) snapshot, optionally restricted to the exact subset a
    * set of CLAIMED partition filters selects — see
    * [[graft.delta.StatsAggregates]]. None refuses (caller falls back to
    * the ordinary scan). */
  private[sources] def answerAggregates(groupCols: Seq[String],
      aggs: Seq[graft.delta.StatsAggregates.StatAgg],
      pinnedVersion: Option[Long], claimed: Array[Filter],
      claimedPaths: Option[Set[String]]): Option[Seq[Seq[Any]]] = {
    import graft.delta.StatsAggregates
    // Above the snapshot threshold the fold runs on executors and no file
    // list exists anywhere (round 16). Below it, folding the memoized
    // claimed files on the driver is strictly cheaper than a Spark job;
    // they materialize there as Spark's own scan planning would.
    val distributed = if (pinned.isDefined) None
      else table.distributedAggregates(pinnedVersion.orElse(resolvedVersion()),
        claimed.toSeq, schema, groupCols, aggs)
    val out = distributed match {
      case Some(folded) => folded
      case None =>
        val snap = plannedSnapshot(Array.empty, None, None, pinnedVersion, claimed, claimedPaths)
        StatsAggregates.bind(schema, snap.partitionColumns.toSet, groupCols, aggs)
          .flatMap(fold => fold.finish(fold.over(snap.activeFiles)))
    }
    if (out.isDefined) StatsAggregates.answered.incrementAndGet()
    out
  }

  /** (estimatedBytes, exactRows) of this scan AFTER file pruning by
    * `filters` — the DSv2 `SupportsReportStatistics` feed. Bytes are
    * on-disk parquet scaled by `spark.sql.sources.fileCompressionFactor`
    * (the knob Spark's own file sources honor for the columnar-on-disk vs
    * in-memory gap). None above the distributed-snapshot threshold. */
  private[sources] def scanDimensions(filters: Array[Filter],
                                      pinnedVersion: Option[Long] = None): Option[(Long, Option[Long])] = {
    val predicate = DeltaRelation.conjunction(filters.toSeq)
    val dims =
      if (pinned.isEmpty) table.tableDimensions(pinnedVersion.orElse(resolvedVersion()), predicate)
      else Some(graft.delta.StatsAggregates.dimensions(prunedState(None, predicate)))
    dims.map { case (bytes, rows) => (DeltaRelation.scaleBytes(sqlContext, bytes), rows) }
  }

  /** The planned file set for a scan: FILE pruning first (partition values
    * + zone-map stats via DataSkipping, distributed above the table's
    * snapshot threshold — whole files skipped before Spark plans the
    * scan); an optional pushed LIMIT / ORDER-BY-LIMIT then trims the list
    * to a survivor-covering prefix / zone-map cover. Untranslatable
    * filters prune nothing and Spark re-evaluates everything, so partial
    * translation stays correct. */
  private[sources] def plannedSnapshot(filters: Array[Filter],
                                       limit: Option[Int],
                                       topN: Option[DeltaRelation.TopN],
                                       pinnedVersion: Option[Long] = None,
                                       claimed: Array[Filter] = Array.empty,
                                       claimedPaths: Option[Set[String]] = None): Snapshot = {
    val snapRaw = prunedState(pinnedVersion,
      DeltaRelation.conjunction((filters ++ claimed).toSeq))
    // CLAIMED filters were removed from Spark's post-scan residuals, so
    // the scan itself must enforce them — exactly: via the memoized
    // pushFilters-time path set (driver claim) or by re-running the
    // tri-state eval over the pruned survivors (distributed claim), both
    // against the SAME pinned version.
    val snap0 =
      if (claimed.isEmpty) snapRaw
      else snapRaw.copy(activeFiles =
        exactClaimKeep(snapRaw, claimed, claimedPaths))
    (limit, topN) match {
      case (Some(l), _) if filters.isEmpty =>
        snap0.copy(activeFiles = DeltaRelation.trimForLimit(snap0.activeFiles, l))
      case (_, Some(t)) if filters.isEmpty =>
        val kept = graft.delta.StatsAggregates.topNPrefix(
          snap0.activeFiles, t.field, snap0.partitionColumns.toSet,
          t.asc, t.nullsFirst, t.limit)
        kept.foreach(k => DeltaRelation.topNSkipped.addAndGet(
          (snap0.activeFiles.size - k.size).toLong))
        snap0.copy(activeFiles = kept.getOrElse(snap0.activeFiles))
      case _ => snap0
    }
  }

  override def toString: String = s"DeltaRelation[${table.path}]"
}

object DeltaRelation {

  /** On-disk → planner bytes: scaled by the session's
    * `spark.sql.sources.fileCompressionFactor` (default 1.0), floored at
    * 1 byte so an empty-but-existing table is not mistaken for a
    * zero-cost relation by rules that special-case 0. */
  private[sources] def scaleBytes(sqlContext: SQLContext, bytes: Long): Long = {
    val factor = scala.util.Try(
      sqlContext.getConf("spark.sql.sources.fileCompressionFactor", "1.0").toDouble)
      .getOrElse(1.0)
    math.max(math.ceil(bytes * factor).toLong, 1L)
  }

  /** Pushed `ORDER BY field LIMIT limit` spec for the scan. */
  final case class TopN(field: org.apache.spark.sql.types.StructField,
                        asc: Boolean, nullsFirst: Boolean, limit: Int)

  /** Test/inspection hook: files dropped by LIMIT trimming since JVM start. */
  val limitSkipped = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test/inspection hook: files dropped by TOP-N trimming since JVM start. */
  val topNSkipped = new java.util.concurrent.atomic.AtomicLong(0)

  /** Log-order prefix of `files` whose PROVABLE survivor counts cover
    * `limit`. A file without parseable stats (or an unreadable DV
    * cardinality) is kept but contributes zero, so the prefix can only
    * over-cover, never under-cover. */
  private[sources] def trimForLimit(files: Seq[graft.delta.AddFile],
                                    limit: Int): Seq[graft.delta.AddFile] = {
    var acc = 0L
    val out = Seq.newBuilder[graft.delta.AddFile]
    var kept = 0
    val it = files.iterator
    while (it.hasNext && acc < limit) {
      val f = it.next()
      out += f
      kept += 1
      val surv: Long = f.parsedStats.map(_.numRecords) match {
        case Some(n) =>
          f.deletionVector.fold(Option(0L))(
            graft.delta.DeletionVectors.descriptorCardinality) match {
            case Some(c) => n - c
            case None => 0L // unknown deletions: claim nothing
          }
        case None => 0L
      }
      acc += math.max(surv, 0L)
    }
    limitSkipped.addAndGet((files.size - kept).toLong)
    out.result()
  }

  /** Best-effort `sources.Filter` → `Column` translation; `None` leaves the
    * predicate to Spark's mandatory re-evaluation (correct either way —
    * translation only adds parquet-level pushdown). */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    // Catalyst literals directly: `isin` builds every value through the
    // Column API, which dominates a runtime filter's thousands-key list
    case In(a, vs) => scala.util.Try(Shims.column(catalyst.In(
      Shims.expression(col(a)), vs.toSeq.map(catalyst.Literal(_))))).toOption
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(not)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** The conjunction of the translatable `filters` — a file-skipping
    * predicate ([[graft.delta.DataSkipping]]); a filter that does not
    * translate only weakens it. */
  def conjunction(filters: Seq[Filter]): Column =
    filters.flatMap(toColumn).reduceOption(_ && _).getOrElse(lit(true))

  private def option(parameters: Map[String, String], key: String): Option[String] =
    parameters.get(key.toLowerCase).orElse(parameters.get(key))

  private def isChangeFeed(parameters: Map[String, String]): Boolean =
    option(parameters, "readChangeFeed").exists(_.toBoolean)

  private def timeTravel(parameters: Map[String, String]): (Option[Long], Option[Long]) = {
    val version = option(parameters, "versionAsOf").map(_.toLong)
    val ts = option(parameters, "timestampAsOf").map(_.toLong)
    if (version.nonEmpty && ts.nonEmpty) throw new ValidationException(
      "versionAsOf and timestampAsOf are mutually exclusive")
    (version, ts)
  }

  /** The table `spark.read.format("graft-delta").load(path)` reads: the
    * [[GraftTable]] at the latest version, `versionAsOf`, or the last
    * commit at or before `timestampAsOf` (epoch millis). A path without
    * commits and a change-feed read go to the V1 relation
    * ([[forParameters]]), which refuses the first and serves the second. */
  def pathTable(spark: org.apache.spark.sql.SparkSession,
                parameters: Map[String, String]): Table = {
    val path = parameters.getOrElse("path",
      throw new ValidationException("graft-delta requires a path"))
    val (version, ts) = timeTravel(parameters)
    val table = DeltaTable.forPath(spark, path)
    GraftTable.forPath(table, version, ts,
      readable = table.version >= 0 && !isChangeFeed(parameters))
  }

  /** V1 batch read: the change feed (`readChangeFeed=true` with a
    * starting version or timestamp), and the refusal of a path without
    * commits. Table rows are read through [[pathTable]]. */
  def forParameters(sqlContext: SQLContext,
                    parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new ValidationException("graft-delta requires a path"))
    val (version, ts) = timeTravel(parameters)
    val table = DeltaTable.forPath(sqlContext.sparkSession, path)
    if (table.version < 0) throw new ValidationException(
      s"$path is not a Delta table (no commits)")
    // Batch CDF (Delta parity): readChangeFeed=true + a starting version
    // or timestamp bound returns the change rows, not the table rows.
    if (!isChangeFeed(parameters)) throw new ValidationException(
      "graft-delta reads table rows through its DSv2 table; remove it " +
        "from spark.sql.sources.useV1SourceList")
    if (version.nonEmpty || ts.nonEmpty) throw new ValidationException(
      "readChangeFeed cannot combine with versionAsOf/timestampAsOf; " +
        "bound the feed with startingVersion/endingVersion " +
        "or startingTimestamp/endingTimestamp")
    def opt(k: String) = option(parameters, k)
    val sv = opt("startingVersion").map(_.toLong)
    val st = opt("startingTimestamp")
      .map(graft.streaming.DeltaStreamSource.parseTimestampMs)
    if (sv.nonEmpty && st.nonEmpty) throw new ValidationException(
      "specify either startingVersion or startingTimestamp, not both")
    val df = sv match {
      case Some(s) =>
        graft.delta.Cdc.readByVersion(table, s,
          opt("endingVersion").map(_.toLong).getOrElse(table.version))
      case None => st match {
        case Some(s) =>
          graft.delta.Cdc.readByTimestamp(table, s,
            opt("endingTimestamp")
              .map(graft.streaming.DeltaStreamSource.parseTimestampMs)
              .getOrElse(System.currentTimeMillis()))
        case None => throw new ValidationException(
          "batch readChangeFeed requires startingVersion or startingTimestamp")
      }
    }
    new CdfRelation(sqlContext, df)
  }

  /** `df.write.format("graft-delta").mode(m).save(path)`: Append and
    * Overwrite → the table's transactional write; ErrorIfExists fails on a
    * non-empty table; Ignore is a no-op then. `partitionBy`
    * (comma-separated) applies to the first write. */
  def write(sqlContext: SQLContext, mode: SaveMode,
            parameters: Map[String, String], data: DataFrame): DeltaRelation = {
    val path = parameters.getOrElse("path",
      throw new ValidationException("graft-delta requires a path"))
    val table = DeltaTable.forPath(sqlContext.sparkSession, path)
    val exists = table.version >= 0
    val partitionBy = option(parameters, "partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // Idempotent batch writes (Delta's txnAppId/txnVersion options): a
    // retried job re-running the same (appId, version) is skipped, so an
    // orchestrator can safely re-submit a failed-but-actually-committed
    // write.
    val txn = for {
      app <- option(parameters, "txnAppId")
      v <- option(parameters, "txnVersion")
    } yield Txn(app, v.toLong, System.currentTimeMillis())
    val alreadyApplied = txn.exists(t =>
      exists && table.metaSnapshot().transactions.getOrElse(t.appId, -1L) >= t.version)
    def put(m: String): Unit = { table.write(data, m, partitionBy, txn); () }
    if (!alreadyApplied) mode match {
      case SaveMode.Append => put("append")
      case SaveMode.Overwrite => put("overwrite")
      case SaveMode.ErrorIfExists =>
        if (exists) throw new ValidationException(
          s"$path already exists (SaveMode.ErrorIfExists)")
        put("append")
      case SaveMode.Ignore => if (!exists) put("append")
    }
    new DeltaRelation(sqlContext, table, None, None)
  }
}

/** Batch change-feed relation: the pre-built CDF frame (table columns +
  * `_change_type`/`_commit_version`/`_commit_timestamp`) served through
  * the V1 relation seam — the schema differs from the table's, so it
  * cannot ride [[DeltaRelation]] itself. */
private final class CdfRelation(
    val sqlContext: SQLContext, df: DataFrame)
  extends BaseRelation with TableScan {
  override def schema: StructType = df.schema
  override def buildScan(): RDD[Row] = df.rdd
}
