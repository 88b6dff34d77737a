package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.query.{MongoFilter, Projection}

/**
 * A Delta-protocol-style table: an ordered log of NDJSON commits over
 * immutable Parquet files (reference: src/delta/table.ts:249-345), with the
 * execution re-expressed on Spark — executors write/read the Parquet, the
 * driver only sequences small log files.
 *
 * Scale notes (100 TB design):
 *  - data moves exclusively through DataFrame jobs (no driver row
 *    materialization anywhere);
 *  - per-file stats are computed by ONE distributed aggregation over
 *    `_metadata.file_path`, not a job per file;
 *  - reads construct a pruned file list (partition values + zone maps from
 *    add-action stats) before Spark ever lists anything, so a selective query
 *    on a million-file table touches only its files.
 */
/** Result of a copy-on-write DML operation (top-level so pattern matches on
  * it need no outer-instance check). */
final case class DmlResult(rowsAffected: Long, filesRewritten: Long, version: Long)

final class DeltaTable private (val spark: SparkSession, val path: String) {

  val tablePath = new Path(path)
  val log = new DeltaLog(tablePath, spark.sessionState.newHadoopConf())
  private def fs: FileSystem = log.fs

  var checkpointInterval: Int = Checkpoints.DefaultInterval

  // ---- snapshots -----------------------------------------------------------

  def version: Long = log.latestVersion()

  /** What one listing of the log says about `versionOpt` (default: the
    * latest version): the listing, the `_last_checkpoint` pointer when the
    * listing shows one, the latest version and the target. Every read-state
    * entry point resolves once and reads everything else from here. */
  private final class Resolution(val listing: LogListing, versionOpt: Option[Long]) {
    val pointer: Option[(Long, Long, Option[Int])] = log.pointer(listing)
    val latest: Long = math.max(listing.newestCommit, pointer.fold(-1L)(_._1))
    val target: Long = versionOpt.getOrElse(latest)

    /** The size routing every read-state entry point shares: the
      * pointer's checkpoint as (cpVersion, parts) when it is at or below
      * `target`, lists at least `distributedSnapshotThreshold` actions,
      * and is complete in the listing. None takes the driver path, which
      * reads the newest complete checkpoint at or below `target`, or
      * replays the whole log — so a dangling or torn pointer (crash or
      * cleanup race) degrades instead of reading a missing file. */
    def distributed: Option[(Long, Option[Int])] =
      pointer.filter { case (v, size, _) => v <= target && size >= distributedSnapshotThreshold }
        .flatMap { case (v, _, _) => listing.completeParts(v).map(v -> _) }
  }

  private def resolve(versionOpt: Option[Long]): Resolution =
    new Resolution(log.list(), versionOpt)

  /** State at `versionOpt` (default: latest), replayed from the newest
    * complete checkpoint at or below it (reference:
    * src/delta/table.ts:557-642).
    *
    * The state is shared by every instance of the table in the process
    * ([[TableStateCache]]): one listing of the log validates the cached
    * state (the commit its version stands on must be listed with the same
    * length and modification time) and names the commits since it, which
    * alone are read and replayed onto it. Commit files are immutable once
    * written, so the replayed prefix cannot change; a commit made through
    * another instance, or written into the log by another process, is a
    * listed commit like any other. A cold read, or one after the state
    * fails validation (the table was dropped and recreated at the path),
    * reads the newest complete checkpoint at or below the target and the
    * commits after it. Time travel below the cached state replays from its
    * checkpoint and does not displace the newer state; a target beyond
    * the latest version replays the latest state under the target's
    * number, as before, and is never cached. */
  def snapshot(versionOpt: Option[Long] = None): Snapshot = snapshotAt(resolve(versionOpt))

  private def snapshotAt(r: Resolution): Snapshot = {
    val target = r.target
    if (target < 0) return Snapshot.empty
    val cache = TableStateCache.shared
    val key = log.qualifiedLogPath
    val seen = cache.get(key)
    val valid = seen.filter(e => r.listing.stamp(e.snapshot.version).contains(e.stamp))
    // Only versions that exist may enter the cache: a target beyond the
    // latest replays the latest state under the target's number, and
    // caching that phantom would corrupt every read once the table
    // actually reaches the target.
    val real = target <= r.latest
    val reused = valid.filter(_ => real).flatMap { e =>
      val from = e.snapshot.version
      val tail = r.listing.commitsBetween(from, target)
      // A hole in the tail (an external change to the log's shape) falls
      // through to a full read.
      if (from > target || tail.size != target - from) None
      else if (tail.isEmpty) Some(e.snapshot)
      else Some(Snapshot.replay(e.snapshot.copy(version = target),
        tail.iterator.map(v => (v, log.readCommit(v)))))
    }
    val snap = reused.getOrElse(replayFromCheckpoint(r.listing, target))
    if (real && !valid.exists(_.snapshot.version >= target))
      r.listing.stamp(target).foreach(st =>
        cache.put(key, TableStateCache.Entry(snap, st), seen))
    snap
  }

  private def replayFromCheckpoint(listing: LogListing, target: Long): Snapshot = {
    // Only a checkpoint whose files are all listed is read: a crash between
    // the part renames and the pointer write, or a cleanup race, leaves a
    // torn checkpoint or a dangling pointer, and either must degrade to an
    // earlier checkpoint or a full replay, not a read error.
    val (base, from) = listing.newestCompleteCheckpoint(target) match {
      case Some((cv, parts)) => (Checkpoints.read(spark, log, cv, parts), cv + 1)
      case None => (Snapshot.empty, 0L)
    }
    Snapshot.replay(base.copy(version = target),
      listing.commitsBetween(from - 1, target).iterator.map(v => (v, log.readCommit(v))))
  }

  /** Time travel (reference: src/delta/table.ts:1546-1556). */
  def asOf(version: Long): DataFrame = toDF(snapshot(Some(version)))

  /** Commit wall-clock time of `version` (its commitInfo timestamp, falling
    * back to the commit file's mtime when an external writer omitted it). */
  def commitTimestamp(version: Long): Long =
    log.readCommit(version).collectFirst { case c: CommitInfo => c.timestamp }
      .getOrElse(log.fs.getFileStatus(log.commitFile(version)).getModificationTime)

  /** Commit history, newest first: (version, timestampMs, operation,
    * operationParameters) from each commit's commitInfo — the DESCRIBE
    * HISTORY analog (north-star; the reference keeps commitInfo but exposes
    * no history API; [[history]] returns the raw actions). Driver-side
    * metadata read over the retained log. */
  def describeHistory(limit: Int = Int.MaxValue): Seq[(Long, Long, String, Map[String, String])] =
    log.listCommitVersions().reverse.take(limit).map { v =>
      log.readCommit(v).collectFirst { case c: CommitInfo =>
        (v, c.timestamp, c.operation, c.operationParameters)
      }.getOrElse((v, commitTimestamp(v), "UNKNOWN", Map.empty[String, String]))
    }

  /** Timestamp-based time travel (north-star extension — the reference
    * offers it only for the CDC feed, cdc/index.ts:1259-1270): state at the
    * LAST version committed at or before `tsMs`. Driver-side metadata scan
    * over commit files only. */
  def asOfTimestamp(tsMs: Long): DataFrame = asOf(versionAt(tsMs))

  /** Last version committed at or before `tsMs` (driver-side metadata). */
  def versionAt(tsMs: Long): Long = {
    val versions = log.listCommitVersions()
    versions.filter(commitTimestamp(_) <= tsMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $tsMs (earliest: " +
          s"${versions.headOption.map(commitTimestamp).getOrElse(-1L)})"))
  }

  // ---- read path -----------------------------------------------------------

  /** DataFrame over exactly a snapshot's active files: a DSv2 relation of
    * the table pinned to `snap` ([[graft.sources.GraftTable]]), planned by
    * the same scan as catalog reads. The schema comes from the snapshot's
    * metadata (dropped/added columns resolve, old files backfill null),
    * partition values and file sizes from its add actions; deletion
    * vectors and column mapping apply in the reader, and
    * `_metadata.file_path` / `_metadata.row_index` resolve. Nothing is
    * listed, opened or launched before an action. */
  def toDF(snap: Snapshot): DataFrame =
    Shims.ofRows(spark, DataSourceV2Relation.create(
      graft.sources.GraftTable.pinned(this, snap), None, None))

  private val PhysicalNameKey = "delta.columnMapping.physicalName"
  private val MappingModeKey = "delta.columnMapping.mode"

  /** Physical-name view of the schema, when any field declares a mapping. */
  private[graft] def physicalSchema(schema: StructType): Option[StructType] = {
    val mapped = schema.fields.map { f =>
      if (f.metadata.contains(PhysicalNameKey))
        f.copy(name = f.metadata.getString(PhysicalNameKey))
      else f
    }
    if (mapped.zip(schema.fields).exists { case (a, b) => a.name != b.name })
      Some(StructType(mapped))
    else None
  }

  /** Lazily iterate rows one at a time (reference: queryIterator,
    * src/delta/table.ts:1927-1981, with the same projection/version
    * options) — early termination stops fetching partitions. */
  def rowIterator(filterJson: String = "{}",
                  projectionJson: Option[String] = None,
                  version: Option[Long] = None): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    query(filterJson, projectionJson, version).toLocalIterator().asScala
  }

  /** Batched iteration (reference: queryBatch, src/delta/table.ts:2014-2087). */
  def batchIterator(filterJson: String = "{}", batchSize: Int = 1000,
                    projectionJson: Option[String] = None,
                    version: Option[Long] = None): Iterator[Seq[Row]] = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    rowIterator(filterJson, projectionJson, version).grouped(batchSize)
  }

  def toDF(): DataFrame = toDF(snapshot())

  /**
   * Mongo-style read (reference: DeltaTable.query, src/delta/table.ts:1482-1605):
   * prune files from the log (partitions + zone maps), then hand Catalyst a
   * declarative filter/projection so pushdown and column pruning still apply
   * within the surviving files.
   */
  /** Action-count threshold at which scans switch from driver-side snapshot
    * replay to [[DistributedSnapshot]] (executor-side reconcile + prune).
    * The `_last_checkpoint` size field supplies the count without reading
    * the checkpoint. Session-overridable
    * (`spark.graft.distributedSnapshotThreshold`) so deployments can tune
    * the crossover — and tests can force the distributed path through the
    * catalog, whose table handles are constructed internally. */
  var distributedSnapshotThreshold: Long =
    scala.util.Try(spark.conf.get("spark.graft.distributedSnapshotThreshold"))
      .toOption.map(_.toLong)
      .getOrElse(DistributedSnapshot.DefaultThreshold)

  /** Which path the last `query(...)` snapshot took (plan-audit hook). */
  private[delta] var lastQueryDistributed: Boolean = false

  /** Pruned scan state at `versionOpt` via the size-appropriate path: a
    * SCAN-ONLY snapshot whose `activeFiles` may hold a row satisfying the
    * predicate `predicateOf` builds from the schema at that version
    * ([[DataSkipping]]; tombstones are empty on the distributed path). */
  private[graft] def scanState(versionOpt: Option[Long],
                               predicateOf: StructType => Column): Snapshot =
    scanStateAt(resolve(versionOpt), predicateOf)

  private def scanStateAt(r: Resolution, predicateOf: StructType => Column): Snapshot = {
    val (s, p) = r.distributed match {
      case Some((cv, parts)) =>
        // Large table: never materialize the full add set on the driver.
        lastQueryDistributed = true
        DistributedSnapshot.prunedState(spark, log, cv, parts, r.target, predicateOf)
      case None =>
        lastQueryDistributed = false
        val snap = snapshotAt(r)
        val p = DataSkipping.bind(predicateOf(snap.schema), snap.schema,
          snap.partitionColumns)
        (if (p.prunes) snap.copy(activeFiles = snap.activeFiles.filter(p)) else snap, p)
    }
    // bloom sidecar pass AFTER partition/zone-map pruning (either path):
    // point predicates on indexed high-cardinality keys skip the files
    // min/max cannot (see BloomIndex) — conservative no-op otherwise
    if (s.activeFiles.isEmpty) s
    else s.copy(activeFiles = BloomIndex.prune(spark, tablePath, log.hadoopConf, s, p))
  }

  private[graft] def scanState(versionOpt: Option[Long], predicate: Column): Snapshot =
    scanState(versionOpt, (_: StructType) => predicate)

  /** Planner dimensions — (onDiskBytes, exactRows) of the state at
    * `versionOpt` after pruning `filter` ([[StatsAggregates.dimensions]]).
    * None above the distributed-snapshot threshold: such tables sit orders
    * of magnitude past any broadcast threshold, and materializing their
    * file list on the driver just to report a size would break the
    * O(1)-driver contract large tables get — the caller keeps Spark's
    * assume-huge default, which is also the right planning answer. */
  private[graft] def tableDimensions(versionOpt: Option[Long],
                                     predicate: Column): Option[(Long, Option[Long])] = {
    val r = resolve(versionOpt)
    if (r.distributed.isDefined) None
    else Some(StatsAggregates.dimensions(scanStateAt(r, _ => predicate)))
  }

  /** Driver-materialized scan state pinned at an EXPLICIT version, for
    * DSv2 filter claiming: the claim decision and the later scan must see
    * the same file set, so the resolved version is returned alongside and
    * re-used by the scan. None above the distributed-snapshot threshold
    * (claiming needs per-file evaluation on the driver). */
  private[graft] def pinnedScanState(versionOpt: Option[Long]): Option[(Long, Snapshot)] = {
    val r = resolve(versionOpt)
    if (r.distributed.isDefined) None
    else Some((r.target, scanStateAt(r, _ => lit(true))))
  }

  /** Distributed twin of the claim evaluation for tables ABOVE the
    * snapshot threshold (where [[pinnedScanState]] refuses): which of
    * `candidates` decide on every active file at the pinned version —
    * evaluated on executors, O(1) driver memory
    * ([[DistributedSnapshot.claimDecided]]). None when the table is small
    * enough for the driver claim (callers try that first) or no complete
    * checkpoint backs the distributed read. */
  private[graft] def distributedClaim(versionOpt: Option[Long],
      candidates: Seq[org.apache.spark.sql.sources.Filter],
      schema: StructType): Option[(Long, Seq[org.apache.spark.sql.sources.Filter])] = {
    val r = resolve(versionOpt)
    r.distributed.map { case (cv, parts) =>
      (r.target, DistributedSnapshot.claimDecided(spark, log, cv, parts,
        r.target, candidates, schema))
    }
  }

  /** Never-materializing metadata-aggregate fold for tables ABOVE the
    * snapshot threshold ([[DistributedSnapshot.foldAggregates]]): outer
    * None = table is small / no complete checkpoint (caller folds on the
    * driver); inner Option is the fold's own exactness verdict. */
  private[graft] def distributedAggregates(versionOpt: Option[Long],
      claimed: Seq[org.apache.spark.sql.sources.Filter], schema: StructType,
      groupCols: Seq[String],
      aggs: Seq[StatsAggregates.StatAgg]): Option[Option[Seq[Seq[Any]]]] = {
    val r = resolve(versionOpt)
    r.distributed.map { case (cv, parts) =>
      DistributedSnapshot.foldAggregates(spark, log, cv, parts, r.target,
        claimed, schema, groupCols, aggs)
    }
  }

  /** Metadata/protocol/txn-only snapshot (empty file list): cheap at any
    * table size — schema resolution and txn-idempotence checks should use
    * this instead of a full [[snapshot]]. */
  private[graft] def metaSnapshot(versionOpt: Option[Long] = None): Snapshot = {
    val r = resolve(versionOpt)
    r.distributed match {
      case Some((cv, parts)) =>
        DistributedSnapshot.metaState(spark, log, cv, parts, r.target)
      case None =>
        snapshotAt(r).copy(activeFiles = Nil, tombstones = Nil)
    }
  }

  def query(filterJson: String = "{}",
            projectionJson: Option[String] = None,
            version: Option[Long] = None): DataFrame =
    queryOver(filterJson, projectionJson, scanState(version, _))

  /** Query against a pre-fetched snapshot — consistent reads across several
    * queries while concurrent writers advance the table (the reference's
    * `QueryOptions.snapshot`, src/delta/types.ts:184-188). */
  def query(filterJson: String, projectionJson: Option[String],
            snap: Snapshot): DataFrame =
    queryOver(filterJson, projectionJson,
      of => snap.copy(activeFiles = DataSkipping.prune(snap, of(snap.schema))))

  /** The Mongo filter's Column skips files (`state`) and filters rows. */
  private def queryOver(filterJson: String, projectionJson: Option[String],
                        state: (StructType => Column) => Snapshot): DataFrame = {
    val filter = JsonMethods.parse(filterJson)
    MongoFilter.validate(filter)
    val snap = state(MongoFilter.translate(filter, _))
    val df = toDF(snap).filter(MongoFilter.translate(filter, snap.schema))
    projectionJson.fold(df)(p => Projection(df, p))
  }

  // ---- write path ----------------------------------------------------------

  /**
   * Batch write (reference: DeltaTable.write, src/delta/table.ts:694-837).
   * Executors write Parquet under final names in the table layout (the
   * task writer, [[writeDataFiles]]); per-file stats come from the
   * footers; the driver then commits atomically with OCC retry — until
   * that commit the files are invisible. Schema evolves additively
   * (src/delta/table.ts:1239-1280).
   */
  def write(df: DataFrame, mode: String = "append",
            partitionBy: Seq[String] = Nil,
            txn: Option[Txn] = None,
            opInfo: Option[(String, Map[String, String])] = None,
            // (fromVersion, predicate): inside the OCC loop, scan the
            // commit tail (fromVersion, currentVersion] for a CommitInfo
            // matching `predicate`; a hit aborts the write (staged files
            // cleaned up) with [[IngestConflictException]]. This is how
            // racing idempotent loaders (COPY INTO) detect that another
            // writer already loaded overlapping source files — plain
            // appends never conflict, so file-level OCC alone would
            // silently double-load.
            tailInfoConflict: Option[(Long, CommitInfo => Boolean)] = None): Long = {
    require(mode == "append" || mode == "overwrite", s"unsupported mode $mode")
    // Appends never need the file list — metadata-only state keeps the
    // driver O(1) in table size. Overwrite must enumerate the removes (and
    // CDC capture scans the prior files), so it takes the full snapshot.
    val snap0 = if (mode == "overwrite") snapshot() else metaSnapshot()
    ProtocolSupport.assertWritable(snap0, path)
    // Overwrite removes every active file — the same destructive class as
    // delete/update/merge/restore, so it honors delta.appendOnly too (an
    // overwrite bypass would make the guard on those paths meaningless).
    if (mode == "overwrite") DeltaTable.assertNotAppendOnly(snap0, "WRITE-OVERWRITE")
    val isFirst = snap0.metadata.isEmpty
    val partCols = if (isFirst) partitionBy else {
      require(partitionBy.isEmpty || partitionBy == snap0.partitionColumns,
        s"partitionBy ${partitionBy.mkString(",")} != table partitioning " +
          snap0.partitionColumns.mkString(","))
      snap0.partitionColumns
    }
    val merged =
      if (isFirst) df.schema
      else SchemaUtils.merge(snap0.schema, df.schema)
    // Once column mapping is on, NEW columns get fresh UUID physical names:
    // a column re-added after dropColumn must NOT resurrect the dropped
    // physical column still sitting in old data files.
    val targetSchema =
      if (!snap0.configuration.get(MappingModeKey).contains("name")) merged
      else StructType(merged.fields.map { f =>
        if (snap0.schema.fieldNames.contains(f.name) ||
            f.metadata.contains(PhysicalNameKey)) f
        else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysicalNameKey,
            s"col-${java.util.UUID.randomUUID()}").build())
      })
    val aligned = alignTo(df, targetSchema)
    // `delta.autoOptimize.optimizeWrite`: shuffle rows to their partition
    // before writing so each partition directory gets few, full files
    // instead of one shard per input task — at scale the difference between
    // a healthy table and one that needs constant compaction.
    val optimized =
      if (partCols.nonEmpty &&
          snap0.configuration.get(OptimizeWriteKey).contains("true"))
        aligned.repartition(partCols.map(col): _*)
      else aligned
    // Identity columns: NULL (or absent) values get assigned from the
    // high-water mark per row; non-null values refuse unless BY DEFAULT
    // (two-phase vectorized allocation — IdentityColumns.assign; the mark
    // advances in THIS commit, and a racer advancing it first conflicts
    // below).
    val idSpecs = IdentityColumns.specs(targetSchema)
    // Identity columns cannot partition (Delta's rule): partition columns
    // carry no footer stats, so the mark could never advance — see the
    // matching createTable guard in GraftCatalog.
    idSpecs.map(_.name).filter(partCols.contains).foreach(n =>
      throw new ValidationException(
        s"identity column '$n' cannot be a partition column: partition " +
          "columns carry no footer stats, so the high-water mark could " +
          "never advance and appends would re-assign duplicate values"))
    val (toWrite, idRelease) =
      if (idSpecs.isEmpty) (optimized, () => ())
      else {
        val (a, rel) = IdentityColumns.assign(spark, optimized, idSpecs)
        (alignTo(a, targetSchema), rel)
      }
    // Baseline for the commit-time constraint catch-up below: read BEFORE
    // staging, so a constraint added at any later point counts as late.
    val enforcedConstraints = checkConstraints(snap0)
    // the write job is the one that consumes the allocator's pinned
    // blocks; release them as soon as it has run (commit retries below
    // replay metadata only, never the plan)
    val adds =
      try writeDataFiles(toWrite, partCols, targetSchema)
      finally idRelease()
    // Fault-injection seam (inert no-op by default): the forked
    // crash-writer test parks HERE — data files staged on disk, nothing
    // committed — so a kill -9 leaves exactly the torn state a producer
    // that dies mid-append leaves on a real cluster.
    DeltaTable.onDataFilesStaged(adds)
    // advance each mark past the furthest value this write landed (footer
    // stats — no extra scan); never regress it
    val newMarks: Map[String, Long] = idSpecs.flatMap { s =>
      IdentityColumns.assignedExtreme(s, adds).collect {
        case ext if s.highWaterMark.forall(h =>
          if (s.step > 0) ext > h else ext < h) => s.name -> ext
      }
    }.toMap

    // Idempotence must hold under RACES, not just sequential retries: the
    // (appId, version) check re-runs inside the OCC loop against the
    // re-resolved snapshot, so of two writers racing the same transaction
    // exactly one commits and the loser discards its staged files.
    case class TxnApplied(existing: Long) extends Exception
    val v = try Retry.withRetry() {
      // re-resolve under OCC retry (file list only needed for overwrite)
      val snap = if (mode == "overwrite") snapshot() else metaSnapshot()
      // Re-check the commit gates against the re-resolved state: a racer
      // may have upgraded the protocol or flipped appendOnly since entry
      // (same re-check the rewrite/DV/maintenance commit paths run). These
      // classes are non-retryable, so clean up the staged files on the way
      // out or they leak until vacuum.
      try {
        ProtocolSupport.assertWritable(snap, path)
        if (mode == "overwrite")
          DeltaTable.assertNotAppendOnly(snap, "WRITE-OVERWRITE")
      } catch {
        case e: Throwable => adds.foreach(a => deleteDataFile(a.path)); throw e
      }
      txn.foreach { t =>
        if (snap.transactions.getOrElse(t.appId, -1L) >= t.version)
          throw TxnApplied(snap.version)
      }
      // Tail-replay CommitInfo conflict (see parameter doc). Runs INSIDE
      // the OCC loop: a racer that wins the version race is re-scanned on
      // our retry, so the check cannot be outrun.
      tailInfoConflict.foreach { case (fromV, conflicts) =>
        log.listCommitVersions()
          .filter(tv => tv > fromV && tv <= snap.version)
          .foreach { tv =>
            log.readCommit(tv).foreach {
              case ci: CommitInfo if conflicts(ci) =>
                adds.foreach(a => deleteDataFile(a.path))
                throw new IngestConflictException(snap.version)
              case _ => ()
            }
          }
      }
      // A constraint added since staging re-validates the staged rows
      // (the add-constraint/append race — appends never version-conflict).
      assertLateConstraints(enforcedConstraints, snap, adds)
      // Identity allocation race: our values were assigned from the
      // staging-time mark — a racer who advanced it committed values that
      // would duplicate ours. Permanent conflict; the write must re-run.
      if (idSpecs.nonEmpty && snap.metadata.nonEmpty) {
        val commitSpecs = IdentityColumns.specs(snap.schema)
          .map(s => s.name -> s.highWaterMark).toMap
        idSpecs.foreach { s0 =>
          if (commitSpecs.getOrElse(s0.name, s0.highWaterMark) != s0.highWaterMark) {
            adds.foreach(a => deleteDataFile(a.path))
            throw new IdentityAllocationConflictException(s0.name)
          }
        }
      }
      val v = snap.version + 1
      val now = System.currentTimeMillis()
      // A racer may have EVOLVED THE SCHEMA since entry: merge its current
      // schema into our target so a lost-race retry cannot commit a
      // metadata that drops the racer's new columns (our files simply lack
      // them — a legal sparse write). Entry-time targetSchema alone would
      // be a lost-update on the schema.
      val commitSchema = IdentityColumns.withHighWaterMarks(
        if (snap.metadata.isEmpty) targetSchema
        else SchemaUtils.merge(snap.schema, targetSchema),
        newMarks)
      val meta = buildMetadata(snap, commitSchema, partCols, now)
      val removes: Seq[Action] =
        if (mode == "overwrite") snap.activeFiles.map(f =>
          RemoveFile(f.path, now))
        else Nil
      val actions: Seq[Action] =
        // First commit picks the protocol: generated columns (legacy
        // writer v4) and identity columns (v6) are WRITER features —
        // declaring them stops feature-unaware writers from appending
        // without computing/assigning.
        (if (v == 0) Seq[Action](Protocol(minWriterVersion =
          if (IdentityColumns.hasAny(commitSchema)) 6
          else if (GeneratedColumns.hasAny(commitSchema)) 4
          else 2)) else Nil) ++
          (meta.toSeq: Seq[Action]) ++ (txn.toSeq: Seq[Action]) ++
          removes ++ (adds: Seq[Action]) ++ Seq[Action](opInfo match {
          case Some((op, params)) =>
            CommitInfo(now, op, params + ("numFiles" -> adds.size.toString))
          case None =>
            CommitInfo(now, if (mode == "overwrite") "WRITE-OVERWRITE" else "WRITE",
              Map("numFiles" -> adds.size.toString))
        })
      log.writeCommit(v, actions)
      maybeCheckpoint(v)
      v
    } catch {
      case TxnApplied(existing) =>
        adds.foreach(a => deleteDataFile(a.path))
        return existing // the racing twin committed; nothing more to do
    }
    // CDC capture: inserts (and, for overwrite, deletes of the prior rows).
    // The change DataFrames are lazy and read the pre-commit files, which
    // remain on disk until vacuum (reference capture: cdc/index.ts:2060-2122).
    if (cdcConfigured(snap0)) {
      // Generated/identity-column tables read back the COMMITTED adds for
      // the insert image — the input frame lacks the computed/assigned
      // columns (they materialized into the files, not the frame).
      val insertBase =
        if (GeneratedColumns.hasAny(targetSchema) || idSpecs.nonEmpty)
          toDF(Snapshot(v, snap0.metadata, snap0.protocol, adds, Nil))
        else aligned
      val inserts = insertBase.withColumn(Cdc.ChangeType, lit("insert"))
      val changes =
        if (mode == "overwrite")
          toDF(snap0).withColumn(Cdc.ChangeType, lit("delete"))
            .unionByName(inserts, allowMissingColumns = true)
        else inserts
      Cdc.writeChanges(this, v, changes, System.currentTimeMillis())
    }
    maybeAutoCompact(snap0.metadata.map(_.configuration).getOrElse(Map.empty))
    v
  }

  /** `delta.autoOptimize.autoCompact`: piggyback a layout-only compaction
    * when small files accumulate — shared by every append-shaped commit
    * path (batch write, V2 direct writes, streaming epochs). */
  private def maybeAutoCompact(cfg: Map[String, String]): Unit =
    if (cfg.get(AutoCompactKey).contains("true")) {
      val minN = cfg.get(AutoCompactMinFilesKey).map(_.toInt).getOrElse(50)
      val cc = Maintenance.CompactionConfig()
      // size-filtered state: above the distributed threshold only the
      // small files reach the driver, not the whole list
      val small = scanStateWhere(_.size < cc.targetFileSize).activeFiles.size
      if (small >= minN) { Maintenance.compact(this, cc); () }
    }

  private val OptimizeWriteKey = "delta.autoOptimize.optimizeWrite"
  private val AutoCompactKey = "delta.autoOptimize.autoCompact"
  private val AutoCompactMinFilesKey = "delta.autoOptimize.autoCompact.minNumFiles"

  /**
   * Atomic predicate-scoped overwrite — Delta's `replaceWhere` (SQL:
   * `INSERT INTO t REPLACE WHERE cond SELECT …`): ONE commit removes every
   * row matching `condition` and lands `data` in its place, so readers see
   * either the whole old region or the whole new one, never a mix — the
   * idempotent-backfill primitive (re-materialize one day/partition range
   * of a 100-TB table without touching the rest). New rows MUST satisfy
   * `condition` (Delta's replaceWhere constraint): a row landing outside
   * the replaced region would silently coexist with the data it was meant
   * to replace. The task writer checks it on every row it writes — zero
   * extra scans. Matched-file selection and the keep-row rewrite
   * reuse the CoW delete shape (pruned scan state, file-list restriction,
   * never a path-list `In`); concurrent appends whose stats say they may
   * carry rows inside the region CONFLICT (see [[commitRewrite]]'s tail
   * scan) — file-level OCC alone would let a racer's matching rows survive.
   * No schema evolution (extra columns refuse; sparse inserts are legal —
   * omitted columns read back NULL and evaluate as NULL in the guard).
   */
  def replaceWhere(data: DataFrame, condition: Column): DmlResult = {
    val snap = scanState(None, condition)
    ProtocolSupport.assertWritable(snap, path)
    DeltaTable.assertNotAppendOnly(snap, "WRITE-REPLACE-WHERE")
    if (snap.metadata.isEmpty) throw new ValidationException(
      "replaceWhere requires an existing table")
    val extra = data.schema.fieldNames.filterNot(snap.schema.fieldNames.contains)
    if (extra.nonEmpty) throw new ValidationException(
      "replaceWhere does not evolve the schema; unknown column(s): " +
        extra.mkString(", "))
    // Identity columns the data omits (or leaves NULL) are allocated from
    // the high-water mark — same two-phase allocator as the append path;
    // GENERATED ALWAYS refuses non-null provided values per row. The
    // commit re-checks the mark (idAlloc) and advances it past the
    // furthest landed value.
    val idSpecs = IdentityColumns.specs(snap.schema)
    val (dataId, idRelease) =
      if (idSpecs.isEmpty) (data, () => ())
      else IdentityColumns.assign(spark, data, idSpecs)
    val aligned = alignTo(dataId, snap.schema)
    // the task writer proves every row lies inside the region (a row
    // outside fails the write before anything commits)
    val newAdds =
      try writeDataFiles(aligned, snap.partitionColumns, snap.schema, region = Some(condition))
      finally idRelease()
    commitReplaceWhereAdds(snap, condition, newAdds,
      enforcedConstraints = checkConstraints(snap), idAlloc = idSpecs)
  }

  /** Identity columns are system-assigned: DML cannot SET them (Delta's
    * own rule — "You cannot update identity columns"). */
  private[graft] def refuseIdentityAssignments(schema: StructType,
      assigned: Iterable[String]): Unit = {
    val ids = IdentityColumns.names(schema)
    assigned.find(ids).foreach(n => throw new ValidationException(
      s"UPDATE cannot SET identity column '$n': identity values are " +
        "assigned by the engine"))
  }

  /** Commit core of [[replaceWhere]] over ALREADY-WRITTEN new adds —
    * shared with the catalog's REPLACE WHERE write. The caller guarantees
    * every row in `newAdds` satisfies `condition` (the task writer's
    * region check). Rewrites the kept remainder of matched
    * files, commits atomically with the region conflict, captures CDC. */
  private[graft] def commitReplaceWhereAdds(snap: Snapshot,
      condition: Column, newAdds: Seq[AddFile],
      // constraint set the tasks enforced when the new rows were written —
      // anything added since re-validates at commit
      enforcedConstraints: Map[String, String] = Map.empty,
      // specs identity values were allocated from (the two-phase
      // allocator, or the task-side lattice)
      idAlloc: Seq[IdentityColumns.Spec] = Nil): DmlResult = {
    val pred = coalesce(condition, lit(false))
    val candidates = snap.activeFiles
    val (matchedFiles, nMatched) = matchingFilesBy(snap, candidates, pred)
    val keepAdds =
      if (matchedFiles.isEmpty) Nil
      else writeDataFiles(
        matchedFilesDF(snap, candidates, matchedFiles).filter(!pred).drop("__file"),
        snap.partitionColumns, snap.schema)
    val regionKeep =
      DataSkipping.bind(condition, snap.schema, snap.partitionColumns)
    val v = commitRewrite(snap, matchedFiles.toSet, keepAdds ++ newAdds,
      "WRITE-REPLACE-WHERE",
      tailAddConflict = Some(a => a.dataChange && regionKeep(a)),
      idAlloc = idAlloc,
      lateConstraints = Some((enforcedConstraints, newAdds)))
    if (cdcConfigured(snap)) {
      // CDC inserts read back the COMMITTED adds (never re-run the input
      // query: a non-deterministic source — uuid(), rand(), a view that
      // moved — would capture rows that differ from what was written).
      val inserts = toDF(Snapshot(v, snap.metadata, snap.protocol, newAdds, Nil))
        .withColumn(Cdc.ChangeType, lit("insert"))
      val changes =
        if (matchedFiles.isEmpty) inserts
        else matchedFilesDF(snap, candidates, matchedFiles).filter(pred)
          .drop("__file").withColumn(Cdc.ChangeType, lit("delete"))
          .unionByName(inserts, allowMissingColumns = true)
      Cdc.writeChanges(this, v, changes, System.currentTimeMillis())
    }
    DmlResult(nMatched, matchedFiles.size.toLong, v)
  }

  /**
   * Dynamic partition overwrite (Spark's
   * `spark.sql.sources.partitionOverwriteMode=dynamic` INSERT OVERWRITE and
   * `df.writeTo(t).overwritePartitions()`): ONE commit replaces exactly the
   * partitions `data` carries rows for and leaves every other partition
   * untouched — the daily-reload primitive for a partitioned 100-TB table.
   * The replaced-partition set comes from the WRITTEN add actions (one
   * entry per written partition — bounded by the write, not the table);
   * the removes enumerate through [[scanStateWhere]], so above the
   * distributed-snapshot threshold only the replaced partitions' files
   * ever reach the driver. Concurrent appends INTO a replaced partition
   * conflict (same region rule as [[replaceWhere]]). Unpartitioned tables
   * degrade to a full overwrite — Spark's own semantics for dynamic mode
   * without partitions.
   */
  def overwritePartitionsDynamic(data: DataFrame): Long = {
    val snap0 = metaSnapshot()
    ProtocolSupport.assertWritable(snap0, path)
    if (snap0.metadata.isEmpty || snap0.partitionColumns.isEmpty)
      return write(data, "overwrite")
    DeltaTable.assertNotAppendOnly(snap0, "WRITE-DYNAMIC-OVERWRITE")
    val extra = data.schema.fieldNames.filterNot(snap0.schema.fieldNames.contains)
    if (extra.nonEmpty) throw new ValidationException(
      "dynamic partition overwrite does not evolve the schema; " +
        s"unknown column(s): ${extra.mkString(", ")}")
    val missingPart =
      snap0.partitionColumns.filterNot(data.schema.fieldNames.contains)
    if (missingPart.nonEmpty) throw new ValidationException(
      "dynamic partition overwrite requires the partition column(s) in the " +
        s"data: missing ${missingPart.mkString(", ")}")
    // Identity allocation — same rule as replaceWhere above.
    val idSpecs = IdentityColumns.specs(snap0.schema)
    val (dataId, idRelease) =
      if (idSpecs.isEmpty) (data, () => ())
      else IdentityColumns.assign(spark, data, idSpecs)
    val aligned = alignTo(dataId, snap0.schema)
    val adds =
      try writeDataFiles(aligned, snap0.partitionColumns, snap0.schema)
      finally idRelease()
    commitDynamicOverwriteAdds(snap0, adds,
      enforcedConstraints = checkConstraints(snap0), idAlloc = idSpecs)
  }

  /** Commit core of [[overwritePartitionsDynamic]] over ALREADY-WRITTEN
    * adds — shared with the catalog's dynamic partition overwrite. */
  private[graft] def commitDynamicOverwriteAdds(snap0: Snapshot,
                                                adds: Seq[AddFile],
                                                // see commitReplaceWhereAdds
                                                enforcedConstraints: Map[String, String] = Map.empty,
                                                idAlloc: Seq[IdentityColumns.Spec] = Nil): Long = {
    val written: Set[Map[String, String]] = adds.map(_.partitionValues).toSet
    if (written.isEmpty) // empty input replaces nothing (Spark semantics)
      return appendCommit(Nil, "WRITE-DYNAMIC-OVERWRITE")
    // Only the replaced partitions' files reach the driver; `written` is
    // a small serializable set, shippable by the distributed path.
    val replaced = scanStateWhere(f => written.contains(f.partitionValues))
    val rewrittenAbs = replaced.activeFiles
      .map(f => new Path(tablePath, f.path).toUri.toString).toSet
    val v = commitRewrite(replaced, rewrittenAbs, adds,
      "WRITE-DYNAMIC-OVERWRITE",
      tailAddConflict = Some(a => a.dataChange && written.contains(a.partitionValues)),
      idAlloc = idAlloc,
      lateConstraints = Some((enforcedConstraints, adds)))
    if (cdcConfigured(snap0)) {
      // Read back the COMMITTED adds for the insert image (see
      // replaceWhere — re-running a non-deterministic source would
      // capture rows that differ from what was written).
      val inserts = toDF(Snapshot(v, snap0.metadata, snap0.protocol, adds, Nil))
        .withColumn(Cdc.ChangeType, lit("insert"))
      val changes =
        if (replaced.activeFiles.isEmpty) inserts
        else toDF(replaced).withColumn(Cdc.ChangeType, lit("delete"))
          .unionByName(inserts, allowMissingColumns = true)
      Cdc.writeChanges(this, v, changes, System.currentTimeMillis())
    }
    v
  }

  /** Prepare task-written files for a commit: re-key the stats their
    * tasks read from the footers (physical names) to logical names under
    * column mapping, stat any file whose task could not read its footer
    * by the aggregation scan, drop zero-row parts, build bloom sidecars.
    * Shared by every commit shape. */
  private[graft] def prepareAdds(raw: Seq[AddFile], schema: StructType, partCols: Seq[String],
                                 configuration: Map[String, String]): Seq[AddFile] = {
    if (raw.isEmpty) return Nil
    val keyed = physicalSchema(schema).fold(raw)(ps =>
      remapStatKeys(raw, ps.fieldNames.zip(schema.fieldNames).toMap))
    val unstated = keyed.filter(_.stats.isEmpty)
    val withStats =
      if (unstated.isEmpty) keyed
      else {
        Logging.logger.warn(s"[graft.DeltaTable] ${unstated.size} written file(s) " +
          "carry no footer stats; falling back to aggregation scan")
        val filled = attachStatsViaAgg(unstated, partCols, schema).map(a => a.path -> a).toMap
        keyed.map(a => filled.getOrElse(a.path, a))
      }
    // Zero-row parts carry no data; keeping them would grow the active set
    // forever. Stats make them identifiable — drop add + file.
    val (empty, adds) = withStats.partition(_.parsedStats.exists(_.numRecords == 0))
    empty.foreach(f => deleteDataFile(f.path))
    BloomIndex.buildSidecars(spark, tablePath, log.hadoopConf,
      configuration, schema, partCols, adds)
    adds
  }

  /**
   * Append commit for TASK-written data files (the catalog's DSv2 writes
   * and streaming epochs — executors have already landed parquet parts
   * in their final table locations; only metadata reaches the driver):
   * attach footer stats + bloom sidecars, drop zero-row parts, and append
   * (or, for Complete mode, overwrite-commit) everything in ONE
   * txn-carrying commit. Exactly-once is the same `Txn(appId, epochId)`
   * mechanism as [[graft.streaming.DeltaStreamSink]]: a replayed epoch
   * sees `version <= lastTransactionVersion`, deletes its re-staged
   * files, and returns without committing. CDC capture reads back ONLY
   * the committed adds (lazy, only when the feed is enabled).
   */
  private[graft] def commitStreamedFiles(raw: Seq[AddFile], txn: Option[Txn],
                                         overwrite: Boolean = false,
                                         // constraint set the WRITER enforced
                                         // task-side (from its plan-time
                                         // snapshot); anything newer
                                         // re-validates at commit
                                         enforcedConstraints: Map[String, String] = Map.empty,
                                         // specs identity values were
                                         // allocated from — mark re-checked
                                         // and advanced in the OCC loop
                                         idAlloc: Seq[IdentityColumns.Spec] = Nil): Long = {
    val snap0 = if (overwrite) snapshot() else metaSnapshot()
    ProtocolSupport.assertWritable(snap0, path)
    if (overwrite) DeltaTable.assertNotAppendOnly(snap0, "STREAMING-OVERWRITE")
    val adds = prepareAdds(raw, snap0.schema, snap0.partitionColumns, snap0.configuration)
    case class TxnApplied(existing: Long) extends Exception
    val v = try Retry.withRetry() {
      val snap = if (overwrite) snapshot() else metaSnapshot()
      try {
        ProtocolSupport.assertWritable(snap, path)
        if (overwrite) DeltaTable.assertNotAppendOnly(snap, "STREAMING-OVERWRITE")
      } catch {
        case e: Throwable => adds.foreach(a => deleteDataFile(a.path)); throw e
      }
      txn.foreach { t =>
        if (snap.transactions.getOrElse(t.appId, -1L) >= t.version)
          throw TxnApplied(snap.version)
      }
      // add-constraint/append race: see [[assertLateConstraints]]
      assertLateConstraints(enforcedConstraints, snap, adds)
      // identity: allocation race re-check + mark advance (see write())
      assertIdentityAllocUnmoved(idAlloc, snap.metadata, adds)
      val catchUp = identityMarkCatchUp(snap.metadata, adds)
      val v = snap.version + 1
      val now = System.currentTimeMillis()
      val removes: Seq[Action] =
        if (overwrite) snap.activeFiles.map(f => RemoveFile(f.path, now)) else Nil
      // Operation naming matches DeltaTable.write so graft_history reads
      // the same for the same statement regardless of the route it took:
      // batch INSERT OVERWRITE (txn=None, overwrite) is WRITE-OVERWRITE.
      log.writeCommit(v, (catchUp.toSeq: Seq[Action]) ++
        (txn.toSeq: Seq[Action]) ++ removes ++
        (adds: Seq[Action]) :+ CommitInfo(now,
          if (txn.isDefined) "STREAMING UPDATE"
          else if (overwrite) "WRITE-OVERWRITE" else "WRITE",
          Map("numFiles" -> adds.size.toString)))
      maybeCheckpoint(v)
      v
    } catch {
      case TxnApplied(existing) =>
        adds.foreach(a => deleteDataFile(a.path))
        return existing
    }
    if (cdcConfigured(snap0) && (adds.nonEmpty || overwrite)) {
      val inserts = toDF(Snapshot(v, snap0.metadata, snap0.protocol, adds, Nil))
        .withColumn(Cdc.ChangeType, lit("insert"))
      val changes =
        if (overwrite)
          toDF(snap0).withColumn(Cdc.ChangeType, lit("delete"))
            .unionByName(inserts, allowMissingColumns = true)
        else inserts
      Cdc.writeChanges(this, v, changes, System.currentTimeMillis())
    }
    maybeAutoCompact(snap0.configuration)
    v
  }

  /** Document-shaped ingestion (reference: DeltaTable.write over
    * `Record<string, unknown>[]` rows, src/delta/table.ts:694-837 with
    * inference 1289-1388): untyped JSON rows are typed under the reference's
    * inference rules ([[DocumentInference]]) and appended, evolving the
    * schema additively through [[SchemaUtils.merge]] like any other write. */
  def writeDocuments(docs: Dataset[String], mode: String = "append",
                     partitionBy: Seq[String] = Nil): Long =
    write(DocumentInference.typedDocuments(spark, docs), mode, partitionBy)

  /** Convenience for small driver-side batches of JSON documents. */
  def writeDocuments(jsonRows: Seq[String]): Long = {
    import spark.implicits._
    writeDocuments(spark.createDataset(jsonRows))
  }

  /** Reference interop: CDC enablement may live in a `_cdc_config.json`
    * sidecar at the table root (`{"enabled":true}` — reference:
    * src/cdc/index.ts:1738,2381-2398) instead of table configuration.
    * Explicit configuration wins; the sidecar is consulted only when the
    * key is absent, so a reference-written table is recognized without
    * changing our configuration-first semantics. */
  private[delta] def cdcSidecarEnabled(): Boolean = {
    val p = new Path(tablePath, "_cdc_config.json")
    try fs.exists(p) && {
      (JsonMethods.parse(log.readString(p)) \ "enabled") match {
        case org.json4s.JBool(b) => b
        case _ => false
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  private[delta] def cdcConfigured(snap: Snapshot): Boolean =
    snap.configuration.get(Cdc.EnableKey) match {
      case Some(v) => v == "true"
      case None => cdcSidecarEnabled()
    }

  /** Include a metaData action when schema/partitioning changed (or at v0). */
  private def buildMetadata(snap: Snapshot, schema: StructType,
                            partCols: Seq[String], now: Long): Option[TableMetadata] =
    snap.metadata match {
      case None => Some(TableMetadata(
        id = java.util.UUID.randomUUID().toString,
        schemaString = schema.json,
        partitionColumns = partCols,
        createdTime = now))
      case Some(m) if m.schemaString != schema.json =>
        Some(m.copy(schemaString = schema.json))
      case _ => None
    }

  /** Cast present columns to their merged target type (column order and
    * missing columns are handled at read time via the explicit schema). */
  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val cols = df.schema.fields.map { f =>
      target.fields.find(_.name == f.name) match {
        case Some(tf) if tf.dataType != f.dataType => col(f.name).cast(tf.dataType).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Write `df` as new data files in the table layout under `schema`
    * (logical names; files store physical ones) and return their add
    * actions with stats attached. The task writer enforces the table's
    * row contracts on every written row: CHECK constraints (NULL passes,
    * SQL semantics), legacy column invariants (NULL fails — Delta's
    * stricter pre-CHECK rule), generated-column consistency (a PROVIDED
    * generated column must null-safe-equal its expression) and, with
    * `region`, replaceWhere membership. Generated columns the frame omits
    * or leaves NULL are computed from their expressions, so every write
    * path (append, CoW rewrite, merge, maintenance) materializes them. A
    * violation fails the write before anything commits and leaves no
    * files behind. `observed` receives the write job's observed metrics
    * (see [[TaskWriter.run]]). */
  private[delta] def writeDataFiles(df: DataFrame, partCols: Seq[String],
                                    schema: StructType,
                                    region: Option[Column] = None,
                                    observed: Map[String, Row] => Unit = _ => ())
      : Seq[AddFile] = {
    val preSnap = metaSnapshot()
    val plan = new WritePlan(this, schema, partCols, df.schema,
      checkConstraints(preSnap), region)
    prepareAdds(TaskWriter.run(this, df, plan, observed), schema, partCols,
      preSnap.configuration)
  }

  private[graft] def checkConstraints(snap: Snapshot): Map[String, String] =
    snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }

  /** Commit-time constraint catch-up: CHECK constraints are enforced
    * against the snapshot the write STAGED under, but pure appends never
    * conflict — so an `ADD CONSTRAINT` landing between staging and commit
    * would otherwise let violating rows in right behind the validation
    * scan (the add-constraint/append race). Inside the OCC loop, any
    * constraint present in the commit-time snapshot but NOT in
    * `enforced` re-validates the staged adds; a violation deletes them
    * and refuses. O(1) when the constraint set did not change — the
    * overwhelmingly common case. */
  private[delta] def assertLateConstraints(enforced: Map[String, String],
      snap: Snapshot, adds: Seq[AddFile]): Unit = {
    val late = checkConstraints(snap) -- enforced.keys
    if (late.nonEmpty && adds.nonEmpty) {
      val staged = toDF(Snapshot(snap.version, snap.metadata, snap.protocol,
        adds, Nil))
      late.foreach { case (n, e) =>
        if (!staged.filter(!expr(e)).isEmpty) {
          adds.foreach(a => deleteDataFile(a.path))
          throw new ValidationException(
            s"CHECK constraint '$n' ($e) was added by a concurrent commit " +
              "and the staged rows violate it")
        }
      }
    }
  }

  /** Identity-mark catch-up for commits that LAND identity values outside
    * the append path (merge inserts, replaceWhere, dynamic partition
    * overwrite): the metaData action advancing each identity column's
    * high-water mark past the furthest value `adds` carry (footer stats —
    * no scan), computed against the COMMIT-TIME metadata inside the OCC
    * loop. None when nothing moves — the overwhelmingly common case,
    * short-circuited by a substring test before any schema parse. Without
    * this, an explicit BY DEFAULT value landed by MERGE beyond the mark
    * would silently collide with a later append's assignments. */
  private[delta] def identityMarkCatchUp(metadata: Option[TableMetadata],
      adds: Seq[AddFile]): Option[TableMetadata] =
    metadata.filter(m => adds.nonEmpty &&
        m.schemaString.contains(IdentityColumns.StartKey)).flatMap { m =>
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(m.schemaString).asInstanceOf[StructType]
      val marks = IdentityColumns.specs(schema).flatMap { s =>
        IdentityColumns.assignedExtreme(s, adds).collect {
          case ext if s.highWaterMark.forall(h =>
            if (s.step > 0) ext > h else ext < h) => s.name -> ext
        }
      }.toMap
      if (marks.isEmpty) None
      else Some(m.copy(schemaString =
        IdentityColumns.withHighWaterMarks(schema, marks).json))
    }

  /** Allocation-race guard for non-append commits that ASSIGNED identity
    * values (merge inserts): the values were assigned from `atAlloc`'s
    * marks, so a racer who advanced a mark since committed values ours
    * would duplicate. Permanent conflict — the staged adds are deleted and
    * the whole operation must re-run from a fresh snapshot (same rule as
    * the append path's in-loop re-check). */
  private[delta] def assertIdentityAllocUnmoved(
      atAlloc: Seq[IdentityColumns.Spec],
      metadata: Option[TableMetadata], adds: Seq[AddFile]): Unit =
    if (atAlloc.nonEmpty && metadata.nonEmpty) {
      val cur = IdentityColumns.specs(org.apache.spark.sql.types.DataType
          .fromJson(metadata.get.schemaString).asInstanceOf[StructType])
        .map(s => s.name -> s.highWaterMark).toMap
      atAlloc.foreach { s0 =>
        if (cur.getOrElse(s0.name, s0.highWaterMark) != s0.highWaterMark) {
          adds.foreach(a => deleteDataFile(a.path))
          throw new IdentityAllocationConflictException(s0.name)
        }
      }
    }

  private def remapStatKeys(adds: Seq[AddFile],
                            p2l: Map[String, String]): Seq[AddFile] =
    adds.map { a =>
      a.parsedStats match {
        case Some(st) => a.copy(stats = Some(FileStats(st.numRecords,
          st.minValues.map { case (k, v) => p2l.getOrElse(k, k) -> v },
          st.maxValues.map { case (k, v) => p2l.getOrElse(k, k) -> v },
          st.nullCount.map { case (k, v) => p2l.getOrElse(k, k) -> v })
          .toJsonString))
        case None => a
      }
    }

  /** Per-file column stats (numRecords/min/max/nullCount, reference:
    * src/delta/table.ts:1110-1147) by one distributed aggregation over
    * `_metadata.file_path`, re-reading the written data: the fallback for
    * files whose task could not read its footer ([[FooterStats]] is the
    * primary path). Same omission rules as the footers, so tests can assert
    * the two agree exactly. */
  private[delta] def attachStatsViaAgg(adds: Seq[AddFile], partCols: Seq[String],
                                       schema: StructType): Seq[AddFile] = {
    val statable = schema.fields
      .filterNot(f => partCols.contains(f.name))
      .filter(f => FooterStats.isStatable(f.dataType))
    // the table's own reader: logical names, partition values from the adds
    val df = toDF(Snapshot(-1L, Some(TableMetadata("", schema.json, partCols)), None, adds, Nil))

    val aggs: Seq[Column] = Seq(count(lit(1)).as("__cnt")) ++ statable.flatMap { f =>
      Seq(
        min(col(f.name)).as(s"__min_${f.name}"),
        max(col(f.name)).as(s"__max_${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__nc_${f.name}"))
    }
    val rows = df.groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()

    val byPath: Map[String, Row] = rows.map { r =>
      DeltaTable.fileKey(r.getString(0)) -> r
    }.toMap

    adds.map { add =>
      val key = fileKeyOf(add.path)
      byPath.get(key) match {
        case None => add
        case Some(r) =>
          val mins = Map.newBuilder[String, JValue]
          val maxs = Map.newBuilder[String, JValue]
          val ncs = Map.newBuilder[String, Long]
          statable.foreach { f =>
            val mn = r.getAs[Any](s"__min_${f.name}")
            val mx = r.getAs[Any](s"__max_${f.name}")
            // NaN sorts last, so a NaN max means the file holds one: no
            // bounds at all, as the footers give none
            val nan = mx match {
              case d: Double => d.isNaN
              case x: Float => x.isNaN
              case _ => false
            }
            if (!nan) {
              statJValue(mn).foreach(v => mins += f.name -> v)
              statJValue(mx).foreach(v => maxs += f.name -> v)
            }
            ncs += f.name -> r.getAs[Long](s"__nc_${f.name}")
          }
          add.copy(stats = Some(FileStats(
            r.getAs[Long]("__cnt"), mins.result(), maxs.result(), ncs.result()).toJsonString))
      }
    }
  }

  /** Long strings are excluded from stats rather than truncated — a truncated
    * max would understate the bound and break skipping correctness.
    * Decimals are omitted, as the footer path omits them. */
  private def statJValue(v: Any): Option[JValue] = v match {
    case null => None
    case s: String => if (s.length <= 256) Some(JString(s)) else None
    case i: Int => Some(JInt(i))
    case l: Long => Some(JInt(l))
    case sh: Short => Some(JInt(sh.toInt))
    case b: Byte => Some(JInt(b.toInt))
    case d: Double => Some(JDouble(d))
    case f: Float => Some(JDouble(f.toDouble))
    case b: Boolean => Some(JBool(b))
    // Timestamps serialize as fixed-precision UTC ISO-8601 (FooterStats'
    // canonical form): Timestamp.toLocalDateTime would use the JVM-default
    // zone, and LocalDateTime.toString drops trailing ':00' seconds.
    case t: java.sql.Timestamp =>
      Some(JString(FooterStats.CanonFormat.format(
        java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))))
    case ldt: java.time.LocalDateTime =>
      Some(JString(FooterStats.CanonFormat.format(ldt)))
    case inst: java.time.Instant =>
      Some(JString(FooterStats.CanonFormat.format(
        java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC))))
    case d: java.sql.Date => Some(JString(d.toString))
    case ld: java.time.LocalDate => Some(JString(ld.toString))
    case _: java.math.BigDecimal => None
    case other => Some(JString(other.toString))
  }

  // ---- DML (copy-on-write) -------------------------------------------------

  type DmlResult = graft.delta.DmlResult

  /**
   * Copy-on-write delete (reference: src/delta/table.ts:2214-2297): find the
   * files containing matches (after pruning), rewrite them without the
   * matching rows in one distributed job, commit remove+add. Errors if
   * nothing matched, like the reference.
   */
  def delete(filterJson: String): DmlResult = {
    val filter = JsonMethods.parse(filterJson)
    deleteCore(MongoFilter.translate(filter, _))
  }

  /** Copy-on-write delete under an arbitrary Spark predicate — the SQL
    * `DELETE FROM t WHERE cond` entry ([[graft.plans.GraftDmlStrategy]]).
    * Same machinery as [[delete(filterJson:String)*]]; `condition` itself
    * skips files ([[DataSkipping]]). SQL three-valued semantics:
    * NULL-valued conditions keep the row. */
  def delete(condition: org.apache.spark.sql.Column): DmlResult =
    deleteCore(_ => condition)

  /** Pruned read state for a DML condition built against the table's
    * schema, and the condition's row predicate (a NULL condition does not
    * match). Above the distributed threshold only candidate files ever
    * reach the driver. */
  private def dmlState(conditionOf: StructType => Column): (Snapshot, Column) = {
    val snap = scanState(None, conditionOf)
    (snap, coalesce(conditionOf(snap.schema), lit(false)))
  }

  private def deleteCore(conditionOf: StructType => Column): DmlResult = {
    val (snap, pred) = dmlState(conditionOf)
    ProtocolSupport.assertWritable(snap, path)
    val candidates = snap.activeFiles
    val (matchedFiles, nMatched) = matchingFilesBy(snap, candidates, pred)
    if (nMatched == 0)
      throw new NoMatchedRowsException("delete")

    val matchedSet = matchedFiles.toSet
    val inMatched = matchedFilesDF(snap, candidates, matchedFiles)
    val keep = inMatched.filter(!pred).drop("__file")
    val adds = writeDataFiles(keep, snap.partitionColumns, snap.schema)
    val v = commitRewrite(snap, matchedSet, adds, "DELETE")
    if (cdcConfigured(snap)) {
      val deleted = inMatched.filter(pred)
        .drop("__file").withColumn(Cdc.ChangeType, lit("delete"))
      Cdc.writeChanges(this, v, deleted, System.currentTimeMillis())
    }
    DmlResult(nMatched, matchedFiles.size.toLong, v)
  }

  /**
   * Merge-on-read DELETE via deletion vectors (north-star — Delta's
   * DV-backed delete; the reference READS DVs, deletion-vectors.ts, but
   * always deletes copy-on-write). Instead of rewriting every matched
   * file, the matched ROW INDEXES per file (from `_metadata.row_index`,
   * the same coordinate the read mask uses) become a roaring bitmap merged
   * into any existing DV and committed as remove+re-add of the SAME file
   * with an inline descriptor — zero data rewritten, O(deleted rows)
   * metadata. The per-file bitmaps are built on the EXECUTORS
   * ([[DeletionVectors.bitmapAgg]]): the driver collects only
   * (path, compressed-bitmap) descriptors, KBs per file, never raw row
   * indexes — so the matched fraction is bounded by log/descriptor size,
   * not driver heap. For mass deletes prefer [[delete]] (CoW), which
   * reclaims the storage instead of masking it (Delta's own guidance).
   */
  def deleteWithDV(filterJson: String): DmlResult = {
    val filter = JsonMethods.parse(filterJson)
    deleteWithDVCore(MongoFilter.translate(filter, _))
  }

  /** Merge-on-read delete under an arbitrary Spark predicate — the DV twin
    * of [[delete(condition:*]] (enable via `spark.graft.sql.dml.mor` for
    * the SQL route). NULL-valued conditions keep the row (SQL). */
  def deleteWithDV(condition: org.apache.spark.sql.Column): DmlResult =
    deleteWithDVCore(_ => condition)

  private def deleteWithDVCore(conditionOf: StructType => Column): DmlResult = {
    val (snap, pred) = dmlState(conditionOf)
    ProtocolSupport.assertWritable(snap, path)
    val candidates = snap.activeFiles
    val (matchedFiles, nMatched) = matchingFilesBy(snap, candidates, pred)
    if (nMatched == 0)
      throw new NoMatchedRowsException("delete")
    val matchedRows = matchedFilesDF(snap, candidates, matchedFiles)
      .filter(pred)
    val dvByPath: Map[String, Array[Byte]] = matchedRows
      .select(col("__file"), col("_metadata.row_index").as("__ri"))
      .groupBy(col("__file"))
      .agg(DeletionVectors.bitmapAgg(col("__ri")).as("__dv"))
      .collect()
      .map(r => DeltaTable.fileKey(r.getString(0)) -> r.getAs[Array[Byte]](1))
      .toMap
    val v = commitDvMask(snap, dvByPath, Nil, "DELETE", nMatched)
    if (cdcConfigured(snap)) {
      val deleted = matchedRows.drop("__file")
        .withColumn(Cdc.ChangeType, lit("delete"))
      Cdc.writeChanges(this, v, deleted, System.currentTimeMillis())
    }
    DmlResult(nMatched, 0L, v)
  }

  /** Commit a merge-on-read mask: DV re-adds for the masked files plus any
    * `extraAdds` (MoR update/merge's new-image files), all in one commit.
    * `dvByPath` carries executor-built serialized bitmaps (KBs per file),
    * not row indexes — see [[DeletionVectors.bitmapAgg]]. */
  private[delta] def commitDvMask(snapAtRead: Snapshot,
                                  dvByPath: Map[String, Array[Byte]],
                                  extraAdds: Seq[AddFile], op: String,
                                  nMatched: Long,
                                  // specs the caller assigned identity
                                  // values from (MoR merge inserts) — mark
                                  // re-checked in the OCC loop
                                  idAlloc: Seq[IdentityColumns.Spec] = Nil,
                                  metrics: Map[String, String] = Map.empty): Long = {
    val relByAbs = snapAtRead.activeFiles
      .map(f => fileKeyOf(f.path) -> f.path).toMap
    val maskedRel: Map[String, Array[Byte]] = dvByPath.map { case (abs, dv) =>
      relByAbs.getOrElse(abs, throw new IllegalStateException(
        s"DV mask for a file absent from the read snapshot: $abs")) -> dv
    }
    val readRecords = snapAtRead.activeFiles
      .filter(f => maskedRel.contains(f.path)).map(f => f.path -> f).toMap
    Retry.withRetry() {
      // CURRENT record per masked file via tail replay — O(commits since
      // read), never the full file list ([[tailRecords]]). Any change to a
      // masked file since the read CONFLICTS (not composes): the mask was
      // computed against read-time row content, and the racer that changed
      // the record also appended its own image rows — composing would leave
      // both writers' images active (duplicate keys for MoR merge/update)
      // or leave a racer's matching images undeleted (MoR delete).
      val (cur, records, metadata, protocol) = tailRecords(snapAtRead, maskedRel.keySet)
      maskedRel.keySet.foreach { p =>
        if (records(p) != readRecords(p))
          throw new WriteConflictException(cur + 1)
      }
      // Re-check BOTH write gates against commit-time state: a concurrent
      // protocol upgrade (raised minWriterVersion / new writer feature)
      // landing since the read would otherwise be committed under.
      ProtocolSupport.assertWritable(
        snapAtRead.copy(metadata = metadata, protocol = protocol), path)
      DeltaTable.assertNotAppendOnly(snapAtRead.copy(metadata = metadata), op)
      assertIdentityAllocUnmoved(idAlloc, metadata, extraAdds)
      val catchUp = identityMarkCatchUp(metadata, extraAdds)
      val now = System.currentTimeMillis()
      val touched = maskedRel.keySet.toSeq.sorted.map(records)
      val removes = touched.map(f => RemoveFile(f.path, now))
      val dvAdds = touched.map { f =>
        val fresh = DeletionVectors.deserialize(maskedRel(f.path))
        val merged = f.deletionVector match {
          case Some(dv) => DeletionVectors.union(DeletionVectors.load(log, dv), fresh)
          case None => fresh
        }
        f.copy(deletionVector = Some(DeletionVectors.inlineDescriptor(merged)),
          dataChange = true)
      }
      val vN = cur + 1
      log.writeCommit(vN,
        (catchUp.toSeq: Seq[Action]) ++ (removes: Seq[Action]) ++
          (dvAdds: Seq[Action]) ++ (extraAdds: Seq[Action]) :+
          CommitInfo(now, op, Map("mode" -> "deletion-vectors",
            "numMatchedRows" -> nMatched.toString,
            "numDvFiles" -> touched.size.toString,
            "numAddedFiles" -> extraAdds.size.toString), metrics))
      maybeCheckpoint(vN)
      vN
    }
  }

  /**
   * Merge-on-read UPDATE: matched rows are DV-masked in place and their
   * patched images appended as new files — unmatched rows in matched files
   * are never rewritten (the Photon/Delta MoR update shape; the CoW
   * [[update]] remains the mass-update path). Same semantics as [[update]].
   */
  def updateWithDV(filterJson: String, updatesJson: String): DmlResult = {
    val filter = JsonMethods.parse(filterJson)
    val updates = JsonMethods.parse(updatesJson) match {
      case JObject(fs) => fs
      case other => throw new IllegalArgumentException(s"updates must be an object: $other")
    }
    updateWithDVCore(MongoFilter.translate(filter, _),
      schema => updates.map { case (f, v) => f -> jvalueLiteral(v, schema, f) })
  }

  /** Merge-on-read update under an arbitrary Spark predicate with
    * Column-expression assignments — the DV twin of [[update(condition:*]].
    * RHS sees the OLD row (single-projection patch). */
  def updateWithDV(condition: org.apache.spark.sql.Column,
                   set: Seq[(String, org.apache.spark.sql.Column)]): DmlResult = {
    updateWithDVCore(_ => condition,
      schema => set.map { case (f, v) =>
        val dt = schema.fields.find(_.name == f).map(_.dataType).getOrElse(
          throw new IllegalArgumentException(s"update of unknown column: $f"))
        f -> v.cast(dt)
      })
  }

  private def updateWithDVCore(conditionOf: StructType => Column,
                               setOf: StructType => Seq[(String, Column)]): DmlResult = {
    val (snap, pred) = dmlState(conditionOf)
    ProtocolSupport.assertWritable(snap, path)
    val candidates = snap.activeFiles
    val updates = setOf(snap.schema)
    val (matchedFiles, nMatched) = matchingFilesBy(snap, candidates, pred)
    if (nMatched == 0)
      throw new NoMatchedRowsException("update")
    val matchedRows = matchedFilesDF(snap, candidates, matchedFiles)
      .filter(pred)
    val dvByPath: Map[String, Array[Byte]] = matchedRows
      .select(col("__file"), col("_metadata.row_index").as("__ri"))
      .groupBy(col("__file"))
      .agg(DeletionVectors.bitmapAgg(col("__ri")).as("__dv"))
      .collect()
      .map(r => DeltaTable.fileKey(r.getString(0)) -> r.getAs[Array[Byte]](1))
      .toMap
    // ONE projection over the matched rows, every RHS against the OLD row.
    val assigned = updates.toMap
    GeneratedColumns.refuseAssignments(snap.schema, assigned.keys, "UPDATE")
    refuseIdentityAssignments(snap.schema, assigned.keys)
    def patchAll(df: DataFrame): DataFrame =
      GeneratedColumns.regenerate( // recompute over the POST-image values
        df.select(df.columns.filter(_ != "__file").toIndexedSeq.map { c =>
          assigned.get(c).fold(col(c))(_.as(c))
        }: _*), snap.schema)
    val patched = patchAll(matchedRows)
    val newAdds = writeDataFiles(patched, snap.partitionColumns, snap.schema)
    val v = commitDvMask(snap, dvByPath, newAdds, "UPDATE", nMatched)
    if (cdcConfigured(snap)) {
      val pre = matchedRows.drop("__file")
        .withColumn(Cdc.ChangeType, lit("update_preimage"))
      val post = patched.withColumn(Cdc.ChangeType, lit("update_postimage"))
      Cdc.writeChanges(this, v, pre.unionByName(post), System.currentTimeMillis())
    }
    DmlResult(nMatched, 0L, v)
  }

  /**
   * Copy-on-write update (reference: src/delta/table.ts:2321-2414): shallow
   * field patch on matching rows; files with matches are rewritten whole.
   */
  def update(filterJson: String, updatesJson: String): DmlResult = {
    val filter = JsonMethods.parse(filterJson)
    val updates = JsonMethods.parse(updatesJson) match {
      case JObject(fs) => fs
      case other => throw new IllegalArgumentException(s"updates must be an object: $other")
    }
    updateCore(MongoFilter.translate(filter, _),
      schema => updates.map { case (f, v) => f -> jvalueLiteral(v, schema, f) })
  }

  /** Copy-on-write update under an arbitrary Spark predicate with
    * Column-expression assignments — the SQL `UPDATE t SET c = expr WHERE
    * cond` entry ([[graft.plans.GraftDmlStrategy]]). Assignment
    * right-hand sides see the OLD row (SQL semantics: all RHS evaluate
    * before any assignment lands — the core's single-select projection
    * guarantees it even when one assigned column references another).
    * NULL-valued conditions leave the row unmodified. */
  def update(condition: org.apache.spark.sql.Column,
             set: Seq[(String, org.apache.spark.sql.Column)]): DmlResult = {
    updateCore(_ => condition,
      schema => set.map { case (f, v) =>
        val dt = schema.fields.find(_.name == f).map(_.dataType).getOrElse(
          throw new IllegalArgumentException(s"update of unknown column: $f"))
        f -> v.cast(dt)
      })
  }

  private def updateCore(conditionOf: StructType => Column,
                         setOf: StructType => Seq[(String, Column)]): DmlResult = {
    val (snap, pred) = dmlState(conditionOf)
    ProtocolSupport.assertWritable(snap, path)
    val candidates = snap.activeFiles
    val updates = setOf(snap.schema)
    val (matchedFiles, nMatched) = matchingFilesBy(snap, candidates, pred)
    if (nMatched == 0)
      throw new NoMatchedRowsException("update")

    val base = matchedFilesDF(snap, candidates, matchedFiles)
    // ONE projection, every RHS against the input row: sequential
    // withColumn-folding would let `SET a = b, b = a` see a's new value.
    val assigned = updates.toMap
    GeneratedColumns.refuseAssignments(snap.schema, assigned.keys, "UPDATE")
    refuseIdentityAssignments(snap.schema, assigned.keys)
    def patchCols(df: DataFrame, gate: Option[Column]): DataFrame = {
      val sel = df.columns.filter(_ != "__file").toIndexedSeq.map { c =>
        assigned.get(c) match {
          case Some(v) =>
            gate.fold(v)(g => when(g, v).otherwise(col(c))).as(c)
          case None => col(c)
        }
      }
      if (!GeneratedColumns.hasAny(snap.schema)) df.select(sel: _*)
      else {
        // generated columns recompute over the POST-image values, gated to
        // the patched rows (carried rows keep their materialized values);
        // the gate itself must evaluate over the OLD row — compute it as a
        // flag INSIDE the patching projection, not over the patched frame.
        val flagged = df.select(sel :+ gate.getOrElse(lit(true)).as("__upd"): _*)
        GeneratedColumns.regenerate(flagged, snap.schema, Some(col("__upd")))
          .drop("__upd")
      }
    }
    val patched = patchCols(base, Some(pred))
    val adds = writeDataFiles(patched, snap.partitionColumns, snap.schema)
    val v = commitRewrite(snap, matchedFiles.toSet, adds, "UPDATE")
    if (cdcConfigured(snap)) {
      // update_preimage = old matching rows; update_postimage = patched rows
      // (reference row shapes: cdc/index.ts:2060-2122).
      val matchedRows = base.filter(pred)
      val pre = matchedRows.drop("__file")
        .withColumn(Cdc.ChangeType, lit("update_preimage"))
      val post = patchCols(matchedRows, None)
        .withColumn(Cdc.ChangeType, lit("update_postimage"))
      Cdc.writeChanges(this, v, pre.unionByName(post), System.currentTimeMillis())
    }
    DmlResult(nMatched, matchedFiles.size.toLong, v)
  }

  private def jvalueLiteral(v: JValue, schema: StructType, field: String): Column = {
    val target = schema.fields.find(_.name == field).map(_.dataType)
    val c = v match {
      case JNull => lit(null)
      case JString(s) => target match {
        case Some(TimestampNTZType) => lit(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
        case Some(TimestampType) => lit(java.sql.Timestamp.from(java.time.Instant.parse(s)))
        case _ => lit(s)
      }
      case JInt(n) => lit(n.toLong)
      case JLong(n) => lit(n)
      case JDouble(d) => lit(d)
      case JDecimal(d) => lit(d.toDouble)
      case JBool(b) => lit(b)
      case other => lit(JsonMethods.compact(JsonMethods.render(other)))
    }
    target.fold(c)(dt => c.cast(dt))
  }

  /** [[DeltaTable.fileKey]] of a log entry's relative path. */
  private[delta] def fileKeyOf(rel: String): String = new Path(tablePath, rel).toUri.getPath

  /** DataFrame over candidate files with their source file path attached. */
  private def candidateDF(snap: Snapshot, candidates: Seq[AddFile]): DataFrame =
    toDF(snap.copy(activeFiles = candidates))
      .withColumn("__file", col("_metadata.file_path"))

  /** Scan restricted to exactly the matched files. The driver already holds
    * the matched-file list (it must enumerate the removes for the commit),
    * so the restriction happens on the FILE LIST of the scan itself — the
    * rewrite job reads only matched files, unmatched candidates are never
    * re-scanned, and no per-file expression enters the plan. A literal
    * `isin(matchedFiles)` here would build an unbounded In-expression at
    * 10⁵–10⁶ matched files (the hazard DmlPlanAuditSpec pins);
    * file-list pruning is strictly stronger than the semi-join because it
    * also skips the unmatched files' IO. */
  private[delta] def matchedFilesDF(snap: Snapshot, candidates: Seq[AddFile],
                                    matchedFiles: Seq[String]): DataFrame = {
    val matchedNorm = matchedFiles.map(DeltaTable.fileKey).toSet
    candidateDF(snap, candidates.filter(f => matchedNorm.contains(fileKeyOf(f.path))))
  }

  /** Which candidate files actually contain matching rows, and how many rows
    * match — one distributed aggregation. */
  private def matchingFilesBy(snap: Snapshot, candidates: Seq[AddFile],
                              pred: Column): (Seq[String], Long) = {
    if (candidates.isEmpty) return (Nil, 0L)
    val df = candidateDF(snap, candidates)
    val rows = Logging.withJobDesc(spark, "graft:dml-census") {
      df.filter(pred)
        .groupBy(col("__file")).agg(count(lit(1)).as("n")).collect()
    }
    (rows.map(_.getString(0)).toSeq, rows.map(_.getLong(1)).sum)
  }

  /** Remove an uncommitted data file (e.g. a zero-row part the writer made)
    * along with its bloom sidecar, if any. */
  private[graft] def deleteDataFile(rel: String): Unit = {
    fs.delete(new Path(tablePath, rel), false)
    fs.delete(new Path(tablePath, BloomIndex.sidecarRel(rel)), false)
    ()
  }

  /** Append-only commit of pre-written files (used by merge inserts).
    * Plain tables need only the next version number — never any snapshot
    * state. Identity-bearing tables (detected via `snapAtRead`) resolve the
    * CURRENT metadata by tail replay inside the loop: values the caller
    * assigned from the read-time mark conflict if a racer moved it
    * (`idAlloc`), and explicit values beyond the mark advance it in the
    * same commit. */
  private[delta] def appendCommit(adds: Seq[AddFile], op: String,
      snapAtRead: Option[Snapshot] = None,
      idAlloc: Seq[IdentityColumns.Spec] = Nil,
      metrics: Map[String, String] = Map.empty): Long =
    Retry.withRetry() {
      val identityTable = snapAtRead.exists(_.metadata.exists(
        _.schemaString.contains(IdentityColumns.StartKey)))
      val (v, catchUp) =
        if (!identityTable) (log.latestVersion() + 1, None)
        else {
          val (cur, _, metadata, _) = tailState(snapAtRead.get, Set.empty)
          assertIdentityAllocUnmoved(idAlloc, metadata, adds)
          (cur + 1, identityMarkCatchUp(metadata, adds))
        }
      val now = System.currentTimeMillis()
      log.writeCommit(v, (catchUp.toSeq: Seq[Action]) ++ (adds: Seq[Action]) ++
        Seq[Action](CommitInfo(now, op, Map("numFiles" -> adds.size.toString), metrics)))
      maybeCheckpoint(v)
      v
    }

  /**
   * Current per-path state for exactly `relPaths`, established WITHOUT the
   * full file list: the paths' records from `snapAtRead` (which must hold
   * them active — DML read them there) are rolled forward by a driver
   * replay of the commit tail since `snapAtRead.version`. O(tail) driver
   * work regardless of table size — the commit-time twin of
   * [[DistributedSnapshot]]'s read path; with the driver fast-path's cached
   * snapshot the tail is typically empty.
   *
   * Returns (latestVersion, rel path → CURRENT AddFile record, current
   * metadata, current protocol). Throws [[ConcurrencyException]] if any
   * path is no longer active (a racer rewrote or removed it) — the same
   * file-vanished conflict rule the full-snapshot check enforced.
   */
  private def tailRecords(snapAtRead: Snapshot, relPaths: Set[String])
      : (Long, Map[String, AddFile], Option[TableMetadata], Option[Protocol]) = {
    val (cur, byPath, metadata, protocol) = tailState(snapAtRead, relPaths)
    if (byPath.size != relPaths.size)
      throw new WriteConflictException(cur + 1) // a matched file vanished under us
    (cur, byPath, metadata, protocol)
  }

  /** Core of [[tailRecords]]: paths no longer active simply drop out of
    * the returned map — callers pick their own VANISHED-file response
    * ([[graft.delta.Maintenance]] re-plans instead of failing). NOT
    * non-throwing: a hole in the commit tail (external log truncation
    * below the retention floor) raises `IllegalStateException`, because a
    * silently skipped commit would let the conflict check pass against
    * stale records. */
  private[delta] def tailState(snapAtRead: Snapshot, relPaths: Set[String])
      : (Long, Map[String, AddFile], Option[TableMetadata], Option[Protocol]) = {
    val r = resolve(None)
    val cur = r.latest
    val tail = r.listing.commitsBetween(snapAtRead.version, cur)
    // Contiguity guard (mirrors snapshot()'s cache guard): log cleanup never
    // deletes commits above a live reader's version under the retention
    // contract, so a hole in (snapAtRead.version, cur] means something
    // external truncated the log mid-operation. Replaying across the hole
    // would silently skip its actions — the changed/vanished-record conflict
    // check could then falsely pass and commit a stale rewrite or DV mask,
    // resurrecting concurrently deleted rows. Refuse; the operation must be
    // re-run from a fresh snapshot (which replays from a checkpoint).
    if (tail.size != (cur - snapAtRead.version))
      throw new IllegalStateException(
        s"commit log has a hole between read version ${snapAtRead.version} " +
          s"and current version $cur (found ${tail.size} of " +
          s"${cur - snapAtRead.version} commits): the log was truncated " +
          "while this operation was in flight; re-run it")
    val byPath = scala.collection.mutable.LinkedHashMap.from(
      snapAtRead.activeFiles.filter(f => relPaths.contains(f.path))
        .map(f => f.path -> f))
    var metadata = snapAtRead.metadata
    var protocol = snapAtRead.protocol
    tail.foreach { v =>
      log.readCommit(v).foreach {
        case a: AddFile if relPaths.contains(a.path) => byPath.put(a.path, a)
        case r: RemoveFile if relPaths.contains(r.path) => byPath.remove(r.path)
        case m: TableMetadata => metadata = Some(m)
        case p: Protocol => protocol = Some(p)
        case _ => ()
      }
    }
    (cur, byPath.toMap, metadata, protocol)
  }

  /** Read state with a driver-side file predicate pre-applied — the
    * maintenance twin of [[scanState]] (which prunes by a query filter):
    * above the distributed threshold only files SATISFYING `pred` reach the
    * driver (e.g. compaction's below-target-size candidates); below it the
    * cached driver snapshot filters in memory. */
  private[delta] def scanStateWhere(pred: AddFile => Boolean): Snapshot = {
    val r = resolve(None)
    r.distributed match {
      case Some((cv, parts)) =>
        DistributedSnapshot.stateWhere(spark, log, cv, parts, r.target, pred)
      case None =>
        val snap = snapshotAt(r)
        snap.copy(activeFiles = snap.activeFiles.filter(pred))
    }
  }

  /** Commit a rewrite: removes for the rewritten files, adds for their
    * replacements. `rewrittenAbs` holds absolute `file:` URIs from
    * `_metadata.file_path`. `idAlloc`: specs the caller ASSIGNED identity
    * values from (merge inserts) — the commit re-checks the marks in its
    * OCC loop and conflicts if a racer moved them. `lateConstraints`:
    * (enforced-at-staging set, new adds) — any CHECK constraint added by a
    * concurrent commit since re-validates the new adds before this commit
    * lands (the add-constraint race; appends never file-conflict, and a
    * rewrite only conflicts on its own files/region). */
  private[delta] def commitFileRewrite(snapAtRead: Snapshot, rewrittenAbs: Set[String],
                                       adds: Seq[AddFile], op: String,
                                       tailAddConflict: Option[AddFile => Boolean] = None,
                                       idAlloc: Seq[IdentityColumns.Spec] = Nil,
                                       metrics: Map[String, String] = Map.empty): Long =
    commitRewrite(snapAtRead, rewrittenAbs, adds, op, tailAddConflict, idAlloc,
      metrics = metrics)

  private def commitRewrite(snapAtRead: Snapshot, rewrittenAbs: Set[String],
                            adds: Seq[AddFile], op: String,
                            tailAddConflict: Option[AddFile => Boolean] = None,
                            idAlloc: Seq[IdentityColumns.Spec] = Nil,
                            lateConstraints: Option[(Map[String, String], Seq[AddFile])] = None,
                            metrics: Map[String, String] = Map.empty): Long = {
    // Normalize once into a set: an `exists` over rewrittenAbs inside this
    // filter would be O(activeFiles × rewritten) string compares — a driver
    // CPU blow-up at 10⁶ files.
    val rewrittenNorm = rewrittenAbs.map(DeltaTable.fileKey)
    val rewrittenRel = snapAtRead.activeFiles.filter(f =>
      rewrittenNorm.contains(fileKeyOf(f.path)))
      .map(_.path).toSet
    val readRecords = snapAtRead.activeFiles
      .filter(f => rewrittenRel.contains(f.path)).map(f => f.path -> f).toMap
    Retry.withRetry() {
      // Conflict check + metadata via tail replay from the read snapshot —
      // O(commits since read), never the full file list ([[tailRecords]]).
      val (cur, current, metadata, protocol) = tailRecords(snapAtRead, rewrittenRel)
      // The rewrite output was built from each file's content AS READ —
      // under the DV descriptor of the READ record. A racer that re-added
      // the same path with a different record (a merge-on-read mask, a
      // restore) changed that content: committing our rewrite would
      // resurrect the racer's masked rows. Conflict unless the current
      // record is exactly the one we read. (Pure removal already conflicts
      // inside tailRecords.)
      rewrittenRel.foreach { p =>
        if (current(p) != readRecords(p))
          throw new WriteConflictException(cur + 1)
      }
      // PREDICATE-scoped writes (REPLACE WHERE, dynamic partition
      // overwrite) read a REGION, not just files: a concurrent append
      // whose rows may fall inside that region must conflict (Delta's
      // ConcurrentAppendException class), or the racer's rows would
      // survive a region the commit declares replaced. The check is a
      // stats-conservative scan of the tail's add actions — O(tail),
      // run only when the caller supplies a region predicate; plain
      // file-scoped rewrites (CoW DML, maintenance) skip it.
      tailAddConflict.foreach { conflicts =>
        log.listCommitVersions()
          .filter(v => v > snapAtRead.version && v <= cur)
          .foreach { tv =>
            log.readCommit(tv).foreach {
              case a: AddFile if conflicts(a) =>
                throw new WriteConflictException(cur + 1)
              case _ => ()
            }
          }
      }
      // DML rewrites change data (dataChange=true removes) — illegal on an
      // append-only table. Maintenance's layout-only path stays legal.
      // Protocol is re-checked too: a concurrent upgrade since the read
      // must not be committed under.
      ProtocolSupport.assertWritable(
        snapAtRead.copy(metadata = metadata, protocol = protocol), path)
      DeltaTable.assertNotAppendOnly(
        snapAtRead.copy(metadata = metadata), op)
      // Identity allocation race (merge inserts assigned from the read-time
      // mark) — permanent conflict if the commit-time mark moved.
      assertIdentityAllocUnmoved(idAlloc, metadata, adds)
      // A CHECK constraint added since the caller staged its new rows
      // re-validates them (add-constraint race — a metadata commit never
      // file-conflicts with this rewrite). Only the NEW adds re-validate:
      // kept-row rewrites carry rows the constraint's own ADD-time
      // validation scan already covered.
      lateConstraints.foreach { case (enforced, newAdds) =>
        val late = checkConstraints(
          snapAtRead.copy(metadata = metadata)) -- enforced.keys
        if (late.nonEmpty && newAdds.nonEmpty) {
          val staged = toDF(Snapshot(cur, metadata, protocol, newAdds, Nil))
          late.foreach { case (n, e) =>
            if (!staged.filter(!expr(e)).isEmpty) {
              adds.foreach(a => deleteDataFile(a.path))
              throw new ValidationException(
                s"CHECK constraint '$n' ($e) was added by a concurrent " +
                  "commit and the staged rows violate it")
            }
          }
        }
      }
      // Identity-mark catch-up: explicit (or merge-assigned) values beyond
      // the mark advance it in THIS commit.
      val catchUp = identityMarkCatchUp(metadata, adds)
      val now = System.currentTimeMillis()
      val removes = rewrittenRel.toSeq.sorted.map(p => RemoveFile(p, now))
      val v = cur + 1
      log.writeCommit(v, (catchUp.toSeq: Seq[Action]) ++ removes ++ adds :+
        CommitInfo(now, op, Map("numRewrittenFiles" -> removes.size.toString), metrics))
      maybeCheckpoint(v)
      v
    }
  }

  /** MERGE / upsert by key equality, copy-on-write — see
    * [[graft.delta.Merge]] for semantics. */
  def merge(source: DataFrame, keyColumns: Seq[String],
            matched: graft.delta.Merge.MergeAction = graft.delta.Merge.MergeAction.UpdateAll,
            insertUnmatched: Boolean = true): graft.delta.Merge.MergeResult =
    mergeOne(source, graft.delta.Merge.Keys(keyColumns.map(k => (k, k))),
      matched, insertUnmatched, mask = false)

  /** Merge-on-read MERGE: the key merge materialized by deletion vectors —
    * matched rows are masked in place and their merged images plus the
    * inserts appended, one commit, zero target files rewritten. The right
    * mode when a trickle of updates lands on huge files; mass merges should
    * prefer [[merge]], which reclaims masked storage. */
  def mergeWithDV(source: DataFrame, keyColumns: Seq[String],
      matched: graft.delta.Merge.MergeAction = graft.delta.Merge.MergeAction.UpdateAll,
      insertUnmatched: Boolean = true): graft.delta.Merge.MergeResult =
    mergeOne(source, graft.delta.Merge.Keys(keyColumns.map(k => (k, k))),
      matched, insertUnmatched, mask = true)

  /** MERGE under an arbitrary match condition over aliases `t` (target) and
    * `s` (source), copy-on-write — see [[graft.delta.Merge.Theta]] for the
    * deterministic first-match semantics and the scale caveat (theta join:
    * broadcast the source side; key-equality conditions belong in
    * [[merge]]). */
  def mergeWithCondition(source: DataFrame,
      matchCondition: org.apache.spark.sql.Column,
      matched: graft.delta.Merge.MergeAction = graft.delta.Merge.MergeAction.UpdateAll,
      insertUnmatched: Boolean = true): graft.delta.Merge.MergeResult =
    mergeOne(source, graft.delta.Merge.Theta(matchCondition), matched,
      insertUnmatched, mask = false)

  /** One unconditional matched clause and, optionally, `INSERT *`. */
  private def mergeOne(source: DataFrame, on: graft.delta.Merge.Pairing,
                       matched: graft.delta.Merge.MergeAction,
                       insertUnmatched: Boolean,
                       mask: Boolean): graft.delta.Merge.MergeResult = {
    import graft.delta.Merge.{InsertClause, MergeClause, executeClauses}
    ProtocolSupport.assertWritable(metaSnapshot(), path)
    executeClauses(this, source, on, Seq(MergeClause(None, matched)),
      if (insertUnmatched) Seq(InsertClause(None)) else Nil, mask = mask)
  }

  // ---- CDC (change data feed) ----------------------------------------------

  def cdcEnabled: Boolean =
    metaSnapshot().configuration.get(Cdc.EnableKey) match {
      case Some(v) => v == "true"
      case None => cdcSidecarEnabled()
    }

  /** Enable the change feed via table configuration, mirrored into the
    * `_cdc_config.json` sidecar (+ `_delta_log/_cdc_properties.json`) the
    * reference reads its enablement from, so a reference reader recognizes
    * a CDC table we enabled (reference: src/cdc/index.ts:1726-1752). */
  def enableCDC(): Long = {
    val v = updateConfiguration(Map(Cdc.EnableKey -> "true"))
    log.writeString(new Path(tablePath, "_cdc_config.json"),
      """{"enabled":true}""", overwrite = true)
    log.writeString(new Path(log.logPath, "_cdc_properties.json"),
      s"""{"${Cdc.EnableKey}":"true","timestamp":${System.currentTimeMillis()}}""",
      overwrite = true)
    v
  }

  /**
   * Add a CHECK constraint (Delta's `delta.constraints.<name>` table
   * property; north-star — the reference has no constraints). Existing
   * data must already satisfy it (one validation scan, Delta parity);
   * afterwards EVERY write path — append, CoW and MoR DML images, merge
   * inserts, document ingestion — enforces it with a violation counter
   * riding the write job (no extra scans) and fails before committing.
   */
  def addCheckConstraint(name: String, sqlExpr: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be alphanumeric: $name")
    // Validation and the config commit share one snapshot: the commit is
    // conditional on snap.version+1, so a concurrent write landing between
    // the scan and the commit forces a re-validation of the NEW snapshot
    // instead of recording a constraint the data may already violate.
    Retry.withRetry() {
      val snap = snapshot()
      val m = snap.metadata.getOrElse(
        throw new IllegalStateException("cannot configure a table before first write"))
      if (!toDF(snap).filter(!expr(sqlExpr)).isEmpty)
        throw new ValidationException(
          s"cannot add CHECK constraint '$name': existing rows violate ($sqlExpr)")
      val v = snap.version + 1
      val now = System.currentTimeMillis()
      log.writeCommit(v, Seq[Action](
        m.copy(configuration =
          m.configuration + (s"delta.constraints.$name" -> sqlExpr)),
        CommitInfo(now, "SET-CONFIGURATION",
          Map(s"delta.constraints.$name" -> sqlExpr))))
      maybeCheckpoint(v)
      v
    }
  }

  /** Drop a CHECK constraint by name. */
  def dropCheckConstraint(name: String): Long = Retry.withRetry() {
    val snap = metaSnapshot()
    val key = s"delta.constraints.$name"
    val m = snap.metadata.getOrElse(
      throw new ValidationException("table has no metadata"))
    if (!m.configuration.contains(key))
      throw new ValidationException(s"no such constraint: $name")
    val v = snap.version + 1
    val now = System.currentTimeMillis()
    log.writeCommit(v, Seq[Action](
      m.copy(configuration = m.configuration - key),
      CommitInfo(now, "DROP-CONSTRAINT", Map("name" -> name))))
    maybeCheckpoint(v)
    v
  }

  /** Merge configuration entries into metaData, dropping keys in `remove`
    * (reference: updateMetadata, src/delta/table.ts:2435-2458). Removal is
    * an explicit path — not a null value merged into the map — so nothing
    * in-memory ever observes a `Some(null)` configuration entry. */
  def updateConfiguration(entries: Map[String, String],
                          remove: Seq[String] = Nil): Long = Retry.withRetry() {
    val snap = metaSnapshot()
    val m = snap.metadata.getOrElse(
      throw new IllegalStateException("cannot configure a table before first write"))
    val v = snap.version + 1
    val now = System.currentTimeMillis()
    log.writeCommit(v, Seq[Action](
      m.copy(configuration = m.configuration ++ entries -- remove),
      CommitInfo(now, "SET-CONFIGURATION",
        entries ++ remove.map(k => k -> "<removed>"))))
    maybeCheckpoint(v)
    v
  }

  /**
   * CLONE the table (north-star — Delta's CLONE; the reference has no
   * clone). Shallow (default): ONE metadata commit in the target whose add
   * actions reference the source's active files by ABSOLUTE path —
   * O(files) metadata, zero data moved. Subsequent copy-on-write DML on
   * the clone rewrites only touched files into the clone's own directory;
   * vacuum on the clone never reclaims source-owned files (they live
   * outside its root, exactly Delta's contract — reclaiming them is the
   * SOURCE's vacuum's job). Deep: the active files are copied into the
   * clone by one distributed Spark job and referenced relatively — a fully
   * independent table.
   */
  /** Rewrite a table-relative ('u') DV descriptor to an absolute ('p') one
    * rooted at THIS table, for metadata that will be read from another
    * table's root (shallow clones). */
  private def rebaseDvDescriptor(dv: JObject): JObject = {
    val isRelative = dv.obj.exists {
      case ("storageType", JString("u")) => true; case _ => false
    }
    if (!isRelative) dv
    else JObject(dv.obj.map {
      case ("storageType", _) => "storageType" -> JString("p")
      case ("pathOrInlineDv", JString(rel)) =>
        "pathOrInlineDv" ->
          JString(fs.makeQualified(new Path(tablePath, rel)).toString)
      case kv => kv
    })
  }

  def cloneTo(targetPath: String, deep: Boolean = false): DeltaTable = {
    val snap = snapshot()
    val m = snap.metadata.getOrElse(
      throw new ValidationException("cannot clone a table before first write"))
    val target = DeltaTable.forPath(spark, targetPath)
    if (target.version >= 0)
      throw new ValidationException(s"clone target not empty: $targetPath")
    if (!deep && snap.partitionColumns.nonEmpty)
      throw new ValidationException(
        "shallow clone of a partitioned table is not supported (partition " +
          "columns are recovered from paths under the table root); use deep = true")
    val adds =
      if (!deep) snap.activeFiles.map { f =>
        // File-based 'u' DV descriptors resolve relative to the READER's
        // table root — wrong directory on a clone. Pin them to the source
        // as absolute 'p' descriptors ('i' inline and 'p' absolute pass
        // through untouched).
        f.copy(
          path = fs.makeQualified(new Path(tablePath, f.path)).toString,
          deletionVector = f.deletionVector.map(rebaseDvDescriptor))
      } else {
        val confItems: Seq[(String, String)] = {
          val ci = log.hadoopConf.iterator()
          val b = Seq.newBuilder[(String, String)]
          while (ci.hasNext) { val e = ci.next(); b += (e.getKey -> e.getValue) }
          b.result()
        }
        val src = fs.makeQualified(tablePath).toString
        val dst = target.fs.makeQualified(target.tablePath).toString
        // Relative ('u') DV files travel WITH their data files so the deep
        // clone stays self-contained; 'p' absolute descriptors keep
        // pointing at their original (outside-root) location, same
        // contract as shallow data references.
        val dvRels = snap.activeFiles.flatMap(_.deletionVector).flatMap { d =>
          d.obj.collectFirst {
            case ("storageType", org.json4s.JString("u")) => ()
          }.flatMap(_ => d.obj.collectFirst {
            case ("pathOrInlineDv", org.json4s.JString(rel)) => rel
          })
        }.distinct
        val rels = snap.activeFiles.map(_.path) ++ dvRels
        val parallelism = math.max(1, math.min(rels.size, 64))
        spark.sparkContext.parallelize(rels, parallelism).foreachPartition { ps =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confItems.foreach { case (k, v) => conf.set(k, v) }
          ps.foreach { rel =>
            val from = new Path(s"$src/$rel"); val to = new Path(s"$dst/$rel")
            val ffs = from.getFileSystem(conf); val tfs = to.getFileSystem(conf)
            org.apache.hadoop.fs.FileUtil.copy(ffs, from, tfs, to, false, conf)
          }
        }
        snap.activeFiles
      }
    val now = System.currentTimeMillis()
    // The clone carries the SOURCE protocol (not a default one): a cloned
    // generated-column or identity table must keep its writer-feature
    // declaration, or feature-unaware writers could append to the clone
    // without computing/assigning values. Legacy sources written before
    // those declarations existed still get the floor the schema demands.
    val srcProtocol = snap.protocol.getOrElse(Protocol())
    val writerFloor =
      if (IdentityColumns.hasAny(snap.schema)) 6
      else if (GeneratedColumns.hasAny(snap.schema)) 4
      else 2
    val cloneProtocol =
      if (srcProtocol.minWriterVersion >= writerFloor) srcProtocol
      else srcProtocol.copy(minWriterVersion = writerFloor)
    target.log.writeCommit(0,
      Seq[Action](cloneProtocol,
        m.copy(id = java.util.UUID.randomUUID().toString, createdTime = now)) ++
        (adds: Seq[Action]) :+
        CommitInfo(now, "CLONE", Map(
          "source" -> path, "sourceVersion" -> snap.version.toString,
          "mode" -> (if (deep) "deep" else "shallow"),
          "numFiles" -> adds.size.toString)))
    target
  }

  /**
   * Metadata-only column rename via column mapping (north-star — Delta's
   * `delta.columnMapping.mode=name`; the repo already READS mapped tables,
   * this adds the write side). The renamed field keeps its physical name
   * (the name its existing data files store), gains
   * `delta.columnMapping.physicalName` metadata, and all future writes
   * store physical names with stats re-keyed to logical — no data file is
   * touched, ever. Partition columns are rejected: their values are
   * path-encoded under the physical name and Hive-layout readers resolve
   * by directory name.
   */
  def renameColumn(oldName: String, newName: String): Long = Retry.withRetry() {
    val snap = metaSnapshot()
    val schema = snap.schema
    if (!schema.fieldNames.contains(oldName))
      throw new ValidationException(s"no such column: $oldName")
    if (schema.fieldNames.contains(newName))
      throw new ValidationException(s"column already exists: $newName")
    if (snap.partitionColumns.contains(oldName))
      throw new ValidationException(
        s"cannot rename partition column $oldName (values are path-encoded)")
    val newFields = schema.fields.map { f =>
      if (f.name != oldName) f
      else {
        val physical = if (f.metadata.contains(PhysicalNameKey))
          f.metadata.getString(PhysicalNameKey) else f.name
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysicalNameKey, physical).build()
        f.copy(name = newName, metadata = md)
      }
    }
    val m = snap.metadata.getOrElse(
      throw new ValidationException("cannot rename a column before first write"))
    val v = snap.version + 1
    val now = System.currentTimeMillis()
    log.writeCommit(v, Seq[Action](
      m.copy(schemaString = StructType(newFields).json,
        configuration = m.configuration + (MappingModeKey -> "name")),
      CommitInfo(now, "RENAME-COLUMN", Map("from" -> oldName, "to" -> newName))))
    maybeCheckpoint(v)
    v
  }

  /**
   * Metadata-only commit that sets (or, with `None`, drops) a column's
   * CURRENT_DEFAULT — the SQL expression the analyzer substitutes for the
   * column in INSERT/UPDATE/MERGE statements that omit it or name
   * `DEFAULT` explicitly (Spark resolves it from the schema's field
   * metadata; north-star — Delta's `allowColumnDefaults`). WRITE-TIME
   * semantics only: the default is materialized into the rows as they are
   * written, so reads never consult it — which is why adding a NEW column
   * with a default to a non-empty table is refused at the catalog layer
   * (existing rows would read null, not the default).
   */
  def setColumnDefault(name: String, sqlDefault: Option[String]): Long =
    Retry.withRetry() {
      val snap = metaSnapshot()
      val schema = snap.schema
      if (!schema.fieldNames.contains(name))
        throw new ValidationException(s"no such column: $name")
      val newFields = schema.fields.map { f =>
        if (f.name != name) f
        else {
          val b = new MetadataBuilder().withMetadata(f.metadata)
          sqlDefault match {
            case Some(sql) =>
              // Spark's V2 column conversion needs BOTH keys present to
              // expose a ColumnDefaultValue (which is what makes INSERT
              // substitution resolve) — but neither key ever reaches a
              // parquet reader (toDF / GraftBatchScan strip them), so
              // EXISTS_DEFAULT cannot leak into rows that predate the
              // default: old files always read NULL.
              b.putString("CURRENT_DEFAULT", sql)
              b.putString("EXISTS_DEFAULT", sql)
            case None =>
              // Remove both: a stale EXISTS_DEFAULT left behind would
              // resurface if the reader-side strip were ever bypassed.
              b.remove("CURRENT_DEFAULT")
              b.remove("EXISTS_DEFAULT")
          }
          f.copy(metadata = b.build())
        }
      }
      val m = snap.metadata.getOrElse(
        throw new ValidationException("cannot alter a column before first write"))
      val v = snap.version + 1
      val now = System.currentTimeMillis()
      log.writeCommit(v, Seq[Action](
        m.copy(schemaString = StructType(newFields).json),
        CommitInfo(now, "SET-COLUMN-DEFAULT", Map(
          "column" -> name, "default" -> sqlDefault.getOrElse("<dropped>")))))
      maybeCheckpoint(v)
      v
    }

  /** Metadata-only commit that sets (or, with None, drops) a column's
    * comment — `COMMENT ON COLUMN` / `ALTER COLUMN ... COMMENT`. */
  def setColumnComment(name: String, comment: Option[String]): Long =
    Retry.withRetry() {
      val snap = metaSnapshot()
      if (!snap.schema.fieldNames.contains(name))
        throw new ValidationException(s"no such column: $name")
      val newFields = snap.schema.fields.map { f =>
        if (f.name != name) f
        else {
          val b = new MetadataBuilder().withMetadata(f.metadata)
          comment match {
            case Some(c) => b.putString("comment", c)
            case None => b.remove("comment")
          }
          f.copy(metadata = b.build())
        }
      }
      val m = snap.metadata.getOrElse(
        throw new ValidationException("cannot alter a column before first write"))
      val v = snap.version + 1
      log.writeCommit(v, Seq[Action](
        m.copy(schemaString = StructType(newFields).json),
        CommitInfo(System.currentTimeMillis(), "SET-COLUMN-COMMENT",
          Map("column" -> name, "comment" -> comment.getOrElse("<dropped>")))))
      maybeCheckpoint(v)
      v
    }

  /** `ALTER COLUMN ... SET/DROP NOT NULL`. TIGHTENING first proves no
    * existing row is NULL (one distributed count — refusing beats
    * recording a declaration the data already violates, the same rule as
    * ADD CONSTRAINT), then commits nullable=false TOGETHER with an
    * auto-managed CHECK constraint `<col> IS NOT NULL` — which every
    * write path already enforces task-side, so the
    * declaration is TRUE from this commit on. Relaxing drops both in one
    * commit. Pre-existing nullable=false flags from inferred schemas
    * (Scala tuples mark primitives non-nullable) stay ADVISORY — the
    * engine's historical sparse model — only this explicit verb opts a
    * column into enforcement. */
  def setColumnNullability(name: String, nullable: Boolean): Long =
    Retry.withRetry() {
      val snap = snapshot()
      if (!snap.schema.fieldNames.contains(name))
        throw new ValidationException(s"no such column: $name")
      if (!nullable && !toDF(snap)
          .filter(col(s"`${name.replace("`", "``")}`").isNull).isEmpty)
        throw new ValidationException(
          s"cannot SET NOT NULL on '$name': existing rows hold NULL")
      val newFields = snap.schema.fields.map { f =>
        if (f.name != name) f else f.copy(nullable = nullable)
      }
      val m = snap.metadata.getOrElse(
        throw new ValidationException("cannot alter a column before first write"))
      val ckKey = "delta.constraints." +
        s"notnull_${name.filter(c => c.isLetterOrDigit || c == '_')}"
      val newConfig =
        if (nullable) m.configuration - ckKey
        else m.configuration + (ckKey -> s"`${name.replace("`", "``")}` IS NOT NULL")
      val v = snap.version + 1
      log.writeCommit(v, Seq[Action](
        m.copy(schemaString = StructType(newFields).json,
          configuration = newConfig),
        CommitInfo(System.currentTimeMillis(), "SET-COLUMN-NULLABILITY",
          Map("column" -> name, "nullable" -> nullable.toString))))
      maybeCheckpoint(v)
      v
    }

  /**
   * Delta's `ALTER TABLE ... SYNC IDENTITY`: recompute each identity
   * column's high-water mark from the TABLE DATA — the repair verb for
   * imported tables whose mark is absent or stale (explicit BY DEFAULT
   * inserts under Delta's own semantics leave it behind). The extreme
   * comes from file stats when every active file carries one (O(files),
   * no scan); any stats-less or DV-masked file forces one exact
   * aggregation scan of the column. An empty table resets the mark (next
   * assignment restarts at START WITH). Returns the new mark per column.
   */
  def syncIdentity(): Map[String, Long] = Retry.withRetry() {
    val snap = snapshot()
    ProtocolSupport.assertWritable(snap, path)
    val specs = IdentityColumns.specs(snap.schema)
    if (specs.isEmpty) throw new ValidationException(
      "table declares no identity columns")
    val masked = snap.activeFiles.exists(_.deletionVector.isDefined)
    val marks: Map[String, Long] = specs.flatMap { s =>
      val statExtreme =
        if (masked) None
        else if (snap.activeFiles.forall(a => a.parsedStats.exists(st =>
          (if (s.step > 0) st.maxValues else st.minValues).contains(s.name))))
          IdentityColumns.assignedExtreme(s, snap.activeFiles)
        else None
      val extreme = statExtreme.orElse {
        val idCol = col(s"`${s.name.replace("`", "``")}`")
        val agg = if (s.step > 0) max(idCol) else min(idCol)
        Option(toDF(snap).agg(agg).head().get(0)).map(_.asInstanceOf[Long])
      }
      extreme.map(s.name -> _)
    }.toMap
    val cleared = StructType(snap.schema.fields.map { f =>
      if (!IdentityColumns.names(snap.schema)(f.name) || marks.contains(f.name)) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(IdentityColumns.HighWaterMarkKey).build())
    })
    val newSchema = IdentityColumns.withHighWaterMarks(cleared, marks)
    val m = snap.metadata.getOrElse(
      throw new ValidationException("cannot sync a table before first write"))
    val v = snap.version + 1
    log.writeCommit(v, Seq[Action](
      m.copy(schemaString = newSchema.json),
      CommitInfo(System.currentTimeMillis(), "SYNC-IDENTITY",
        marks.map { case (k, x) => k -> x.toString })))
    maybeCheckpoint(v)
    marks
  }

  /**
   * Metadata-only column drop via column mapping (Delta's DROP COLUMN):
   * the field leaves the logical schema; its physical column stays in the
   * old data files, unreferenced — readers simply never select it. Turning
   * mapping mode on here makes a later re-add of the same logical name
   * SAFE: new columns then get fresh UUID physical names (see [[write]]),
   * so old files' dropped values read as null for the re-added column
   * instead of resurfacing.
   */
  def dropColumn(name: String): Long = Retry.withRetry() {
    val snap = metaSnapshot()
    val schema = snap.schema
    if (!schema.fieldNames.contains(name))
      throw new ValidationException(s"no such column: $name")
    if (snap.partitionColumns.contains(name))
      throw new ValidationException(s"cannot drop partition column $name")
    if (schema.fields.length == 1)
      throw new ValidationException("cannot drop the last column")
    val m = snap.metadata.getOrElse(
      throw new ValidationException("cannot drop a column before first write"))
    val v = snap.version + 1
    val now = System.currentTimeMillis()
    log.writeCommit(v, Seq[Action](
      m.copy(schemaString = StructType(schema.fields.filterNot(_.name == name)).json,
        configuration = m.configuration + (MappingModeKey -> "name")),
      CommitInfo(now, "DROP-COLUMN", Map("column" -> name))))
    maybeCheckpoint(v)
    v
  }

  /**
   * RESTORE the table to its state at `targetVersion` (north-star — Delta
   * Lake's RESTORE; the reference stops at time-travel READS,
   * src/delta/snapshot.ts). The restore is itself a new commit — history is
   * preserved and the restore can be time-traveled past or undone — built
   * from the FILE DIFF between the current and target snapshots: files
   * active only in the target are re-added, files active only in the
   * current state are removed, and the target's metadata (schema +
   * configuration) is reinstated. Only log actions move; no data is
   * rewritten, so the commit is O(|diff|) regardless of table size.
   *
   * Re-added files must still exist on storage — a file reclaimed by
   * [[Maintenance.vacuum]] fails the restore up front with
   * [[FileMissingException]] (same guard as Delta's RESTORE).
   *
   * With CDC enabled, change rows follow Delta's CDF semantics for
   * restore: rows of re-added files surface as inserts, rows of removed
   * files as deletes — both computed by scanning only the diff files.
   */
  def restore(targetVersion: Long): DmlResult = {
    ProtocolSupport.assertWritable(snapshot(), path)
    val target = snapshot(Some(targetVersion))
    val (v, readds, removedAdds, snapAtRestore) = Retry.withRetry() {
      val snap = snapshot()
      if (targetVersion > snap.version)
        throw new ValidationException(
          s"cannot restore to version $targetVersion: latest is ${snap.version}")
      // A file's state is (path, deletionVector): a path whose DV changed
      // since the target (merge-on-read DML) must be remove+re-added with
      // the TARGET's descriptor, or the restored table would still mask
      // rows it is supposed to resurrect.
      val curByPath = snap.activeFiles.map(f => f.path -> f).toMap
      val targetByPath = target.activeFiles.map(f => f.path -> f).toMap
      val readds = target.activeFiles.filter { f =>
        curByPath.get(f.path).forall(_.deletionVector != f.deletionVector)
      }.map(_.copy(dataChange = true))
      readds.filterNot(f => curByPath.contains(f.path)).foreach { f =>
        if (!fs.exists(new Path(tablePath, f.path)))
          throw new FileMissingException(f.path, "restore")
      }
      val now = System.currentTimeMillis()
      val removedAdds = snap.activeFiles.filter { f =>
        targetByPath.get(f.path).forall(_.deletionVector != f.deletionVector)
      }
      val removes = removedAdds.map(f => RemoveFile(f.path, now))
      if (removes.nonEmpty) DeltaTable.assertNotAppendOnly(snap, "RESTORE")
      val meta = target.metadata.getOrElse(
        throw new ValidationException(s"version $targetVersion has no metadata"))
      val v = snap.version + 1
      log.writeCommit(v, (Seq[Action](meta) ++ removes ++ readds) :+
        CommitInfo(now, "RESTORE", Map(
          "version" -> targetVersion.toString,
          "numRestoredFiles" -> readds.size.toString,
          "numRemovedFiles" -> removes.size.toString)))
      maybeCheckpoint(v)
      (v, readds, removedAdds, snap)
    }
    if (cdcConfigured(snapAtRestore)) {
      // For a DV-changed path both frames include the file: the change feed
      // reads as delete-all-currently-visible + insert-all-target-visible
      // for that file (toDF applies each side's own mask).
      val inserts = if (readds.isEmpty) None else Some(
        toDF(target.copy(activeFiles = readds))
          .withColumn(Cdc.ChangeType, lit("insert")))
      val deletes = if (removedAdds.isEmpty) None else Some(
        toDF(snapAtRestore.copy(activeFiles = removedAdds))
          .withColumn(Cdc.ChangeType, lit("delete")))
      (inserts ++ deletes).reduceOption(_.unionByName(_)).foreach { ch =>
        Cdc.writeChanges(this, v, ch, System.currentTimeMillis())
      }
    }
    DmlResult(rowsAffected = readds.size.toLong + removedAdds.size.toLong,
      filesRewritten = 0L, version = v)
  }

  def changes(startVersion: Long, endVersion: Long): DataFrame =
    Cdc.readByVersion(this, startVersion, endVersion)

  def changesByTimestamp(startMs: Long, endMs: Long): DataFrame =
    Cdc.readByTimestamp(this, startMs, endMs)

  def newConsumer(group: String): CdcConsumer =
    new CdcConsumer(this, new FileOffsetStorage(log), group)

  // ---- checkpoints ---------------------------------------------------------

  /** Checkpoint every `checkpointInterval` commits:
    * `(v+1) % interval == 0` (reference: src/delta/table.ts:2808-2888). */
  private def maybeCheckpoint(v: Long): Unit =
    if (checkpointInterval > 0 && (v + 1) % checkpointInterval == 0) {
      writeCheckpoint(v)
    }

  def checkpoint(): Unit = writeCheckpoint(log.latestVersion())

  /** Checkpoint via the size-appropriate path: above the distributed
    * threshold the previous checkpoint rolls forward as a DataFrame
    * ([[Checkpoints.writeDistributed]] — O(tail) driver memory); below it
    * the driver snapshot serializes directly (a Spark job per checkpoint
    * costs more than it saves at small file counts). */
  private def writeCheckpoint(v: Long): Unit =
    log.readLastCheckpoint() match {
      case Some((cv, _, _)) if cv >= v => () // already checkpointed at/past v
      case Some((_, size, _)) if size >= distributedSnapshotThreshold =>
        Checkpoints.writeDistributed(spark, log, v)
      case _ => Checkpoints.write(spark, log, snapshot(Some(v)))
    }

  /**
   * Retention cleanup (reference: checkpoint retention of 10 + log cleanup
   * below the oldest retained checkpoint, src/delta/checkpoint.ts:476-589):
   * keep the newest `keepCheckpoints` checkpoints, delete older checkpoint
   * files and all commit JSONs below the oldest retained checkpoint (those
   * versions remain reconstructible FROM that checkpoint onward; earlier
   * time travel is given up, which is the point of retention).
   */
  def cleanupLog(keepCheckpoints: Int = 10): (Int, Int) = {
    val cps = Checkpoints.listCheckpointVersions(log)
    if (cps.size <= keepCheckpoints) return (0, 0)
    val retained = cps.takeRight(keepCheckpoints)
    val oldest = retained.head
    var cpDeleted = 0; var commitsDeleted = 0
    cps.dropRight(keepCheckpoints).foreach { v =>
      if (fs.delete(log.checkpointFile(v), false)) cpDeleted += 1
      // multi-part pieces, if any
      fs.globStatus(new Path(log.logPath, f"$v%020d.checkpoint.*.parquet"))
        .foreach(st => if (fs.delete(st.getPath, false)) cpDeleted += 1)
    }
    log.listCommitVersions().filter(_ < oldest).foreach { v =>
      if (fs.delete(log.commitFile(v), false)) commitsDeleted += 1
    }
    (cpDeleted, commitsDeleted)
  }

  /** Commit history, newest first. */
  def history(): Seq[(Long, Seq[Action])] =
    log.listCommitVersions().reverse.map(v => v -> log.readCommit(v))

  /** Last streaming-transaction version committed by `appId` (Delta's
    * `txnVersion`; set by [[write]]'s `txn` parameter, replayed through
    * checkpoints) — the idempotence query an exactly-once sink needs. */
  def lastTransactionVersion(appId: String): Option[Long] =
    metaSnapshot().transactions.get(appId)

  /** Current table configuration from the latest metaData action
    * (reference: getTableConfiguration, src/delta/table.ts:369-371). Empty
    * before the first write. */
  def configuration: Map[String, String] =
    metaSnapshot().metadata.map(_.configuration).getOrElse(Map.empty)

  /** Table-level summary (Delta's DESCRIBE DETAIL; north-star — driver-side
    * log metadata only, no data scan). */
  def detail(): Map[String, Any] = {
    val snap = snapshot()
    Map(
      "format" -> "graft-delta",
      "location" -> path,
      "version" -> snap.version,
      "numFiles" -> snap.activeFiles.size.toLong,
      "sizeInBytes" -> snap.activeFiles.map(_.size).sum,
      "partitionColumns" -> snap.partitionColumns,
      "properties" -> snap.configuration,
      "createdAt" -> snap.metadata.map(_.createdTime).getOrElse(0L),
      "minReaderVersion" -> snap.protocol.map(_.minReaderVersion).getOrElse(1),
      "minWriterVersion" -> snap.protocol.map(_.minWriterVersion).getOrElse(2))
  }

  /** Checkpoint versions present on disk, ascending (reference:
    * discoverCheckpoints, src/delta/table.ts:2137-2139). */
  def discoverCheckpoints(): Seq[Long] = Checkpoints.listCheckpointVersions(log)

  /** Latest checkpoint version, if any (reference: findLatestCheckpoint,
    * src/delta/table.ts:2147-2149). */
  def findLatestCheckpoint(): Option[Long] = discoverCheckpoints().lastOption

  /** Whether the checkpoint at `version` exists and replays cleanly
    * (reference: validateCheckpoint, src/delta/checkpoint.ts — existence +
    * readability, never throws). */
  def validateCheckpoint(version: Long): Boolean =
    try {
      val snap = Checkpoints.read(spark, log, version,
        Checkpoints.partsFor(log, version))
      snap.version == version
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Commit versions [[cleanupLog]] would delete with the same retention —
    * a dry run (reference: getCleanableLogVersions,
    * src/delta/table.ts:2189-2191). */
  def getCleanableLogVersions(keepCheckpoints: Int = 10): Seq[Long] = {
    val cps = Checkpoints.listCheckpointVersions(log)
    if (cps.size <= keepCheckpoints) return Seq.empty
    val oldest = cps.takeRight(keepCheckpoints).head
    log.listCommitVersions().filter(_ < oldest)
  }
}

object DeltaTable {
  def forPath(spark: SparkSession, path: String): DeltaTable =
    new DeltaTable(spark, path)

  /** Fault-injection seam for crash tests: invoked after an append's data
    * files are written but BEFORE the commit is attempted. A forked test
    * JVM replaces it with a park-and-await so the parent can kill -9 it
    * in the vulnerable window; production never touches it. */
  private[graft] var onDataFilesStaged: Seq[AddFile] => Unit = _ => ()

  /** The key DML and index builds match a read file by: the decoded path
    * of a `_metadata.file_path` URI, equal to [[DeltaTable.fileKeyOf]] of
    * the log entry it was read from. `new Path(uri).toUri.getPath` is not: a
    * Path built from a string quotes its `%` again, so an escaped
    * partition directory (`p=a%3Ab`, `p=caf%C3%A9`) would match nothing. */
  def fileKey(filePath: String): String = new java.net.URI(filePath).getPath

  /** Whether `path` holds a Delta table (a `_delta_log` with ≥1 commit). */
  def isDeltaTable(spark: SparkSession, path: String): Boolean =
    try forPath(spark, path).version >= 0
    catch { case scala.util.control.NonFatal(_) => false }

  /** The two field-metadata keys Spark's default-column machinery reads.
    * They must stay in the CATALOG-facing schema (the V2 column conversion
    * needs both to expose a ColumnDefaultValue, which is what makes INSERT
    * substitution work) but must NEVER reach a parquet READER schema:
    * Spark's readers fill columns missing from a file with EXISTS_DEFAULT,
    * and this engine's defaults are write-time-only — a file written before
    * a column existed must read NULL, not a later default. */
  private val DefaultKeys = Seq("CURRENT_DEFAULT", "EXISTS_DEFAULT")

  /** `schema` with CURRENT_DEFAULT/EXISTS_DEFAULT stripped from every
    * field (other metadata — column-mapping physical names etc. — kept). */
  private[graft] def stripDefaultMetadata(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!DefaultKeys.exists(f.metadata.contains)) f
      else {
        val b = new MetadataBuilder().withMetadata(f.metadata)
        DefaultKeys.foreach(b.remove)
        f.copy(metadata = b.build())
      }
    })

  /** `delta.appendOnly=true` protocol enforcement (the reference documents
    * the key in its updateMetadata example, src/delta/table.ts:2431, but
    * never enforces it; Delta's protocol blocks any dataChange=true file
    * removal on such tables). Layout-only rewrites are exempt. */
  private[delta] def assertNotAppendOnly(snap: Snapshot, op: String): Unit =
    if (snap.configuration.get("delta.appendOnly").contains("true"))
      throw new ValidationException(
        s"table is append-only (delta.appendOnly=true): $op is not allowed")
}
