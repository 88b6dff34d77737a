package graft.delta

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.json4s.JObject
import org.json4s.jackson.JsonMethods
import scala.util.control.NonFatal

/**
 * Snapshot reconstruction for LARGE tables: the checkpoint's add-file set
 * never materializes on the driver. The reference (src/delta/table.ts:557-642)
 * and the [[Snapshot.replay]] fast-path hold every active file in driver
 * memory — correct up to ~10⁶ files, but the one remaining O(files) driver
 * structure at 100-TB scale (10⁶–10⁷ files).
 *
 * Decode once. A checkpoint's add rows are parsed ONCE per session, by
 * [[Actions.parseAdd]] (the driver route's parser), into typed [[AddRow]]s
 * spread over `defaultParallelism` partitions and persisted
 * `MEMORY_AND_DISK`: compressed columnar batches in executor storage
 * memory, spilled to executor-local disk past it, never driver heap. Every
 * later call on that checkpoint, at any target version, filters the cached
 * rows: the claim check reads only their `partitionValues` column, pruning
 * and the metadata fold deserialize them. Per target version only the
 * commit tail since the checkpoint (bounded by the checkpoint interval)
 * replays on the driver; the paths it touched leave the cached rows by a
 * broadcast anti-join on `path`. The [[DataSkipping]] predicate — bound
 * once on the driver, the same expression the driver path evaluates — runs
 * in executors, and only the files that SURVIVE pruning are collected.
 * Driver memory is O(tail actions + surviving files), the same order as
 * the file list Spark's own scan needs anyway.
 *
 * Lifecycle. A (table, session) pair holds at most one decoded checkpoint:
 * a different one (the pointer moved on, or the table was dropped and
 * recreated) replaces it and unpersists the old rows, and past
 * [[MaxTables]] pairs the least recently used is dropped and unpersisted.
 * Rows a user dropped (`spark.catalog.clearCache()`) are persisted again by
 * the next call that reads them.
 *
 * [[DeltaTable.query]] routes here when the `_last_checkpoint` action count
 * is at or above the table's `distributedSnapshotThreshold`; below it the
 * driver fast-path costs less than a Spark job per snapshot.
 */
object DistributedSnapshot {

  /** Action-count threshold above which scans reconstruct state on
    * executors. Below it the driver route is cheaper: it replays a version
    * once, keeps the file list in its snapshot cache (~200 B of driver heap
    * per action, ~20 MB at 10⁵) and prunes with no Spark job. Above it that
    * copy grows without bound, while this route keeps the decoded state in
    * executor storage and pays a few small jobs per query. */
  val DefaultThreshold = 100000L

  /** Decoded checkpoints kept at once, over all (table, session) pairs. */
  private val MaxTables = 4

  /** Per-target tail states kept per decoded checkpoint. */
  private val MaxTargets = 8

  /** One checkpoint add action as the decoded state stores it: typed
    * columns, with the stats and the deletion vector kept as their JSON
    * text (null when absent). [[toAddFile]] of [[AddRow.decode]]`(json)`
    * is exactly [[Actions.parseAdd]] of `json`. */
  private[delta] final case class AddRow(
      path: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      dataChange: Boolean,
      stats: String,
      deletionVector: String) {
    def toAddFile: AddFile = AddFile(path, partitionValues, size,
      modificationTime, dataChange, Option(stats),
      Option(deletionVector).map(JsonMethods.parse(_).asInstanceOf[JObject]))
  }

  private[delta] object AddRow {
    def decode(json: String): AddRow = {
      val a = Actions.parseAdd(JsonMethods.parse(json))
      AddRow(a.path, a.partitionValues, a.size, a.modificationTime, a.dataChange,
        a.stats.orNull,
        a.deletionVector.map(dv => JsonMethods.compact(JsonMethods.render(dv))).orNull)
    }
  }

  /** Metadata/protocol/txn state at `target` WITHOUT touching the add set:
    * reads only the checkpoint's handful of non-file rows plus the commit
    * tail, and decodes no add row. O(tail) driver memory regardless of
    * table size — the right snapshot for schema resolution and
    * txn-idempotence checks, where the file list is irrelevant.
    * `activeFiles`/`tombstones` are empty. */
  def metaState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                parts: Option[Int], target: Long): Snapshot =
    rawState(spark, log, cpVersion, parts, target, withFiles = false).meta

  /**
   * State at `target` with file skipping pre-applied, replayed from the
   * checkpoint at `cpVersion` without collecting it, and the skipping
   * predicate: `predicateOf` builds the query's predicate from the schema
   * at `target`, which binds once on the driver.
   *
   * SCAN-ONLY snapshot: `tombstones` is intentionally empty (vacuum and
   * checkpoint writing must use the full driver path), and `activeFiles`
   * holds only the files that survive pruning — callers must not treat it
   * as the complete active set.
   */
  def prunedState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                  parts: Option[Int], target: Long,
                  predicateOf: StructType => Column): (Snapshot, DataSkipping.Predicate) = {
    val raw = rawState(spark, log, cpVersion, parts, target, withFiles = true)
    val meta = raw.meta
    val p = DataSkipping.bind(predicateOf(meta.schema), meta.schema, meta.partitionColumns)
    (survivors(raw, p), p)
  }

  /** State at `target` with an arbitrary serializable file predicate
    * pre-applied — the maintenance selection path (e.g. compaction's
    * below-target-size files). Same scan-only contract as [[prunedState]]. */
  def stateWhere(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                 parts: Option[Int], target: Long,
                 pred: AddFile => Boolean): Snapshot =
    survivors(rawState(spark, log, cpVersion, parts, target, withFiles = true), pred)

  /** State at one target version over a decoded checkpoint: the non-file
    * actions with the commit tail replayed over them (`meta`, no files),
    * the tail's active adds, and the checkpoint's rows that the tail did
    * not touch. */
  private final case class RawState(
      meta: Snapshot,
      tailFiles: Seq[AddFile],
      base: Dataset[AddRow])

  /** Identity of a decoded checkpoint: the table, the checkpoint version
    * and layout, the OWNING SESSION's identity (the cached rows are bound
    * to the SparkSession that built them — a second or recreated session in
    * the same JVM must never be served rows of a stopped session) and a
    * CONTENT hash of the `_last_checkpoint` pointer, so a dropped-and-
    * recreated table at the same path — which can repeat version numbers,
    * and whose pointer can alias on (mtime, length) under coarse-mtime
    * filesystems — cannot alias a stale entry. The target version is not
    * part of it: a new commit on the same checkpoint reuses the rows. */
  private[delta] final case class CheckpointKey(
      table: String,
      session: String,
      cpVersion: Long,
      parts: Option[Int],
      fingerprint: String)

  /** One decoded checkpoint: its non-file actions, read when the entry is
    * made, and its add rows, persisted by the first caller that reads them.
    * `targets` memoizes the per-target tail state: a claimed query
    * reconstructs the same pinned state twice (the claim check at
    * pushFilters, then the scan or metadata fold). */
  private final class Decoded(val key: CheckpointKey, val meta: Snapshot,
                              val files: Dataset[AddRow]) {
    val targets = new java.util.concurrent.ConcurrentHashMap[Long, RawState]()

    def cached: Boolean = files.storageLevel != StorageLevel.NONE

    def materialize(): Unit = {
      files.persist(StorageLevel.MEMORY_AND_DISK)
      files.count()
    }

    /** Unpersists the rows; a session that has since stopped has none. */
    def release(): Unit =
      try files.unpersist(blocking = false) catch { case NonFatal(_) => () }
  }

  /** A (table, session) pair's decoded checkpoint. Its monitor serializes
    * decoding, so two first users of a checkpoint decode it once; `dropped`
    * marks a slot evicted after a caller looked it up. */
  private final class Slot {
    var decoded: Decoded = _
    var dropped = false
  }

  /** Slots by (table, session), least recently used first. */
  private val slots = new java.util.LinkedHashMap[(String, String), Slot](16, 0.75f, true)

  /** Stable identity of the session INSTANCE (not just the app): Spark's
    * own per-session UUID when the runtime exposes it, else the identity
    * hash (JVM-unique per live instance — the cache is JVM-local). */
  private[delta] def sessionIdentity(spark: SparkSession): String =
    (try {
      val m = spark.getClass.getMethod("sessionUUID")
      Option(m.invoke(spark)).map(_.toString)
    } catch { case _: Throwable => None })
      .getOrElse("idhash-" + System.identityHashCode(spark).toHexString)

  /** Content fingerprint of the `_last_checkpoint` pointer: an MD5 of its
    * bytes (the file is a one-line JSON — O(100 B) to read), never the
    * (mtime, length) pair, which coarse-mtime filesystems can alias across
    * a drop-and-recreate at the same path. Unreadable/absent → a sentinel
    * that still keys consistently for checkpoint-less tables. */
  private[delta] def checkpointFingerprint(log: DeltaLog): String =
    try {
      val body = log.readString(log.lastCheckpointFile)
      java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    } catch { case _: Throwable => "no-checkpoint-pointer" }

  private[delta] def cacheKeyFor(spark: SparkSession, log: DeltaLog,
                                 cpVersion: Long, parts: Option[Int]): CheckpointKey =
    CheckpointKey(log.tablePath.toString, sessionIdentity(spark), cpVersion,
      parts, checkpointFingerprint(log))

  /** The checkpoint's decoded add rows, persisted — the state every
    * file-reading call filters. */
  private[delta] def decodedFiles(spark: SparkSession, log: DeltaLog,
                                  cpVersion: Long, parts: Option[Int]): Dataset[AddRow] =
    decoded(spark, log, cpVersion, parts, withFiles = true).files

  /** The decoded checkpoint for (`cpVersion`, `parts`), made when the
    * (table, session) slot holds none or another one (which is released).
    * `withFiles` also persists the add rows when they are not cached. */
  @annotation.tailrec
  private def decoded(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                      parts: Option[Int], withFiles: Boolean): Decoded = {
    val key = cacheKeyFor(spark, log, cpVersion, parts)
    val evicted = Seq.newBuilder[Slot]
    val slot = slots.synchronized {
      val s = slots.computeIfAbsent((key.table, key.session), _ => new Slot)
      val lru = slots.values.iterator
      while (slots.size > MaxTables) { evicted += lru.next(); lru.remove() }
      s
    }
    evicted.result().foreach { s =>
      s.synchronized {
        s.dropped = true
        if (s.decoded != null) s.decoded.release()
        s.decoded = null
      }
    }
    val d = slot.synchronized {
      if (slot.dropped) null
      else {
        val d =
          if (slot.decoded != null && slot.decoded.key == key) slot.decoded
          else {
            if (slot.decoded != null) slot.decoded.release()
            slot.decoded = decode(spark, log, key)
            slot.decoded
          }
        if (withFiles && !d.cached) d.materialize()
        d
      }
    }
    if (d != null) d else decoded(spark, log, cpVersion, parts, withFiles)
  }

  /** The checkpoint's non-file actions, and its add rows as a (not yet
    * persisted) Dataset: the raw JSON is spread over `defaultParallelism`
    * partitions first, so the parse runs in that many tasks even when the
    * checkpoint is one Parquet file. */
  private def decode(spark: SparkSession, log: DeltaLog, key: CheckpointKey): Decoded = {
    import spark.implicits._
    val state = Checkpoints.readStateDf(spark, log, key.cpVersion, key.parts)
    val files = state.where(col("add").isNotNull).select(col("add"))
      .repartition(spark.sparkContext.defaultParallelism, col("add"))
      .as[String].map(AddRow.decode)
    new Decoded(key, Checkpoints.metaState(state, key.cpVersion), files)
  }

  private def rawState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                       parts: Option[Int], target: Long,
                       withFiles: Boolean): RawState = {
    val d = decoded(spark, log, cpVersion, parts, withFiles)
    val hit = d.targets.get(target)
    if (hit != null) return hit
    if (d.targets.size >= MaxTargets) d.targets.clear()
    val built = replayTail(spark, log, d, target)
    Option(d.targets.putIfAbsent(target, built)).getOrElse(built)
  }

  /** Replays the commit tail after the checkpoint up to `target` on the
    * driver. Every path the tail touched leaves the checkpoint rows,
    * whatever the action: the LAST action for a path wins, and it is among
    * the replayed files iff it was an add. */
  private def replayTail(spark: SparkSession, log: DeltaLog, d: Decoded,
                         target: Long): RawState = {
    import spark.implicits._
    val commits = log.listCommitVersions()
      .filter(v => v > d.key.cpVersion && v <= target)
      .map(v => v -> log.readCommit(v))
    val replayed = Snapshot.replay(d.meta, commits.iterator)
    val touched = commits.flatMap(_._2.collect {
      case a: AddFile => a.path
      case r: RemoveFile => r.path
    }).distinct
    val base =
      if (touched.isEmpty) d.files
      else d.files.join(broadcast(touched.toDF("__p")), col("path") === col("__p"),
        "left_anti").as[AddRow]
    RawState(replayed.copy(version = target, activeFiles = Nil, tombstones = Nil),
      replayed.activeFiles, base)
  }

  /** `raw.meta` with the active files of `raw` that `keep` admits. */
  private def survivors(raw: RawState, keep: AddFile => Boolean): Snapshot = {
    val cpSurvivors = raw.base
      .filter((r: AddRow) => keep(r.toAddFile))
      .collect()
      .map(_.toAddFile)
      .toSeq
    raw.meta.copy(activeFiles = cpSurvivors ++ raw.tailFiles.filter(keep))
  }

  /** NEVER-MATERIALIZING metadata fold (round 16): COUNT/MIN/MAX, global
    * or GROUP BY partition columns, over the active files at `target` that
    * every CLAIMED filter decides True on. The bound
    * [[StatsAggregates.Fold]] runs on executors, one `over` per RDD
    * partition, and its states merge on the driver with the commit tail's:
    * driver traffic is one state per partition (a few values per group),
    * never O(files). A metadata-answered aggregate never plans a scan, so
    * nothing justifies an O(matching files) driver list.
    *
    * `claimed` filters are exact-decidable by contract (claimDecided
    * verified them); a file keeps iff every one evaluates True. None =
    * refused (the caller falls back to the scan). */
  def foldAggregates(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                     parts: Option[Int], target: Long,
                     claimed: Seq[org.apache.spark.sql.sources.Filter],
                     schema: StructType, groupCols: Seq[String],
                     aggs: Seq[StatsAggregates.StatAgg]): Option[Seq[Seq[Any]]] = {
    val raw = rawState(spark, log, cpVersion, parts, target, withFiles = true)
    val partCols = raw.meta.partitionColumns.toSet
    val fold = StatsAggregates.bind(schema, partCols, groupCols, aggs)
      .getOrElse(return None)
    val selects = PartitionFilters.selects(claimed, partCols, schema)
    def keep(f: AddFile): Boolean = selects(f.partitionValues)
    val states = raw.base.rdd.mapPartitions { it =>
      Iterator.single(fold.over(it.map(_.toAddFile).filter(keep)))
    }.collect()
    val tail = fold.over(raw.tailFiles.filter(keep))
    StatsAggregates.distributedFolds.incrementAndGet()
    fold.finish(states.foldLeft(tail)(fold.merge))
  }

  /** Distributed CLAIMABILITY check (round 15 — the driver claim switches
    * off above the snapshot threshold, exactly where the metadata-fold
    * payoff is largest): which of `candidates` are exactly decidable
    * ([[PartitionFilters.Bound.eval]] defined) on EVERY active file at
    * `target`.
    * One narrow job over the cached rows' `partitionValues` column — each
    * partition folds an undecided-bitmask, the driver ORs the per-partition
    * masks and the tail files — nothing per-file ever materializes on the
    * driver. The kept set is NOT returned: a claimed filter's verdict is a
    * pure function of (file, filter, schema), so downstream consumers re-run
    * the tri-state eval over their (pruned) survivors instead of holding
    * a 10⁷-path set. */
  def claimDecided(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                   parts: Option[Int], target: Long,
                   candidates: Seq[org.apache.spark.sql.sources.Filter],
                   schema: StructType): Seq[org.apache.spark.sql.sources.Filter] = {
    import spark.implicits._
    val raw = rawState(spark, log, cpVersion, parts, target, withFiles = true)
    val partCols = raw.meta.partitionColumns.toSet
    if (partCols.isEmpty || candidates.isEmpty) return Nil
    // Bound once here; executors only evaluate. A candidate that does not
    // bind starts out undecided.
    val bound = PartitionFilters.bind(candidates, partCols, schema).toArray
    val nC = bound.length
    def undecidedOn(pv: Map[String, String], und: Array[Boolean]): Unit = {
      var i = 0
      while (i < nC) {
        if (!und(i) && bound(i).forall(_.eval(pv).isEmpty))
          und(i) = true
        i += 1
      }
    }
    // Decidability needs ONLY partitionValues: the columnar cache hands
    // over that one column, and no other field is deserialized.
    val perPartition: Array[Array[Boolean]] =
      raw.base.select(col("partitionValues")).as[Map[String, String]]
        .rdd.mapPartitions { it =>
          val und = new Array[Boolean](nC)
          it.foreach(pv => undecidedOn(pv, und))
          Iterator.single(und)
        }.collect()
    val und = bound.map(_.isEmpty)
    perPartition.foreach(p => (0 until nC).foreach(i => und(i) |= p(i)))
    raw.tailFiles.foreach(f => undecidedOn(f.partitionValues, und))
    candidates.zipWithIndex.collect { case (c, i) if !und(i) => c }
  }
}
