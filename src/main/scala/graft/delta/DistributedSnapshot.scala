package graft.delta

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, get_json_object}
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Snapshot reconstruction for LARGE tables: the checkpoint's add-file set
 * never materializes on the driver. The reference (src/delta/table.ts:557-642)
 * and the [[Snapshot.replay]] fast-path hold every active file in driver
 * memory — correct up to ~10⁶ files, but the one remaining O(files) driver
 * structure at 100-TB scale (10⁶–10⁷ files). Here the checkpoint stays a
 * DataFrame ([[Checkpoints.readStateDf]]); the commit tail since the
 * checkpoint (bounded by the checkpoint interval) is replayed driver-side
 * and reconciled against the checkpoint via a broadcast anti-join on path;
 * the [[DataSkipping]] predicate — bound once on the driver, the same
 * expression the driver path evaluates — runs in executors; and only the
 * files that SURVIVE pruning
 * are collected. Driver memory is O(tail actions + surviving files), the
 * same order as the file list Spark's own scan needs anyway.
 *
 * [[DeltaTable.query]] routes here when the `_last_checkpoint` action count
 * is at or above the table's `distributedSnapshotThreshold`; below it the
 * driver fast-path costs less than a Spark job per snapshot.
 */
object DistributedSnapshot {

  /** Action-count threshold above which scans reconstruct state on
    * executors. 100k actions ≈ 20 MB of driver JSON parse per snapshot —
    * around where a metadata Spark job starts paying for itself. */
  val DefaultThreshold = 100000L

  /** Metadata/protocol/txn state at `target` WITHOUT touching the add set:
    * reads only the checkpoint's handful of non-file rows plus the commit
    * tail. O(tail) driver memory regardless of table size — the right
    * snapshot for schema resolution and txn-idempotence checks, where the
    * file list is irrelevant. `activeFiles`/`tombstones` are empty. */
  def metaState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                parts: Option[Int], target: Long): Snapshot =
    metaOf(rawState(spark, log, cpVersion, parts, target), target)

  private def metaOf(raw: RawState, target: Long): Snapshot =
    Snapshot(target, raw.metadata, raw.protocol, Nil, Nil, raw.txns)

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
    val raw = rawState(spark, log, cpVersion, parts, target)
    val meta = metaOf(raw, target)
    val p = DataSkipping.bind(predicateOf(meta.schema), meta.schema, meta.partitionColumns)
    (survivors(raw, meta, p), p)
  }

  /** State at `target` with an arbitrary serializable file predicate
    * pre-applied — the maintenance selection path (e.g. compaction's
    * below-target-size files). Same scan-only contract as [[prunedState]]. */
  def stateWhere(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                 parts: Option[Int], target: Long,
                 pred: AddFile => Boolean): Snapshot = {
    val raw = rawState(spark, log, cpVersion, parts, target)
    survivors(raw, metaOf(raw, target), pred)
  }

  /** Intermediate reconstruction state shared by the snapshot and the
    * claimability paths: non-file actions + driver-replayed tail, with the
    * checkpoint's add set still a distributed Dataset of raw JSON
    * (checkpoint adds superseded by tail actions already anti-joined out). */
  private final case class RawState(
      metadata: Option[TableMetadata],
      protocol: Option[Protocol],
      txns: Map[String, Long],
      tailFiles: Seq[AddFile],
      baseAddJson: org.apache.spark.sql.Dataset[String])

  /** Memo for [[rawState]]: a claimed query reconstructs the same pinned
    * state twice (the claimability check at pushFilters, then the scan or
    * metadata fold) — the key pins (table, checkpoint, target version)
    * PLUS the OWNING SESSION's identity (the cached `baseAddJson` Dataset is
    * bound to the SparkSession that built it — a second or recreated session
    * in the same JVM must never be served a Dataset referencing a stopped
    * session) PLUS a CONTENT hash of the `_last_checkpoint` pointer, so a
    * dropped-and-recreated table at the same path — which can repeat version
    * numbers, and whose pointer can alias on (mtime, length) under
    * coarse-mtime filesystems — cannot alias a stale entry. Entries are
    * immutable once keyed; sharing one halves per-query checkpoint reads +
    * tail replays. Bounded: cleared wholesale past 8 entries. */
  private val rawCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Option[Int], Long, String, String), RawState]()

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
                                 cpVersion: Long, parts: Option[Int],
                                 target: Long): (String, Long, Option[Int], Long, String, String) =
    (log.tablePath.toString, cpVersion, parts, target,
      sessionIdentity(spark), checkpointFingerprint(log))

  private def rawState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                       parts: Option[Int], target: Long): RawState = {
    val key = cacheKeyFor(spark, log, cpVersion, parts, target)
    val hit = rawCache.get(key)
    if (hit != null) return hit
    if (rawCache.size > 8) rawCache.clear()
    val built = buildRawState(spark, log, cpVersion, parts, target)
    rawCache.put(key, built)
    built
  }

  private def buildRawState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                            parts: Option[Int], target: Long): RawState = {
    import spark.implicits._
    val state = Checkpoints.readStateDf(spark, log, cpVersion, parts)

    // Non-file actions (metadata/protocol/txn): a handful of rows.
    var metadata: Option[TableMetadata] = None
    var protocol: Option[Protocol] = None
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    state.where(col("add").isNull && col("remove").isNull).collect().foreach { r =>
      if (r.getString(2) != null)
        metadata = Some(Actions.parseMetadata(JsonMethods.parse(r.getString(2))))
      else if (r.getString(3) != null)
        protocol = Some(Actions.parseProtocol(JsonMethods.parse(r.getString(3))))
      else if (r.getString(4) != null) {
        val t = Actions.parseTxn(JsonMethods.parse(r.getString(4)))
        txns.put(t.appId, t.version)
      }
    }

    // Commit tail: sequential driver replay, bounded by the checkpoint
    // interval. `touched` paths override the checkpoint regardless of the
    // action kind (the LAST action for a path wins, and it lives in
    // `tailFiles` iff it was an add).
    val tailVersions = log.listCommitVersions().filter(v => v > cpVersion && v <= target)
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    val tailFiles = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    tailVersions.foreach { v =>
      log.readCommit(v).foreach {
        case a: AddFile => touched += a.path; tailFiles.put(a.path, a)
        case r: RemoveFile => touched += r.path; tailFiles.remove(r.path)
        case m: TableMetadata => metadata = Some(m)
        case p: Protocol => protocol = Some(p)
        case t: Txn => txns.put(t.appId, t.version)
        case _ => ()
      }
    }

    // Reconcile on executors. Path extraction for the anti-join is
    // get_json_object (codegen'd) — the full AddFile parse happens once per
    // row inside whatever per-file work the caller distributes.
    val addJson = state.where(col("add").isNotNull).select(col("add")).as[String]
    val base =
      if (touched.isEmpty) addJson
      else addJson.join(broadcast(touched.toSeq.toDF("__p")),
          get_json_object(col("add"), "$.path") === col("__p"), "left_anti")
        .select(col("add")).as[String]
    RawState(metadata, protocol, txns.toMap, tailFiles.values.toSeq, base)
  }

  /** `meta` with the active files of `raw` that `keep` admits. */
  private def survivors(raw: RawState, meta: Snapshot,
                        keep: AddFile => Boolean): Snapshot = {
    val cpSurvivors = raw.baseAddJson
      .filter { js: String => keep(Actions.parseAdd(JsonMethods.parse(js))) }
      .collect()
      .map(js => Actions.parseAdd(JsonMethods.parse(js)))
      .toSeq
    meta.copy(activeFiles = cpSurvivors ++ raw.tailFiles.filter(keep))
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
    val raw = rawState(spark, log, cpVersion, parts, target)
    val partCols = raw.metadata.map(_.partitionColumns).getOrElse(Nil).toSet
    val fold = StatsAggregates.bind(schema, partCols, groupCols, aggs)
      .getOrElse(return None)
    val selects = PartitionFilters.selects(claimed, partCols, schema)
    def keep(f: AddFile): Boolean = selects(f.partitionValues)
    val states = raw.baseAddJson.rdd.mapPartitions { it =>
      Iterator.single(fold.over(
        it.map(js => Actions.parseAdd(JsonMethods.parse(js))).filter(keep)))
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
    * One narrow job over the checkpoint's add rows — each partition folds
    * an undecided-bitmask, the driver ORs the per-partition masks and the
    * tail files — nothing per-file ever materializes on the driver. The
    * kept set is NOT returned: a claimed filter's verdict is a pure
    * function of (file, filter, schema), so downstream consumers re-run
    * the tri-state eval over their (pruned) survivors instead of holding
    * a 10⁷-path set. */
  def claimDecided(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                   parts: Option[Int], target: Long,
                   candidates: Seq[org.apache.spark.sql.sources.Filter],
                   schema: StructType): Seq[org.apache.spark.sql.sources.Filter] = {
    import spark.implicits._
    val raw = rawState(spark, log, cpVersion, parts, target)
    val partCols = raw.metadata.map(_.partitionColumns).getOrElse(Nil).toSet
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
    // Decidability needs ONLY partitionValues — project it out with
    // codegen'd from_json (a partial schema: every other AddFile field is
    // skipped at parse time) instead of fully parsing each add action with
    // json4s. On the 10⁷-file tables this path targets, per-row parse cost
    // is the whole job, and stats/DV strings dominate the add JSON.
    val pvOnly = StructType(Seq(StructField(
      "partitionValues", MapType(StringType, StringType))))
    val perPartition: Array[Array[Boolean]] =
      raw.baseAddJson
        .select(org.apache.spark.sql.functions
          .from_json(col(raw.baseAddJson.columns.head), pvOnly)
          .getField("partitionValues").as("pv"))
        .as[Map[String, String]]
        .rdd.mapPartitions { it =>
          val und = new Array[Boolean](nC)
          it.foreach(pv =>
            undecidedOn(if (pv == null) Map.empty[String, String] else pv, und))
          Iterator.single(und)
        }.collect()
    val und = bound.map(_.isEmpty)
    perPartition.foreach(p => (0 until nC).foreach(i => und(i) |= p(i)))
    raw.tailFiles.foreach(f => undecidedOn(f.partitionValues, und))
    candidates.zipWithIndex.collect { case (c, i) if !und(i) => c }
  }
}
