package graft.delta

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
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
 * Decode once. A checkpoint's add rows are parsed ONCE per session into
 * typed rows ([[FileRows]]) spread over `defaultParallelism` partitions
 * and persisted `MEMORY_AND_DISK`: compressed columnar batches in executor
 * storage memory, spilled to executor-local disk past it, never driver
 * heap. A row carries the add action's own fields ([[AddRow]]; stats and
 * deletion vector stay JSON text, for [[AddRow.toAddFile]]) and typed
 * columns laid out from the checkpoint's metadata: each partition value
 * decoded by [[PartitionPaths.decoder]], with how it decoded
 * ([[PartitionFilters.decode]]), `numRecords`, and each data column's
 * null count and, for the types [[DataSkipping.statValue]] decodes, its
 * min and max. A missing stat is null.
 *
 * Claim and prune run as Catalyst over those columns. Pruning filters the
 * cached rows with the bound [[DataSkipping]] predicate's own expression
 * ([[DataSkipping.Predicate.overColumns]]), so only the files that
 * SURVIVE become [[AddFile]]s and reach the driver. Caching the rows also
 * collects their distinct partition-value tuples (up to
 * [[MaxSummaryTuples]]); the claim check evaluates each candidate on
 * those and on the commit tail's files, on the driver, so a claimed query
 * on a decoded checkpoint runs no claim job. Per target version only the
 * commit tail since the checkpoint (bounded by the checkpoint interval)
 * replays on the driver; the paths it touched leave the cached rows by a
 * broadcast anti-join on `path`. Driver memory is O(tail actions +
 * surviving files), the same order as the file list Spark's own scan
 * needs anyway. [[stateWhere]]'s arbitrary file predicates and the
 * metadata fold still build each row's [[AddFile]] on executors.
 *
 * Lifecycle. A (table, session) pair holds at most one decoded checkpoint:
 * a different one (the pointer moved on, or the table was dropped and
 * recreated) replaces it and unpersists the old rows, and past
 * [[MaxTables]] pairs the least recently used is dropped and unpersisted.
 * Rows a user dropped (`spark.catalog.clearCache()`) are decoded from the
 * checkpoint and persisted again by the next call that reads them.
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
    * executor storage and pays one small pruning job per query. */
  val DefaultThreshold = 100000L

  /** Decoded checkpoints kept at once, over all (table, session) pairs. */
  private val MaxTables = 4

  /** Per-target tail states kept per decoded checkpoint. */
  private val MaxTargets = 8

  /** Distinct partition-value tuples a decoded checkpoint's claim
    * summary holds at most; past it each claim check runs a job. */
  private val MaxSummaryTuples = 4096

  /** One checkpoint add action's own fields, as the decoded rows store
    * them: the stats and the deletion vector kept as their JSON text (null
    * when absent). [[toAddFile]] of the row [[FileRows.decode]] makes of
    * `json` is exactly [[Actions.parseAdd]] of `json`. */
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

  /** The layout of a checkpoint's decoded file rows: the [[AddRow]]
    * fields, then typed columns made from the checkpoint's `schema` and
    * `partitionColumns`. For partition column i, `part_i` holds its value
    * and `part_i_state` how it decoded; `numRecords` follows; for each
    * other top-level column j, `nulls_j` holds its null count, and
    * `min_j`/`max_j` its bounds when [[DataSkipping.decodesBounds]] says
    * they decode. Serializable: executors decode with it. */
  private[delta] final class FileRows(tableSchema: StructType, partitionColumns: Seq[String])
    extends Serializable {

    private val parts: Array[StructField] =
      partitionColumns.flatMap(c => tableSchema.fields.find(_.name == c)).toArray
    private val data: Array[StructField] =
      tableSchema.fields.filterNot(f => partitionColumns.contains(f.name))

    val schema: StructType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType, nullable = false),
      StructField("modificationTime", LongType, nullable = false),
      StructField("dataChange", BooleanType, nullable = false),
      StructField("stats", StringType),
      StructField("deletionVector", StringType)) ++
      parts.indices.flatMap(i => Seq(StructField(s"part_$i", parts(i).dataType),
        StructField(s"part_${i}_state", ByteType, nullable = false))) ++
      Seq(StructField("numRecords", LongType)) ++
      data.indices.flatMap { j =>
        val dt = data(j).dataType
        (if (DataSkipping.decodesBounds(dt))
          Seq(StructField(s"min_$j", dt), StructField(s"max_$j", dt)) else Nil) :+
          StructField(s"nulls_$j", LongType)
      })

    private def text(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

    /** One add action's row: parsed once, by [[Actions.parseAdd]]. */
    def decode(json: String): InternalRow = {
      val a = Actions.parseAdd(JsonMethods.parse(json))
      val row = new GenericInternalRow(schema.length)
      val pv = a.partitionValues.toArray
      row.update(0, text(a.path))
      row.update(1, new ArrayBasedMapData(new GenericArrayData(pv.map(kv => text(kv._1): Any)),
        new GenericArrayData(pv.map(kv => text(kv._2): Any))))
      row.setLong(2, a.size)
      row.setLong(3, a.modificationTime)
      row.setBoolean(4, a.dataChange)
      row.update(5, text(a.stats.orNull))
      row.update(6, a.deletionVector.map(dv => text(JsonMethods.compact(JsonMethods.render(dv)))).orNull)
      var at = 7
      parts.foreach { f =>
        val (state, v) = PartitionFilters.decode(a.partitionValues.get(f.name), f.dataType)
        row.update(at, v)
        row.setByte(at + 1, state)
        at += 2
      }
      val st = a.parsedStats
      row.update(at, st.map(s => s.numRecords: Any).orNull)
      at += 1
      data.foreach { f =>
        if (DataSkipping.decodesBounds(f.dataType)) {
          row.update(at, st.flatMap(_.minValues.get(f.name))
            .map(DataSkipping.statValue(_, f.dataType)).orNull)
          row.update(at + 1, st.flatMap(_.maxValues.get(f.name))
            .map(DataSkipping.statValue(_, f.dataType)).orNull)
          at += 2
        }
        row.update(at, st.flatMap(_.nullCount.get(f.name)).map(n => n: Any).orNull)
        at += 1
      }
      row
    }

    /** The typed columns of `rows` (a Dataset of this layout), by the
      * skipping predicate's slots. A column that is not in the
      * checkpoint's schema with the same type has none; a min or max of a
      * type whose stats never decode is a null literal, as the stats row
      * holds it. */
    def columns(rows: DataFrame): DataSkipping.FileColumns = {
      val out: Map[String, Expression] =
        rows.queryExecution.analyzed.output.map(a => a.name -> (a: Expression)).toMap
      new DataSkipping.FileColumns {
        def numRecords: Expression = out("numRecords")
        def stat(name: String, dt: DataType, kind: Char): Option[Expression] =
          data.indexWhere(_.name == name) match {
            case -1 => None
            case j if kind == 'n' => Some(out(s"nulls_$j"))
            case j if data(j).dataType != dt => None
            case j if DataSkipping.decodesBounds(dt) =>
              Some(out(s"${if (kind == 'l') "min" else "max"}_$j"))
            case _ => Some(Literal(null, dt))
          }
        def partition(name: String, dt: DataType): Option[(Expression, Expression)] =
          parts.indexWhere(_.name == name) match {
            case i if i >= 0 && parts(i).dataType == dt =>
              Some((out(s"part_${i}_state"), out(s"part_$i")))
            case _ => None
          }
      }
    }
  }

  /** The [[AddRow]] fields of decoded rows. */
  private def addRows(rows: DataFrame): Dataset[AddRow] = {
    import rows.sparkSession.implicits._
    rows.select(col("path"), col("partitionValues"), col("size"), col("modificationTime"),
      col("dataChange"), col("stats"), col("deletionVector")).as[AddRow]
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
    val kept = p.overColumns(raw.decoded.rows.columns(raw.base)) match {
      case Some(keep) =>
        addRows(raw.base.where(Shims.column(keep))).collect().map(_.toAddFile).toSeq
      case None => survivors(raw, p)
    }
    (meta.copy(activeFiles = kept ++ raw.tailFiles.filter(p)), p)
  }

  /** State at `target` with an arbitrary serializable file predicate
    * pre-applied — the maintenance selection path (e.g. compaction's
    * below-target-size files). Same scan-only contract as [[prunedState]]. */
  def stateWhere(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                 parts: Option[Int], target: Long,
                 pred: AddFile => Boolean): Snapshot = {
    val raw = rawState(spark, log, cpVersion, parts, target, withFiles = true)
    raw.meta.copy(activeFiles = survivors(raw, pred) ++ raw.tailFiles.filter(pred))
  }

  /** State at one target version over a decoded checkpoint: the non-file
    * actions with the commit tail replayed over them (`meta`, no files),
    * the tail's active adds, and the checkpoint's rows that the tail did
    * not touch. */
  private final class RawState(val meta: Snapshot, val tailFiles: Seq[AddFile],
                               touched: Seq[String], val decoded: Decoded) {

    /** The checkpoint's rows whose path the tail did not touch: the last
      * action for a path wins, and it is among the tail's files iff it was
      * an add. */
    lazy val base: DataFrame = {
      val files = decoded.files
      import files.sparkSession.implicits._
      if (touched.isEmpty) files
      else files.join(broadcast(touched.toDF("__p")), col("path") === col("__p"), "left_anti")
    }
  }

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
    * made, the layout of its file rows, and the rows, built and persisted
    * by the first caller that reads them (`build` makes the Dataset). With
    * the rows cached, `summary` holds their distinct partition-value tuples
    * ([[partitionTuples]]). `targets` memoizes the per-target tail state:
    * a query reconstructs the same pinned state more than once (the claim
    * check at pushFilters, then the scan or metadata fold). */
  private final class Decoded(val key: CheckpointKey, val meta: Snapshot,
                              val rows: FileRows, build: () => DataFrame) {
    val targets = new java.util.concurrent.ConcurrentHashMap[Long, RawState]()
    @volatile private var built: DataFrame = _
    @volatile var summary: Option[Seq[Map[String, String]]] = None

    def files: DataFrame = synchronized {
      if (built == null) built = build()
      built
    }

    def cached: Boolean = built != null && built.storageLevel != StorageLevel.NONE

    /** Builds the rows afresh (rows a user dropped are read from the
      * checkpoint again), forgets the tail states over the old ones, and
      * persists them. */
    def materialize(): Unit = synchronized {
      built = build()
      targets.clear()
      built.persist(StorageLevel.MEMORY_AND_DISK)
      summary = partitionTuples(built, meta.partitionColumns)
    }

    /** Unpersists the rows; a session that has since stopped has none. */
    def release(): Unit =
      if (built != null) try built.unpersist(blocking = false) catch { case NonFatal(_) => () }
  }

  /** The distinct tuples of `partitionColumns`' values over `files` (a
    * column the file's map lacks is absent from its tuple), in one job
    * that also builds the rows' cache; None past [[MaxSummaryTuples]]. */
  private def partitionTuples(files: DataFrame,
                              partitionColumns: Seq[String]): Option[Seq[Map[String, String]]] = {
    val cap = MaxSummaryTuples
    val names = partitionColumns.toArray
    val perTask = files.select(names.toSeq.map(c => col("partitionValues")(c)): _*)
      .rdd.mapPartitions { it =>
        val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
        it.foreach(r => if (seen.size <= cap) seen += names.indices.map(r.getString))
        Iterator.single(seen.toArray)
      }.collect()
    val all = perTask.iterator.flatten.toSet
    if (all.size > cap) None
    else Some(all.toSeq.map(t => names.zip(t).collect { case (k, v) if v != null => k -> v }.toMap))
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
    * file-reading call filters — as their [[AddRow]] fields. */
  private[delta] def decodedFiles(spark: SparkSession, log: DeltaLog,
                                  cpVersion: Long, parts: Option[Int]): Dataset[AddRow] =
    addRows(decodedRows(spark, log, cpVersion, parts))

  /** The checkpoint's decoded rows, persisted, with their typed columns. */
  private[delta] def decodedRows(spark: SparkSession, log: DeltaLog,
                                 cpVersion: Long, parts: Option[Int]): DataFrame =
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

  /** The checkpoint's non-file actions, and how to build its add rows (not
    * yet persisted): the raw JSON is spread over `defaultParallelism`
    * partitions first, so the parse runs in that many tasks even when the
    * checkpoint is one Parquet file. */
  private def decode(spark: SparkSession, log: DeltaLog, key: CheckpointKey): Decoded = {
    val state = Checkpoints.readStateDf(spark, log, key.cpVersion, key.parts)
    val meta = Checkpoints.metaState(state, key.cpVersion)
    val rows = new FileRows(meta.schema, meta.partitionColumns)
    new Decoded(key, meta, rows, () => {
      val json = state.where(col("add").isNotNull).select(col("add"))
        .repartition(spark.sparkContext.defaultParallelism, col("add"))
      Shims.ofInternalRows(spark, json.queryExecution.toRdd.mapPartitions(
        _.map(r => rows.decode(r.getUTF8String(0).toString))), rows.schema)
    })
  }

  private def rawState(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                       parts: Option[Int], target: Long,
                       withFiles: Boolean): RawState = {
    val d = decoded(spark, log, cpVersion, parts, withFiles)
    val hit = d.targets.get(target)
    if (hit != null) return hit
    if (d.targets.size >= MaxTargets) d.targets.clear()
    val built = replayTail(log, d, target)
    Option(d.targets.putIfAbsent(target, built)).getOrElse(built)
  }

  /** Replays the commit tail after the checkpoint up to `target` on the
    * driver. Every path the tail touched leaves the checkpoint rows,
    * whatever the action. */
  private def replayTail(log: DeltaLog, d: Decoded, target: Long): RawState = {
    val commits = log.listCommitVersions()
      .filter(v => v > d.key.cpVersion && v <= target)
      .map(v => v -> log.readCommit(v))
    val replayed = Snapshot.replay(d.meta, commits.iterator)
    val touched = commits.flatMap(_._2.collect {
      case a: AddFile => a.path
      case r: RemoveFile => r.path
    }).distinct
    new RawState(replayed.copy(version = target, activeFiles = Nil, tombstones = Nil),
      replayed.activeFiles, touched, d)
  }

  /** The checkpoint files of `raw` that `keep` admits, tested as
    * [[AddFile]]s on executors. */
  private def survivors(raw: RawState, keep: AddFile => Boolean): Seq[AddFile] =
    addRows(raw.base).filter((r: AddRow) => keep(r.toAddFile)).collect().map(_.toAddFile).toSeq

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
    val states = addRows(raw.base).rdd.mapPartitions { it =>
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
    * `target`. A verdict depends only on the file's partition values, so
    * each candidate is evaluated on the driver over the decoded
    * checkpoint's distinct partition-value tuples ([[Decoded.summary]])
    * and the tail's files: no job, and nothing per file. The summary
    * covers every checkpoint file, including any the tail removed, so a
    * candidate only such a file leaves undecided stays a residual until
    * the next checkpoint. Past [[MaxSummaryTuples]] one narrow job over
    * the cached rows' partition values evaluates each distinct tuple per
    * partition and ORs the undecided masks. The kept set is NOT returned:
    * a claimed filter's verdict is a pure function of (file, filter,
    * schema), so downstream consumers re-run the tri-state eval over
    * their (pruned) survivors instead of holding a 10⁷-path set. */
  def claimDecided(spark: SparkSession, log: DeltaLog, cpVersion: Long,
                   parts: Option[Int], target: Long,
                   candidates: Seq[org.apache.spark.sql.sources.Filter],
                   schema: StructType): Seq[org.apache.spark.sql.sources.Filter] = {
    val raw = rawState(spark, log, cpVersion, parts, target, withFiles = true)
    val partCols = raw.meta.partitionColumns
    if (partCols.isEmpty || candidates.isEmpty) return Nil
    // Bound once here; executors only evaluate. A candidate that does not
    // bind starts out undecided.
    val bound = PartitionFilters.bind(candidates, partCols.toSet, schema).toArray
    val nC = bound.length
    def undecidedOn(pv: Map[String, String], und: Array[Boolean]): Unit = {
      var i = 0
      while (i < nC) {
        if (!und(i) && bound(i).forall(_.eval(pv).isEmpty))
          und(i) = true
        i += 1
      }
    }
    val und = bound.map(_.isEmpty)
    raw.decoded.summary match {
      case Some(tuples) => tuples.foreach(undecidedOn(_, und))
      case None =>
        val names = partCols.toArray
        raw.base.select(partCols.map(c => col("partitionValues")(c)): _*).rdd
          .mapPartitions { it =>
            val u = new Array[Boolean](nC)
            val seen = scala.collection.mutable.HashSet.empty[Map[String, String]]
            it.foreach { r =>
              val pv = names.indices.collect { case i if !r.isNullAt(i) => names(i) -> r.getString(i) }.toMap
              if (seen.add(pv)) undecidedOn(pv, u)
            }
            Iterator.single(u)
          }.collect()
          .foreach(p => (0 until nC).foreach(i => und(i) |= p(i)))
    }
    raw.tailFiles.foreach(f => undecidedOn(f.partitionValues, und))
    candidates.zipWithIndex.collect { case (c, i) if !und(i) => c }
  }
}
