package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets

/**
 * The transaction log: 20-digit zero-padded NDJSON commits under
 * `<table>/_delta_log/` (reference: src/utils/index.ts:140-146,170-184),
 * with optimistic concurrency via atomic create-if-not-exists
 * (reference: src/delta/table.ts:801; contract src/storage/types.ts:81-119).
 *
 * All log I/O is driver-side (commit files are small); data files are
 * read/written by executors through the DataFrame API.
 */
final class DeltaLog(val tablePath: Path, val hadoopConf: Configuration) {

  val fs: FileSystem = tablePath.getFileSystem(hadoopConf)
  val logPath: Path = new Path(tablePath, "_delta_log")
  /** The log directory with scheme and authority: the table's identity in
    * process-wide caches ([[TableStateCache]]). */
  lazy val qualifiedLogPath: String = fs.makeQualified(logPath).toString

  def commitFile(version: Long): Path = new Path(logPath, f"$version%020d.json")
  def checkpointFile(version: Long): Path =
    new Path(logPath, f"$version%020d.checkpoint.parquet")
  def checkpointPart(version: Long, part: Int, parts: Int): Path =
    new Path(logPath, f"$version%020d.checkpoint.$part%010d.$parts%010d.parquet")
  def lastCheckpointFile: Path = new Path(logPath, "_last_checkpoint")

  /** Latest known version: the newest commit file, or — when log cleanup has
    * removed every commit at/below a checkpoint — the checkpointed version
    * itself (the checkpoint is complete state, so the version is live even
    * with no commit JSON present). -1 for an empty or nonexistent log. */
  def latestVersion(): Long = {
    val listing = list()
    math.max(listing.newestCommit, pointer(listing).fold(-1L)(_._1))
  }

  def listCommitVersions(): Seq[Long] = list().commitVersions

  /** One listing of the log directory ([[LogListing]]); empty when the log
    * does not exist. */
  def list(): LogListing = Retry.withRetry(retryOn = Errors.isTransientIo) {
    val entries =
      try fs.listStatus(logPath).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    LogListing(entries.map(st =>
      st.getPath.getName -> FileStamp(st.getLen, st.getModificationTime)))
  }

  def readCommit(version: Long): Seq[Action] =
    Actions.fromNdjson(readString(commitFile(version)))

  /** Test/deployment hook: when set, OCC goes through this store regardless
    * of scheme (e.g. a [[ConditionalPutCommitStore]] in specs). Prefer
    * [[DeltaLog.registerCommitStore]] for scheme-wide wiring. */
  private[delta] var commitStoreOverride: Option[CommitStore] = None

  /** STORAGE CONTRACT (reference: src/storage/types.ts:81-119): correctness
    * requires an ATOMIC create-if-not-exists; see [[CommitStore]]. Selection:
    * an explicit override, then a scheme-registered factory (the object-store
    * path — [[ConditionalPutCommitStore]] over the store's `If-None-Match`
    * PUT), then `link(2)` for `file:` (local `create(overwrite=false)` is
    * check-then-create), then plain atomic create (HDFS honors it; known
    * non-atomic schemes get a one-time warning rather than a silently void
    * ACID claim). */
  private def commitStore: CommitStore = commitStoreOverride.getOrElse {
    val scheme = Option(fs.getUri.getScheme).getOrElse("")
    Option(DeltaLog.storeFactories.get(scheme)).map(_(fs)).getOrElse {
      if (scheme == "file") DeltaLog.linkStore
      else {
        if (DeltaLog.NonAtomicCreateSchemes(scheme) && DeltaLog.warnedSchemes.add(scheme))
          Logging.logger.warn(
            s"[graft.DeltaLog] scheme '$scheme' does not guarantee atomic " +
              "create-if-not-exists: concurrent writers from separate drivers " +
              "may overwrite commits. Register a conditional-write CommitStore " +
              "(DeltaLog.registerCommitStore) for multi-writer safety.")
        new AtomicCreateCommitStore(fs)
      }
    }
  }

  /**
   * Atomically write commit `version`. Losing the race for a version throws
   * [[ConcurrencyException]] and callers retry on a fresh snapshot
   * (reference: src/delta/retry.ts:79-134). Atomicity is delegated to the
   * scheme-appropriate [[CommitStore]] (see [[commitStore]]).
   */
  def writeCommit(version: Long, actions: Seq[Action]): Unit = {
    fs.mkdirs(logPath)
    val target = commitFile(version)
    if (fs.exists(target)) throw new ConcurrencyException(version)
    val body = Actions.toNdjson(actions).getBytes(StandardCharsets.UTF_8)
    if (!commitStore.putIfAbsent(target, body))
      throw new ConcurrencyException(version)
  }

  // ---- _last_checkpoint ----------------------------------------------------

  /** `{version, size, parts?}` (reference: src/delta/types.ts:334-340). */
  def readLastCheckpoint(): Option[(Long, Long, Option[Int])] = {
    if (!fs.exists(lastCheckpointFile)) return None
    parseLastCheckpoint()
  }

  /** The `_last_checkpoint` pointer as [[readLastCheckpoint]] reads it,
    * opened only when `listing` shows one. */
  def pointer(listing: LogListing): Option[(Long, Long, Option[Int])] =
    if (listing.hasPointer) parseLastCheckpoint() else None

  private def parseLastCheckpoint(): Option[(Long, Long, Option[Int])] =
    scala.util.Try {
      val j = JsonMethods.parse(readString(lastCheckpointFile))
      val v = j \ "version" match { case JInt(n) => n.toLong; case JLong(n) => n; case _ => -1L }
      val size = j \ "size" match { case JInt(n) => n.toLong; case JLong(n) => n; case _ => 0L }
      val parts = j \ "parts" match { case JInt(n) => Some(n.toInt); case _ => None }
      (v, size, parts)
    }.toOption.filter(_._1 >= 0)

  def writeLastCheckpoint(version: Long, size: Long, parts: Option[Int]): Unit = {
    val base = s"""{"version":$version,"size":$size"""
    val body = parts.fold(base)(p => s"""$base,"parts":$p""") + "}"
    writeString(lastCheckpointFile, body, overwrite = true)
  }

  // ---- small-file helpers --------------------------------------------------

  /** Driver-side small-file read with transient-failure retry: commit
    * NDJSON, `_last_checkpoint`, CDC sidecars all come through here, and an
    * object-store 5xx on any of them used to fail the query immediately
    * (executor reads get Spark task retries; the driver path got none —
    * reference wraps storage ops generally, src/delta/retry.ts:79-134). */
  def readString(p: Path): String = Retry.withRetry(retryOn = Errors.isTransientIo) {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  def writeString(p: Path, content: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

/** A log file's length and modification time, as a listing reports them. */
final case class FileStamp(length: Long, modificationTime: Long)

/**
 * What one listing of `_delta_log` shows: each commit's [[FileStamp]] by
 * version, the checkpoint files by version, and whether a
 * `_last_checkpoint` pointer exists. The checkpoint layout is read from
 * file names, so a torn multi-part checkpoint (a subset of its parts) or a
 * pointer whose files are gone is seen without opening anything.
 */
final class LogListing private (
    commits: scala.collection.immutable.SortedMap[Long, FileStamp],
    checkpoints: Map[Long, Seq[(Option[(Int, Int)], FileStamp)]],
    val hasPointer: Boolean) {

  def commitVersions: Seq[Long] = commits.keys.toSeq

  /** Newest commit version, or -1 with none listed. */
  def newestCommit: Long = commits.lastOption.fold(-1L)(_._1)

  /** Commit versions in (`after`, `upTo`], ascending. */
  def commitsBetween(after: Long, upTo: Long): Seq[Long] =
    commits.rangeFrom(after + 1).rangeTo(upTo).keys.toSeq

  def checkpointVersions: Seq[Long] = checkpoints.keys.toSeq.sorted

  /** Layout of the checkpoint at `version` IF it is complete:
    * `Some(None)` single-file, `Some(Some(n))` all n parts listed, `None`
    * torn or absent. */
  def completeParts(version: Long): Option[Option[Int]] =
    checkpoints.get(version).flatMap { files =>
      if (files.exists(_._1.isEmpty)) Some(None)
      else files.flatMap(_._1).groupBy(_._2).collectFirst {
        case (n, ps) if ps.map(_._1).toSet == (1 to n).toSet => Some(n)
      }
    }

  /** Part count named by the checkpoint files at `version`, complete or
    * not: None when a single-file checkpoint is listed or none is. */
  def partsNamed(version: Long): Option[Int] =
    checkpoints.get(version).filterNot(_.exists(_._1.isEmpty))
      .flatMap(_.flatMap(_._1).headOption.map(_._2))

  /** The newest complete checkpoint at or below `version`. */
  def newestCompleteCheckpoint(version: Long): Option[(Long, Option[Int])] =
    checkpoints.keys.filter(_ <= version).toSeq.sorted.reverseIterator
      .map(v => (v, completeParts(v)))
      .collectFirst { case (v, Some(parts)) => (v, parts) }

  /** The stamp that identifies the state AT `version`: its commit file's,
    * or — when log cleanup removed that commit — its checkpoint's first
    * file's. None when neither is listed. */
  def stamp(version: Long): Option[FileStamp] =
    commits.get(version).orElse(checkpoints.get(version).map(_.head._2))
}

object LogListing {
  private val Commit = raw"(\d{20})\.json".r
  private val Single = raw"(\d{20})\.checkpoint\.parquet".r
  private val Part = raw"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet".r

  /** The listing of (file name, stamp) entries; other names are ignored. */
  def apply(entries: Seq[(String, FileStamp)]): LogListing = {
    val commits = scala.collection.immutable.TreeMap.newBuilder[Long, FileStamp]
    val cps = Seq.newBuilder[(Long, (String, Option[(Int, Int)], FileStamp))]
    var pointer = false
    entries.foreach {
      case (Commit(v), st) => commits += v.toLong -> st
      case (name @ Single(v), st) => cps += v.toLong -> ((name, None, st))
      case (name @ Part(v, p, n), st) => cps += v.toLong -> ((name, Some((p.toInt, n.toInt)), st))
      case ("_last_checkpoint", _) => pointer = true
      case _ => ()
    }
    // files of one version in name order
    val checkpoints = cps.result().groupBy(_._1).map { case (v, fs) =>
      v -> fs.map(_._2).sortBy(_._1).map(f => (f._2, f._3))
    }
    new LogListing(commits.result(), checkpoints, pointer)
  }
}

object DeltaLog {
  /** Hadoop schemes whose create(overwrite=false) is check-then-create. */
  private val NonAtomicCreateSchemes =
    Set("s3a", "s3", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss")
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val linkStore = new LinkCommitStore
  private val storeFactories =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem => CommitStore]()

  /** Wire a [[CommitStore]] factory for a URI scheme — the deployment hook
    * for object stores: back "s3a"/"gs"/… with a [[ConditionalPutCommitStore]]
    * over the store's conditional-PUT API and multi-writer OCC holds without
    * an external log store. Takes precedence over the built-in defaults. */
  def registerCommitStore(scheme: String, factory: FileSystem => CommitStore): Unit =
    storeFactories.put(scheme, factory)

  /** Remove a scheme registration (tests). */
  def unregisterCommitStore(scheme: String): Unit =
    storeFactories.remove(scheme)
}
