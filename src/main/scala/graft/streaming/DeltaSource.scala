package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.StreamShim
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import org.apache.spark.sql.types.{LongType, StringType, StructField, TimestampType}

import graft.delta.{AddFile, Cdc, DeltaTable, Logging, RemoveFile, Snapshot, StreamChangeException, Txn, ValidationException}

/**
 * Structured Streaming SOURCE over a graft Delta table — `spark.readStream
 * .format("graft-delta").load(path)` tails the commit log, completing the
 * stream-into (n18 foreachBatch MERGE) / stream-from pair. North-star
 * feature: the reference consumes changes through its CDC envelope
 * (src/cdc/index.ts:1500-1763, offset resume 150-214); this is the same
 * capability expressed as a native Spark source so watermarks, stateful
 * aggregation, and stream-stream joins compose with table history for free.
 *
 * Semantics (Delta's streaming-source contract):
 *  - Offsets are log VERSIONS (one `LongOffset` per version): resumable
 *    from the query checkpoint, no engine-private state.
 *  - A fresh stream's first batch is the full snapshot at the version the
 *    stream started at (deletion vectors + column mapping applied); every
 *    later batch is the `dataChange=true` adds of `(start, end]`.
 *  - `startingVersion` tails from that version instead (no snapshot batch).
 *  - Layout-only commits (compaction/Z-order: `dataChange=false`) never
 *    re-emit rows.
 *  - A commit that DELETES or REWRITES live rows (a `dataChange` remove, or
 *    an add carrying a deletion vector) breaks the append-only contract:
 *    the source throws [[StreamChangeException]] unless
 *    `skipChangeCommits=true`, which drops such commits wholesale.
 *  - `maxFilesPerTrigger` caps each tail batch's file count (whole
 *    versions, always at least one; the initial snapshot is one batch).
 *
 * 100-TB design: every per-batch decision is driver-side log metadata
 * (commit JSON reads, cached per version); row data flows only through the
 * regular distributed parquet scan of [[DeltaTable.toDF]], so a batch's
 * cost is proportional to the files it admits, never to table size.
 */
final class DeltaStreamSource(
    spark: SparkSession,
    path: String,
    options: Map[String, String])
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val table = DeltaTable.forPath(spark, path)
  private val startingVersion: Option[Long] = {
    val sv = options.get("startingversion").orElse(options.get("startingVersion"))
    val st = options.get("startingtimestamp").orElse(options.get("startingTimestamp"))
    if (sv.nonEmpty && st.nonEmpty) throw new ValidationException(
      "specify either startingVersion or startingTimestamp, not both")
    // startingTimestamp = the first commit AT OR AFTER the timestamp
    // (Delta's contract — note the asymmetry with TIMESTAMP AS OF, which
    // is at-or-BEFORE). Resolved once at source creation, driver-side log
    // metadata only.
    sv.map(_.toLong).orElse(st.map { s =>
      val ts = DeltaStreamSource.parseTimestampMs(s)
      val versions = table.log.listCommitVersions()
      versions.find(table.commitTimestamp(_) >= ts).getOrElse(
        throw new ValidationException(
          s"startingTimestamp $s is after the latest commit " +
            s"(${versions.lastOption.map(table.commitTimestamp).getOrElse(-1L)} ms); " +
            "use startingVersion or a timestamp at or before the last commit"))
    })
  }

  /** The tail-from version after startingTimestamp resolution — the
    * catalog micro-batch stream seeds its initial offset from it. */
  private[streaming] def resolvedStartingVersion: Option[Long] = startingVersion
  private val skipChangeCommits: Boolean =
    options.get("skipchangecommits").orElse(options.get("skipChangeCommits"))
      .exists(_.toBoolean)
  private val maxFilesPerTrigger: Option[Int] =
    options.get("maxfilespertrigger").orElse(options.get("maxFilesPerTrigger"))
      .map(_.toInt)
  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxbytespertrigger").orElse(options.get("maxBytesPerTrigger"))
      .map(_.toLong)

  /** CDF mode (Delta's `readChangeFeed`): batches are the table's change
    * feed rows (`_change_type`/`_commit_version`/`_commit_timestamp`)
    * instead of table rows — deletes and updates ARE the data, so the
    * append-only contract doesn't apply. No snapshot batch: the stream
    * tails from `startingVersion` (default: versions after stream start). */
  private val readChangeFeed: Boolean =
    options.get("readchangefeed").orElse(options.get("readChangeFeed"))
      .exists(_.toBoolean)

  /** Version whose snapshot seeds a fresh (no `startingVersion`) stream,
    * fixed at source creation so the first batch is stable. */
  private val initialVersion: Long = {
    val v = table.version
    if (v < 0) throw new ValidationException(
      s"cannot stream from $path before its first commit")
    v
  }

  override val schema: StructType =
    DeltaStreamSource.schemaFor(table, readChangeFeed)

  /** dataChange add-file (count, bytes) per version (driver-side metadata
    * cache). */
  private val addStats = scala.collection.mutable.Map.empty[Long, (Int, Long)]
  private def addsIn(v: Long): (Int, Long) = addStats.getOrElseUpdate(v, {
    val adds = table.log.readCommit(v).collect {
      case a: AddFile if a.dataChange => a.size
    }
    (adds.size, adds.sum)
  })

  /** `Trigger.AvailableNow` pins the end of the run at query start so the
    * drain is finite even while writers keep committing. */
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.version)

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case _ => ReadLimit.allAvailable()
    }

  override def reportLatestOffset(): OffsetV2 = {
    val v = table.version
    if (v < 0) null else LongOffset(v)
  }

  /** Admission control (the `FileStreamSource` pattern — a V1 `Source`
    * gains real multi-batch `AvailableNow` + rate limiting by implementing
    * the V2 mixins): each call advances from the engine-provided start by
    * whole versions until the file cap would be exceeded. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val target = availableNowTarget.getOrElse(table.version)
    if (target < 0) return null
    val floor: Long = Option(startOffset).map(versionOf) match {
      case Some(v) => v
      case None if startingVersion.isEmpty && !readChangeFeed =>
        // first batch = the snapshot at initialVersion, one offset step
        // (a cap never splits it; Delta's initial snapshot is one batch too)
        return LongOffset(math.max(initialVersion, 0L))
      case None if startingVersion.isEmpty => initialVersion // CDF: tail only
      case None => startingVersion.get - 1L
    }
    if (floor >= target) return LongOffset(floor)
    // Flatten composite limits; walk whole versions until any cap would be
    // exceeded (always admitting at least one version so progress is
    // guaranteed).
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    val limits = flatten(limit)
    val fileCap = limits.collectFirst { case m: ReadMaxFiles => m.maxFiles() }
    val byteCap = limits.collectFirst { case m: ReadMaxBytes => m.maxBytes() }
    if (fileCap.isEmpty && byteCap.isEmpty) return LongOffset(target)
    var v = floor
    var files = 0
    var bytes = 0L
    var go = true
    while (go && v < target) {
      val (n, b) = addsIn(v + 1)
      val over = files > 0 &&
        (fileCap.exists(files + n > _) || byteCap.exists(bytes + b > _))
      if (over) go = false
      else { v += 1; files += n; bytes += b }
    }
    LongOffset(v)
  }

  /** Legacy V1 pacing entry — the engine prefers [[latestOffset]] for
    * sources with admission control; kept for completeness. */
  override def getOffset: Option[OffsetV1] = {
    val latest = table.version
    if (latest < 0) None else Some(LongOffset(latest))
  }

  private def versionOf(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  private def emptyBatch: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    val df = start.map(versionOf(_)) match {
      case s if readChangeFeed =>
        val from = s.map(_ + 1)
          .orElse(startingVersion)
          .getOrElse(initialVersion + 1)
        if (from > endV) emptyBatch
        else
          try Cdc.readByVersion(table, math.max(from, 0L), endV)
          catch { case _: IllegalArgumentException => emptyBatch } // no CDC files in range
      case None if startingVersion.isEmpty =>
        // initial batch: full snapshot (DV masks + column mapping applied)
        table.toDF(table.snapshot(Some(endV)))
      case s =>
        val from = s.map(_ + 1).getOrElse(startingVersion.get)
        val adds = tailAdds(from, endV)
        if (adds.isEmpty) emptyBatch
        else {
          val snapEnd = table.snapshot(Some(endV))
          table.toDF(Snapshot(endV, snapEnd.metadata, snapEnd.protocol, adds, Nil))
        }
    }
    StreamShim.asStreaming(align(df))
  }

  /** `dataChange` adds of versions [from, to], enforcing the append-only
    * contract per commit. Shared with [[GraftMicroBatchStream]] (the DSv2
    * catalog stream), which reuses this source's admission + contract
    * logic and plans partitions itself. */
  private[streaming] def tailAdds(from: Long, to: Long): Seq[AddFile] = {
    val out = Seq.newBuilder[AddFile]
    (math.max(from, 0L) to to).foreach { v =>
      val actions = table.log.readCommit(v)
      val changesData = actions.exists {
        case r: RemoveFile => r.dataChange
        case a: AddFile => a.deletionVector.nonEmpty
        case _ => false
      }
      if (changesData) {
        if (!skipChangeCommits) throw new StreamChangeException(
          s"version $v of $path deletes or rewrites live rows; streaming " +
            "reads are append-only — set skipChangeCommits=true to drop " +
            "such commits, or consume the CDC feed for row-level changes")
      } else {
        actions.foreach {
          case a: AddFile if a.dataChange => out += a
          case _ => ()
        }
      }
    }
    out.result()
  }

  /** Pin every batch to the stream's fixed start schema: later widened
    * columns are projected away, later-added columns can't appear in
    * already-planned batches (same contract as Delta's source, which fails
    * the stream on additive evolution; we align because the fixed schema
    * is a strict subset). */
  private def align(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  override def stop(): Unit = ()

  override def toString: String = s"DeltaStreamSource[$path]"
}

object DeltaStreamSource {

  /** `startingTimestamp` accepts epoch millis, ISO-8601 instants, and the
    * SQL timestamp/date forms (`yyyy-MM-dd[ HH:mm:ss[.S]]`), read as UTC —
    * the session timezone the whole engine pins. */
  private[graft] def parseTimestampMs(s: String): Long = {
    val t = s.trim
    def asLong = scala.util.Try(t.toLong).toOption
    def asInstant = scala.util.Try(java.time.Instant.parse(t).toEpochMilli).toOption
    def asSql = scala.util.Try(
      java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli).toOption
    def asDate = scala.util.Try(
      java.time.LocalDate.parse(t).atStartOfDay
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli).toOption
    asLong.orElse(asInstant).orElse(asSql).orElse(asDate).getOrElse(
      throw new ValidationException(
        s"cannot parse startingTimestamp '$s'; use epoch millis, " +
          "ISO-8601, 'yyyy-MM-dd HH:mm:ss', or 'yyyy-MM-dd'"))
  }

  /** Stream schema: table columns, plus Delta's three CDF columns in
    * change-feed mode. Read from the log's metadata alone, as the batches'
    * parquet scans report it: every field nullable, metadata (column
    * defaults included) kept. */
  def schemaFor(table: DeltaTable, readChangeFeed: Boolean): StructType = {
    val meta = table.metaSnapshot()
    graft.delta.ProtocolSupport.assertReadable(meta.protocol, table.path)
    val base = org.apache.spark.sql.graft.Shims.asNullable(meta.schema)
    if (!readChangeFeed) base
    else StructType(base.fields ++ Seq(
      StructField(Cdc.ChangeType, StringType),
      StructField(Cdc.CommitVersion, LongType),
      StructField(Cdc.CommitTimestamp, TimestampType)))
  }
}

/**
 * Structured Streaming SINK: `writeStream.format("graft-delta")
 * .option("checkpointLocation", ...).start(path)` — exactly-once via the
 * Delta `txn` action (north-star; Delta's own sink uses the same
 * mechanism): every batch commit carries `Txn(appId, batchId)` in the SAME
 * commit as its add actions, so when the at-least-once engine replays a
 * batch after a crash the sink sees `batchId <= lastTransactionVersion`
 * and skips it — duplicates are impossible, not just unlikely. `appId`
 * defaults to the query's checkpoint location (stable across restarts);
 * override with `txnAppId`. Append mode appends; Complete overwrites the
 * table each batch.
 */
final class DeltaStreamSink(
    spark: SparkSession,
    path: String,
    options: Map[String, String],
    partitionColumns: Seq[String],
    outputMode: OutputMode) extends Sink {

  private val appId: String =
    options.get("txnappid").orElse(options.get("txnAppId"))
      .orElse(options.get("checkpointlocation"))
      .orElse(options.get("checkpointLocation"))
      .getOrElse(path)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val table = DeltaTable.forPath(spark, path)
    val last = table.snapshot().transactions.getOrElse(appId, -1L)
    if (batchId <= last) {
      Logging.logger.info(
        s"[graft-delta sink] skipping replayed batch $batchId (committed: $last)")
      return
    }
    val mode =
      if (outputMode == OutputMode.Complete()) "overwrite" else "append"
    // per-batch frames arrive streaming-tagged; rewrap for the batch writer
    val batchDf = if (data.isStreaming) StreamShim.asBatch(data) else data
    table.write(batchDf, mode, partitionColumns,
      txn = Some(Txn(appId, batchId, System.currentTimeMillis())))
    ()
  }

  override def toString: String = s"DeltaStreamSink[$path]"
}

/** `format("graft-delta")` registration (ServiceLoader via
  * META-INF/services, like any Spark connector), so one format name covers
  * `read`, `write`, `readStream` and `writeStream`. Batch reads resolve to
  * the DSv2 table catalog reads use ([[graft.sources.DeltaRelation.pathTable]]);
  * writes, streams and the batch change feed take the V1 interfaces below. */
final class DeltaSourceProvider extends TableProvider with StreamSourceProvider
  with StreamSinkProvider with RelationProvider with CreatableRelationProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  /** Unused: `getTable` reads the schema from the log. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    graft.sources.DeltaRelation.pathTable(SparkSession.active,
      properties.asScala.toMap)

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new DeltaStreamSink(sqlContext.sparkSession, pathOf(parameters),
      parameters, partitionColumns, outputMode)

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    graft.sources.DeltaRelation.forParameters(sqlContext, parameters)

  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation =
    graft.sources.DeltaRelation.write(sqlContext, mode, parameters, data)

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new ValidationException("graft-delta source requires a path"))

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val table = DeltaTable.forPath(sqlContext.sparkSession, pathOf(parameters))
    if (table.version < 0) throw new ValidationException(
      s"cannot stream from ${pathOf(parameters)} before its first commit")
    val cdf = parameters.get("readchangefeed")
      .orElse(parameters.get("readChangeFeed")).exists(_.toBoolean)
    (shortName(), DeltaStreamSource.schemaFor(table, cdf))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext.sparkSession, pathOf(parameters), parameters)
}
