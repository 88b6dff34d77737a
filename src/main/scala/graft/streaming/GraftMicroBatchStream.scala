package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.StructType

import graft.delta.{DeltaTable, ValidationException}
import graft.sources.GraftBatchScan

/**
 * DSv2 micro-batch stream behind `spark.readStream.table("graft.ns.t")` —
 * the catalog twin of the `format("graft-delta")` V1 source, sharing its
 * semantics end to end (offsets are log versions; a fresh stream's first
 * batch is the snapshot at stream start; `startingVersion` tails instead;
 * layout-only commits never re-emit; data-changing commits throw unless
 * `skipChangeCommits=true`; `maxFilesPerTrigger`/`maxBytesPerTrigger`
 * pace whole versions; `Trigger.AvailableNow` pins a finite drain).
 * Admission control and the append-only contract DELEGATE to an embedded
 * [[DeltaStreamSource]]; only batch MATERIALIZATION differs — instead of
 * V1 DataFrame batches, each admitted version range plans read partitions
 * through the same machinery as the catalog batch scan
 * ([[GraftBatchScan.planFiles]]), so rows flow through Spark's vectorized
 * parquet reader with per-batch cost proportional to the files admitted,
 * never to table size. Deletion-vector snapshot files mask by position
 * exactly like the batch scan.
 *
 * Offsets serialize as `{"version":v,"snapshotDone":b}` —
 * `snapshotDone=false` marks a fresh stream whose initial snapshot batch
 * has not been emitted yet (resumable from the query checkpoint, no
 * engine-private state).
 *
 * Reference: CDC subscription/offset resume (src/cdc/index.ts:150-214,
 * 1500-1763), re-expressed as a native Spark connector stream.
 */
final class GraftMicroBatchStream(
    spark: SparkSession,
    table: DeltaTable,
    options: java.util.Map[String, String])
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private val opts: Map[String, String] =
    options.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap

  if (opts.get("readchangefeed").exists(_.toBoolean))
    throw new ValidationException(
      "readChangeFeed streaming is served by the format source: " +
        "spark.readStream.format(\"graft-delta\")" +
        ".option(\"readChangeFeed\", \"true\").load(path)")

  /** Admission control + append-only contract live here; this class only
    * materializes batches differently (partitions instead of DataFrames). */
  private val inner = new DeltaStreamSource(spark, table.path, opts)

  /** Seed version for the initial offset, AFTER the inner source resolved
    * `startingTimestamp` (first commit at-or-after) if that was given. */
  private val startingVersion: Option[Long] = inner.resolvedStartingVersion

  /** Fresh-stream snapshot version, fixed at creation (same contract as
    * the V1 source's `initialVersion`). */
  private val initialVersion: Long = table.version

  // The stream's schema is FIXED at creation: later tail batches read
  // with this schema (a column added later reads as absent→null in old
  // files' clipping; a widened schema never leaks into planned batches).
  private val tableSchema: StructType = table.metaSnapshot().schema
  private val partColsSeq: Seq[String] = table.metaSnapshot().partitionColumns
  private val partCols: Set[String] = partColsSeq.toSet
  private val dataFields = tableSchema.fields.filterNot(f => partCols(f.name))
  private val partFields = tableSchema.fields.filter(f => partCols(f.name))

  // ---- offsets / admission ---------------------------------------------------

  override def initialOffset(): Offset = startingVersion match {
    case Some(s) => GraftStreamOffset(s - 1, snapshotDone = true)
    case None => GraftStreamOffset(initialVersion, snapshotDone = false)
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit

  override def prepareForTriggerAvailableNow(): Unit =
    inner.prepareForTriggerAvailableNow()

  override def reportLatestOffset(): Offset = {
    val v = table.version
    if (v < 0) null else GraftStreamOffset(v, snapshotDone = true)
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) drives this stream (admission control)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = GraftStreamOffset.of(start)
    if (!s.snapshotDone) {
      // the initial snapshot is one batch, one offset step (a rate cap
      // never splits it — the V1 source's contract too)
      GraftStreamOffset(s.version, snapshotDone = true)
    } else inner.latestOffset(LongOffset(s.version), limit) match {
      case null => s
      case l: LongOffset => GraftStreamOffset(l.offset, snapshotDone = true)
      case other => GraftStreamOffset(other.json.trim.toLong, snapshotDone = true)
    }
  }

  // ---- batch materialization ---------------------------------------------------

  /** Columnar uniformity of the CURRENT batch (set by planInputPartitions,
    * read by createReaderFactory — each micro-batch plans its own exec). */
  @volatile private var batchColumnarOk: Boolean = true

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftStreamOffset.of(start)
    val e = GraftStreamOffset.of(end)
    val files =
      if (!s.snapshotDone) table.snapshot(Some(e.version)).activeFiles
      else if (s.version >= e.version) Nil
      else inner.tailAdds(s.version + 1, e.version)
    val (parts, colOk) = GraftBatchScan.planFiles(
      spark, table, files, partFields.toIndexedSeq)
    batchColumnarOk = colOk
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // Streaming output is consumed POSITIONALLY against the table schema.
    GraftBatchScan.readerFactoryFor(spark, table, tableSchema, partCols,
      dataFields, partFields, Array.empty, batchColumnarOk,
      order = tableSchema.fieldNames.toSeq)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = inner.stop()

  override def toString: String = s"GraftMicroBatchStream[${table.path}]"
}

/** Version offset with a pending-initial-snapshot marker; JSON-stable for
  * the query checkpoint. */
final case class GraftStreamOffset(version: Long, snapshotDone: Boolean)
  extends Offset {
  override def json: String =
    s"""{"version":$version,"snapshotDone":$snapshotDone}"""
}

object GraftStreamOffset {
  def fromJson(j: String): GraftStreamOffset = {
    val v = org.json4s.jackson.JsonMethods.parse(j)
    val fields = v.asInstanceOf[org.json4s.JObject].obj.toMap
    val version = fields("version") match {
      case org.json4s.JInt(n) => n.toLong
      case org.json4s.JLong(n) => n
      case other => throw new ValidationException(s"bad offset version: $other")
    }
    val done = fields.get("snapshotDone") match {
      case Some(org.json4s.JBool(b)) => b
      case _ => true
    }
    GraftStreamOffset(version, done)
  }

  def of(o: Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case s: SerializedOffset => fromJson(s.json)
    case other => fromJson(other.json)
  }
}
