package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.delta.{AddFile, DeltaTable, IdentityColumns, Snapshot, TaskWriteMessage, TaskWriter, TaskWriterFactory, Txn, ValidationException, WritePlan}

/**
 * DSv2 `Write` behind `df.writeStream.toTable(t)` and eligible catalog
 * writes (`INSERT INTO`, `INSERT OVERWRITE`, REPLACE WHERE, dynamic
 * partition overwrite, `writeTo(t).append()`, CTAS): Spark's own write
 * execs run the engine's task writers ([[graft.delta.WritePlan]]), which
 * land parquet under final names in the table layout, and the driver
 * makes ONE metadata commit per statement or epoch
 * ([[DeltaTable.commitStreamedFiles]] and the overwrite commit cores).
 *
 * Streaming epochs carry `Txn(queryId, epochId)` for exactly-once (the
 * same mechanism as [[DeltaStreamSink]]; a replayed epoch deletes its
 * files and returns). Batch commits carry no txn. Complete mode
 * overwrite-commits the epoch.
 *
 * [[RequiresDistributionAndOrdering]] expresses
 * `delta.autoOptimize.optimizeWrite` natively: when set on a partitioned
 * table, Spark clusters rows by the partition columns BEFORE the write,
 * so each partition directory receives few, full files instead of one
 * shard per input task.
 *
 * Row contracts (CHECK constraints, invariants, generated columns, the
 * replaceWhere region) are enforced task-side by the plan: a violating
 * row fails its task and nothing commits. Query columns missing from the
 * table and type mismatches are refused at construction, before any job
 * (the catalog then routes the statement through `DeltaTable.write`).
 * Columns the query omits land as sparse files (read back as NULL).
 */
final class GraftDirectWrite(
    spark: SparkSession,
    tablePath: String,
    queryId: String,
    querySchema: StructType,
    mode: GraftDirectWrite.Mode)
  extends StreamingWrite with BatchWrite with Write
  with RequiresDistributionAndOrdering {

  def this(spark: SparkSession, tablePath: String, queryId: String,
           querySchema: StructType, truncate: Boolean) =
    this(spark, tablePath, queryId, querySchema,
      if (truncate) GraftDirectWrite.Truncate else GraftDirectWrite.Append)

  private def truncate: Boolean = mode == GraftDirectWrite.Truncate

  // StreamingWrite and BatchWrite each declare a default useCommitCoordinator();
  // inheriting both requires an explicit override (Scala's accidental-override rule).
  override def useCommitCoordinator(): Boolean = true

  private val table = DeltaTable.forPath(spark, tablePath)
  private val snap = table.metaSnapshot()
  if (snap.metadata.isEmpty) throw new ValidationException(
    s"cannot stream into $tablePath before its schema exists")
  private val partCols: Seq[String] = snap.partitionColumns
  // plan-time enforced set: a constraint added after this write was
  // planned re-validates at commit (assertLateConstraints)
  private val enforcedConstraints = table.checkConstraints(snap)
  private val plan = new WritePlan(table, snap.schema, partCols, querySchema,
    enforcedConstraints, mode match {
      case GraftDirectWrite.ReplaceWhere(cond) => Some(cond)
      case _ => None
    })
  private val hasIdentity = IdentityColumns.hasAny(snap.schema)

  override def toStreaming: StreamingWrite = this
  override def toBatch: BatchWrite = this

  // ---- distribution: optimizeWrite expressed natively -----------------------

  // the clustered distribution names the partition columns, which must
  // resolve against the QUERY output — a generated partition column the
  // query omits cannot cluster (it exists only task-side)
  private val optimizeWrite: Boolean = partCols.nonEmpty &&
    partCols.forall(querySchema.fieldNames.contains) &&
    snap.configuration.get("delta.autoOptimize.optimizeWrite").contains("true")

  /** Under optimizeWrite, a NON-STRICT clustered distribution: Spark
    * plans it as `RebalancePartitions` (AQE coalesces-or-splits the
    * pre-write shuffle toward [[advisoryPartitionSizeInBytes]]), so each
    * partition directory receives few, full files instead of one shard
    * per input task — the small-files lever. Partitioned tables only:
    * Spark treats an empty clustering as UNSPECIFIED, which cannot carry
    * an advisory size. */
  override def requiredDistribution(): Distribution =
    if (optimizeWrite)
      Distributions.clustered(
        partCols.toArray.map(c => Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression))
    else Distributions.unspecified()

  override def distributionStrictlyRequired(): Boolean = false

  /** Target in-memory bytes per write task under optimizeWrite:
    * `delta.targetFileSize` (parquet compresses further — the property is
    * a file-size intent, and the shuffle-bytes proxy errs toward slightly
    * smaller files, never giant ones), default 128 MiB. */
  override def advisoryPartitionSizeInBytes(): Long =
    if (optimizeWrite)
      snap.configuration.get("delta.targetFileSize")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(128L * 1024 * 1024)
    else super.advisoryPartitionSizeInBytes()

  /** Batch tasks receive their rows sorted by partition, so each task
    * writes one file at a time ([[WritePlan.sortColumns]]). */
  override def requiredOrdering(): Array[SortOrder] =
    plan.sortColumns.toArray.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

  // ---- writer factory (shared by both personalities) ------------------------

  /** Identity tables allocate task-side: each factory reads a FRESH
    * snapshot's high-water mark and tasks fill an interleaved lattice
    * slice ([[graft.functions.StreamIdentityAssign]]); the commit
    * re-checks the mark in its OCC loop and advances it. Values are
    * unique and on-lattice but may carry gaps (a task that writes fewer
    * rows than its slice leaves its tail unused) — the contract Delta
    * documents for identity columns. */
  private def factoryFor(numPartitions: Int, clustered: Boolean): TaskWriterFactory =
    if (!hasIdentity) plan.factory(clustered = clustered)
    else plan.factory(IdentityColumns.specs(table.metaSnapshot().schema), numPartitions, clustered)

  // streaming epochs keep one file per partition value open instead of
  // relying on the requested ordering
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factoryFor(info.numPartitions(), clustered = false)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    factoryFor(info.numPartitions(), clustered = true)

  // ---- commits ---------------------------------------------------------------

  private def rawAdds(messages: Array[WriterCommitMessage]): Seq[AddFile] =
    TaskWriter.addsOf(messages.toSeq)

  private def prepared(messages: Array[WriterCommitMessage], snap0: Snapshot): Seq[AddFile] =
    table.prepareAdds(rawAdds(messages), snap0.schema, snap0.partitionColumns, snap0.configuration)

  // specs this write's tasks allocated identity values from, echoed in
  // their commit messages (so the pairing is right even if factory
  // creation and commits interleave); every commit core re-checks the
  // mark in its OCC loop and advances it
  private def idAllocOf(messages: Array[WriterCommitMessage]): Seq[IdentityColumns.Spec] =
    messages.collectFirst {
      case m: TaskWriteMessage if m.idAlloc.nonEmpty => m.idAlloc
    }.getOrElse(Nil)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    require(mode == GraftDirectWrite.Append || mode == GraftDirectWrite.Truncate,
      s"streaming epochs support Append/Truncate only, got $mode")
    // a racer advancing an identity mark fails the epoch; the engine
    // replays it against a fresh factory
    table.commitStreamedFiles(rawAdds(messages),
      Some(Txn(queryId, epochId, System.currentTimeMillis())),
      overwrite = truncate, enforcedConstraints = enforcedConstraints,
      idAlloc = idAllocOf(messages))
    ()
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val batchAlloc = idAllocOf(messages)
    mode match {
      case GraftDirectWrite.Append | GraftDirectWrite.Truncate =>
        table.commitStreamedFiles(rawAdds(messages), txn = None,
          overwrite = truncate, enforcedConstraints = enforcedConstraints,
          idAlloc = batchAlloc)
      case GraftDirectWrite.DynamicOverwrite =>
        // partition replacement is derived from the written files; the
        // same commit core as DeltaTable.overwritePartitionsDynamic
        val snap0 = table.metaSnapshot()
        table.commitDynamicOverwriteAdds(snap0,
          prepared(messages, snap0),
          enforcedConstraints = enforcedConstraints, idAlloc = batchAlloc)
      case GraftDirectWrite.ReplaceWhere(cond) =>
        // tasks proved every row satisfies the condition; the commit core
        // rewrites the kept remainder of matched files and applies the
        // region conflict. The snapshot is REGION-PRUNED like
        // DeltaTable.replaceWhere's, so only candidate files reach the
        // matched-file scan.
        val snap0 = table.scanState(None, cond)
        table.commitReplaceWhereAdds(snap0, cond,
          prepared(messages, snap0),
          enforcedConstraints = enforcedConstraints, idAlloc = batchAlloc)
    }
    GraftDirectWrite.batchCommits.incrementAndGet()
    ()
  }

  private def deleteStaged(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: TaskWriteMessage =>
        m.files.foreach(file => table.deleteDataFile(file._1))
      case _ => ()
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    deleteStaged(messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteStaged(messages)

  override def description(): String = s"GraftDirectWrite[$tablePath]"

  override def toString: String = description()
}

object GraftDirectWrite {
  /** Test/inspection hook: batch commits taken by the direct path since
    * JVM start (streaming epochs don't count). */
  val batchCommits = new java.util.concurrent.atomic.AtomicLong(0)

  /** Commit shape of a direct write. Append/Truncate serve batch AND
    * streaming epochs; DynamicOverwrite and ReplaceWhere are batch-only
    * (INSERT OVERWRITE under dynamic partition mode / REPLACE WHERE —
    * the daily-reload primitives, now 1×-bytes on object stores too). */
  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  case object DynamicOverwrite extends Mode
  /** `cond` scopes the replaced region; every written row must satisfy
    * it — enforced task-side like a CHECK constraint (a row outside the
    * region aborts the write before anything commits). */
  final case class ReplaceWhere(cond: org.apache.spark.sql.Column) extends Mode
}
