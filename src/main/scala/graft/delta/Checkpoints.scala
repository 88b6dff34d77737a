package graft.delta

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftshim.WriteShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.jackson.JsonMethods

/**
 * Parquet checkpoints of the replayed state, in the reference's layout:
 * one row per action with JSON-string columns `add/remove/metaData/protocol`
 * (reference: src/delta/checkpoint.ts:345-384), multi-part round-robin when
 * the action count exceeds `actionsPerPart` (checkpoint.ts:227-340), and a
 * `_last_checkpoint` pointer (checkpoint.ts:41-47).
 */
object Checkpoints {

  val DefaultInterval = 10          // commits between checkpoints (checkpoint.ts:41-47)
  val DefaultActionsPerPart = 1000000L

  private val schema = StructType(Seq(
    StructField("add", StringType, nullable = true),
    StructField("remove", StringType, nullable = true),
    StructField("metaData", StringType, nullable = true),
    StructField("protocol", StringType, nullable = true),
    StructField("txn", StringType, nullable = true)))

  private def render(a: Action): String =
    JsonMethods.compact(JsonMethods.render(a.wrap.obj.head._2))

  def write(spark: SparkSession, log: DeltaLog, snap: Snapshot,
            actionsPerPart: Long = DefaultActionsPerPart): Unit = {
    val rows: Seq[Row] =
      snap.metadata.map(m => Row(null, null, render(m), null, null)).toSeq ++
        snap.protocol.map(p => Row(null, null, null, render(p), null)).toSeq ++
        snap.activeFiles.map(a => Row(render(a), null, null, null, null)) ++
        snap.tombstones.map(r => Row(null, render(r), null, null, null)) ++
        snap.transactions.toSeq.map { case (app, v) =>
          Row(null, null, null, null, render(Txn(app, v)))
        }
    val nParts = math.max(1, math.ceil(rows.size.toDouble / actionsPerPart).toInt)

    if (nParts == 1) {
      writePart(spark, log, rows, log.checkpointFile(snap.version))
    } else {
      // Round-robin distribution across parts (checkpoint.ts:300-318).
      rows.zipWithIndex.groupBy(_._2 % nParts).toSeq.foreach { case (part, grouped) =>
        writePart(spark, log, grouped.map(_._1),
          log.checkpointPart(snap.version, part + 1, nParts))
      }
    }
    log.writeLastCheckpoint(snap.version, rows.size.toLong,
      if (nParts == 1) None else Some(nParts))
  }

  /**
   * Write the checkpoint at `target` WITHOUT materializing the table's file
   * list on the driver — the large-table complement of [[write]] (which
   * serializes a driver [[Snapshot]]). The previous checkpoint stays a
   * DataFrame; the commit tail since it (bounded by the checkpoint interval)
   * replays driver-side into a per-path FINAL action; checkpoint rows whose
   * path the tail touched are dropped via a broadcast anti-join and replaced
   * by that final action — exactly [[Snapshot.replay]]'s reconciliation
   * (add wins over remove for a path; last action wins). Untouched rows move
   * as raw JSON strings, never re-parsed. Driver memory is O(tail); the
   * write is a distributed parquet write renamed into the checkpoint part
   * layout, so a 10⁷-file checkpoint rolls forward with bounded driver heap.
   *
   * Requires a previous checkpoint at a version < `target` (a table only
   * crosses the distributed threshold after many checkpoints); throws
   * IllegalStateException otherwise — callers route through [[write]] then.
   */
  def writeDistributed(spark: SparkSession, log: DeltaLog, target: Long,
                       actionsPerPart: Long = DefaultActionsPerPart): Unit = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, get_json_object, lit}
    import spark.implicits._
    val (cpVersion, prevSize, parts) = log.readLastCheckpoint().filter(_._1 < target)
      .getOrElse(throw new IllegalStateException(
        s"writeDistributed($target) needs a previous checkpoint"))

    val state = readStateDf(spark, log, cpVersion, parts)

    val base = metaState(state, cpVersion)
    var metadata = base.metadata
    var protocol = base.protocol
    val txns = scala.collection.mutable.LinkedHashMap.from(base.transactions)

    // Tail replay: per-path final action (Left = active add, Right =
    // tombstone), plus metadata/protocol/txn overrides.
    val finalAct =
      scala.collection.mutable.LinkedHashMap.empty[String, Either[AddFile, RemoveFile]]
    log.listCommitVersions().filter(v => v > cpVersion && v <= target).foreach { v =>
      log.readCommit(v).foreach {
        case a: AddFile => finalAct.put(a.path, Left(a))
        case r: RemoveFile => finalAct.put(r.path, Right(r))
        case m: TableMetadata => metadata = Some(m)
        case p: Protocol => protocol = Some(p)
        case t: Txn => txns.put(t.appId, t.version)
        case _ => ()
      }
    }

    val fileRows = state.where(col("add").isNotNull || col("remove").isNotNull)
      .select(col("add"), col("remove"), col("metaData"), col("protocol"), col("txn"))
    val kept =
      if (finalAct.isEmpty) fileRows
      else fileRows.join(broadcast(finalAct.keys.toSeq.toDF("__p")),
          coalesce(get_json_object(col("add"), "$.path"),
            get_json_object(col("remove"), "$.path")) === col("__p"), "left_anti")
        .select(col("add"), col("remove"), col("metaData"), col("protocol"), col("txn"))

    val driverRows: Seq[Row] =
      metadata.map(m => Row(null, null, render(m), null, null)).toSeq ++
        protocol.map(p => Row(null, null, null, render(p), null)).toSeq ++
        txns.toSeq.map { case (app, v) => Row(null, null, null, null, render(Txn(app, v))) } ++
        finalAct.values.map {
          case Left(a) => Row(render(a), null, null, null, null)
          case Right(r) => Row(null, render(r), null, null, null)
        }
    val driverDf = spark.createDataFrame(
      spark.sparkContext.parallelize(driverRows, 1), schema)

    // Part count from an UPPER BOUND (previous checkpoint size + new
    // driver rows — the anti-join only removes rows), so the EXACT count
    // can ride the write job itself via Observation instead of a separate
    // count() pass: one distributed scan of the base checkpoint, not two.
    val bound = prevSize + driverRows.size
    val nParts = math.max(1, math.ceil(bound.toDouble / actionsPerPart).toInt)

    val tmp = new org.apache.hadoop.fs.Path(log.logPath,
      s".cp-tmp-${java.util.UUID.randomUUID()}")
    val obs = org.apache.spark.sql.Observation()
    kept.union(driverDf).observe(obs, count(lit(1)).as("__n"))
      .repartition(nParts)
      .write.mode("overwrite").parquet(tmp.toString)
    val total = obs.get("__n").asInstanceOf[Long]
    // Empty write partitions still commit a (schema-only) part file, so the
    // repartition count IS the part count; assert rather than assume.
    val partFiles = log.fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(partFiles.length == nParts,
      s"distributed checkpoint wrote ${partFiles.length} parts, expected $nParts")
    if (nParts == 1) {
      val t = log.checkpointFile(target)
      log.fs.delete(t, false)
      log.fs.rename(partFiles.head, t)
    } else {
      partFiles.zipWithIndex.foreach { case (p, i) =>
        val t = log.checkpointPart(target, i + 1, nParts)
        log.fs.delete(t, false)
        log.fs.rename(p, t)
      }
    }
    log.fs.delete(tmp, true)
    log.writeLastCheckpoint(target, total, if (nParts == 1) None else Some(nParts))
  }

  /** Write one checkpoint part on the driver through the task writer's
    * parquet [[org.apache.spark.sql.execution.datasources.OutputWriter]]:
    * no Spark job, so no row travels in a task closure. The part lands
    * under a temporary name and is renamed into place. */
  private def writePart(spark: SparkSession, log: DeltaLog,
                        rows: Seq[Row], target: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(log.logPath,
      s".cp-tmp-${java.util.UUID.randomUUID()}.parquet")
    val (factory, conf) = WriteShim.parquetWriterFactory(spark, schema)
    val writer = factory.newInstance(tmp.toString, schema, WriteShim.taskContext(conf.value, 0L))
    try {
      val row = new GenericInternalRow(schema.length)
      rows.foreach { r =>
        var i = 0
        while (i < row.numFields) {
          row.update(i, if (r.isNullAt(i)) null else UTF8String.fromString(r.getString(i)))
          i += 1
        }
        writer.write(row)
      }
    } catch {
      case e: Throwable =>
        try writer.close() finally log.fs.delete(tmp, false)
        throw e
    }
    writer.close()
    log.fs.delete(target, false)
    log.fs.rename(tmp, target)
  }

  /** The checkpoint at `version` as a DataFrame of raw action rows — the
    * distributed entry point: nothing is collected. [[DistributedSnapshot]]
    * reconciles + prunes this on executors for large tables; [[read]]
    * collects it for the small-table driver fast-path. */
  def readStateDf(spark: SparkSession, log: DeltaLog, version: Long,
                  parts: Option[Int]): org.apache.spark.sql.DataFrame = {
    val files: Seq[String] = parts match {
      case None => Seq(log.checkpointFile(version).toString)
      case Some(n) => (1 to n).map(p => log.checkpointPart(version, p, n).toString)
    }
    spark.read.schema(schema).parquet(files: _*)
  }

  /** The non-file actions of `state` (the checkpoint at `version`, as
    * [[readStateDf]] reads it) as a snapshot with no files: metadata,
    * protocol and app transactions, a handful of rows, collected. Only
    * their three columns are read, not the add and remove columns that make
    * up nearly all of the checkpoint. */
  private[delta] def metaState(state: org.apache.spark.sql.DataFrame,
                               version: Long): Snapshot = {
    import org.apache.spark.sql.functions.col
    var metadata: Option[TableMetadata] = None
    var protocol: Option[Protocol] = None
    val txns = Map.newBuilder[String, Long]
    state.where(col("metaData").isNotNull || col("protocol").isNotNull || col("txn").isNotNull)
      .select(col("metaData"), col("protocol"), col("txn")).collect().foreach { r =>
        if (!r.isNullAt(0))
          metadata = Some(Actions.parseMetadata(JsonMethods.parse(r.getString(0))))
        else if (!r.isNullAt(1))
          protocol = Some(Actions.parseProtocol(JsonMethods.parse(r.getString(1))))
        else {
          val t = Actions.parseTxn(JsonMethods.parse(r.getString(2)))
          txns += t.appId -> t.version
        }
      }
    Snapshot(version, metadata, protocol, Nil, Nil, txns.result())
  }

  /** Load the checkpointed snapshot at `version` — the DRIVER FAST-PATH.
    *
    * Driver-memory model: the full action list materializes on the driver,
    * ~200 bytes per action — appropriate below
    * [[DistributedSnapshot.DefaultThreshold]] actions, where a Spark job
    * per snapshot would cost more than it saves. Above the threshold the
    * scan path goes through [[DistributedSnapshot]], which decodes the
    * [[readStateDf]] add rows once into executor storage and collects only
    * the files that survive pruning. */
  def read(spark: SparkSession, log: DeltaLog, version: Long,
           parts: Option[Int]): Snapshot = {
    val rows = readStateDf(spark, log, version, parts).collect()
    var metadata: Option[TableMetadata] = None
    var protocol: Option[Protocol] = None
    val adds = Seq.newBuilder[AddFile]
    val removes = Seq.newBuilder[RemoveFile]
    val txns = Map.newBuilder[String, Long]
    rows.foreach { r =>
      if (r.getString(0) != null) adds += Actions.parseAdd(JsonMethods.parse(r.getString(0)))
      else if (r.getString(1) != null) removes += Actions.parseRemove(JsonMethods.parse(r.getString(1)))
      else if (r.getString(2) != null) metadata = Some(Actions.parseMetadata(JsonMethods.parse(r.getString(2))))
      else if (r.getString(3) != null) protocol = Some(Actions.parseProtocol(JsonMethods.parse(r.getString(3))))
      else if (r.getString(4) != null) {
        val t = Actions.parseTxn(JsonMethods.parse(r.getString(4)))
        txns += t.appId -> t.version
      }
    }
    Snapshot(version, metadata, protocol, adds.result(), removes.result(),
      txns.result())
  }

  /** Part layout of the checkpoint at `version`, recovered from file names:
    * `None` = single-file, `Some(n)` = n-part. Used when the `_last_checkpoint`
    * pointer is missing or lags (the discovery fallback must not assume
    * single-file — a multi-part checkpoint read through the single-file path
    * fails on a file that doesn't exist). */
  def partsFor(log: DeltaLog, version: Long): Option[Int] = log.list().partsNamed(version)

  /** Layout of the checkpoint at `version` IF it is complete on disk:
    * `Some(None)` single-file, `Some(Some(n))` all n parts present, `None`
    * torn or absent. Crash-recovery seam: a killed writer can leave a
    * subset of the part files (the per-part rename loop is not atomic as a
    * group), and a cleanup race can leave `_last_checkpoint` dangling —
    * readers must verify completeness BEFORE trusting either, and fall
    * back to an earlier complete checkpoint or full log replay. */
  def completeParts(log: DeltaLog, version: Long): Option[Option[Int]] =
    log.list().completeParts(version)

  /** Versions that have a (single or multi-part) checkpoint on disk. */
  def listCheckpointVersions(log: DeltaLog): Seq[Long] = log.list().checkpointVersions
}
