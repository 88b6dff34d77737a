package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Table maintenance: compaction, deduplication, Z-order clustering, vacuum
 * (reference: src/compaction/index.ts and src/delta/vacuum.ts).
 *
 * File selection / bin planning runs on the driver over log metadata (file
 * sizes — small), while every data movement is a distributed Spark job.
 */
/** A maintenance rewrite found, at commit time, that a file it had read was
  * removed by a concurrent commit — committing anyway would resurrect rows a
  * concurrent DELETE rewrote (or drop rows a concurrent writer added). The
  * operation re-plans from a fresh snapshot. */
final class MaintenanceConflictException(missing: Set[String])
  extends RuntimeException(
    s"files rewritten concurrently during maintenance: ${missing.mkString(", ")}")

object Maintenance {

  /**
   * Commit a maintenance rewrite with conflict detection: remove EXACTLY the
   * files whose rows were read into the rewrite, and fail if any of them is
   * no longer active at commit time (a concurrent DELETE/UPDATE/compaction
   * rewrote it — our output would resurrect its removed rows). Concurrent
   * APPENDS are safe: their files aren't in `read`, stay active, and keep
   * their rows. Version races on the commit file itself retry in place;
   * file-set conflicts escape to [[replanOnConflict]] for a fresh rewrite.
   */
  private[delta] def commitMaintenance(table: DeltaTable, snapAtRead: Snapshot,
                                       read: Seq[AddFile],
                                       adds: Seq[AddFile], op: String,
                                       info: Map[String, String],
                                       dataChange: Boolean): Long = {
    val readPaths = read.map(_.path).toSet
    Retry.withRetry() {
      // Still-active check via tail replay from the read snapshot — O(tail)
      // driver work, never the full file list (DeltaTable.tailState).
      val (cur, present, metadata, protocol) = table.tailState(snapAtRead, readPaths)
      // Layout-only rewrites (compact/z-order, dataChange=false) are legal
      // on append-only tables; row-removing ones (dedup) are not. Protocol
      // is re-checked unconditionally: even a layout rewrite must not
      // commit under a concurrently-upgraded protocol it can't honor.
      ProtocolSupport.assertWritable(
        snapAtRead.copy(metadata = metadata, protocol = protocol), table.path)
      if (dataChange)
        DeltaTable.assertNotAppendOnly(snapAtRead.copy(metadata = metadata), op)
      // A record that CHANGED since the read (a racer's DV mask / restore
      // re-add) conflicts like a vanished one: the rewrite was built from
      // the read-time content and would resurrect the racer's masked rows.
      val readRecords = read.map(f => f.path -> f).toMap
      val missing = readPaths.filter(p =>
        !present.get(p).contains(readRecords(p)))
      if (missing.nonEmpty) {
        // Clean up the rewrite output before re-planning; it was never
        // committed, so deleting it is safe (vacuum would catch it anyway).
        adds.foreach(a => table.deleteDataFile(a.path))
        throw new MaintenanceConflictException(missing)
      }
      val now = System.currentTimeMillis()
      val removes = read.map(f => RemoveFile(f.path, now, dataChange = dataChange))
      val vNext = cur + 1
      table.log.writeCommit(vNext,
        (removes: Seq[Action]) ++ (adds: Seq[Action]) ++
          Seq[Action](CommitInfo(now, op, info)))
      vNext
    }
  }

  /** Re-run the whole plan→rewrite→commit cycle when the file set moved
    * underneath it (the rewrite output was already deleted by
    * [[commitMaintenance]] before the conflict escaped). */
  private def replanOnConflict[A](maxAttempts: Int = 3)(attempt: => A): A = {
    var tries = 0
    while (true) {
      try return attempt
      catch {
        case e: MaintenanceConflictException =>
          if (tries >= maxAttempts - 1) throw e
          tries += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- compaction ----------------------------------------------------------

  sealed trait Strategy
  object Strategy {
    case object Greedy extends Strategy      // first-come grouping up to target
    case object SortBySize extends Strategy  // smallest-first grouping
    case object BinPack extends Strategy     // first-fit-decreasing
  }

  final case class CompactionConfig(
      targetFileSize: Long = 128L * 1024 * 1024, // compaction/index.ts:96-99
      minFilesToCompact: Int = 2,                // compaction/index.ts:573-574
      strategy: Strategy = Strategy.BinPack,
      dryRun: Boolean = false,
      // OPTIMIZE ... WHERE: a SQL predicate over PARTITION columns scoping
      // which partitions compact (the daily-reload pattern: compact only
      // the partitions just written, not a 100 TB history). Exact typed
      // evaluation; a predicate naming a non-partition column is refused.
      partitionFilter: Option[String] = None)

  final case class CompactionResult(
      filesCompacted: Long, filesCreated: Long,
      bytesIn: Long, partitionsTouched: Long, version: Long)

  /**
   * Merge small files per partition (reference: compact,
   * src/compaction/index.ts:568-878; FFD packing 1504-1531; grouping
   * 1408-1465). Bin plans come from log sizes on the driver; each partition
   * group is rewritten by ONE distributed job into its planned file count.
   * Commits with `dataChange = false` so streams can skip it.
   */
  def compact(table: DeltaTable, cfg: CompactionConfig = CompactionConfig()): CompactionResult =
    replanOnConflict() { compactOnce(table, cfg) }

  /** Evaluate a SQL predicate over partition-value tuples with the SAME
    * typed semantics a query filter would see: the raw Hive-path strings
    * are CAST to the partition columns' declared types (null marker →
    * null) and Spark's own analyzer/evaluator runs the predicate — so
    * `date >= '2026-01-01'`, `p IN (...)`, `year(d) = 2026` all behave
    * exactly as they do in a WHERE clause. A predicate naming a
    * non-partition column fails analysis (only partition columns are in
    * scope) and is rephrased as a ValidationException. */
  private def matchingPartitions(table: DeltaTable, partCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      keys: Seq[Map[String, String]],
      pred: String): Set[Map[String, String]] = {
    if (partCols.isEmpty) throw new ValidationException(
      "a compaction predicate requires a partitioned table")
    val spark = table.spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val raw = StructType(StructField("__idx", LongType) +:
      partCols.map(c => StructField(c, StringType)))
    val rows = keys.zipWithIndex.map { case (k, i) =>
      Row.fromSeq(i.toLong +: partCols.map(c =>
        k.get(c).filter(_ != PartitionPaths.NullMarker).orNull))
    }
    val rawDf = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), raw)
    val typed = partCols.foldLeft(rawDf)((df, c) =>
      df.withColumn(c, df(c).cast(schema(c).dataType)))
    // Analysis check runs against a frame holding ONLY the partition
    // columns — the __idx helper is out of scope, so a predicate naming it
    // (or any non-partition column) is refused instead of silently
    // filtering on row position.
    try typed.drop("__idx").select(expr(pred)).queryExecution.analyzed
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new ValidationException(
          s"compaction predicate must reference only partition columns " +
            s"(${partCols.mkString(", ")}): ${e.getMessage}")
    }
    val kept =
      try typed.filter(expr(pred)).select("__idx").collect()
        .map(_.getLong(0)).toSet
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new ValidationException(
            s"compaction predicate failed to evaluate over the partition " +
              s"values (${partCols.mkString(", ")}): ${e.getMessage}")
      }
    keys.zipWithIndex.collect { case (k, i) if kept(i.toLong) => k }.toSet
  }

  private def compactOnce(table: DeltaTable, cfg: CompactionConfig): CompactionResult = {
    // Selection: only files below the target size are candidates, so above
    // the distributed threshold only THOSE reach the driver - the bin
    // planner is O(compactable files), not O(active files).
    val target = cfg.targetFileSize
    val snap = table.scanStateWhere(_.size < target)
    val byPartition0 = snap.activeFiles.groupBy(_.partitionValues)
    // Predicate scope: evaluated over the (bounded) DISTINCT partition
    // tuples of the small-file candidates — the rewrite I/O it saves
    // dwarfs the driver-side key filter.
    val byPartition = cfg.partitionFilter match {
      case None => byPartition0
      case Some(pred) =>
        val keep = matchingPartitions(
          table, snap.partitionColumns, snap.schema, byPartition0.keys.toSeq, pred)
        byPartition0.filter { case (k, _) => keep(k) }
    }

    var filesCompacted = 0L; var filesCreated = 0L; var bytesIn = 0L
    var partitionsTouched = 0L
    val allRemoves = Seq.newBuilder[AddFile]
    val allAdds = Seq.newBuilder[AddFile]

    byPartition.foreach { case (_, files) =>
      val small = files // selection already applied size < target
      if (small.size >= cfg.minFilesToCompact) {
        val bins = planBins(small, cfg)
        // Only compact bins that actually merge ≥2 files.
        val merging = bins.filter(_.size >= 2)
        if (merging.nonEmpty && !cfg.dryRun) {
          val toRewrite = merging.flatten
          val df = table.toDF(snap.copy(activeFiles = toRewrite))
          val rewritten = df.repartition(merging.size)
          val adds = table.writeDataFiles(rewritten, snap.partitionColumns, snap.schema)
            .map(_.copy(dataChange = false))
          allRemoves ++= toRewrite
          allAdds ++= adds
          filesCompacted += toRewrite.size
          filesCreated += adds.size
          bytesIn += toRewrite.map(_.size).sum
          partitionsTouched += 1
        } else if (merging.nonEmpty) {
          filesCompacted += merging.flatten.size
          filesCreated += merging.size
          bytesIn += merging.flatten.map(_.size).sum
          partitionsTouched += 1
        }
      }
    }

    val removes = allRemoves.result()
    val v =
      if (cfg.dryRun || removes.isEmpty) snap.version
      else commitMaintenance(table, snap, removes, allAdds.result(), "COMPACT",
        Map("filesCompacted" -> filesCompacted.toString), dataChange = false)
    CompactionResult(filesCompacted, filesCreated, bytesIn, partitionsTouched, v)
  }

  /** Bin planning over (path,size) metadata. */
  private def planBins(files: Seq[AddFile], cfg: CompactionConfig): Seq[Seq[AddFile]] =
    cfg.strategy match {
      case Strategy.Greedy => greedyBins(files, cfg.targetFileSize)
      case Strategy.SortBySize => greedyBins(files.sortBy(_.size), cfg.targetFileSize)
      case Strategy.BinPack => // first-fit-decreasing (compaction/index.ts:1504-1531)
        val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, scala.collection.mutable.ArrayBuffer[AddFile])]
        files.sortBy(-_.size).foreach { f =>
          bins.find(_._1 + f.size <= cfg.targetFileSize) match {
            case Some(bin) =>
              val i = bins.indexOf(bin)
              bins(i) = (bin._1 + f.size, bin._2 += f)
            case None =>
              bins += ((f.size, scala.collection.mutable.ArrayBuffer(f)))
          }
        }
        bins.map(_._2.toSeq).toSeq
    }

  private def greedyBins(files: Seq[AddFile], target: Long): Seq[Seq[AddFile]] = {
    val bins = Seq.newBuilder[Seq[AddFile]]
    var cur = Seq.newBuilder[AddFile]; var curSize = 0L; var curN = 0
    files.foreach { f =>
      if (curN > 0 && curSize + f.size > target) {
        bins += cur.result(); cur = Seq.newBuilder[AddFile]; curSize = 0; curN = 0
      }
      cur += f; curSize += f.size; curN += 1
    }
    if (curN > 0) bins += cur.result()
    bins.result()
  }

  // ---- deduplication -------------------------------------------------------

  sealed trait DedupStrategy
  object DedupStrategy {
    /** Whole-row identity (reference: exact dedup, compaction/index.ts:930-1086). */
    case object Exact extends DedupStrategy
    /** Keep one arbitrary-but-deterministic row per primary key. */
    final case class ByKey(keys: Seq[String]) extends DedupStrategy
    /** Keep the row with the max `orderBy` per key
      * (reference keep-latest, compaction/index.ts:995-1016). */
    final case class KeepLatest(keys: Seq[String], orderBy: String) extends DedupStrategy
    /** Keep the FIRST row per key by `orderBy` ascending (reference
      * `keepStrategy: 'first'`, compaction/index.ts:892-1016 — there "first"
      * means encounter order; a distributed engine has no stable encounter
      * order, so the ordering column is explicit). */
    final case class KeepFirst(keys: Seq[String], orderBy: String) extends DedupStrategy
    /** Keep the LAST row per key by `orderBy` ascending (reference
      * `keepStrategy: 'last'`). Equivalent to [[KeepLatest]] on the same
      * column; both exist for reference-name parity. */
    final case class KeepLast(keys: Seq[String], orderBy: String) extends DedupStrategy
  }

  final case class DedupResult(rowsBefore: Long, rowsAfter: Long, version: Long)

  /** Full-table rewrite without duplicate rows. */
  def deduplicate(table: DeltaTable, strategy: DedupStrategy): DedupResult =
    replanOnConflict() { deduplicateOnce(table, strategy) }

  private def deduplicateOnce(table: DeltaTable, strategy: DedupStrategy): DedupResult = {
    val snap = table.snapshot()
    val df = table.toDF(snap)
    def keepOne(keys: Seq[String], order: org.apache.spark.sql.Column): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val deduped: DataFrame = strategy match {
      case DedupStrategy.Exact => df.distinct()
      case DedupStrategy.ByKey(keys) => df.dropDuplicates(keys)
      case DedupStrategy.KeepLatest(keys, orderCol) => keepOne(keys, col(orderCol).desc)
      case DedupStrategy.KeepFirst(keys, orderCol) => keepOne(keys, col(orderCol).asc)
      case DedupStrategy.KeepLast(keys, orderCol) => keepOne(keys, col(orderCol).desc)
    }
    // Metrics come from per-file stats, not table scans: rowsBefore is the
    // sum of the snapshot's add-action numRecords, rowsAfter the sum over the
    // files the rewrite just wrote — the old before/after `count()` pair cost
    // two extra full-table jobs for numbers the log already knows. Fall back
    // to a scan only when the log can't answer (an external writer omitted
    // stats, or a deletion vector makes physical numRecords overcount).
    val statsKnown = snap.activeFiles.forall(a =>
      a.parsedStats.isDefined && a.deletionVector.isEmpty)
    val before =
      if (statsKnown) snap.activeFiles.flatMap(_.parsedStats).map(_.numRecords).sum
      else df.count()
    val adds = table.writeDataFiles(deduped, snap.partitionColumns, snap.schema)
    val after = adds.flatMap(_.parsedStats).map(_.numRecords).sum
    val v =
      if (after == before) {
        // nothing removed — discard the rewrite, keep the current version
        adds.foreach(a => table.deleteDataFile(a.path))
        snap.version
      } else {
        // Remove exactly the files the rewrite READ (the planning snapshot's
        // set) — removing `cur.activeFiles` would silently drop rows a
        // concurrent append committed between snapshot and commit.
        commitMaintenance(table, snap, snap.activeFiles, adds, "DEDUPLICATE",
          Map("rowsRemoved" -> (before - after).toString), dataChange = true)
      }
    DedupResult(before, after, v)
  }

  // ---- Z-order clustering --------------------------------------------------

  /** Per-(file, clustered-column) zone widths over the rewritten files,
    * numeric-ified like the reference (numbers as-is, strings by first char
    * code, else 0 — compaction/index.ts:1225-1248), with the reference's
    * derived skip-rate estimate. Computed from the add-action stats the
    * rewrite just produced — zero extra scans. */
  final case class ZoneMapStats(avgZoneWidth: Double, minZoneWidth: Double,
                                maxZoneWidth: Double, estimatedSkipRate: Double)

  final case class ZOrderResult(filesBefore: Long, filesAfter: Long, version: Long,
                                zoneMaps: Option[ZoneMapStats] = None)

  private def zoneMapStats(adds: Seq[AddFile], columns: Seq[String]): Option[ZoneMapStats] = {
    import org.json4s._
    def num(v: JValue): Double = v match {
      case JInt(n) => n.toDouble
      case JLong(n) => n.toDouble
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JString(s) => s.headOption.map(_.toInt.toDouble).getOrElse(0.0)
      case _ => 0.0
    }
    val widths = for {
      a <- adds
      st <- a.parsedStats.toSeq
      c <- columns
      lo <- st.minValues.get(c)
      hi <- st.maxValues.get(c)
    } yield num(hi) - num(lo)
    if (widths.isEmpty) None
    else {
      val avg = widths.sum / widths.size
      // reference skip-rate estimate (compaction/index.ts:1246-1249)
      val improvement =
        if (avg > 0) math.min(0.5, 1.0 / math.log10(avg + 10)) else 0.1
      val skip = math.max(0.31, math.min(0.9, improvement * 2))
      Some(ZoneMapStats(avg, widths.min, widths.max, skip))
    }
  }

  /**
   * Rewrite the table clustered by the Morton (Z-order) interleave of the
   * given columns (reference: zOrderCluster, src/compaction/index.ts:1149-1279;
   * 21-bit normalize+interleave 360-415). Column normalization bounds come
   * from ONE aggregation; the interleave itself is a pure Column bit
   * expression (codegen-friendly, no UDF), and the rewrite is
   * range-partitioned on the Z-value so each output file covers a tight
   * Z-range (what makes later min/max skipping effective).
   */
  def zOrderCluster(table: DeltaTable, columns: Seq[String],
                    targetFiles: Int = 0,
                    curveType: String = "zorder"): ZOrderResult = {
    // `hilbert` is accepted and computed as z-order, exactly like the
    // reference (compaction/index.ts:151,1122 — the hilbert branch falls
    // through to the Morton interleave). `hilbert-true` (round 15, beyond
    // the reference) walks the REAL Hilbert curve via
    // [[graft.functions.HilbertIndex]]: unit-step locality tightens
    // per-file min/max zone maps for multi-column range predicates.
    val trueHilbert = curveType.toLowerCase match {
      case "zorder" | "z-order" | "hilbert" => false
      case "hilbert-true" => true
      case other => throw new IllegalArgumentException(
        s"unknown curveType '$other' (expected zorder, hilbert, or hilbert-true)")
    }
    replanOnConflict() { zOrderOnce(table, columns, targetFiles, trueHilbert) }
  }

  private def zOrderOnce(table: DeltaTable, columns: Seq[String],
                         targetFiles: Int,
                         trueHilbert: Boolean = false): ZOrderResult = {
    require(columns.nonEmpty && columns.size <= 3, "z-order on 1-3 columns")
    val snap = table.snapshot()
    val df = table.toDF(snap)
    val bits = 21 // per-column resolution (compaction/index.ts:360-379)

    // Normalization bounds per column (numeric/timestamp → min/max scaling;
    // strings → deterministic hash, like the reference's DJB2 path).
    val aggs = columns.flatMap(c => Seq(
      min(normalizeToLong(df, c)).as(s"__min_$c"),
      max(normalizeToLong(df, c)).as(s"__max_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).collect()(0)

    def scaledCol(c: String) = {
      val lo = bounds.getAs[Long](s"__min_$c")
      val hi = bounds.getAs[Long](s"__max_$c")
      val range = math.max(1L, hi - lo)
      // scale to [0, 2^21-1]; double intermediate avoids ANSI long overflow
      // for wide ranges (clustering precision is unaffected)
      ((normalizeToLong(df, c) - lit(lo)).cast("double") *
        lit(((1L << bits) - 1).toDouble) / lit(range.toDouble)).cast("long")
    }
    val zcol =
      if (trueHilbert && columns.size >= 2)
        org.apache.spark.sql.graftshim.ColumnShim.column(
          graft.functions.HilbertIndex(
            columns.map(c => org.apache.spark.sql.graftshim.ColumnShim
              .expression(scaledCol(c))), bits))
      else columns.zipWithIndex.map { case (c, j) =>
        val scaled = scaledCol(c)
        // spread this column's bits to positions j, j+n, j+2n, ...
        (0 until bits).map { i =>
          shiftleft(shiftright(scaled, i).bitwiseAND(lit(1L)), i * columns.size + j)
        }.reduce((a, b) => a.bitwiseOR(b))
      }.reduce((a, b) => a.bitwiseOR(b))

    val nFiles = if (targetFiles > 0) targetFiles
      else math.max(1, snap.activeFiles.size / 2)
    val clustered = df.withColumn("__z", zcol)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val adds = table.writeDataFiles(clustered, snap.partitionColumns, snap.schema)
      .map(_.copy(dataChange = false))
    val v = commitMaintenance(table, snap, snap.activeFiles, adds, "ZORDER",
      Map("columns" -> columns.mkString(","),
        "curve" -> (if (trueHilbert) "hilbert-true" else "zorder")),
      dataChange = false)
    ZOrderResult(snap.activeFiles.size.toLong, adds.size.toLong, v,
      zoneMapStats(adds, columns))
  }

  /** Map a column to an orderable long: numerics/timestamps directly, strings
    * via a deterministic hash (reference normalizes via DJB2,
    * compaction/index.ts:396-415 — any stable hash clusters equally well). */
  private def normalizeToLong(df: DataFrame, c: String) = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      // Reduce to 32 bits so downstream scaling math cannot overflow a long
      // under ANSI arithmetic.
      case StringType => pmod(xxhash64(col(c)), lit(Int.MaxValue.toLong))
      case TimestampType | TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case DateType => col(c).cast(IntegerType).cast(LongType)
      case BooleanType => col(c).cast(LongType)
      case _: NumericType => col(c).cast(LongType)
      case other => throw new IllegalArgumentException(s"cannot z-order on $other")
    }
  }

  // ---- vacuum --------------------------------------------------------------

  /** Vacuum metrics (reference: VacuumMetrics, src/delta/vacuum.ts:63-87).
    * `filesToDelete` is the doomed list — relative paths, populated in dry
    * runs so callers can preview; `filesScanned`/`filesRetained` count every
    * data file visited and those kept. */
  final case class VacuumResult(filesDeleted: Long, bytesFreed: Long,
      dryRun: Boolean, filesScanned: Long = 0L, filesRetained: Long = 0L,
      filesToDelete: Seq[String] = Seq.empty, durationMs: Long = 0L)

  /**
   * Delete unreferenced data files older than the retention window
   * (reference: src/delta/vacuum.ts:127-248; candidates 258-288; time-travel
   * protection 297-355). Files whose tombstone is newer than the window stay,
   * so recent versions remain queryable. Default 168 h, minimum 1 h.
   */
  def vacuum(table: DeltaTable, retentionHours: Double = 168.0,
             dryRun: Boolean = false, enforceMinimum: Boolean = true): VacuumResult = {
    val t0 = System.currentTimeMillis()
    val retention = if (enforceMinimum) math.max(retentionHours, 1.0) else retentionHours
    val cutoff = t0 - (retention * 3600 * 1000).toLong
    val distributed = table.log.readLastCheckpoint()
      .exists(_._2 >= table.distributedSnapshotThreshold)
    if (distributed)
      return vacuumDistributed(table, cutoff, dryRun, t0)
    val snap = table.snapshot()
    val active = snap.activeFiles.map(_.path).toSet
    val protectedPaths = snap.tombstones
      .filter(_.deletionTimestamp >= cutoff).map(_.path).toSet

    val fs = table.log.fs
    val it = fs.listFiles(table.tablePath, true)
    var freed = 0L
    var scanned = 0L
    val doomed = Seq.newBuilder[String]
    val doomedRel = Seq.newBuilder[String]
    val base = fs.makeQualified(table.tablePath).toUri.getPath
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      // Files no commit references (a killed writer's parts, or the
      // `_staging_<uuid>` leftovers of writers that staged before
      // renaming) are never in the active set, so past the retention
      // cutoff the age check alone decides and reclaims them. The
      // cutoff is also what protects live writers, same contract as Delta's
      // "don't vacuum below your longest-running writer".
      val isData = rel.endsWith(".parquet") &&
        !rel.startsWith("_delta_log") && !rel.startsWith("_change_data") &&
        !rel.startsWith("_cdc_offsets")
      if (isData) {
        scanned += 1
        if (!active.contains(rel) && !protectedPaths.contains(rel) &&
            st.getModificationTime < cutoff) {
          freed += st.getLen
          doomed += st.getPath.toString
          doomedRel += rel
        }
      }
    }
    val paths = doomed.result()
    if (!dryRun && paths.nonEmpty) deletePaths(table, paths)
    VacuumResult(paths.size.toLong, freed, dryRun,
      filesScanned = scanned, filesRetained = scanned - paths.size,
      filesToDelete = if (dryRun) doomedRel.result() else Seq.empty,
      durationMs = System.currentTimeMillis() - t0)
  }

  /** Hadoop conf entries as plain pairs — serializable for executor-side
    * FileSystem rebuilds. */
  private def confItems(table: DeltaTable): Seq[(String, String)] = {
    val ci = table.log.hadoopConf.iterator()
    val b = Seq.newBuilder[(String, String)]
    while (ci.hasNext) { val e = ci.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  /** Delete absolute paths: a driver loop below 64, one fanned-out Spark job
    * above it — millions of reclaimable files are the norm after heavy
    * compaction at scale, and a serial driver loop is hours of wall clock
    * on an object store. Each reclaimed data file takes its bloom sidecar
    * (if any) with it — sidecars are candidates nowhere else (only
    * `.parquet` files are ever doomed), so active files' indexes are safe
    * and orphaned ones cannot accumulate. */
  private def deletePaths(table: DeltaTable, dataPaths: Seq[String]): Unit = {
    val baseUri = table.tablePath.toUri.getPath
    val paths = dataPaths ++ dataPaths.flatMap { p =>
      val u = new Path(p).toUri.getPath
      if (u.startsWith(baseUri + "/"))
        Some(new Path(table.tablePath,
          BloomIndex.sidecarRel(u.stripPrefix(baseUri + "/"))).toString)
      else None // clone-referenced foreign file: its owner vacuums it
    }
    if (paths.size <= 64) {
      paths.foreach(p => table.log.fs.delete(new Path(p), false))
    } else {
      val items = confItems(table)
      val parallelism = math.max(1, math.min(paths.size / 64, 64))
      table.spark.sparkContext.parallelize(paths, parallelism)
        .foreachPartition { ps =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          items.foreach { case (k, v) => conf.set(k, v) }
          var pfs: org.apache.hadoop.fs.FileSystem = null
          ps.foreach { p =>
            val hp = new Path(p)
            if (pfs == null) pfs = hp.getFileSystem(conf)
            pfs.delete(hp, false)
          }
        }
    }
  }

  /**
   * Vacuum for LARGE tables: neither the keep-set nor the storage listing
   * materializes on the driver. The keep-set (active files ∪ tombstones
   * newer than the cutoff) stays a DataFrame built from the checkpoint
   * ([[Checkpoints.readStateDf]]) reconciled with an O(tail) driver replay
   * of commits past it — the same scheme as [[DistributedSnapshot]] /
   * [[Checkpoints.writeDistributed]]. The listing fans out one executor
   * task per top-level directory (Hive partition dirs — the 100-TB
   * layout); garbage is the listing anti-joined against the keep-set, so
   * driver memory is O(top-level entries + reclaimable files). The scanned
   * census rides the anti-join's own job via `Observation` — no second
   * listing pass. Flat layouts degrade gracefully: root files list
   * driver-side (their statuses come from the one shallow list the driver
   * does anyway), membership still checks distributed.
   */
  private def vacuumDistributed(table: DeltaTable, cutoff: Long,
                                dryRun: Boolean, t0: Long): VacuumResult = {
    val spark = table.spark
    import spark.implicits._
    val log = table.log
    val (cv, _, parts) = log.readLastCheckpoint()
      .getOrElse(throw new IllegalStateException("distributed vacuum needs a checkpoint"))
    val target = log.latestVersion()

    // Tail replay: per-path FINAL keep-state past the checkpoint. Last
    // action wins: an add keeps the file active (and clears any tombstone);
    // a remove protects it iff newer than the cutoff.
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    val tailKeep = scala.collection.mutable.LinkedHashSet.empty[String]
    log.listCommitVersions().filter(v => v > cv && v <= target).foreach { v =>
      log.readCommit(v).foreach {
        case a: AddFile => touched += a.path; tailKeep += a.path
        case r: RemoveFile =>
          touched += r.path
          if (r.deletionTimestamp >= cutoff) tailKeep += r.path
          else tailKeep -= r.path
        case _ => ()
      }
    }

    val state = Checkpoints.readStateDf(spark, log, cv, parts)
    val cpAdds = state.where(col("add").isNotNull)
      .select(get_json_object(col("add"), "$.path").as("rel"))
    val cpRecentTombstones = state.where(col("remove").isNotNull)
      .select(get_json_object(col("remove"), "$.path").as("rel"),
        get_json_object(col("remove"), "$.deletionTimestamp")
          .cast("long").as("__ts"))
      .where(col("__ts") >= cutoff).select(col("rel"))
    val cpKeepAll = cpAdds.union(cpRecentTombstones)
    val cpKeep =
      if (touched.isEmpty) cpKeepAll
      else cpKeepAll.join(broadcast(touched.toSeq.toDF("rel")),
        Seq("rel"), "left_anti")
    val keep = cpKeep.union(tailKeep.toSeq.toDF("rel"))

    // Listing: one shallow driver list; subdirectories recurse on executors.
    val fs = log.fs
    val base = fs.makeQualified(table.tablePath).toUri.getPath
    val skipDirs = Set("_delta_log", "_change_data", "_staging", "_cdc_offsets")
    val top = fs.listStatus(table.tablePath)
    val rootRows = top.filter(_.isFile).toSeq.map { st =>
      (st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/"),
        st.getPath.toString, st.getModificationTime, st.getLen)
    }
    val dirs = top.filter(_.isDirectory).map(_.getPath.toString)
      .filterNot(d => skipDirs.contains(d.substring(d.lastIndexOf('/') + 1)))
      .toSeq
    val items = confItems(table)
    val dirListing =
      if (dirs.isEmpty) spark.emptyDataset[(String, String, Long, Long)]
      else spark.sparkContext
        .parallelize(dirs, math.min(dirs.size, 64))
        .mapPartitions { ds =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          items.foreach { case (k, v) => conf.set(k, v) }
          ds.flatMap { d =>
            val hp = new Path(d)
            val dfs = hp.getFileSystem(conf)
            val out = Seq.newBuilder[(String, String, Long, Long)]
            val it = dfs.listFiles(hp, true)
            while (it.hasNext) {
              val st = it.next()
              out += ((st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/"),
                st.getPath.toString, st.getModificationTime, st.getLen))
            }
            out.result()
          }
        }.toDS()
    val listing = dirListing
      .union(rootRows.toDS())
      .toDF("rel", "abs", "mtime", "len")
      .where(col("rel").endsWith(".parquet"))

    val obs = org.apache.spark.sql.Observation()
    val doomed = listing
      .observe(obs, count(lit(1)).as("__scanned"))
      .where(col("mtime") < cutoff)
      .join(keep, Seq("rel"), "left_anti")
      .select(col("rel"), col("abs"), col("len"))
      .collect() // O(reclaimable files) — the result vacuum must enumerate anyway
    val scanned = obs.get("__scanned").asInstanceOf[Long]
    val freed = doomed.map(_.getLong(2)).sum
    val paths = doomed.map(_.getString(1)).toSeq
    if (!dryRun && paths.nonEmpty) deletePaths(table, paths)
    VacuumResult(paths.size.toLong, freed, dryRun,
      filesScanned = scanned, filesRetained = scanned - paths.size,
      filesToDelete = if (dryRun) doomed.map(_.getString(0)).toSeq else Seq.empty,
      durationMs = System.currentTimeMillis() - t0)
  }
}
