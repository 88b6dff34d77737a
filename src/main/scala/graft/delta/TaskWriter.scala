package graft.delta

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Cast, Coalesce, EqualNullSafe, Expression, IsNotNull, Literal, Not, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.graftshim.WriteShim
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/**
 * The engine's one data-file writer. Every write that lands parquet in a
 * table — `DeltaTable.write`, DML and MERGE rewrites, maintenance, catalog
 * INSERTs and streaming epochs — runs these task writers: each task
 * writes its rows under final, unique names in the table layout and
 * reports (path, size, stats), the stats read from the footer of the file
 * it has just closed; the log commit decides visibility, so no staging
 * directory or rename exists anywhere, and no pass re-opens a written
 * file for its stats.
 *
 * A [[WritePlan]] binds, once on the driver, everything a task needs to
 * turn a query row into a file row: the value of every written column
 * (plain columns by ordinal, generated columns computed, identity columns
 * allocated in streaming epochs), the partition directory, and the row
 * contracts (CHECK constraints, column invariants, generated-column
 * consistency, the replaceWhere region). [[TaskWriter.run]] executes the
 * write as one Spark job for callers that hold the DataFrame; the DSv2
 * `Write` in `graft.streaming` hands the same factory to Spark's own write
 * execs.
 */
final class WritePlan(
    table: DeltaTable,
    // the logical schema the files are written under — for a first write
    // or a schema-evolving append, one not yet committed
    tableSchema: StructType,
    partCols: Seq[String],
    querySchema: StructType,
    constraints: Map[String, String],
    // replaceWhere: every written row must satisfy this condition
    region: Option[Column] = None) {

  private def spark: SparkSession = table.spark

  querySchema.fields.foreach { qf =>
    tableSchema.fields.find(_.name == qf.name) match {
      case None => throw new ValidationException(
        s"write column '${qf.name}' does not exist in the table " +
          "(the writer does not evolve the schema)")
      case Some(tf) if !DataTypeUtils.equalsIgnoreNullability(tf.dataType, qf.dataType) =>
        throw new ValidationException(
          s"write column '${qf.name}' has type ${qf.dataType.sql}, " +
            s"table expects ${tf.dataType.sql}")
      case _ => ()
    }
  }

  private val genExprSql: Map[String, String] = GeneratedColumns.exprs(tableSchema).toMap

  partCols.filterNot(p => querySchema.fieldNames.contains(p) ||
      genExprSql.contains(p)).headOption.foreach(p =>
    throw new ValidationException(
      s"writing a partitioned table requires partition column '$p'"))

  private def provided(i: Int): Expression =
    BoundReference(i, querySchema.fields(i).dataType, querySchema.fields(i).nullable)

  /** Analyze `build`'s expression against (query columns ++ missing table
    * columns as NULLs) and rebind it to QUERY-ROW ordinals, so tasks can
    * codegen it over each InternalRow. With `finalValues`, a generated
    * column reads the value the row is written with (computed when
    * omitted or NULL); otherwise it reads what the query provides. */
  private def bindToQueryRow(finalValues: Boolean)(build: DataFrame => Expression): Expression = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), querySchema)
    val widened = tableSchema.fields
      .filterNot(f => querySchema.fieldNames.contains(f.name))
      .foldLeft(empty)((acc, f) => acc.withColumn(f.name, lit(null).cast(f.dataType)))
    build(widened).transform {
      case a: AttributeReference if finalValues && genExprSql.contains(a.name) =>
        generatedValue(a.name)
      case a: AttributeReference =>
        querySchema.fieldNames.indexOf(a.name) match {
          case -1 => Literal(null, a.dataType) // omitted column reads NULL
          case i => provided(i)
        }
    }
  }

  /** Violation predicate of a row contract, evaluated on the final row.
    * CHECK follows SQL (NULL passes); `nullFails` is Delta's legacy
    * invariant rule, also used for the replaceWhere region. */
  private def bindPredicate(condition: Column, nullFails: Boolean): Expression =
    bindToQueryRow(finalValues = true) { widened =>
      val cond = widened.filter(condition).queryExecution.analyzed.collectFirst {
        case f: Filter => f.condition
      }.getOrElse(throw new ValidationException(
        s"cannot analyze write-contract expression: $condition"))
      if (nullFails) Not(Coalesce(Seq(cond, Literal(false))))
      else EqualNullSafe(cond, Literal(false))
    }

  private def computed(n: String): Expression =
    bindToQueryRow(finalValues = false) { widened =>
      widened.select(expr(genExprSql(n)).cast(tableSchema(n).dataType))
        .queryExecution.analyzed.collectFirst {
          case p: Project => p.projectList.head match {
            case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
            case e => e
          }
        }.getOrElse(throw new ValidationException(
          s"cannot analyze generation expression of '$n'"))
    }

  private val generatedCache = mutable.Map.empty[String, Expression]

  /** A provided generated column keeps its non-null values (validated
    * below) and computes NULLs; an omitted one always computes — so
    * generated PARTITION columns the query never carries still route. */
  private def generatedValue(n: String): Expression = generatedCache.getOrElseUpdate(n,
    querySchema.fieldNames.indexOf(n) match {
      case -1 => computed(n)
      case qi => Coalesce(Seq(provided(qi), computed(n)))
    })

  /** Value of a table column in the written row; None leaves an omitted
    * plain column out of the file (it reads back NULL). */
  private def valueOf(n: String): Option[Expression] =
    if (genExprSql.contains(n)) Some(generatedValue(n))
    else querySchema.fieldNames.indexOf(n) match {
      case -1 => None
      case qi => Some(provided(qi))
    }

  /** Row contracts as (error message, violation expression) pairs. */
  private val violationChecks: Seq[(String, Expression)] =
    constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      s"CHECK constraint '$n' ($sql) violated by a written row" ->
        bindPredicate(expr(sql), nullFails = false)
    } ++ GeneratedColumns.invariants(tableSchema).map { case (c, sql) =>
      s"column invariant on '$c' ($sql) violated by a written row" ->
        bindPredicate(expr(sql), nullFails = true)
    } ++ region.map { cond =>
      // NULL means "not matched": such a row is outside the region too
      s"replaceWhere ($cond): a written row does not satisfy the replacement " +
        "condition, so it would land outside the replaced region" ->
        bindPredicate(cond, nullFails = true)
    } ++ genExprSql.toSeq.sortBy(_._1).collect {
      // NULL-provided means "compute"; a non-null provided value must
      // equal the generation expression
      case (n, g) if querySchema.fieldNames.contains(n) =>
        val p = provided(querySchema.fieldIndex(n))
        s"generated column '$n' ($g): provided values must equal the " +
          "generation expression" -> And(IsNotNull(p), Not(EqualNullSafe(p, computed(n))))
    }

  private val physical = table.physicalSchema(tableSchema).getOrElse(tableSchema)
  private val partExprs: Array[Expression] = partCols.toArray.map(p => valueOf(p).get)

  /** Partition columns to sort each task's rows by, so the writer keeps
    * one file open at a time (as Spark's own file writer does); empty
    * when unpartitioned, or when a partition value is computed in the
    * task (a generated partition column) and cannot be sorted on. */
  val sortColumns: Seq[String] =
    if (partCols.forall(p => querySchema.fieldNames.contains(p) && !genExprSql.contains(p)))
      partCols
    else Nil

  /** Task-writer factory. With identity `specs` (streaming epochs and
    * push-based batch writes, which cannot count before they write), each
    * task fills its slot of an interleaved lattice from the specs' marks,
    * `slots` being the write's partition count; otherwise identity values
    * arrive in the query like any provided column. `clustered` promises
    * rows sorted by [[sortColumns]]. */
  def factory(specs: Seq[IdentityColumns.Spec] = Nil, slots: Int = 1,
              clustered: Boolean = false): TaskWriterFactory = {
    val byName = specs.map(s => s.name -> s).toMap
    def identityValue(s: IdentityColumns.Spec): Expression = {
      val child = querySchema.fieldNames.indexOf(s.name) match {
        case -1 => Literal(null, LongType)
        case qi => Cast(provided(qi), LongType)
      }
      graft.functions.StreamIdentityAssign(child, s.name, s.nextValue, s.step,
        math.max(slots, 1), s.allowExplicit)
    }
    // (file field, value) per data column: table order, physical names,
    // partition columns excluded
    val plan = tableSchema.fields.toSeq.zip(physical.fields).collect {
      case (lf, pf) if !partCols.contains(lf.name) =>
        byName.get(lf.name).map(identityValue).orElse(valueOf(lf.name))
          .map(e => (StructField(pf.name, e.dataType, e.nullable), e))
    }.flatten
    val fileSchema = StructType(plan.map(_._1))
    val (writerFactory, conf) = WriteShim.parquetWriterFactory(spark, fileSchema)
    val dataExprs = plan.map(_._2).toArray
    val passThrough = partExprs.isEmpty && dataExprs.length == querySchema.length &&
      dataExprs.zipWithIndex.forall {
        case (BoundReference(o, _, _), i) => o == i
        case _ => false
      }
    TaskWriterFactory(table.path, fileSchema, dataExprs, passThrough, partCols.toArray,
      partExprs, clustered && sortColumns.nonEmpty, writerFactory, conf, violationChecks, specs,
      FooterStats.statColumns(fileSchema))
  }
}

/** Files one task wrote, as (table-relative path, bytes, footer stats JSON
  * keyed by physical column names; None when the task could not read the
  * footer). `idAlloc` echoes the identity specs the task allocated from, so
  * a streaming commit pairs marks with the right epoch. `violation` is a
  * row-contract breach: the task wrote nothing and the whole write must
  * fail. */
final case class TaskWriteMessage(
    files: Seq[(String, Long, Option[String])],
    idAlloc: Seq[IdentityColumns.Spec] = Nil,
    violation: Option[String] = None)
  extends WriterCommitMessage

/** Serializable task-writer factory: serves [[TaskWriter.run]]'s job,
  * Spark's batch write execs and streaming epochs alike. */
final case class TaskWriterFactory(
    tablePath: String,
    fileSchema: StructType,
    dataExprs: Array[Expression],
    // the file row IS the query row: write it without a projection
    passThrough: Boolean,
    partCols: Array[String],
    partExprs: Array[Expression],
    // rows arrive grouped by partition: a file is finished when its
    // partition's rows end
    clustered: Boolean,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    violationChecks: Seq[(String, Expression)],
    idAlloc: Seq[IdentityColumns.Spec],
    // (physical name, type) of the file columns the footer stats cover
    statCols: Seq[(String, org.apache.spark.sql.types.DataType)])
  extends StreamingDataWriterFactory with DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new TaskWriter(this, partitionId, taskId, epochId)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TaskWriter(this, partitionId, taskId, 0L)
}

/**
 * Task-side writer: checks each row's contracts, projects it to the file
 * schema and appends it to its partition directory's parquet writer. On
 * clustered input one file is open at a time; otherwise one per
 * partition value stays open until commit. The partition key is compared
 * as raw bytes and its directory (Hive-escaped,
 * `__HIVE_DEFAULT_PARTITION__` for null or empty, zoned timestamps at
 * UTC) is rendered only when a new key appears. File names carry a
 * per-writer UUID: task ids restart across applications, so a
 * deterministic name could clobber a committed file of an earlier run.
 */
final class TaskWriter(f: TaskWriterFactory, partitionId: Int, taskId: Long, epochId: Long)
  extends DataWriter[InternalRow] {

  private val dataProj =
    if (f.passThrough) null else UnsafeProjection.create(f.dataExprs.toIndexedSeq)
  if (dataProj != null) dataProj.initialize(partitionId)
  private val keyProj =
    if (f.partExprs.isEmpty) null else UnsafeProjection.create(f.partExprs.toIndexedSeq)
  private val renderProj =
    if (f.partExprs.isEmpty) null
    else UnsafeProjection.create(f.partExprs.toIndexedSeq.zipWithIndex.map { case (e, i) =>
      Cast(BoundReference(i, e.dataType, nullable = true), StringType, Some("UTC")): Expression
    })

  private val violations: Array[(String, BasePredicate)] =
    f.violationChecks.map { case (what, e) =>
      val p = Predicate.create(e)
      p.initialize(partitionId)
      (what, p)
    }.toArray

  private val ctx = WriteShim.taskContext(f.conf.value, taskId)
  private val ext = f.factory.getFileExtension(ctx)
  private val uuid = java.util.UUID.randomUUID().toString
  // open (writer, relative path) per partition directory; finished files
  private val open = mutable.LinkedHashMap.empty[String, (OutputWriter, String)]
  private val finished = mutable.ArrayBuffer.empty[String]
  private var fileNo = 0
  private val byKey = mutable.HashMap.empty[UnsafeRow, OutputWriter]
  // the previous row's partition key (own buffer) and its writer
  private var lastKey: UnsafeRow = _
  private var lastWriter: OutputWriter = _

  private def writerFor(dir: String): OutputWriter =
    open.getOrElseUpdate(dir, {
      val rel = f"${dir}part-$epochId%05d-$partitionId%05d-$uuid-$fileNo$ext"
      fileNo += 1
      val abs = new Path(f.tablePath, rel).toString
      (f.factory.newInstance(abs, f.fileSchema, ctx), rel)
    })._1

  private def finishOpen(): Unit = {
    open.values.foreach { case (w, rel) => w.close(); finished += rel }
    open.clear()
    byKey.clear()
  }

  private def dirOf(key: UnsafeRow): String = {
    val rendered = renderProj(key)
    f.partCols.indices.map { i =>
      // an EMPTY string folds into the null marker too, as in Spark's
      // own writer (ExternalCatalogUtils.getPartitionPathString)
      val v =
        if (rendered.isNullAt(i)) PartitionPaths.NullMarker
        else {
          val s = rendered.getUTF8String(i).toString
          if (s.isEmpty) PartitionPaths.NullMarker else PartitionPaths.escape(s)
        }
      s"${PartitionPaths.escape(f.partCols(i))}=$v"
    }.mkString("", "/", "/")
  }

  private def partitionWriter(row: InternalRow): OutputWriter = {
    val key = keyProj(row)
    if (lastKey == null || !lastKey.equals(key)) {
      lastWriter = byKey.get(key) match {
        case Some(w) => w
        case None =>
          // clustered: the previous partition's rows are over
          if (f.clustered) finishOpen()
          val w = writerFor(dirOf(key))
          byKey(key.copy()) = w
          w
      }
      if (lastKey == null) lastKey = key.copy() else lastKey.copyFrom(key)
    }
    lastWriter
  }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < violations.length) {
      if (violations(i)._2.eval(row))
        throw new ValidationException(s"${violations(i)._1}; nothing committed")
      i += 1
    }
    val w = if (keyProj == null) {
      if (lastWriter == null) lastWriter = writerFor("")
      lastWriter
    } else partitionWriter(row)
    w.write(if (dataProj == null) row else dataProj(row))
  }

  /** Closes every file and stats each one from its own footer, through
    * the status the size comes from (one `getFileStatus` per file). */
  override def commit(): WriterCommitMessage = {
    finishOpen()
    val conf = f.conf.value
    val fs = new Path(f.tablePath).getFileSystem(conf)
    TaskWriteMessage(finished.toSeq.map { rel =>
      val status = fs.getFileStatus(new Path(f.tablePath, rel))
      val stats =
        try Some(FooterStats.readOne(HadoopInputFile.fromStatus(status, conf), conf, f.statCols)
          .toJsonString)
        catch { case scala.util.control.NonFatal(_) => None }
      (rel, status.getLen, stats)
    }, f.idAlloc)
  }

  override def abort(): Unit = {
    val fs = new Path(f.tablePath).getFileSystem(f.conf.value)
    close()
    (finished ++ open.values.map(_._2)).foreach { rel =>
      try fs.delete(new Path(f.tablePath, rel), false) catch { case _: Throwable => () }
    }
    open.clear()
    finished.clear()
  }

  override def close(): Unit =
    open.values.foreach { case (w, _) =>
      try w.close() catch { case _: Throwable => () }
    }
}

object TaskWriter {

  /** Add actions for the files the messages name, carrying the stats
    * their tasks read (physical column names; [[DeltaTable.prepareAdds]]
    * re-keys them). */
  def addsOf(messages: Seq[WriterCommitMessage]): Seq[AddFile] = {
    val now = System.currentTimeMillis()
    messages.collect { case m: TaskWriteMessage => m.files }.flatten.map {
      case (rel, size, stats) =>
        AddFile(rel, PartitionPaths.parse(rel), size, now, stats = stats)
    }.toIndexedSeq
  }

  /** Write `df` through `plan` as one Spark job and return the raw adds.
    * Each task's rows are sorted by partition first (see
    * [[WritePlan.sortColumns]]).
    *
    * A row-contract violation does not fail its task: the task deletes its
    * own files and reports the breach, so every task's message reaches the
    * driver and the files of all of them are deleted before the
    * [[ValidationException]] is thrown — a failed write leaves nothing
    * behind. Any other task failure fails the job; the files of tasks
    * that had already finished are deleted, and a failing task deletes
    * its own. The job runs under its own SQL execution id, so
    * query-execution listeners see the write's plan; `observed` receives
    * the metrics its `observe` nodes collected (a MERGE counts its inserts
    * in the write job this way). */
  def run(table: DeltaTable, df: DataFrame, plan: WritePlan,
          observed: Map[String, Row] => Unit = _ => ()): Seq[AddFile] = {
    val spark = table.spark
    val sorted =
      if (plan.sortColumns.isEmpty) df
      else df.sortWithinPartitions(plan.sortColumns.map(c => df(s"`${c.replace("`", "``")}`")): _*)
    val factory = plan.factory(clustered = true)
    val qe = sorted.queryExecution.asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
    def deleteAll(ms: Iterable[TaskWriteMessage]): Unit =
      ms.foreach(_.files.foreach(file => table.deleteDataFile(file._1)))
    // The job keeps an enclosing engine phase label (a MERGE's rewrite or
    // insert pass); a write outside any phase is its own.
    val phase = Option(spark.sparkContext.getLocalProperty("spark.job.description"))
      .filter(_.startsWith("graft:")).getOrElse("graft:write-data")
    val messages = Logging.withJobDesc(spark, phase) {
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("graft:write-data")) {
        val rdd = qe.toRdd
        val out = new Array[TaskWriteMessage](rdd.getNumPartitions)
        try spark.sparkContext.runJob(rdd,
          (ctx: TaskContext, rows: Iterator[InternalRow]) => writeTask(factory, ctx, rows),
          rdd.partitions.indices, (i: Int, m: TaskWriteMessage) => out(i) = m)
        catch {
          case e: Throwable => deleteAll(out.filter(_ != null)); throw e
        }
        out.toSeq
      }
    }
    messages.flatMap(_.violation).headOption.foreach { v =>
      deleteAll(messages)
      throw new ValidationException(v)
    }
    observed(qe.observedMetrics)
    addsOf(messages)
  }

  private def writeTask(f: TaskWriterFactory, ctx: TaskContext,
                        rows: Iterator[InternalRow]): TaskWriteMessage = {
    val w = f.createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      while (rows.hasNext) w.write(rows.next())
      // a task the failed job already cancelled must not leave files
      if (ctx.isInterrupted()) throw new org.apache.spark.TaskKilledException("write cancelled")
      w.commit().asInstanceOf[TaskWriteMessage]
    } catch {
      case e: ValidationException =>
        w.abort()
        TaskWriteMessage(Nil, violation = Some(e.getMessage))
      case e: Throwable => w.abort(); throw e
    } finally w.close()
  }
}
