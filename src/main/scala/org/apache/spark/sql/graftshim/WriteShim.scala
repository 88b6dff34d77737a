package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/**
 * Bridge to Spark's internal parquet `OutputWriter`s for the engine's
 * task writer (graft.delta.TaskWriter), which opens one writer per
 * partition directory inside each task. Same access-qualifier story as
 * [[ScanShim]].
 */
object WriteShim {

  /** A serializable parquet [[OutputWriterFactory]] plus the Hadoop conf
    * `prepareWrite` configured (compression codec, write support class,
    * schema, timestamp units — the conf MUST travel with the factory: the
    * writer reads its settings from the task attempt context). */
  def parquetWriterFactory(spark: SparkSession, dataSchema: StructType)
      : (OutputWriterFactory, SerializableConfiguration) = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(cs.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(cs, job, Map.empty, dataSchema)
    (factory, new SerializableConfiguration(job.getConfiguration))
  }

  /** The task attempt context a task's output writers are created with;
    * one per task, shared by all its files. */
  def taskContext(conf: Configuration, taskId: Long): TaskAttemptContext =
    new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft-stream", 0),
        TaskType.MAP, (taskId % Int.MaxValue).toInt), 0))

  /** Hive-layout path escaping — byte-identical to what Spark's own
    * partitioned writer produces, so `PartitionPaths.parse` round-trips. */
  def escapePathName(s: String): String =
    ExternalCatalogUtils.escapePathName(s)
}
