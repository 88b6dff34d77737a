package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.internal.connector.PredicateUtils
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Bridge to Spark's internal file-scan machinery (`private[sql]` /
 * `private[spark]` seams — Delta Lake and Iceberg ship the same shims).
 * Lives under `org.apache.spark.sql` ONLY to satisfy the access
 * qualifiers; it contains no Spark code.
 */
object ScanShim {

  /**
   * A pair of parquet [[PartitionReaderFactory]]s built by Spark's OWN
   * `ParquetScan.createReaderFactory` — every session read semantic
   * (vectorized reader, timestamp units/rebase modes, case sensitivity,
   * off-heap buffers) is configured exactly as Spark's native parquet
   * source configures it, so a custom `Batch` only has to PLAN partitions.
   * The first factory pushes `pushedFilters` into the Parquet reader; the
   * second is its copy with none (deletion-vector reads must see every
   * physical row). The pair shares ONE broadcast Hadoop configuration, as a
   * native scan's factory does: the conf carries the read schema, never the
   * filters, and serializing it (each property's GZIP-compressed source
   * list) is most of a factory's driver cost. The factories are
   * serializable and create readers task-side. The file index argument is
   * planning-only and unused by factory construction, so an empty one is
   * passed: one per session, since building it lists (nothing) through a
   * fresh Hadoop job configuration.
   */
  def parquetReaderFactories(spark: SparkSession,
                             dataSchema: StructType,
                             readDataSchema: StructType,
                             partitionSchema: StructType,
                             pushedFilters: Array[Filter])
      : (PartitionReaderFactory, PartitionReaderFactory) = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = cs.sessionState.newHadoopConfWithOptions(Map.empty)
    val pushed = ParquetScan(cs, hadoopConf, emptyIndex(cs), dataSchema,
      readDataSchema, partitionSchema, pushedFilters,
      CaseInsensitiveStringMap.empty(), None, Nil, Nil, Array.empty)
      .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    (pushed, pushed.copy(filters = Array.empty))
  }

  /** The last session's empty index. Only one is held, so a stopped
    * session is kept alive by at most this reference. */
  @volatile private var lastEmptyIndex: (SparkSession, InMemoryFileIndex) = (null, null)

  private def emptyIndex(cs: org.apache.spark.sql.classic.SparkSession): InMemoryFileIndex = {
    val (session, index) = lastEmptyIndex
    if (session eq cs) index
    else {
      val made = new InMemoryFileIndex(cs, Nil, Map.empty, None)
      lastEmptyIndex = (cs, made)
      made
    }
  }

  /** One file slice of a [[FilePartition]]. `partitionValues` must match
    * the factory's partitionSchema positionally (internal representations:
    * UTF8String for strings, etc.). */
  def partitionedFile(partitionValues: InternalRow, path: Path,
                      start: Long, length: Long, fileSize: Long,
                      modificationTime: Long): PartitionedFile =
    PartitionedFile(partitionValues, SparkPath.fromPath(path), start, length,
      Array.empty, modificationTime, fileSize)

  /** Bin-pack file slices into read partitions with Spark's own packer
    * (largest-first, respecting `maxSplitBytes` + open cost). */
  def filePartitions(spark: SparkSession, files: Seq[PartitionedFile],
                     maxSplitBytes: Long): Seq[FilePartition] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    FilePartition.getFilePartitions(cs, files, maxSplitBytes)
  }

  /** Spark's split-size formula (`FilePartition.maxSplitBytes` needs
    * `PartitionDirectory`s; same arithmetic over plain byte sizes):
    * min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum)). */
  def maxSplitBytes(spark: SparkSession, fileBytes: Seq[Long]): Long = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = cs.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(cs.sparkContext.defaultParallelism)
    val totalBytes = fileBytes.map(_ + openCost).sum
    val bytesPerCore = totalBytes / math.max(minPartitionNum, 1)
    Math.min(conf.filesMaxPartitionBytes, Math.max(openCost, bytesPerCore))
  }

  /** V2 runtime-filter `Predicate` → V1 `Filter` (None when the predicate
    * has no V1 form; the caller prunes with what translates). */
  def toV1Filter(p: Predicate): Option[Filter] = PredicateUtils.toV1(p)
}
