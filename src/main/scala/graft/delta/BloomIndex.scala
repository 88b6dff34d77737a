package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s._

/**
 * Per-file bloom-filter indexes for point-predicate file skipping — the
 * pruning layer min/max zone maps cannot provide. On a high-cardinality
 * key (UUIDs, content hashes, doc ids) every file's [min,max] spans the
 * whole key space, so `WHERE key = 'x'` scans all of a 100 TB table even
 * though the key lives in one file. A per-file bloom answers "definitely
 * not here" for ~1.2 MB per million rows, turning point SELECT/DELETE/
 * UPDATE/MERGE into O(1)-file operations. Same idea as Delta's bloom
 * filter indexes (stored out-of-line for the same reason: a megabyte-scale
 * stat inlined in the log would bloat every checkpoint).
 *
 * Layout: one immutable sidecar per data file at
 * `_delta_index/<dataFileRel>.bloom`, holding one bloom per indexed
 * column, keyed by PHYSICAL column name (stable across renames — logical
 * names resolve through the column-mapping metadata at query time). Data
 * file names are UUID-unique and never rewritten in place, so sidecars
 * never go stale; a missing or unreadable sidecar is a conservative keep.
 *
 * Write: one distributed job per transactional write (map-side bloom
 * build combined per file, sidecars written from executors) — scales with
 * executor count like the footer-stats job. Read: consulted AFTER
 * partition + zone-map pruning, only for `=`/`<=>`/`IN` conjuncts on
 * indexed columns; at most `DriverFileLimit` sidecars are read on the driver
 * (LRU-cached, immutable so no invalidation), larger candidate sets fan
 * out as one Spark job.
 *
 * Enable per table:
 * `graft.bloomFilter.columns = c1,c2` (integral or string columns),
 * `graft.bloomFilter.fpp` (default 0.01),
 * `graft.bloomFilter.maxBytes` per column per file (default 1 MiB).
 */
object BloomIndex {

  val ColumnsKey = "graft.bloomFilter.columns"
  val FppKey = "graft.bloomFilter.fpp"
  val MaxBytesKey = "graft.bloomFilter.maxBytes"
  val IndexDir = "_delta_index"

  /** Candidate-set size above which sidecar checks fan out as a Spark job
    * instead of driver-side reads. */
  val DriverFileLimit = 1024

  /** Driver-side bloom cache budget (bytes). */
  val CacheBudgetBytes: Long = 256L * 1024 * 1024

  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  def indexedColumns(config: Map[String, String]): Seq[String] =
    config.get(ColumnsKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def sidecarRel(dataRel: String): String = s"$IndexDir/$dataRel.bloom"

  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Equality-probe-able types. Floats are excluded (equality on them is a
    * bug farm and 0.0/-0.0 hash differently); temporal types could map to
    * epoch longs later. */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** (logical, physical, type) for the table's indexed columns. Config
    * entries match by logical OR physical name, so an index configured
    * before a column rename keeps working after it (physical names are
    * rename-stable, and the sidecars are keyed by them). */
  private def resolve(config: Map[String, String], schema: StructType,
                      partCols: Seq[String]): Seq[(String, String, DataType)] = {
    val wanted = indexedColumns(config).toSet
    if (wanted.isEmpty) return Nil
    schema.fields.toSeq
      .filter(f => (wanted.contains(f.name) || wanted.contains(physicalName(f))) &&
        !partCols.contains(f.name) && supported(f.dataType))
      .map(f => (f.name, physicalName(f), f.dataType))
  }

  // ---- build ---------------------------------------------------------------

  /** Build and write sidecars for freshly-written `adds` (stats already
    * attached — they size the blooms). One distributed job; executor-side
    * sidecar writes. Failures degrade to "no sidecar" (conservative),
    * never fail the write. */
  def buildSidecars(spark: SparkSession, tablePath: Path,
                    hadoopConf: Configuration, config: Map[String, String],
                    schema: StructType, partCols: Seq[String],
                    adds: Seq[AddFile]): Unit = {
    val cols = resolve(config, schema, partCols)
    if (cols.isEmpty || adds.isEmpty) return
    try {
      val fpp = config.get(FppKey).map(_.toDouble).getOrElse(0.01)
      val maxBits = config.get(MaxBytesKey).map(_.toLong)
        .getOrElse(1024L * 1024).max(64L) * 8L
      // key each file by its decoded path (DeltaTable.fileKey of its
      // `_metadata.file_path`)
      val info: Map[String, (String, Long)] = adds.map { a =>
        new Path(tablePath, a.path).toUri.getPath ->
          (a.path, a.parsedStats.map(_.numRecords).getOrElse(1L << 20))
      }.toMap
      val absPaths = adds.map(a => new Path(tablePath, a.path).toString)
      val readSchema = StructType(cols.map { case (_, phys, dt) =>
        StructField(phys, dt, nullable = true) })
      val rows = spark.read.schema(readSchema).parquet(absPaths: _*)
        .select((col("_metadata.file_path") +:
          cols.map { case (_, phys, _) => col(s"`${phys.replace("`", "``")}`") }): _*)
      val infoB = spark.sparkContext.broadcast(info)
      val confItems: Seq[(String, String)] = {
        val it = hadoopConf.iterator()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
        b.result()
      }
      val k = cols.size
      val tableDirStr = tablePath.toString
      def newBlooms(expected: Long): Array[BloomFilter] = {
        val bits = math.min(
          BloomFilter.optimalNumOfBits(math.max(expected, 1L), fpp), maxBits)
        Array.fill(k)(BloomFilter.create(math.max(expected, 1L), bits))
      }
      def insert(bs: Array[BloomFilter], r: org.apache.spark.sql.Row): Array[BloomFilter] = {
        var i = 0
        while (i < k) {
          val v = r.get(i + 1)
          if (v != null) v match {
            case s: String => bs(i).putString(s)
            case l: Long => bs(i).putLong(l)
            case n: Int => bs(i).putLong(n.toLong)
            case n: Short => bs(i).putLong(n.toLong)
            case n: Byte => bs(i).putLong(n.toLong)
            case _ => ()
          }
          i += 1
        }
        bs
      }
      rows.rdd
        .map(r => (DeltaTable.fileKey(r.getString(0)), r))
        .combineByKey[Array[BloomFilter]](
          (r: org.apache.spark.sql.Row) => insert(
            newBlooms(infoB.value.get(DeltaTable.fileKey(r.getString(0)))
              .map(_._2).getOrElse(1L << 20)), r),
          (bs: Array[BloomFilter], r: org.apache.spark.sql.Row) => insert(bs, r),
          (a: Array[BloomFilter], b: Array[BloomFilter]) => {
            var i = 0
            while (i < k) { a(i).mergeInPlace(b(i)); i += 1 }
            a
          })
        .foreach { case (key, blooms) =>
          infoB.value.get(key).foreach { case (rel, _) =>
            val conf = new Configuration(false)
            confItems.foreach { case (ck, cv) => conf.set(ck, cv) }
            val out = new Path(tableDirStr, sidecarRel(rel))
            val fs = out.getFileSystem(conf)
            val os = new java.io.DataOutputStream(fs.create(out, true))
            try {
              os.writeInt(k)
              cols.zip(blooms).foreach { case ((_, phys, _), b) =>
                os.writeUTF(phys)
                // length-prefixed: BloomFilter.readFrom(InputStream) buffers
                // past its own bytes, so concatenated blooms need framing
                val bytes = new java.io.ByteArrayOutputStream()
                b.writeTo(bytes)
                os.writeInt(bytes.size())
                bytes.writeTo(os)
              }
            } finally os.close()
          }
        }
    } catch {
      case e: Throwable =>
        Logging.logger.warn(
          s"[graft.BloomIndex] sidecar build failed (${e.getMessage}); " +
            "files stay unindexed (reads remain correct, just unpruned)")
    }
  }

  // ---- prune ---------------------------------------------------------------

  /** One translated probe: keep the file iff ANY value might be present
    * (an `$in` list; `$eq` is the 1-element case). AND across probes. */
  private final case class Probe(phys: String, longs: Seq[Long], strings: Seq[String])

  /** Probes from the predicate's `=`, `<=>`, `IN` and `InSet` conjuncts
    * over indexed columns ([[DataSkipping.Predicate.points]]); anything
    * else contributes no probe (conservative). */
  private def probes(predicate: DataSkipping.Predicate,
                     cols: Seq[(String, String, DataType)]): Seq[Probe] = {
    val byLogical = cols.map(c => c._1 -> c).toMap
    predicate.points
      .flatMap { case (name, vs) =>
        byLogical.get(name).flatMap { case (_, phys, dt) =>
          dt match {
            case ByteType | ShortType | IntegerType | LongType =>
              Some(Probe(phys, vs.map(v => v.asInstanceOf[Number].longValue()), Nil))
            case StringType => Some(Probe(phys, Nil, vs.map(_.toString)))
            case _ => None
          }
        }
      }
  }

  /** Load a sidecar's blooms; None = absent/unreadable (keep file). */
  private def load(fs: org.apache.hadoop.fs.FileSystem,
                   p: Path): Option[Map[String, BloomFilter]] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = new java.io.DataInputStream(fs.open(p))
        try {
          val k = in.readInt()
          require(k >= 0 && k <= 1024)
          Some((0 until k).map { _ =>
            val name = in.readUTF()
            val len = in.readInt()
            require(len > 0 && len <= (64 << 20))
            val buf = new Array[Byte](len)
            in.readFully(buf)
            name -> BloomFilter.readFrom(buf)
          }.toMap)
        } finally in.close()
      }
    } catch { case _: Throwable => None }

  private def keepFile(blooms: Map[String, BloomFilter], ps: Seq[Probe]): Boolean =
    ps.forall { p =>
      blooms.get(p.phys) match {
        case None => true
        case Some(b) =>
          p.longs.exists(b.mightContainLong) || p.strings.exists(b.mightContainString)
      }
    }

  // immutable sidecars → cache entries never invalidate; evict by byte budget
  private val cache = new java.util.LinkedHashMap[String, (Long, Option[Map[String, BloomFilter]])](
    256, 0.75f, true)
  private var cacheBytes = 0L
  private def cachedLoad(fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[Map[String, BloomFilter]] =
    cache.synchronized {
      val key = p.toString
      val hit = cache.get(key)
      if (hit != null) hit._2
      else {
        val v = load(fs, p)
        val sz = 64L + v.map(_.valuesIterator.map(_.bitSize() / 8).sum).getOrElse(0L)
        cache.put(key, (sz, v))
        cacheBytes += sz
        val it = cache.entrySet().iterator()
        while (cacheBytes > CacheBudgetBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { cacheBytes -= e.getValue._1; it.remove() }
        }
        v
      }
    }

  /** Test/inspection hook: files skipped by bloom probes since JVM start. */
  val skipped = new java.util.concurrent.atomic.AtomicLong(0)

  /** Bloom pass over already zone-map-pruned `files`. Conservative: no
    * config, no probe-able conjunct, or no sidecar → unchanged. */
  def prune(spark: SparkSession, tablePath: Path, hadoopConf: Configuration,
            snap: Snapshot, predicate: DataSkipping.Predicate): Seq[AddFile] = {
    val files = snap.activeFiles
    if (files.isEmpty) return files
    val cols = resolve(snap.configuration, snap.schema, snap.partitionColumns)
    if (cols.isEmpty) return files
    val ps = probes(predicate, cols)
    if (ps.isEmpty) return files
    val kept =
      if (files.size <= DriverFileLimit) {
        val fs = tablePath.getFileSystem(hadoopConf)
        files.filter { f =>
          cachedLoad(fs, new Path(tablePath, sidecarRel(f.path)))
            .forall(keepFile(_, ps))
        }
      } else {
        // fan the sidecar checks out: one flag per candidate, order kept
        val confItems: Seq[(String, String)] = {
          val it = hadoopConf.iterator()
          val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
          b.result()
        }
        val tableDirStr = tablePath.toString
        val rels = files.map(_.path)
        val flags = spark.sparkContext
          .parallelize(rels, math.max(1, math.min(rels.size / 64, 256)))
          .map { rel =>
            val conf = new Configuration(false)
            confItems.foreach { case (k, v) => conf.set(k, v) }
            val p = new Path(tableDirStr, sidecarRel(rel))
            rel -> load(p.getFileSystem(conf), p).forall(keepFile(_, ps))
          }.collect().toMap
        files.filter(f => flags.getOrElse(f.path, true))
      }
    skipped.addAndGet((files.size - kept.size).toLong)
    kept
  }
}
