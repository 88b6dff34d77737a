package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.types._
import org.json4s._

/**
 * Per-file column statistics from parquet FOOTERS (metadata-only reads)
 * instead of a second full scan of just-written data.
 *
 * The task that writes a file reads its footer right after closing it
 * ([[TaskWriter]]'s commit) and ships the stats in its commit message, so
 * no write pays a separate stats pass: no Spark job, no driver-side footer
 * reads. A file whose footer its task could not read falls back to the
 * aggregation scan ([[DeltaTable.attachStatsViaAgg]]), whose rules below
 * match these value for value.
 *
 * Conservative by construction — a stat that cannot be trusted is OMITTED,
 * and [[DataSkipping]] treats missing stats as "keep the file":
 *  - strings over 256 chars are dropped (same rule as the aggregation path:
 *    a truncated bound would break skipping correctness);
 *  - float/double min/max containing NaN are dropped (parquet NaN ordering
 *    is undefined);
 *  - decimals, INT96 timestamps, and any chunk without statistics are
 *    dropped.
 *
 * String min/max use parquet's unsigned-byte (UTF-8 binary) ordering, which
 * is exactly Spark's `UTF8String` comparison — the same values the
 * aggregation produces.
 */
object FooterStats {

  /** Fixed-precision (micros) ISO-8601 at UTC — the canonical timestamp
    * stat form every writer renders ([[DataSkipping.statValue]] reads it). */
  val CanonFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Column types that carry stats (the rest get none). */
  def isStatable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | TimestampType |
         TimestampNTZType | DateType => true
    case _ => false
  }

  /** (name, type) of the statable columns of a file schema. */
  def statColumns(fileSchema: StructType): Seq[(String, DataType)] =
    fileSchema.fields.toSeq.filter(f => isStatable(f.dataType)).map(f => (f.name, f.dataType))

  /** Footer stats for one file by path. */
  def readOne(file: String, conf: Configuration,
              cols: Seq[(String, DataType)]): FileStats =
    readOne(HadoopInputFile.fromPath(new Path(file), conf), conf, cols)

  /** Footer stats for one file; throws on an unreadable footer. The read
    * options come from `conf`: parquet's default options build a fresh
    * Hadoop `Configuration`, whose resource parsing costs ~8 ms — more
    * than the footer read itself. */
  def readOne(file: InputFile, conf: Configuration,
              cols: Seq[(String, DataType)]): FileStats = {
    val reader = ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())
    try {
      val blocks = {
        val it = reader.getFooter.getBlocks.iterator()
        val b = Seq.newBuilder[org.apache.parquet.hadoop.metadata.BlockMetaData]
        while (it.hasNext) b += it.next()
        b.result()
      }
      val numRecords = blocks.map(_.getRowCount).sum
      val mins = Map.newBuilder[String, JValue]
      val maxs = Map.newBuilder[String, JValue]
      val ncs = Map.newBuilder[String, Long]
      cols.foreach { case (name, dt) =>
        val chunks = blocks.flatMap { b =>
          val it = b.getColumns.iterator()
          var found: Option[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData] = None
          while (it.hasNext && found.isEmpty) {
            val c = it.next()
            if (c.getPath.size() == 1 && c.getPath.toDotString == name) found = Some(c)
          }
          found
        }
        if (chunks.size == blocks.size && blocks.nonEmpty) {
          val stats = chunks.map(_.getStatistics)
          if (stats.forall(s => s != null && s.isNumNullsSet))
            ncs += name -> stats.map(_.getNumNulls).sum
          val withValues = stats.filter(s => s != null && s.hasNonNullValue)
          // min/max only when every chunk either has values or is provably
          // all-null (numNulls equals the chunk's value count)
          val allKnown = chunks.zip(stats).forall { case (c, s) =>
            s != null && (s.hasNonNullValue ||
              (s.isNumNullsSet && s.getNumNulls == c.getValueCount))
          }
          if (allKnown && withValues.nonEmpty) {
            val lows = withValues.flatMap(s =>
              toJValue(s.genericGetMin.asInstanceOf[AnyRef], dt))
            val highs = withValues.flatMap(s =>
              toJValue(s.genericGetMax.asInstanceOf[AnyRef], dt))
            // each bound stands alone: a long string max leaves the min
            if (lows.size == withValues.size)
              mins += name -> lows.reduce((a, b) => if (jLess(a, b)) a else b)
            if (highs.size == withValues.size)
              maxs += name -> highs.reduce((a, b) => if (jLess(a, b)) b else a)
          }
        }
      }
      FileStats(numRecords, mins.result(), maxs.result(), ncs.result())
    } finally reader.close()
  }

  /** Parquet statistics value → the log's canonical JSON form (must match
    * DeltaTable.statJValue for every case). None = omit. */
  private def toJValue(v: AnyRef, dt: DataType): Option[JValue] = (v, dt) match {
    case (null, _) => None
    case (i: java.lang.Integer, ByteType | ShortType | IntegerType) => Some(JInt(i.toInt))
    case (i: java.lang.Integer, DateType) =>
      Some(JString(java.time.LocalDate.ofEpochDay(i.toLong).toString))
    case (l: java.lang.Long, LongType) => Some(JInt(l.toLong))
    case (l: java.lang.Long, TimestampType | TimestampNTZType) =>
      val micros = l.longValue()
      val ldt = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      Some(JString(CanonFormat.format(ldt)))
    case (f: java.lang.Float, FloatType) =>
      if (f.isNaN) None else Some(JDouble(f.toDouble))
    case (d: java.lang.Double, DoubleType) =>
      if (d.isNaN) None else Some(JDouble(d.doubleValue()))
    case (b: java.lang.Boolean, BooleanType) => Some(JBool(b.booleanValue()))
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      val s = new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
      if (s.length <= 256) Some(JString(s)) else None
    case _ => None // decimals, INT96, unexpected physical types: no stat
  }

  /** Ordering consistent with how the values were produced: numbers
    * numerically, strings by UTF-8 unsigned byte order (= parquet's binary
    * sort order and Spark's UTF8String order), booleans false<true. */
  private def jLess(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JInt(x), JInt(y)) => x < y
    case (JDouble(x), JDouble(y)) => x < y
    case (JInt(x), JDouble(y)) => BigDecimal(x) < y
    case (JDouble(x), JInt(y)) => BigDecimal(x) < BigDecimal(y)
    case (JBool(x), JBool(y)) => !x && y
    case (JString(x), JString(y)) => utf8Less(x, y)
    case _ => false
  }

  private def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }
}
