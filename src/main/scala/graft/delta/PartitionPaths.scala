package graft.delta

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
import org.apache.spark.sql.graftshim.WriteShim
import org.apache.spark.sql.types.{DataType, StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** Hive-style partition path conventions, as Spark writes them, with
  * non-ASCII characters escaped too (reference: src/delta/table.ts:946,
  * 967-982 uses the same layout). */
object PartitionPaths {
  val NullMarker = "__HIVE_DEFAULT_PARTITION__"

  /** A partition column name or value as a directory name part:
    * Hive-escaped, then every non-ASCII character as `%XX` of its UTF-8
    * bytes, so each path a writer opens or stats is ASCII and encodes
    * under any JVM path encoding (a POSIX locale's cannot hold `é`). */
  def escape(s: String): String = {
    val b = new StringBuilder
    // a UTF-8 byte below 0x80 is always the ASCII character itself
    WriteShim.escapePathName(s).getBytes(StandardCharsets.UTF_8).foreach { x =>
      if (x >= 0) b += x.toChar else b ++= f"%%${x & 0xff}%02X"
    }
    b.toString
  }

  /** Parse `k=v/k2=v2/part-....parquet` into partition values, inverting
    * [[escape]] on column names and values: `%XX` runs decode as UTF-8
    * bytes, and a `+` (which Hive escaping leaves as is) stays a `+`, not
    * the space a form decoder makes of it. */
  def parse(relativePath: String): Map[String, String] = {
    def unescape(s: String) =
      java.net.URLDecoder.decode(s.replace("+", "%2B"), StandardCharsets.UTF_8)
    val dirs = relativePath.split('/').dropRight(1)
    dirs.iterator.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(unescape(k) -> unescape(v))
        case _ => None
      }
    }.toMap
  }

  /** The engine's one partition-value decoder: a path string (never null,
    * never [[NullMarker]]) → the Catalyst internal value of type `dt` that
    * the scan materializes. The cast runs at UTC, the zone every write
    * renders zoned timestamps in (`TaskWriter.dirOf`), and in ANSI mode,
    * so a string the type cannot hold throws instead of reading NULL.
    * The scan, the claim evaluator and the stats fold all decode through
    * here. One decoder per type, memoized; it is serializable. */
  def decoder(dt: DataType): String => Any =
    decoders.computeIfAbsent(dt, { (t: DataType) =>
      val cast = Cast(BoundReference(0, StringType, nullable = false), t,
        Some("UTC"), EvalMode.ANSI)
      (s: String) => cast.eval(InternalRow(UTF8String.fromString(s)))
    })

  private val decoders =
    new java.util.concurrent.ConcurrentHashMap[DataType, String => Any]()

  /** The scan's partition row for `fields`: a missing value or the null
    * marker reads NULL. */
  def rowDecoder(fields: Seq[StructField]): Map[String, String] => InternalRow = {
    val cols = fields.map(f => (f.name, decoder(f.dataType)))
    pv => InternalRow.fromSeq(cols.map { case (name, decode) =>
      pv.get(name) match {
        case Some(v) if v != null && v != NullMarker => decode(v)
        case _ => null
      }
    })
  }
}
