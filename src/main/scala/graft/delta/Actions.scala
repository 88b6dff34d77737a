package graft.delta

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/**
 * Delta-protocol action model + NDJSON codec.
 *
 * Mirrors the reference's action types (reference: src/delta/types.ts:61-126)
 * and its NDJSON commit serialization (src/delta/index.ts:302-312): one JSON
 * object per line, each wrapping exactly one of
 * `add | remove | metaData | protocol | commitInfo`.
 */
sealed trait Action {
  def wrap: JObject
}

/** Per-file column statistics carried in `add.stats` as a JSON string
  * (reference: src/delta/types.ts:346-351). */
final case class FileStats(
    numRecords: Long,
    minValues: Map[String, JValue],
    maxValues: Map[String, JValue],
    nullCount: Map[String, Long]) {
  def toJsonString: String = JsonMethods.compact(JsonMethods.render(
    ("numRecords" -> numRecords) ~
      ("minValues" -> JObject(minValues.toList)) ~
      ("maxValues" -> JObject(maxValues.toList)) ~
      ("nullCount" -> nullCount)))
}

object FileStats {
  def fromJsonString(s: String): Option[FileStats] =
    scala.util.Try {
      val j = JsonMethods.parse(s)
      FileStats(
        numRecords = (j \ "numRecords") match {
          case JInt(n) => n.toLong; case JLong(n) => n; case _ => 0L
        },
        minValues = (j \ "minValues") match {
          case JObject(fs) => fs.toMap; case _ => Map.empty
        },
        maxValues = (j \ "maxValues") match {
          case JObject(fs) => fs.toMap; case _ => Map.empty
        },
        nullCount = (j \ "nullCount") match {
          case JObject(fs) => fs.collect {
            case (k, JInt(n)) => k -> n.toLong
            case (k, JLong(n)) => k -> n
          }.toMap
          case _ => Map.empty
        })
    }.toOption
}

final case class AddFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    modificationTime: Long = 0L,
    dataChange: Boolean = true,
    stats: Option[String] = None,
    deletionVector: Option[JObject] = None) extends Action {
  def wrap: JObject = "add" -> {
    val base: JObject =
      ("path" -> path) ~
        ("partitionValues" -> partitionValues) ~
        ("size" -> size) ~
        ("modificationTime" -> modificationTime) ~
        ("dataChange" -> dataChange)
    val withStats = stats.fold(base)(st => base ~ ("stats" -> st))
    deletionVector.fold(withStats)(dv => withStats ~ ("deletionVector" -> dv))
  }
  /** The stats JSON, parsed on first use and kept with the action: a
    * cached table state hands the same parse to every later statement.
    * Not a constructor field, so equality and [[wrap]] ignore it, and
    * transient, so a serialized action re-parses instead of shipping it. */
  @transient lazy val parsedStats: Option[FileStats] = stats.flatMap(FileStats.fromJsonString)
}

final case class RemoveFile(
    path: String,
    deletionTimestamp: Long,
    dataChange: Boolean = true) extends Action {
  def wrap: JObject = "remove" ->
    (("path" -> path) ~
      ("deletionTimestamp" -> deletionTimestamp) ~
      ("dataChange" -> dataChange))
}

final case class TableMetadata(
    id: String,
    schemaString: String,
    partitionColumns: Seq[String] = Nil,
    configuration: Map[String, String] = Map.empty,
    createdTime: Long = 0L,
    name: Option[String] = None) extends Action {
  def wrap: JObject = "metaData" -> {
    val base: JObject =
      ("id" -> id) ~
        ("format" -> (("provider" -> "parquet") ~ ("options" -> JObject(Nil)))) ~
        ("schemaString" -> schemaString) ~
        ("partitionColumns" -> partitionColumns) ~
        ("configuration" -> configuration) ~
        ("createdTime" -> createdTime)
    name.fold(base)(n => base ~ ("name" -> n))
  }
}

final case class Protocol(
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 2,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None) extends Action {
  def wrap: JObject = "protocol" -> {
    val base: JObject =
      ("minReaderVersion" -> minReaderVersion) ~ ("minWriterVersion" -> minWriterVersion)
    val withR = readerFeatures.fold(base)(fs => base ~ ("readerFeatures" -> fs))
    writerFeatures.fold(withR)(fs => withR ~ ("writerFeatures" -> fs))
  }
}

/** Streaming-transaction marker (Delta's `txn` action — north-star; the
  * reference has no streaming sink): records that application `appId` has
  * durably committed its batch `version`, so an at-least-once engine
  * replaying a batch after a crash can detect the duplicate and skip it
  * (exactly-once sink semantics). */
final case class Txn(
    appId: String,
    version: Long,
    lastUpdated: Long = 0L) extends Action {
  def wrap: JObject = "txn" ->
    (("appId" -> appId) ~ ("version" -> version) ~ ("lastUpdated" -> lastUpdated))
}

/** `operationMetrics` (Delta's per-operation row and file counts) is
  * written only when non-empty, so commits that record none keep their
  * exact bytes. */
final case class CommitInfo(
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String] = Map.empty,
    operationMetrics: Map[String, String] = Map.empty) extends Action {
  def wrap: JObject = {
    val base = ("timestamp" -> timestamp) ~
      ("operation" -> operation) ~
      ("operationParameters" -> operationParameters)
    "commitInfo" ->
      (if (operationMetrics.isEmpty) base else base ~ ("operationMetrics" -> operationMetrics))
  }
}

object Actions {

  /** One action per line, NDJSON (reference: src/delta/index.ts:302-307). */
  def toNdjson(actions: Seq[Action]): String =
    actions.map(a => JsonMethods.compact(JsonMethods.render(a.wrap))).mkString("\n")

  def fromNdjson(content: String): Seq[Action] =
    content.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
      .flatMap(line => fromJson(JsonMethods.parse(line))).toSeq

  def fromJson(j: JValue): Option[Action] = j match {
    case JObject(fields) => fields.collectFirst {
      case ("add", body)        => parseAdd(body)
      case ("remove", body)     => parseRemove(body)
      case ("metaData", body)   => parseMetadata(body)
      case ("protocol", body)   => parseProtocol(body)
      case ("commitInfo", body) => parseCommitInfo(body)
      case ("txn", body)        => parseTxn(body)
    }
    case _ => None
  }

  def parseTxn(j: JValue): Txn = Txn(
    appId = str(j \ "appId"),
    version = long(j \ "version"),
    lastUpdated = long(j \ "lastUpdated"))

  private def str(j: JValue): String = j match {
    case JString(s) => s
    case other => JsonMethods.compact(JsonMethods.render(other))
  }
  private def long(j: JValue): Long = j match {
    case JInt(n) => n.toLong; case JLong(n) => n; case JDouble(d) => d.toLong; case _ => 0L
  }
  private def bool(j: JValue): Boolean = j match {
    case JBool(b) => b; case _ => false
  }
  private def strMap(j: JValue): Map[String, String] = j match {
    case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  def parseAdd(j: JValue): AddFile = AddFile(
    path = str(j \ "path"),
    partitionValues = strMap(j \ "partitionValues"),
    size = long(j \ "size"),
    modificationTime = long(j \ "modificationTime"),
    dataChange = (j \ "dataChange") match { case JBool(b) => b; case _ => true },
    stats = (j \ "stats") match { case JString(s) => Some(s); case _ => None },
    deletionVector = (j \ "deletionVector") match { case o: JObject => Some(o); case _ => None })

  def parseRemove(j: JValue): RemoveFile = RemoveFile(
    path = str(j \ "path"),
    deletionTimestamp = long(j \ "deletionTimestamp"),
    dataChange = (j \ "dataChange") match { case JBool(b) => b; case _ => true })

  def parseMetadata(j: JValue): TableMetadata = TableMetadata(
    id = str(j \ "id"),
    schemaString = str(j \ "schemaString"),
    partitionColumns = (j \ "partitionColumns") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    },
    configuration = strMap(j \ "configuration"),
    createdTime = long(j \ "createdTime"),
    name = (j \ "name") match { case JString(s) => Some(s); case _ => None })

  def parseProtocol(j: JValue): Protocol = {
    def strSeq(v: JValue): Option[Seq[String]] = v match {
      case JArray(xs) => Some(xs.collect { case JString(s) => s })
      case _ => None
    }
    Protocol(
      minReaderVersion = long(j \ "minReaderVersion").toInt.max(1),
      minWriterVersion = long(j \ "minWriterVersion").toInt.max(1),
      readerFeatures = strSeq(j \ "readerFeatures"),
      writerFeatures = strSeq(j \ "writerFeatures"))
  }

  def parseCommitInfo(j: JValue): CommitInfo = CommitInfo(
    timestamp = long(j \ "timestamp"),
    operation = str(j \ "operation"),
    operationParameters = strMap(j \ "operationParameters"),
    operationMetrics = strMap(j \ "operationMetrics"))
}
