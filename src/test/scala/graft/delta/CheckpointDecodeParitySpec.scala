package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s.jackson.JsonMethods
import java.nio.file.Files

/**
 * The decoded checkpoint state the distributed snapshot caches holds the
 * same files the driver route parses: each cached [[DistributedSnapshot.AddRow]]
 * turns back into exactly the [[AddFile]] that [[Actions.parseAdd]] makes of
 * its add-action JSON, on the shapes where a typed column could drift from
 * the JSON — deletion vectors, odd partition values, absent stats — and on
 * a multi-part checkpoint.
 */
class CheckpointDecodeParitySpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("p", StringType), StructField("v", LongType)))

  private val inlineDv = """{"storageType":"i","pathOrInlineDv":"wi5b=000010000siXQKl0rr91000f",""" +
    """"offset":1,"sizeInBytes":36,"cardinality":2}"""
  private val pathDv = """{"storageType":"p","pathOrInlineDv":"/tmp/t/deletion_vector_2c4f.bin",""" +
    """"offset":4,"sizeInBytes":40,"cardinality":6}"""
  private val stats = """"stats":"{\"numRecords\":3,\"minValues\":{\"v\":1},\"maxValues\":{\"v\":9},\"nullCount\":{\"v\":0}}""""

  /** Add-action JSON as other writers may put it into a checkpoint. */
  private val shapes: Seq[String] = Seq(
    s"""{"path":"p=a/inline-dv.parquet","partitionValues":{"p":"a"},"size":10,"modificationTime":5,"dataChange":true,$stats,"deletionVector":$inlineDv}""",
    s"""{"path":"p=a/path-dv.parquet","partitionValues":{"p":"a"},"size":11,"modificationTime":6,"dataChange":true,$stats,"deletionVector":$pathDv}""",
    s"""{"path":"null-part.parquet","partitionValues":{"p":null},"size":12,"modificationTime":7,"dataChange":true,$stats}""",
    s"""{"path":"p=/empty-part.parquet","partitionValues":{"p":""},"size":13,"modificationTime":8,"dataChange":true,$stats}""",
    s"""{"path":"p=caf%C3%A9/non-ascii-日本.parquet","partitionValues":{"p":"café 日本 ü"},"size":14,"modificationTime":9,"dataChange":true,$stats}""",
    """{"path":"p=b/no-stats.parquet","partitionValues":{"p":"b"},"size":15,"modificationTime":10,"dataChange":true}""",
    """{"path":"p=b/null-stats.parquet","partitionValues":{"p":"b"},"size":16,"modificationTime":11,"dataChange":false,"stats":null}""",
    """{"path":"no-part-values.parquet","size":17}""")

  private def parsed(json: String): AddFile = Actions.parseAdd(JsonMethods.parse(json))

  private def metaJson: String = JsonMethods.compact(JsonMethods.render(
    TableMetadata("tid", schema.json, Seq("p")).wrap.obj.head._2))

  /** A checkpoint at version 0 whose add column holds `adds` verbatim,
    * spread round-robin over `parts` Parquet files. */
  private def rawCheckpoint(adds: Seq[String], parts: Int): (DeltaLog, Option[Int]) = {
    val dir = Files.createTempDirectory("graft-decode").toString
    val log = new DeltaLog(new Path(dir), spark.sessionState.newHadoopConf())
    log.fs.mkdirs(log.logPath)
    val rows = adds.map(a => (Option(a), Option.empty[String])) :+ ((None, Some(metaJson)))
    val tmp = new Path(log.logPath, ".decode-tmp")
    val none = lit(null).cast("string")
    rows.toDF("add", "metaData")
      .select($"add", none.as("remove"), $"metaData", none.as("protocol"), none.as("txn"))
      .repartition(parts).write.parquet(tmp.toString)
    val files = log.fs.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    assert(files.length == parts)
    val layout = if (parts == 1) None else Some(parts)
    files.zipWithIndex.foreach { case (f, i) =>
      log.fs.rename(f, layout.fold(log.checkpointFile(0))(n => log.checkpointPart(0, i + 1, n)))
    }
    log.fs.delete(tmp, true)
    log.writeLastCheckpoint(0, rows.size.toLong, layout)
    (log, layout)
  }

  private def decoded(log: DeltaLog, parts: Option[Int]): Seq[AddFile] =
    DistributedSnapshot.decodedFiles(spark, log, 0L, parts).collect()
      .map(_.toAddFile).toSeq.sortBy(_.path)

  test("each shape round-trips through the typed row to Actions.parseAdd") {
    shapes.foreach { js =>
      assert(DistributedSnapshot.AddRow.decode(js).toAddFile == parsed(js), js)
    }
    val (log, parts) = rawCheckpoint(shapes, 1)
    assert(decoded(log, parts) == shapes.map(parsed).sortBy(_.path))
  }

  test("the shapes, spread over a multi-part checkpoint, decode in more than one task") {
    val adds = (0 until 400).map { i =>
      val js = shapes(i % shapes.size)
      js.replaceFirst("\"path\":\"", s"\"path\":\"$i-")
    }
    val (log, parts) = rawCheckpoint(adds, 3)
    assert(parts.contains(3))
    assert(decoded(log, parts) == adds.map(parsed).sortBy(_.path))
    val perTask = DistributedSnapshot.decodedFiles(spark, log, 0L, parts)
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(perTask.length == spark.sparkContext.defaultParallelism)
    assert(perTask.length > 1 && perTask.forall(_ > 0), perTask.mkString(","))
  }

  test("a multi-part checkpoint written with a small actionsPerPart prunes like the driver") {
    val dir = Files.createTempDirectory("graft-decode-parts").toString
    val log = new DeltaLog(new Path(dir), spark.sessionState.newHadoopConf())
    val files = (0 until 900).map { i =>
      val dv = i % 3 match {
        case 0 => Some(JsonMethods.parse(inlineDv).asInstanceOf[org.json4s.JObject])
        case 1 => Some(JsonMethods.parse(pathDv).asInstanceOf[org.json4s.JObject])
        case _ => None
      }
      val p = Seq("a", "", "café 日本")(i % 3)
      AddFile(s"p=$p/part-$i.parquet", Map("p" -> p), 100L + i, 1L,
        dataChange = i % 2 == 0,
        stats = if (i % 5 == 0) None
          else Some(s"""{"numRecords":4,"minValues":{"v":$i},"maxValues":{"v":${i + 3}},"nullCount":{"v":0}}"""),
        deletionVector = dv)
    }
    Checkpoints.write(spark, log,
      Snapshot(0L, Some(TableMetadata("tid", schema.json, Seq("p"))), Some(Protocol(1, 2)),
        files, Nil), actionsPerPart = 300)
    val parts = log.readLastCheckpoint().flatMap(_._3)
    assert(parts.contains(4))
    val driver = Checkpoints.read(spark, log, 0L, parts)
    assert(decoded(log, parts) == driver.activeFiles.sortBy(_.path))
    Seq("""{"p":{"$eq":"café 日本"}}""", """{"v":{"$lt":100}}""", """{"p":""}""").foreach { f =>
      val pred = graft.query.MongoFilter.column(f, schema)
      val dist = DistributedSnapshot.prunedState(spark, log, 0L, parts, 0L, _ => pred)._1
      assert(dist.activeFiles.sortBy(_.path) == DataSkipping.prune(driver, pred).sortBy(_.path), f)
    }
  }
}
