package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
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

  private def metaJson: String = metaJsonOf(schema, Seq("p"))

  private def metaJsonOf(s: StructType, partCols: Seq[String]): String =
    JsonMethods.compact(JsonMethods.render(
      TableMetadata("tid", s.json, partCols).wrap.obj.head._2))

  /** A checkpoint at version 0 whose add column holds `adds` verbatim,
    * spread round-robin over `parts` Parquet files. */
  private def rawCheckpoint(adds: Seq[String], parts: Int,
                            metaJson: String = metaJson): (DeltaLog, Option[Int]) = {
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

  /** Each shape's typed row, decoded directly and read back from the
    * cached checkpoint rows, by path. */
  private def typedRows(table: StructType, partCols: Seq[String],
                        adds: Seq[String]): (StructType, Seq[(String, InternalRow)]) = {
    val layout = new DistributedSnapshot.FileRows(table, partCols)
    val direct = adds.map(layout.decode)
    val (log, parts) = rawCheckpoint(adds, 1, metaJsonOf(table, partCols))
    val rows = DistributedSnapshot.decodedRows(spark, log, 0L, parts)
    assert(rows.schema == layout.schema)
    val cached = rows.queryExecution.toRdd.map(_.copy()).collect()
      .map(r => r.getUTF8String(0).toString -> r).toMap
    assert(cached.size == adds.size)
    val out = direct.map { r =>
      val path = r.getUTF8String(0).toString
      layout.schema.fields.indices.drop(2).foreach { i =>
        val dt = layout.schema(i).dataType
        assert(cached(path).get(i, dt) == r.get(i, dt), s"$path ${layout.schema(i).name}")
      }
      path -> r
    }
    (layout.schema, out)
  }

  private def at(s: StructType, row: InternalRow, name: String): Any = {
    val i = s.fieldIndex(name)
    row.get(i, s(i).dataType)
  }

  test("typed partition values equal what PartitionPaths.decoder gives") {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val table = StructType(Seq(StructField("p", StringType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("v", LongType)))
    val partCols = Seq("p", "d", "ts")
    def add(path: String, pv: String) =
      s"""{"path":"$path","partitionValues":{$pv},"size":1,"modificationTime":1,"dataChange":true}"""
    val adds = Seq(
      add("null.parquet", """"p":null,"d":null,"ts":null"""),
      add("marker.parquet",
        """"p":"__HIVE_DEFAULT_PARTITION__","d":"__HIVE_DEFAULT_PARTITION__","ts":"__HIVE_DEFAULT_PARTITION__""""),
      add("empty.parquet", """"p":"","d":"","ts":"""""),
      add("non-ascii.parquet", """"p":"café 日本 ü","d":"2024-02-29","ts":"2024-01-02 03:04:05.123456""""),
      add("iso.parquet", """"p":"x","d":"1970-01-01","ts":"2024-01-02T03:04:05Z""""),
      add("missing.parquet", """"p":"only-p""""),
      add("bad.parquet", """"p":"y","d":"not-a-date","ts":"tomorrow""""))
    val (layout, rows) = typedRows(table, partCols, adds)
    rows.foreach { case (path, row) =>
      val pv = Actions.parseAdd(JsonMethods.parse(adds.find(_.contains(path)).get)).partitionValues
      partCols.zipWithIndex.foreach { case (c, i) =>
        val dt = table(c).dataType
        val expected: (Byte, Any) = pv.get(c) match {
          case None => (PartitionFilters.Absent, null)
          case Some(PartitionPaths.NullMarker) => (PartitionFilters.NullValue, null)
          case Some(v) => scala.util.Try(PartitionPaths.decoder(dt)(v)).toOption
            .fold[(Byte, Any)]((PartitionFilters.Uncastable, null))(x => (PartitionFilters.Decoded, x))
        }
        assert((at(layout, row, s"part_${i}_state"), at(layout, row, s"part_$i")) == expected, s"$path $c")
      }
    }
    val byPath = rows.toMap
    assert(at(layout, byPath("empty.parquet"), "part_0") == UTF8String.fromString(""))
    assert(at(layout, byPath("empty.parquet"), "part_1_state") == PartitionFilters.Uncastable)
    assert(at(layout, byPath("non-ascii.parquet"), "part_0") == UTF8String.fromString("café 日本 ü"))
    assert(at(layout, byPath("non-ascii.parquet"), "part_1") ==
      java.time.LocalDate.of(2024, 2, 29).toEpochDay.toInt)
    assert(at(layout, byPath("iso.parquet"), "part_2") ==
      java.time.Instant.parse("2024-01-02T03:04:05Z").getEpochSecond * 1000000L)
  }

  test("typed stats equal what DataSkipping.statValue gives, decimal and boolean left undecoded") {
    import org.apache.spark.sql.types.{BooleanType, DecimalType, DoubleType, TimestampType}
    val table = StructType(Seq(StructField("p", StringType), StructField("n", LongType),
      StructField("s", StringType), StructField("t", TimestampType), StructField("x", DoubleType),
      StructField("dec", DecimalType(10, 2)), StructField("b", BooleanType)))
    def add(path: String, stats: Option[String]) =
      s"""{"path":"$path","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true""" +
        stats.fold("")(st => s""","stats":${JsonMethods.compact(JsonMethods.render(org.json4s.JString(st)))}""") + "}"
    val adds = Seq(
      add("absent.parquet", None),
      add("records-only.parquet", Some("""{"numRecords":7}""")),
      add("full.parquet", Some(
        """{"numRecords":3,"minValues":{"n":-5,"s":"apple","t":"2024-01-02T03:04:05.000Z","x":-1.5,"dec":1.25,"b":false},""" +
          """"maxValues":{"n":9,"s":"pear ü","t":"2024-01-02 03:04:06","x":2.5,"dec":9.75,"b":true},""" +
          """"nullCount":{"n":0,"s":1,"t":0,"x":2,"dec":0,"b":1}}""")),
      add("nan.parquet", Some(
        """{"numRecords":2,"minValues":{"x":"NaN","n":"12"},"maxValues":{"x":"NaN"},"nullCount":{"x":0}}""")))
    val (layout, rows) = typedRows(table, Seq("p"), adds)
    val data = table.fields.filterNot(_.name == "p")
    // decimal and boolean bounds never decode, so the rows carry none
    Seq("dec", "b").foreach { c =>
      val j = data.indexWhere(_.name == c)
      assert(!layout.fieldNames.contains(s"min_$j") && !layout.fieldNames.contains(s"max_$j"))
      assert(layout.fieldNames.contains(s"nulls_$j"))
    }
    rows.foreach { case (path, row) =>
      val st = Actions.parseAdd(JsonMethods.parse(adds.find(_.contains(path)).get)).parsedStats
      assert(at(layout, row, "numRecords") == st.map(_.numRecords).orNull, path)
      data.zipWithIndex.foreach { case (f, j) =>
        if (DataSkipping.decodesBounds(f.dataType)) {
          assert(at(layout, row, s"min_$j") ==
            st.flatMap(_.minValues.get(f.name)).map(DataSkipping.statValue(_, f.dataType)).orNull, s"$path min ${f.name}")
          assert(at(layout, row, s"max_$j") ==
            st.flatMap(_.maxValues.get(f.name)).map(DataSkipping.statValue(_, f.dataType)).orNull, s"$path max ${f.name}")
        }
        assert(at(layout, row, s"nulls_$j") == st.flatMap(_.nullCount.get(f.name)).orNull, s"$path nulls ${f.name}")
      }
    }
    val byPath = rows.toMap
    assert(at(layout, byPath("absent.parquet"), "numRecords") == null)
    assert(at(layout, byPath("records-only.parquet"), "numRecords") == 7L)
    assert(at(layout, byPath("records-only.parquet"), "min_0") == null)
    assert(at(layout, byPath("full.parquet"), "max_1") == UTF8String.fromString("pear ü"))
    assert(at(layout, byPath("full.parquet"), "min_2") ==
      java.time.Instant.parse("2024-01-02T03:04:05Z").getEpochSecond * 1000000L)
    assert(at(layout, byPath("full.parquet"), "max_2") ==
      java.time.Instant.parse("2024-01-02T03:04:06Z").getEpochSecond * 1000000L)
    // "NaN" is not a number the stats can hold, and a quoted integer is not one either
    assert(at(layout, byPath("nan.parquet"), "min_3") == null)
    assert(at(layout, byPath("nan.parquet"), "min_0") == null)
  }

  test("past the summary bound the claim check runs a job and decides as on the driver") {
    val table = StructType(Seq(StructField("k", org.apache.spark.sql.types.IntegerType),
      StructField("v", LongType)))
    val n = 4200
    val adds = (0 until n).map { i =>
      val k = if (i == 17) "x" else i.toString
      s"""{"path":"k=$k/f-$i.parquet","partitionValues":{"k":"$k"},"size":1,"modificationTime":1,"dataChange":true}"""
    }
    val (log, parts) = rawCheckpoint(adds, 1, metaJsonOf(table, Seq("k")))
    import org.apache.spark.sql.sources.{EqualTo, IsNotNull}
    val decided = DistributedSnapshot.claimDecided(spark, log, 0L, parts, 0L,
      Seq(EqualTo("k", 3), IsNotNull("k")), table)
    val files = Checkpoints.read(spark, log, 0L, parts).activeFiles
    assert(decided == PartitionFilters.claim(files, Seq(EqualTo("k", 3), IsNotNull("k")),
      Set("k"), table)._1)
    assert(decided == Seq(IsNotNull("k")))
  }
}
