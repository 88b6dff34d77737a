package graft.delta

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.types._

class ColumnMappingSpec extends SparkTestBase {
  import spark.implicits._

  test("physical→logical column mapping applied on read") {
    val dir = Files.createTempDirectory("graft-cm").toString
    // Data files carry PHYSICAL names (as an external column-mapping writer would).
    Seq((1, "a"), (2, "b")).toDF("col-abc123", "col-def456")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/data")
    val fs = new org.apache.hadoop.fs.Path(dir)
    val t = DeltaTable.forPath(spark, dir)
    val part = t.log.fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    t.log.fs.rename(part, new org.apache.hadoop.fs.Path(dir, "mapped.parquet"))
    // Log declares LOGICAL names with physicalName field metadata.
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = true,
        new MetadataBuilder().putString("delta.columnMapping.physicalName", "col-abc123").build()),
      StructField("s", StringType, nullable = true,
        new MetadataBuilder().putString("delta.columnMapping.physicalName", "col-def456").build())))
    t.log.writeCommit(0, Seq[Action](
      Protocol(),
      TableMetadata(id = "cm-test", schemaString = schema.json,
        configuration = Map("delta.columnMapping.mode" -> "name")),
      AddFile("mapped.parquet", size = new java.io.File(dir, "mapped.parquet").length()),
      CommitInfo(0L, "EXTERNAL-WRITE")))
    val df = t.toDF()
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.orderBy("id").as[(Int, String)].collect().toSeq == Seq((1, "a"), (2, "b")))
    // Mongo query on logical names works too
    assert(t.query("""{"id":{"$gte":2}}""").count() == 1)
  }

  test("renameColumn is metadata-only; reads, writes and DML use the new name") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-rn").toString)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    val filesBefore = t.snapshot().activeFiles.map(_.path).toSet
    t.renameColumn("s", "label")
    // no data rewritten, logical name changed, mapping mode recorded
    assert(t.snapshot().activeFiles.map(_.path).toSet == filesBefore)
    assert(t.toDF().columns.toSeq == Seq("id", "label"))
    assert(t.snapshot().configuration("delta.columnMapping.mode") == "name")
    assert(t.toDF().orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
    // post-rename APPEND: file stores the physical name, stats re-key to
    // logical, and reads merge old + new files under the logical name
    t.write(Seq((3, "c")).toDF("id", "label"))
    assert(t.toDF().orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    val newAdd = t.snapshot().activeFiles
      .filterNot(f => filesBefore(f.path)).head
    assert(newAdd.parsedStats.get.minValues.contains("label"))
    // Mongo filter + CoW DML through the logical name
    assert(t.query("""{"label":"c"}""").count() == 1)
    t.delete("""{"label":"a"}""")
    assert(t.toDF().orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((2, "b"), (3, "c")))
    // double rename keeps the ORIGINAL physical name stable
    t.renameColumn("label", "tag")
    assert(t.toDF().columns.toSeq == Seq("id", "tag"))
    assert(t.query("""{"tag":"b"}""").count() == 1)
    val f = t.snapshot().schema.fields.find(_.name == "tag").get
    assert(f.metadata.getString("delta.columnMapping.physicalName") == "s")
  }

  test("dropColumn is metadata-only; re-added name does not resurrect old values") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-dc").toString)
    t.write(Seq((1, "old1"), (2, "old2")).toDF("id", "s"))
    val filesBefore = t.snapshot().activeFiles.map(_.path).toSet
    t.dropColumn("s")
    assert(t.snapshot().activeFiles.map(_.path).toSet == filesBefore) // no rewrite
    assert(t.toDF().columns.toSeq == Seq("id"))
    // re-add the same logical name: it gets a fresh physical name, so the
    // dropped values in old files must read as NULL, not "old1"/"old2"
    t.write(Seq((3, "new3")).toDF("id", "s"))
    val rows = t.toDF().orderBy("id").as[(Int, Option[String])].collect().toSeq
    assert(rows == Seq((1, None), (2, None), (3, Some("new3"))))
    val f = t.snapshot().schema.fields.find(_.name == "s").get
    assert(f.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    // the re-added column filters and aggregates like any other
    assert(t.query("""{"s":"new3"}""").count() == 1)
  }

  test("renameColumn rejects partition columns, collisions and unknowns") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-rn2").toString)
    t.write(Seq((1, "a", "x")).toDF("id", "s", "p"), partitionBy = Seq("p"))
    intercept[ValidationException](t.renameColumn("p", "q"))
    intercept[ValidationException](t.renameColumn("s", "id"))
    intercept[ValidationException](t.renameColumn("nope", "x"))
    intercept[ValidationException](t.dropColumn("p"))
    intercept[ValidationException](t.dropColumn("nope"))
  }

  test("dropColumn refuses to drop the last column") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-dc2").toString)
    t.write(Seq(Tuple1(1)).toDF("id"))
    intercept[ValidationException](t.dropColumn("id"))
  }

  test("row/batch iterators stream lazily") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-it").toString)
    t.write((1 to 100).map(i => (i, s"r$i")).toDF("id", "s"))
    val it = t.rowIterator("""{"id":{"$lte":10}}""")
    assert(it.take(3).size == 3)
    val batches = t.batchIterator("{}", batchSize = 30).toSeq
    assert(batches.map(_.size).sum == 100)
    assert(batches.head.size == 30)
    // projection + version options (reference queryIterator QueryOptions)
    val v0 = t.version
    t.write(Seq((101, "r101")).toDF("id", "s"))
    val projected = t.rowIterator("""{"id":{"$lte":2}}""",
      projectionJson = Some("""{"id":1}"""), version = Some(v0)).toSeq
    assert(projected.map(_.schema.fieldNames.toSeq).forall(_ == Seq("id")))
    assert(projected.map(_.getInt(0)).sorted == Seq(1, 2))
    assert(t.rowIterator(version = Some(v0)).size == 100)
    intercept[IllegalArgumentException](t.batchIterator("{}", batchSize = 0))
    // pre-fetched snapshot = consistent reads while the table advances
    val snap = t.snapshot()
    t.write(Seq((500, "r500")).toDF("id", "s"))
    assert(t.query("{}", None, snap).count() == 101)
    assert(t.query("""{"id":{"$gte":100}}""", Some("""{"id":1}"""), snap)
      .count() == 2)
    assert(t.query().count() == 102)
  }

  test("unknown filter operators are rejected at query entry") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-val").toString)
    t.write(Seq((1, "a")).toDF("id", "s"))
    intercept[graft.query.MongoFilter.FilterValidationException] {
      t.query("""{"id":{"$bogus":1}}""")
    }
  }
}
