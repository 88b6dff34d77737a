package graft.delta

import graft.SparkTestBase
import java.nio.file.{Files, Paths}

/** Protocol feature gating: refuse tables whose protocol demands features
  * this engine doesn't implement (silently-wrong reads / contract-breaking
  * writes are the alternative). */
class ProtocolSupportSpec extends SparkTestBase {
  import spark.implicits._

  private def foreignTable(protocolJson: String,
                           schemaJson: Option[String] = None,
                           at: Option[String] = None): String = {
    val dir = at.getOrElse(Files.createTempDirectory("graft-proto").toString)
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    val df = Seq((1, "a")).toDF("id", "s")
    val tmp = Files.createTempDirectory("graft-proto-part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .find(_.matches(".*/part-.*\\.parquet$")).get
    Files.move(Paths.get(part), Paths.get(dir, "data.parquet"))
    val schema = schemaJson.getOrElse(df.schema.json)
    val commit = Seq(
      protocolJson,
      s"""{"metaData":{"id":"p","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${org.json4s.jackson.JsonMethods.compact(
          org.json4s.JString(schema))},"partitionColumns":[],""" +
        """"configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"data.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "data.parquet"))},""" +
        """"modificationTime":0,"dataChange":true}}""")
    Files.write(logDir.resolve("00000000000000000000.json"),
      commit.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("known reader features pass; unknown reader features are refused") {
    val ok = foreignTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","columnMapping"],""" +
        """"writerFeatures":["deletionVectors","columnMapping"]}}""")
    assert(DeltaTable.forPath(spark, ok).toDF().count() == 1)

    val bad = foreignTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","futureMagicEncoding"]}}""")
    val err = intercept[UnsupportedProtocolException] {
      DeltaTable.forPath(spark, bad).toDF().count()
    }
    assert(err.getMessage.contains("futureMagicEncoding"))
    assert(err.code == "UNSUPPORTED_PROTOCOL")
  }

  test("an unknown reader feature is refused by toDF, load(path) and a catalog SELECT") {
    val cat = graft.plans.GraftSql.ensure(spark)
    val ns = Paths.get(graft.plans.GraftSql.warehousePath(spark).get, "protons")
    Files.createDirectories(ns)
    val dir = foreignTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["futureMagicEncoding"]}}""",
      at = Some(ns.resolve("magic" + System.nanoTime()).toString))
    def refused(read: => Any): Unit = {
      val err = intercept[UnsupportedProtocolException](read)
      assert(err.getMessage.contains("futureMagicEncoding"))
    }
    refused(DeltaTable.forPath(spark, dir).toDF())
    refused(spark.read.format("graft-delta").load(dir))
    refused(spark.sql(s"SELECT * FROM $cat.protons.${Paths.get(dir).getFileName}").collect())
  }

  test("reader version beyond support is refused; legacy versions read fine") {
    val legacy = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    assert(DeltaTable.forPath(spark, legacy).toDF().count() == 1)

    val future = foreignTable(
      """{"protocol":{"minReaderVersion":9,"minWriterVersion":9}}""")
    intercept[UnsupportedProtocolException] {
      DeltaTable.forPath(spark, future).toDF().count()
    }
  }

  test("unknown writer features refuse writes but not reads") {
    // identityColumns graduated to a SUPPORTED writer feature in round 12,
    // so this test's "unknown" feature is a genuinely unimplemented one
    val dir = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["rowTracking"]}}""")
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF().count() == 1) // reading is safe
    intercept[UnsupportedProtocolException] {
      t.write(Seq((2, "b")).toDF("id", "s"))
    }
    intercept[UnsupportedProtocolException] { t.delete("""{"id": 1}""") }
    intercept[UnsupportedProtocolException] {
      t.merge(Seq((1, "z")).toDF("id", "s"), Seq("id"))
    }
  }

  test("foreign generated-column tables accept writes: omitted computes, wrong value refuses") {
    // Round-12: the blanket write refusal became Delta-standard behavior —
    // the engine computes omitted generated columns and validates provided
    // ones, so importing a foreign table with one no longer blocks appends.
    val genSchema =
      """{"type":"struct","fields":[
        |{"name":"id","type":"integer","nullable":true,"metadata":{}},
        |{"name":"s","type":"string","nullable":true,
        | "metadata":{"delta.generationExpression":"CAST(id AS STRING)"}}]}"""
        .stripMargin.replaceAll("\n", "")
    val dir = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      Some(genSchema))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF().count() == 1) // materialized values read fine
    t.write(Seq(2).toDF("id")) // omitted -> computed
    assert(t.toDF().filter(org.apache.spark.sql.functions.col("id") === 2)
      .head().getString(1) == "2")
    val err = intercept[ValidationException] {
      t.write(Seq((3, "nope")).toDF("id", "s"))
    }
    assert(err.getMessage.contains("generated column"))
    assert(t.toDF().count() == 2)
  }
}
