package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.delta.DeltaTable

/** `_metadata.file_path` / `_metadata.row_index` on the table's own scan
  * name each row's file and physical position exactly as Spark's file
  * source does: MERGE, DML and the DV build key rows by this pair. */
class MetadataColumnsSpec extends SparkTestBase {
  import spark.implicits._

  /** (id, file_path, row_index) of every row, read by Spark's file source
    * straight from `t`'s data files — the reference positions. */
  private def fileSourceRows(t: DeltaTable): Set[(Long, String, Long)] = {
    val files = t.snapshot().activeFiles.map(f => new Path(t.tablePath, f.path).toString)
    spark.read.parquet(files: _*)
      .select(col("id").cast("long"), col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(Long, String, Long)].collect().toSet
  }

  private def tableRows(t: DeltaTable): Set[(Long, String, Long)] =
    t.toDF().select(col("id").cast("long"), col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(Long, String, Long)].collect().toSet

  test("file_path and row_index match the file source, with a space and a Hive-escaped partition value") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-meta").toString)
    t.write((0 until 300).map(i => (i, if (i % 3 == 0) "a b" else if (i % 3 == 1) "x:y" else "plain"))
      .toDF("id", "p").repartition(2), partitionBy = Seq("p"))
    val dirs = t.snapshot().activeFiles.map(_.path.takeWhile(_ != '/')).toSet
    assert(dirs.contains("p=a b") && dirs.contains("p=x%3Ay"), dirs)
    val expected = fileSourceRows(t)
    assert(expected.size == 300)
    assert(tableRows(t) == expected)
    // the partitioned scan keeps them through a filter and a projection
    val filtered = t.toDF().where(col("p") === "x:y")
      .select(col("id").cast("long"), col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(Long, String, Long)].collect().toSet
    assert(filtered == expected.filter(_._1 % 3 == 1))
  }

  test("rows of a deletion-vector file keep their physical positions") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-meta-dv").toString)
    t.write((0 until 200).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    val before = fileSourceRows(t)
    t.deleteWithDV(col("id") % 7 === 0)
    assert(t.snapshot().activeFiles.exists(_.deletionVector.isDefined))
    assert(tableRows(t) == before.filterNot(_._1 % 7 == 0))
  }

  test("row_index stays physical when Parquet pushdown skips row groups") {
    val dir = Files.createTempDirectory("graft-meta-rg").toString
    val logDir = Paths.get(dir, "_delta_log")
    Files.createDirectories(logDir)
    // one file, ids in order, row groups of a few hundred rows each
    val tmp = Files.createTempDirectory("graft-meta-rg-part").toString
    (0L until 5000L).map(i => (i, s"v$i")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").option("parquet.block.size", "8192").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .find(_.matches(".*/part-.*\\.parquet$")).get
    Files.move(Paths.get(part), Paths.get(dir, "data.parquet"))
    val size = Files.size(Paths.get(dir, "data.parquet"))
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, new Path(dir, "data.parquet"))
    assert(footer.getBlocks.size > 2, s"want several row groups, got ${footer.getBlocks.size}")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, s STRING").json
    Files.write(logDir.resolve("00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"rg","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${org.json4s.jackson.JsonMethods.compact(
          org.json4s.JString(schema))},"partitionColumns":[],""" +
        """"configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"data.parquet","partitionValues":{},"size":$size,""" +
        """"modificationTime":0,"dataChange":true}}""").mkString("\n").getBytes("UTF-8"))
    val df = DeltaTable.forPath(spark, dir).toDF().where(col("id") >= 4500)
      .select(col("id"), col("_metadata.row_index"))
    val rows = df.as[(Long, Long)].collect()
    assert(rows.length == 500)
    assert(rows.forall { case (id, ri) => id == ri }, rows.filter(r => r._1 != r._2).take(5).toSeq)
  }
}
