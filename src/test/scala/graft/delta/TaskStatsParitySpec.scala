package graft.delta

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * The stats a writing task reads from the footer of the file it has just
 * closed equal what the aggregation scan ([[DeltaTable.attachStatsViaAgg]],
 * the fallback) computes for the same files, on every shape where the two
 * could drift: omitted bounds (long strings, NaN, decimals), timestamps,
 * an all-null column, column-mapped names — and zero-row parts never
 * reach the log.
 */
class TaskStatsParitySpec extends SparkTestBase {
  import spark.implicits._

  private def tmpTable(): DeltaTable =
    DeltaTable.forPath(spark, Files.createTempDirectory("graft-taskstats").toString)

  /** Task-reported stats of the active files `written` selects against the
    * aggregation's. */
  private def assertParity(t: DeltaTable,
                           written: AddFile => Boolean = _ => true): Seq[FileStats] = {
    val snap = t.snapshot()
    val files = snap.activeFiles.filter(written)
    val task = files.map(a => a.path -> a.parsedStats.get).toMap
    val agg = t.attachStatsViaAgg(files.map(_.copy(stats = None)),
        snap.partitionColumns, snap.schema)
      .map(a => a.path -> a.parsedStats.get).toMap
    assert(task.keySet == agg.keySet)
    task.foreach { case (p, f) =>
      val g = agg(p)
      assert(f.numRecords == g.numRecords, s"numRecords differ for $p")
      assert(f.minValues == g.minValues, s"minValues differ for $p:\n$f\n$g")
      assert(f.maxValues == g.maxValues, s"maxValues differ for $p:\n$f\n$g")
      assert(f.nullCount == g.nullCount, s"nullCount differ for $p:\n$f\n$g")
    }
    task.values.toSeq
  }

  test("task-side stats equal the aggregation scan's, omissions included") {
    val t = tmpTable()
    val long = "x" * 300
    val df = (1 to 600).map { i =>
      (i.toLong,
        if (i == 97) long else if (i % 7 == 0) null else s"v$i",
        if (i > 400 && i % 50 == 0) Double.NaN else i * 1.5 - 300.0,
        i % 2 == 0)
    }.toDF("id", "s", "d", "b")
      .withColumn("dec", (col("id") / 7).cast("decimal(12,3)"))
      .withColumn("ts", timestamp_micros(col("id") * 1000001L + 1700000000000000L))
      .withColumn("ntz", col("ts").cast("timestamp_ntz"))
      .withColumn("day", to_date(col("ts")))
      .withColumn("allnull", lit(null).cast("string"))
      .repartitionByRange(3, col("id"))
    t.write(df)
    val stats = assertParity(t)
    assert(stats.size == 3)
    // a file whose max string is over 256 chars has no string max (its
    // min stays); a file holding a NaN has no double bounds; decimals
    // never have bounds
    assert(stats.exists(!_.maxValues.contains("s")) && stats.exists(_.maxValues.contains("s")))
    assert(stats.forall(_.minValues.contains("s")))
    assert(stats.exists(!_.minValues.contains("d")))
    assert(stats.exists(!_.maxValues.contains("d")) && stats.exists(_.maxValues.contains("d")))
    assert(stats.forall(s => !s.minValues.contains("dec") && s.nullCount.contains("dec")))
    // timestamps in the canonical fixed-precision micros form
    val canon = "\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}"
    stats.foreach { s =>
      Seq("ts", "ntz").foreach { c =>
        assert(org.json4s.jackson.JsonMethods.compact(s.minValues(c)).matches("\"" + canon + "\""))
      }
      assert(s.nullCount("allnull") == s.numRecords && !s.minValues.contains("allnull"))
    }
  }

  test("column-mapped table: physical stats keys are re-keyed to logical names") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    t.renameColumn("s", "label")
    val before = t.snapshot().activeFiles.map(_.path).toSet
    t.write((3 to 50).map(i => (i, s"l$i")).toDF("id", "label").repartition(2))
    val stats = assertParity(t, a => !before(a.path))
    assert(stats.size == 2)
    assert(stats.forall(s => s.minValues.contains("label") && !s.minValues.contains("s")))
  }

  test("a file its task reported without stats is stated by the aggregation scan") {
    val t = tmpTable()
    t.write((1 to 40).map(i => (i, s"v$i")).toDF("id", "s").repartition(2))
    val snap = t.snapshot()
    val prepared = t.prepareAdds(snap.activeFiles.map(_.copy(stats = None)), snap.schema,
      snap.partitionColumns, snap.configuration)
    assert(prepared.map(a => a.path -> a.parsedStats) ==
      snap.activeFiles.map(a => a.path -> a.parsedStats))
  }

  test("tasks with no rows leave no part behind") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s").repartition(8))
    val active = t.snapshot().activeFiles
    assert(active.nonEmpty && active.forall(_.parsedStats.exists(_.numRecords > 0)))
    val onDisk = Files.walk(java.nio.file.Paths.get(t.path)).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.toString.contains("_delta_log"))
    assert(onDisk == active.size)
    assertParity(t)
  }
}
