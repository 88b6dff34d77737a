package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * The engine's partition-path time-zone contract (round 15): zoned
 * TIMESTAMP partition directories are laid out in UTC wall-clock
 * REGARDLESS of `spark.sql.session.timeZone` — so the UTC read side
 * (PartitionPaths.decoder), the pruner, and the claimer all
 * parse back the exact instants that were written. Before the fix,
 * Spark's partitionBy rendered the path in the session zone and a
 * non-UTC writer produced values the reader shifted by the zone offset
 * (silent wrong rows on any partition filter).
 */
class TzPartitionSpec extends SparkTestBase {

  private def withSessionTz[A](tz: String)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("zoned-ts partition paths render UTC under a non-UTC session and round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("tzpart").toString
    // 2024-01-15T08:00:00Z — LA wall-clock midnight, so a session-zone
    // rendering ("2024-01-15 00:00:00") differs from UTC ("... 08:00:00").
    val inst = java.time.Instant.parse("2024-01-15T08:00:00Z")
    val other = java.time.Instant.parse("2024-02-20T08:00:00Z")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("day", TimestampType)))
    withSessionTz("America/Los_Angeles") {
      val rows = Seq(
        Row(1L, java.sql.Timestamp.from(inst)),
        Row(2L, java.sql.Timestamp.from(inst)),
        Row(3L, java.sql.Timestamp.from(other)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      val t = DeltaTable.forPath(spark, dir)
      t.write(df, partitionBy = Seq("day"))

      // 1. the log's partition values are the UTC rendering
      val vals = t.snapshot().activeFiles.map(_.partitionValues("day")).toSet
      assert(vals == Set("2024-01-15 08:00:00", "2024-02-20 08:00:00"),
        s"expected UTC-canonical path values, got $vals")

      // 2. values reconstitute to the exact written instants
      val back = t.toDF().select("id", "day").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1).toInstant).toMap
      assert(back(1L) == inst && back(2L) == inst && back(3L) == other)

      // 3. an equality filter on the partition column (evaluated through
      // prune + claim) selects exactly the matching rows, still inside
      // the non-UTC session
      import org.apache.spark.sql.functions.{col, lit}
      val n = t.toDF().filter(col("day") ===
        lit(java.sql.Timestamp.from(inst))).count()
      assert(n == 2L, s"expected 2 rows at $inst, got $n")
    }
    // 4. ...and from a different (UTC) session too: the layout is a
    // function of the data alone, not of who wrote it
    val t2 = DeltaTable.forPath(spark, dir)
    import org.apache.spark.sql.functions.{col, lit}
    val n2 = t2.toDF().filter(col("day") ===
      lit(java.sql.Timestamp.from(inst))).count()
    assert(n2 == 2L, s"expected 2 rows at $inst from the UTC session, got $n2")
  }

  test("float partition equality survives the widened pushdown literal") {
    val dir = java.nio.file.Files.createTempDirectory("fpart").toString
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("f", FloatType)))
    val rows = Seq(Row(1L, 0.1f), Row(2L, 0.1f), Row(3L, 0.3f), Row(4L, 2.5f))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val t = DeltaTable.forPath(spark, dir)
    t.write(df, partitionBy = Seq("f"))
    assert(t.snapshot().activeFiles.map(_.partitionValues("f")).toSet ==
      Set("0.1", "0.3", "2.5"))
    import org.apache.spark.sql.functions.{col, lit}
    assert(t.toDF().filter(col("f") === lit(0.1f)).count() == 2L)
    assert(t.toDF().filter(col("f").isin(0.3f, 2.5f)).count() == 2L)
    assert(t.toDF().filter(col("f") > lit(0.2f)).count() == 2L)
  }
}
