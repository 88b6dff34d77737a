package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}

import graft.SparkTestBase

/**
 * Write-side generated columns (`delta.generationExpression`) and legacy
 * column invariants (`delta.invariants`): omitted generated columns are
 * computed at write, provided ones validated, UPDATE/MERGE recompute them
 * over post-image rows and refuse explicit assignment, and invariants are
 * enforced with NULL-fails strictness. Foreign tables declaring either
 * are now writable instead of refused (round-12; reads were always fine).
 */
class GeneratedColumnsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** Schema of (id BIGINT, twice BIGINT GENERATED ALWAYS AS (id * 2)) the
    * way a foreign Delta writer would persist it. */
  private def genSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("twice", LongType, nullable = true,
      new MetadataBuilder()
        .putString(GeneratedColumns.MetadataKey, "id * 2").build())))

  private def foreignGenTable(): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmp("graft-gen"))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), genSchema)
    t.write(empty)
    t
  }

  test("append omitting a generated column computes it; providing it validates") {
    val t = foreignGenTable()
    t.write(Seq(1L, 2L).toDF("id")) // omitted -> computed
    assert(t.toDF().orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 2L), Seq(2L, 4L)))
    t.write(Seq((3L, 6L)).toDF("id", "twice")) // provided, consistent
    assert(t.toDF().filter($"id" === 3).head().getLong(1) == 6L)
    val v = t.version
    val e = intercept[ValidationException] {
      t.write(Seq((4L, 9L)).toDF("id", "twice")) // provided, WRONG
    }
    assert(e.getMessage.contains("generated column"))
    assert(t.version == v, "a refused write must not commit")
    assert(t.toDF().count() == 3)
  }

  test("UPDATE recomputes generated columns over the post-image; SET on one is refused") {
    val t = foreignGenTable()
    t.write(Seq(1L, 2L, 3L).toDF("id"))
    t.update(col("id") === 2, Seq("id" -> lit(20L)))
    assert(t.toDF().orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 2L), Seq(3L, 6L), Seq(20L, 40L)),
      "updated row recomputes; carried rows keep their values")
    val e = intercept[ValidationException] {
      t.update(col("id") === 1, Seq("twice" -> lit(5L)))
    }
    assert(e.getMessage.contains("generated"))
    // DV twin recomputes too
    t.updateWithDV(col("id") === 3, Seq("id" -> lit(30L)))
    assert(t.toDF().filter($"id" === 30).head().getLong(1) == 60L)
  }

  test("MERGE recomputes generated columns for updated and inserted rows") {
    val t = foreignGenTable()
    t.write(Seq(1L, 2L).toDF("id"))
    // UpdateAll from a source WITHOUT the generated column: key match
    // rewrites id, generated col must recompute; unmatched source inserts
    // compute it as well. Merge keys must exist on both sides; use id.
    val source = Seq(5L, 2L).toDF("id") // 2 matches, 5 inserts
    t.merge(source, Seq("id"),
      Merge.MergeAction.UpdateAll, insertUnmatched = true)
    assert(t.toDF().orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 2L), Seq(2L, 4L), Seq(5L, 10L)))
    // clause merge refusal: SET on a generated column
    val e = intercept[ValidationException] {
      Merge.executeClauses(t, Seq(1L).toDF("id"), Merge.Keys(Seq(("id", "id"))),
        Seq(Merge.MergeClause(None,
          Merge.MergeAction.UpdateSet(Map("twice" -> lit(0L))))), Nil)
    }
    assert(e.getMessage.contains("generated"))
    // MoR twin recomputes
    t.mergeWithDV(Seq((1L)).toDF("id").withColumn("id", $"id" + 9),
      Seq("id"), Merge.MergeAction.UpdateAll, insertUnmatched = true)
    assert(t.toDF().filter($"id" === 10).head().getLong(1) == 20L)
  }

  test("CDC postimages carry the RECOMPUTED generated values through MERGE and write") {
    val t = foreignGenTable()
    t.updateConfiguration(Map(Cdc.EnableKey -> "true"))
    t.write(Seq(1L, 2L).toDF("id"))
    // batch write insert image reads back committed adds (computed values)
    val writeChanges = Cdc.readByVersion(t, t.version, t.version)
    assert(writeChanges.filter($"_change_type" === "insert")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 4L)))
    // merge updating a REFERENCED column: the postimage must show the
    // recomputed generated value, not the stale materialized one. Schema:
    // (id, base, doubled GENERATED AS base*2); SET base=10 ⇒ doubled=20.
    val t2 = DeltaTable.forPath(spark, tmp("graft-gen-cdc"))
    val schema2 = StructType(Seq(
      StructField("id", LongType),
      StructField("base", LongType),
      StructField("doubled", LongType, nullable = true,
        new MetadataBuilder()
          .putString(GeneratedColumns.MetadataKey, "base * 2").build())))
    t2.write(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema2))
    t2.updateConfiguration(Map(Cdc.EnableKey -> "true"))
    t2.write(Seq((1L, 3L)).toDF("id", "base"))
    Merge.executeClauses(t2, Seq(1L).toDF("id"), Merge.Keys(Seq(("id", "id"))),
      Seq(Merge.MergeClause(None,
        Merge.MergeAction.UpdateSet(Map("base" -> lit(10L))))), Nil)
    val post = Cdc.readByVersion(t2, t2.version, t2.version)
      .filter($"_change_type" === "update_postimage").head()
    assert(post.getAs[Long]("base") == 10L &&
      post.getAs[Long]("doubled") == 20L,
      s"postimage generated value not recomputed: $post")
    assert(t2.toDF().head().getAs[Long]("doubled") == 20L)
  }

  test("DELETE and compaction on a generated-column table keep values intact") {
    val t = foreignGenTable()
    t.write(Seq(1L).toDF("id"))
    t.write(Seq(2L).toDF("id"))
    t.write(Seq(3L).toDF("id"))
    t.delete(col("id") === 2)
    Maintenance.compact(t, Maintenance.CompactionConfig(targetFileSize = 1L << 30))
    assert(t.toDF().orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 2L), Seq(3L, 6L)))
  }

  test("SQL: CREATE TABLE ... GENERATED ALWAYS AS computes through INSERT and declares writer v4") {
    import graft.plans.GraftSql
    val cat = GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gen")
    val tbl = s"$cat.gen.t1"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, " +
      "twice BIGINT GENERATED ALWAYS AS (id * 2), " +
      "label STRING GENERATED ALWAYS AS (concat('n', cast(id AS STRING))))")
    spark.sql(s"INSERT INTO $tbl (id) VALUES (1), (2)")
    val rows = spark.sql(s"SELECT id, twice, label FROM $tbl ORDER BY id")
      .collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, 2L, "n1"), Seq(2L, 4L, "n2")))
    val dt = DeltaTable.forPath(spark,
      GraftSql.warehousePath(spark).get + "/gen/t1")
    assert(dt.metaSnapshot().protocol.exists(_.minWriterVersion >= 4),
      "generated columns are a writer-v4 feature")
    // UPDATE through SQL recomputes
    spark.sql(s"UPDATE $tbl SET id = 7 WHERE id = 1")
    assert(spark.sql(s"SELECT twice, label FROM $tbl WHERE id = 7")
      .head().toSeq == Seq(14L, "n7"))
  }

  test("column invariants are enforced on write; NULL violates (legacy strictness)") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", LongType, nullable = true,
        new MetadataBuilder().putString(GeneratedColumns.InvariantKey,
          """{"expression":{"expression":"v > 0"}}""").build())))
    val t = DeltaTable.forPath(spark, tmp("graft-inv"))
    t.write(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    t.write(Seq((1L, 5L)).toDF("id", "v")) // satisfies
    val v0 = t.version
    val e = intercept[ValidationException] {
      t.write(Seq((2L, -1L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("invariant"))
    val e2 = intercept[ValidationException] {
      t.write(Seq((3L, null.asInstanceOf[java.lang.Long])).toDF("id", "v"))
    }
    assert(e2.getMessage.contains("invariant"), "NULL must violate an invariant")
    assert(t.version == v0 && t.toDF().count() == 1)
  }

  test("direct batch write computes generated columns task-side") {
    import graft.plans.GraftSql
    val cat = GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gen")
    val tbl = s"$cat.gen.t2"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, twice BIGINT GENERATED ALWAYS AS (id * 2))")
    val before = graft.streaming.GraftDirectWrite.batchCommits.get()
    spark.sql(s"INSERT INTO $tbl (id) VALUES (1)")
    assert(graft.streaming.GraftDirectWrite.batchCommits.get() > before,
      "generated-column tables take the direct path (round-12, task-side compute)")
    assert(spark.sql(s"SELECT twice FROM $tbl").head().getLong(0) == 2L)
    // provided wrong value aborts task-side, nothing commits
    val dt = DeltaTable.forPath(spark,
      GraftSql.warehousePath(spark).get + "/gen/t2")
    val v = dt.version
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $tbl VALUES (2, 99)")
    }
    assert(err.getMessage != null)
    assert(dt.version == v && spark.sql(s"SELECT count(*) FROM $tbl")
      .head().getLong(0) == 1)
  }

  test("GENERATED partition column the query omits: direct write computes the directory") {
    // The date-partitioned-ingest shape: PARTITIONED BY a generated column
    // derived from a data column — the query writes only the data column,
    // the task computes the partition value and routes the row.
    import graft.plans.GraftSql
    val cat = GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gen")
    val tbl = s"$cat.gen.t3"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, " +
      "bucket BIGINT GENERATED ALWAYS AS (id % 3)) PARTITIONED BY (bucket)")
    val before = graft.streaming.GraftDirectWrite.batchCommits.get()
    spark.sql(s"INSERT INTO $tbl (id) SELECT id FROM range(9)")
    assert(graft.streaming.GraftDirectWrite.batchCommits.get() > before)
    val rows = spark.sql(s"SELECT id, bucket FROM $tbl ORDER BY id")
      .collect().map(_.toSeq)
    assert(rows.toSeq == (0L until 9L).map(i => Seq(i, i % 3)))
    // files landed in Hive partition directories by the COMPUTED value
    val dt = DeltaTable.forPath(spark,
      GraftSql.warehousePath(spark).get + "/gen/t3")
    assert(dt.snapshot().activeFiles.forall(_.path.startsWith("bucket=")),
      dt.snapshot().activeFiles.map(_.path).mkString(","))
    // partition pruning works on the generated partition column
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE bucket = 1")
      .head().getLong(0) == 3)
  }
}
