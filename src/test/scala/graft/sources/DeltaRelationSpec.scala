package graft.sources

import graft.SparkTestBase
import graft.delta.{DeltaTable, ValidationException}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Batch DataFrame reader/writer over the graft-delta format. */
class DeltaRelationSpec extends SparkTestBase {
  import spark.implicits._

  test("write then read round-trips through format(graft-delta)") {
    val dir = Files.createTempDirectory("graft-rel").toString
    Seq((1, "a"), (2, "b")).toDF("id", "s")
      .write.format("graft-delta").mode(SaveMode.Append).save(dir)
    Seq((3, "c")).toDF("id", "s")
      .write.format("graft-delta").mode(SaveMode.Append).save(dir)
    val back = spark.read.format("graft-delta").load(dir)
    assert(back.as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // the writes are real log commits, visible to the table API
    assert(DeltaTable.forPath(spark, dir).version == 1)
  }

  test("versionAsOf / timestampAsOf read options time-travel") {
    val dir = Files.createTempDirectory("graft-rel-tt").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "s")) // v0
    val tsV0 = t.commitTimestamp(0)
    Thread.sleep(20)
    t.write(Seq((2, "b")).toDF("id", "s")) // v1
    assert(spark.read.format("graft-delta").option("versionAsOf", "0")
      .load(dir).count() == 1)
    assert(spark.read.format("graft-delta").option("timestampAsOf", tsV0.toString)
      .load(dir).count() == 1)
    assert(spark.read.format("graft-delta").load(dir).count() == 2)
    intercept[ValidationException] {
      spark.read.format("graft-delta")
        .option("versionAsOf", "0").option("timestampAsOf", "1").load(dir)
    }
  }

  test("filters and projection push into the scan; overwrite and ErrorIfExists modes") {
    val dir = Files.createTempDirectory("graft-rel-f").toString
    (1 to 100).map(i => (i, s"r$i", i % 5)).toDF("id", "s", "k")
      .write.format("graft-delta").save(dir) // default ErrorIfExists on empty → append
    val df = spark.read.format("graft-delta").load(dir)
      .filter(col("id") > 90 && col("s").startsWith("r9"))
      .select("id", "k")
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == (91 to 99).toSeq)
    // second ErrorIfExists write fails; Ignore is a no-op; Overwrite replaces
    intercept[ValidationException] {
      Seq((0, "x", 0)).toDF("id", "s", "k")
        .write.format("graft-delta").mode(SaveMode.ErrorIfExists).save(dir)
    }
    Seq((0, "x", 0)).toDF("id", "s", "k")
      .write.format("graft-delta").mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() == 100)
    Seq((0, "x", 0)).toDF("id", "s", "k")
      .write.format("graft-delta").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft-delta").load(dir).count() == 1)
  }

  test("txnAppId/txnVersion write options make batch writes idempotent") {
    val dir = Files.createTempDirectory("graft-rel-txn").toString
    def put(v: Int, rows: Seq[(Int, String)]): Unit =
      rows.toDF("id", "s").write.format("graft-delta")
        .option("txnAppId", "job42").option("txnVersion", v.toString)
        .mode(SaveMode.Append).save(dir)
    put(1, Seq((1, "a")))
    put(1, Seq((99, "dup"))) // orchestrator retry of the same version: skipped
    put(2, Seq((2, "b")))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF().as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(t.lastTransactionVersion("job42").contains(2L))
    // detail() and isDeltaTable round out the inspection surface
    val d = t.detail()
    assert(d("numFiles").asInstanceOf[Long] == 2L && d("version") == 1L)
    assert(DeltaTable.isDeltaTable(spark, dir))
    assert(!DeltaTable.isDeltaTable(spark,
      Files.createTempDirectory("graft-rel-not").toString))
  }

  test("SQL DDL + INSERT INTO work through the format (CREATE TABLE USING graft-delta)") {
    val dir = Files.createTempDirectory("graft-rel-sql").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "s"))
    val tn = "graft_sql_" + System.nanoTime()
    spark.sql(s"CREATE TABLE $tn USING `graft-delta` OPTIONS (path '$dir')")
    try {
      assert(spark.sql(s"SELECT * FROM $tn").count() == 1)
      spark.sql(s"INSERT INTO $tn VALUES (2, 'b')")
      assert(spark.sql(s"SELECT count(*) FROM $tn").head().getLong(0) == 2)
      // the INSERT was a real log commit
      assert(t.version == 1)
      assert(spark.sql(s"SELECT s FROM $tn WHERE id = 2").head().getString(0) == "b")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tn")
  }

  test("partitionBy option partitions the first write (hive layout + pruning)") {
    val dir = Files.createTempDirectory("graft-rel-p").toString
    (1 to 40).map(i => (i, if (i % 2 == 0) "even" else "odd")).toDF("id", "par")
      .write.format("graft-delta").option("partitionBy", "par").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot().partitionColumns == Seq("par"))
    assert(t.snapshot().activeFiles.forall(_.path.contains("par=")))
    val evens = spark.read.format("graft-delta").load(dir)
      .filter(col("par") === "even")
    assert(evens.count() == 20)
    // the relation's source filters become a conservative skipping predicate:
    // the par=odd files are skipped BEFORE Spark plans the scan
    import graft.delta.DataSkipping
    import org.apache.spark.sql.sources.{And => SAnd, EqualTo => SEq, GreaterThan => SGt}
    val snap = t.snapshot()
    val prunedEq = DataSkipping.prune(snap,
      DeltaRelation.conjunction(Array(SEq("par", "even"))))
    assert(prunedEq.nonEmpty && prunedEq.forall(_.path.contains("par=even")))
    // zone maps prune on stats too: id > 1000 matches nothing
    val prunedZone = DataSkipping.prune(snap,
      DeltaRelation.conjunction(Array(SAnd(SEq("par", "even"), SGt("id", 1000)))))
    assert(prunedZone.isEmpty)
    // prefix filters prune partitions (round 14): par LIKE 'e%' keeps
    // only the even partition
    val prefix = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(org.apache.spark.sql.sources.StringStartsWith("par", "e"))))
    assert(prefix.nonEmpty && prefix.forall(_.path.contains("par=even")))
    // null checks prune: no partition is null, so IS NULL keeps nothing
    // and IS NOT NULL keeps everything
    assert(DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(org.apache.spark.sql.sources.IsNull("par")))).isEmpty)
    assert(DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(org.apache.spark.sql.sources.IsNotNull("par")))).size ==
      snap.activeFiles.size)
    // untranslatable filters still prune nothing (conservative)
    assert(DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(org.apache.spark.sql.sources.StringContains("par", "e")))).size ==
      snap.activeFiles.size)
  }

  test("date-partitioned ranges prune partitions; date/timestamp zone maps prune files") {
    import graft.delta.DataSkipping
    import org.apache.spark.sql.sources.{EqualTo => SEq, GreaterThanOrEqual => SGte, LessThan => SLt, Not => SNot}
    val dir = Files.createTempDirectory("graft-rel-dt").toString
    val days = Seq("2026-01-01", "2026-01-02", "2026-01-03")
    days.zipWithIndex.flatMap { case (d, i) =>
      (1 to 10).map(j => (i * 10 + j,
        java.sql.Date.valueOf(d),
        java.sql.Timestamp.valueOf(s"$d 0${i + 1}:00:00")))
    }.toDF("id", "event_date", "ts")
      .write.format("graft-delta").option("partitionBy", "event_date").save(dir)
    val snap = DeltaTable.forPath(spark, dir).snapshot()
    assert(snap.activeFiles.forall(_.path.startsWith("event_date=")))

    // PARTITION range pruning (round-13): `event_date >= DATE'2026-01-02'`
    // drops the 01-01 partition at plan time — the canonical daily-table
    // filter shape at 100 TB
    val gte = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SGte("event_date", java.sql.Date.valueOf("2026-01-02")))))
    assert(gte.nonEmpty && gte.forall(f =>
      f.path.contains("event_date=2026-01-02") ||
        f.path.contains("event_date=2026-01-03")), gte.map(_.path))
    val lt = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SLt("event_date", java.sql.Date.valueOf("2026-01-02")))))
    assert(lt.nonEmpty && lt.forall(_.path.contains("event_date=2026-01-01")))
    // $ne drops exactly the proven-equal partition
    val ne = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SNot(SEq("event_date", java.sql.Date.valueOf("2026-01-02"))))))
    // the Mongo $ne form prunes the same partition
    val neJson = org.json4s.JObject(List("$and" -> org.json4s.JArray(List(
      org.json4s.JObject(List("event_date" -> org.json4s.JObject(List(
        "$ne" -> org.json4s.JString("2026-01-02")))))))))
    val neDirect = DataSkipping.prune(snap,
      graft.query.MongoFilter.translate(neJson, snap.schema))
    assert(ne.nonEmpty && ne.forall(f => !f.path.contains("event_date=2026-01-02")),
      "Not(EqualTo) drops the proven-equal partition")
    assert(neDirect.nonEmpty && neDirect.forall(f => !f.path.contains("event_date=2026-01-02")))

    // TIMESTAMP zone-map pruning: ts >= 03:00 on 01-03 keeps only the
    // third day's files (each partition's files carry ts footer stats)
    val tsGte = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SGte("ts", java.sql.Timestamp.valueOf("2026-01-03 03:00:00")))))
    assert(tsGte.nonEmpty && tsGte.forall(_.path.contains("event_date=2026-01-03")),
      tsGte.map(_.path))
    // and the whole-range filter keeps everything (no over-pruning)
    assert(DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SGte("ts", java.sql.Timestamp.valueOf("2025-12-31 00:00:00"))))).size ==
      snap.activeFiles.size)
  }

  test("equality and IN on date/timestamp partition columns prune typed, not stringly") {
    // Round-13 regression: the canonical filter literal
    // ('2026-01-03T03:00:00.000000') never string-equals the Cast-rendered
    // partition path value ('2026-01-03 03:00:00'), so $eq pruned EVERY
    // file and the query silently returned zero rows. Equality now routes
    // through the same typed comparator as the ranges.
    import graft.delta.DataSkipping
    import org.apache.spark.sql.sources.{EqualTo => SEq, In => SIn}
    val dir = Files.createTempDirectory("graft-rel-tseq").toString
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val hours = Seq("2026-01-03T01:00:00Z", "2026-01-03T03:00:00Z", "2026-01-03T05:00:00Z")
    hours.zipWithIndex.flatMap { case (h, i) =>
      (1 to 5).map(j => (i * 5 + j, ts(h), java.sql.Date.valueOf(s"2026-01-0${i + 1}")))
    }.toDF("id", "ts_part", "d_part")
      .write.format("graft-delta").option("partitionBy", "ts_part,d_part").save(dir)
    val snap = DeltaTable.forPath(spark, dir).snapshot()
    assert(snap.activeFiles.size >= 3)

    // $eq keeps exactly the matching timestamp partition
    val eq = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SEq("ts_part", ts("2026-01-03T03:00:00Z")))))
    assert(eq.nonEmpty, "timestamp $eq over-pruned to zero files")
    assert(eq.forall(_.partitionValues("ts_part").startsWith("2026-01-03 03")),
      eq.map(_.path))
    // $in keeps the union of matching partitions
    val in = DataSkipping.prune(snap, DeltaRelation.conjunction(Array(SIn("ts_part",
      Array(ts("2026-01-03T01:00:00Z"), ts("2026-01-03T05:00:00Z"))))))
    assert(in.nonEmpty && in.forall { f =>
      val v = f.partitionValues("ts_part")
      v.startsWith("2026-01-03 01") || v.startsWith("2026-01-03 05")
    }, in.map(_.path))
    // date partition equality prunes to one day
    val deq = DataSkipping.prune(snap, DeltaRelation.conjunction(
      Array(SEq("d_part", java.sql.Date.valueOf("2026-01-02")))))
    assert(deq.nonEmpty && deq.forall(_.partitionValues("d_part") == "2026-01-02"),
      deq.map(_.path))
    // and the scan itself returns the right rows end-to-end
    val got = spark.read.format("graft-delta").load(dir)
      .where(col("ts_part") === ts("2026-01-03T03:00:00Z"))
      .select("id").as[Int].collect().toSet
    assert(got == (6 to 10).toSet, got)
  }

  test("OR of partition predicates prunes disjunctively (round 14)") {
    import graft.delta.DataSkipping
    import org.apache.spark.sql.sources.{EqualTo => SEq, GreaterThan => SGt, Or => SOr, StringStartsWith}
    val dir = Files.createTempDirectory("graft-rel-or").toString
    (1 to 30).map(i => (i, s"2026-01-0${(i - 1) / 10 + 1}", i * 10))
      .map { case (i, d, v) => (i, java.sql.Date.valueOf(d), v) }
      .toDF("id", "event_date", "v")
      .write.format("graft-delta").option("partitionBy", "event_date").save(dir)
    val snap = DeltaTable.forPath(spark, dir).snapshot()

    // date = X OR date = Y keeps exactly those two partitions
    val or2 = DataSkipping.prune(snap, DeltaRelation.conjunction(Array(SOr(
      SEq("event_date", java.sql.Date.valueOf("2026-01-01")),
      SEq("event_date", java.sql.Date.valueOf("2026-01-03"))))))
    assert(or2.nonEmpty && or2.forall(f =>
      f.path.contains("event_date=2026-01-01") ||
        f.path.contains("event_date=2026-01-03")), or2.map(_.path))
    assert(!or2.forall(_.path.contains("event_date=2026-01-01")))

    // a partition branch OR a zone-map branch: files survive if EITHER
    // side may match (date partition 01-01, or v stats admitting > 250)
    val mixed = DataSkipping.prune(snap, DeltaRelation.conjunction(Array(SOr(
      SEq("event_date", java.sql.Date.valueOf("2026-01-01")),
      SGt("v", 250)))))
    assert(mixed.nonEmpty && mixed.forall(f =>
      f.path.contains("event_date=2026-01-01") ||
        f.path.contains("event_date=2026-01-03")), mixed.map(_.path))

    // an untranslatable branch makes the whole OR vacuous: prune nothing
    assert(DataSkipping.prune(snap, DeltaRelation.conjunction(Array(SOr(
      SEq("event_date", java.sql.Date.valueOf("2026-01-01")),
      StringStartsWith("event_date", "2026"))))).size == snap.activeFiles.size)

    // Mongo-form $or prunes the same way through the table query path
    val mongoOr = org.json4s.JObject(List("$or" -> org.json4s.JArray(List(
      org.json4s.JObject(List("event_date" -> org.json4s.JString("2026-01-01"))),
      org.json4s.JObject(List("event_date" -> org.json4s.JString("2026-01-03")))))))
    val m = DataSkipping.prune(snap, graft.query.MongoFilter.translate(mongoOr, snap.schema))
    assert(m.nonEmpty && m.forall(f =>
      f.path.contains("event_date=2026-01-01") ||
        f.path.contains("event_date=2026-01-03")), m.map(_.path))

    // end-to-end: the OR scan returns the right rows
    val got = spark.read.format("graft-delta").load(dir)
      .where(col("event_date") === java.sql.Date.valueOf("2026-01-01") ||
        col("event_date") === java.sql.Date.valueOf("2026-01-03"))
      .select("id").as[Int].collect().toSet
    assert(got == ((1 to 10) ++ (21 to 30)).toSet, got)
  }
}
