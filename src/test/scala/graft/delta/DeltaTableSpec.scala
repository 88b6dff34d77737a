package graft.delta

import graft.SparkTestBase
import java.nio.file.Files

class DeltaTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpTable(): DeltaTable =
    DeltaTable.forPath(spark, Files.createTempDirectory("graft-delta").toString)

  test("future-version time travel does not poison the snapshot cache") {
    val t = tmpTable()
    // A version that doesn't exist yet replays (and mislabels) the current
    // state — but must NOT enter the incremental cache: once the table
    // really reaches that version, a poisoned cache would serve the phantom
    // and silently drop every commit in between.
    assert(t.asOf(3).count() == 0) // empty table, phantom v3
    (0 until 4).foreach(i => t.write(Seq((i, s"v$i")).toDF("id", "s")))
    assert(t.toDF().count() == 4) // v3 is now real: all four commits visible
    assert(t.asOf(3).as[(Int, String)].collect().toMap ==
      (0 until 4).map(i => i -> s"v$i").toMap)
    // and the cache extends correctly past it
    t.write(Seq((9, "x")).toDF("id", "s"))
    assert(t.toDF().count() == 5)
  }

  test("append + read round-trip, commit layout") {
    val t = tmpTable()
    val v0 = t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    assert(v0 == 0)
    val v1 = t.write(Seq((3, "c")).toDF("id", "s"))
    assert(v1 == 1)
    val got = t.toDF().orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
    // protocol + metaData in commit 0; 20-digit zero-padded names
    assert(t.log.fs.exists(t.log.commitFile(0)))
    assert(t.log.commitFile(0).getName == "0" * 19 + "0.json")
    val actions0 = t.log.readCommit(0)
    assert(actions0.exists(_.isInstanceOf[Protocol]))
    assert(actions0.exists(_.isInstanceOf[TableMetadata]))
    assert(actions0.exists(_.isInstanceOf[AddFile]))
  }

  test("add actions carry stats (numRecords/min/max/nullCount)") {
    val t = tmpTable()
    t.write(Seq((1, Some("a")), (2, None), (5, Some("z"))).toDF("id", "s"))
    val adds = t.snapshot().activeFiles
    val stats = adds.flatMap(_.parsedStats)
    assert(stats.map(_.numRecords).sum == 3)
    val all = stats.flatMap(_.nullCount.get("s"))
    assert(all.sum == 1)
  }

  test("overwrite replaces the active set, old version still readable") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.write(Seq((9, "x")).toDF("id", "s"), mode = "overwrite")
    assert(t.toDF().as[(Int, String)].collect().toSeq == Seq((9, "x")))
    // time travel to version 0
    assert(t.asOf(0).as[(Int, String)].collect().toSeq == Seq((1, "a")))
  }

  test("schema evolution: new column appended, old rows read null; int widens to long") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.write(Seq((2L, "b", 7.5)).toDF("id", "s", "score"))
    val snap = t.snapshot()
    assert(snap.schema.fieldNames.toSeq == Seq("id", "s", "score"))
    assert(snap.schema("id").dataType.typeName == "long")
    val got = t.toDF().orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(7.5))))
  }

  test("incompatible schema change is rejected") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    intercept[SchemaValidationException] {
      t.write(Seq((true, "b")).toDF("id", "s"))
    }
  }

  test("partitioned write uses hive layout; query prunes partitions and stats") {
    val t = tmpTable()
    val df = Seq(
      (1, "US", 10.0), (2, "US", 20.0), (3, "DE", 30.0), (4, "FR", 40.0)
    ).toDF("id", "country", "amount")
    t.write(df, partitionBy = Seq("country"))
    val snap = t.snapshot()
    assert(snap.activeFiles.forall(_.path.contains("country=")))
    assert(snap.activeFiles.exists(_.partitionValues.get("country").contains("US")))
    // partition pruning: only US files survive
    val pruned = DataSkipping.prune(snap,
      graft.query.MongoFilter.column("""{"country":"US"}""", snap.schema))
    assert(pruned.nonEmpty && pruned.forall(_.partitionValues("country") == "US"))
    // query returns correct rows incl. partition column
    val got = t.query("""{"country":"US"}""").orderBy("id")
      .selectExpr("id", "country", "amount")
      .as[(Int, String, Double)].collect().toSeq
    assert(got == Seq((1, "US", 10.0), (2, "US", 20.0)))
    // stats pruning on the data column
    val pruned2 = DataSkipping.prune(snap,
      graft.query.MongoFilter.column("""{"amount":{"$gt":1000}}""", snap.schema))
    assert(pruned2.isEmpty)
  }

  test("null-eq pruning keeps files with MIXED null/non-null values") {
    val t = tmpTable()
    // One file with mixed null/non-null, one with no nulls at all.
    t.write(Seq((1, Some("a")), (2, None), (3, Some("c"))).toDF("id", "s"))
    t.write(Seq((4, Some("d")), (5, Some("e"))).toDF("id", "s"))
    val snap = t.snapshot()
    val f = graft.query.MongoFilter.column("""{"s":{"$eq":null}}""", snap.schema)
    val pruned = DataSkipping.prune(snap, f)
    // The mixed file (nullCount=1) must survive; the null-free file may prune.
    assert(pruned.size == 1)
    assert(pruned.head.parsedStats.exists(_.nullCount.get("s").contains(1L)))
    // End-to-end: the null row is returned.
    assert(t.query("""{"s":{"$eq":null}}""").selectExpr("id")
      .as[Int].collect().toSeq == Seq(2))
    // $in with null goes through the same path.
    assert(t.query("""{"s":{"$in":[null,"d"]}}""").selectExpr("id")
      .orderBy("id").as[Int].collect().toSeq == Seq(2, 4))
  }

  test("timestamp stats are canonical UTC micros and prune without boundary loss") {
    val t = tmpTable()
    val ts = java.time.LocalDateTime.of(2024, 1, 1, 12, 0, 0) // :00 seconds
    t.write(Seq((1, ts), (2, ts.plusHours(1))).toDF("id", "ts"))
    val snap = t.snapshot()
    val stats = snap.activeFiles.flatMap(_.parsedStats)
    // Fixed-precision serialization: '…T12:00:00.000000', never '…T12:00'.
    val mins = stats.flatMap(_.minValues.get("ts")).collect {
      case org.json4s.JString(s) => s }
    assert(mins.nonEmpty && mins.forall(_.matches(
      raw"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}")))
    // A $lte at EXACTLY the max bound must keep the file (old lexicographic
    // compare of '…T13:00' vs '…T13:00:00' pruned it).
    val keep = DataSkipping.prune(snap, graft.query.MongoFilter.column(
      """{"ts":{"$gte":"2024-01-01T13:00:00"}}""", snap.schema))
    assert(keep.size == 1)
    assert(t.query("""{"ts":{"$gte":"2024-01-01T13:00:00"}}""")
      .selectExpr("id").as[Int].collect().toSeq == Seq(2))
    // Out-of-range predicate still prunes everything.
    assert(DataSkipping.prune(snap, graft.query.MongoFilter.column(
      """{"ts":{"$gt":"2024-01-01T13:00:00"}}""", snap.schema)).isEmpty)
  }

  test("fallback checkpoint discovery recovers multi-part layout without the pointer") {
    val t = tmpTable()
    t.checkpointInterval = 0 // manual
    (0 until 5).foreach(i => t.write(Seq((i, s"v$i")).toDF("id", "s")))
    // Multi-part checkpoint at v4 (2 actions per part), then drop the pointer.
    Checkpoints.write(spark, t.log, t.snapshot(), actionsPerPart = 2L)
    t.log.fs.delete(t.log.lastCheckpointFile, false)
    assert(Checkpoints.partsFor(t.log, 4).exists(_ > 1))
    // Snapshot resolves through the discovered parts (and replays nothing).
    assert(t.snapshot().activeFiles.size == 5)
    assert(t.toDF().count() == 5)
    // Time travel below a pointer that lags also uses discovery: write the
    // pointer back for v4 then ask for v4 explicitly.
    assert(t.asOf(4).count() == 5)
  }

  test("delete is copy-on-write and errors when nothing matches") {
    val t = tmpTable()
    t.write((1 to 100).map(i => (i, i % 5)).toDF("id", "g"))
    val r = t.delete("""{"g":0}""")
    assert(r.rowsAffected == 20)
    assert(t.toDF().count() == 80)
    assert(t.toDF().filter($"g" === 0).count() == 0)
    intercept[IllegalArgumentException] { t.delete("""{"g":99}""") }
    // old version intact
    assert(t.asOf(r.version - 1).count() == 100)
  }

  test("Mongo delete keeps the rows its filter evaluates to NULL on") {
    val t = tmpTable()
    // one file holding a match, a non-match and a NULL the filter cannot
    // decide: only the match may go
    t.write(Seq((1, Some(10)), (2, Some(1)), (3, None)).toDF("id", "a").coalesce(1))
    val r = t.delete("""{"a":{"$gt":5}}""")
    assert(r.rowsAffected == 1)
    assert(t.toDF().select("id").as[Int].collect().toSet == Set(2, 3))
  }

  test("update patches matching rows in place") {
    val t = tmpTable()
    t.write(Seq((1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)).toDF("id", "s", "x"))
    val r = t.update("""{"s":"a"}""", """{"x": 99.5}""")
    assert(r.rowsAffected == 2)
    val got = t.toDF().orderBy("id").as[(Int, String, Double)].collect().toSeq
    assert(got == Seq((1, "a", 99.5), (2, "b", 2.0), (3, "a", 99.5)))
  }

  test("checkpoint + snapshot from checkpoint + replay tail") {
    val t = tmpTable()
    t.checkpointInterval = 4
    (0 until 6).foreach(i => t.write(Seq((i, s"v$i")).toDF("id", "s")))
    // interval 4 → checkpoint at v3 ((3+1)%4==0)
    assert(t.log.readLastCheckpoint().exists(_._1 == 3))
    assert(t.log.fs.exists(t.log.checkpointFile(3)))
    // snapshot must replay checkpoint + commits 4..5
    val snap = t.snapshot()
    assert(snap.version == 5)
    assert(t.toDF().count() == 6)
    // time travel below the checkpoint still works (commits retained)
    assert(t.asOf(1).count() == 2)
  }

  test("concurrent commit attempt raises ConcurrencyException after retries") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    // Manually occupy the next version to force a conflict.
    t.log.writeCommit(1, Seq(CommitInfo(0L, "SQUAT")))
    intercept[ConcurrencyException] {
      t.log.writeCommit(1, Seq(CommitInfo(0L, "LOSER")))
    }
    // The table-level writer retries onto version 2 and succeeds.
    val v = t.write(Seq((2, "b")).toDF("id", "s"))
    assert(v == 2)
    assert(t.toDF().count() == 2)
  }

  test("mongo query end-to-end over a delta table") {
    val t = tmpTable()
    t.write(Seq(
      (1, "red", 10.0), (2, "blue", 20.0), (3, "red", 30.0), (4, "green", 40.0)
    ).toDF("id", "color", "price"))
    val got = t.query("""{"color":{"$in":["red","green"]},"price":{"$gte":20}}""")
      .orderBy("id").selectExpr("id").as[Int].collect().toSeq
    assert(got == Seq(3, 4))
    val projected = t.query("""{}""", Some("""{"id":1,"color":1}"""))
    assert(projected.columns.toSeq == Seq("id", "color"))
  }

  test("history lists commits newest-first with operations and timestamps") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.write(Seq((2, "b")).toDF("id", "s"))
    t.delete("""{"id": 1}""")
    val h = t.describeHistory()
    assert(h.map(_._1) == Seq(2L, 1L, 0L))
    assert(h.head._3 == "DELETE" && h.last._3 == "WRITE")
    assert(h.map(_._2).reverse == h.map(_._2).reverse.sorted) // non-decreasing in time
    assert(t.describeHistory(limit = 1).map(_._1) == Seq(2L))
  }

  test("string pruning uses UTF-8 byte order (supplementary plane vs BMP)") {
    val t = tmpTable()
    // "😀" (U+1F600, supplementary) sorts ABOVE "！" (U+FF01) in UTF-8 byte
    // order (the engine's comparison) but BELOW it in UTF-16 code-unit
    // order — a UTF-16 pruner would drop the file and lose the row.
    t.write(Seq((1, "😀")).toDF("id", "s"))
    val filter = s"""{"s":{"$$gte":"${'！'}"}}"""
    assert(t.query(filter).count() == 1)
  }

  test("footer stats match aggregation-scan stats exactly") {
    import org.apache.spark.sql.functions._
    val t = tmpTable()
    // numeric, string, timestamp, boolean, and an all-null column — every
    // statable shape the footer path must reproduce bit-for-bit
    val df = (1 to 500).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"v$i", i * 1.5 - 300.0, i % 2 == 0)
    }.toDF("id", "s", "d", "b")
      .withColumn("ts", timestamp_micros(col("id") * 1000000L + 1700000000000000L)
        .cast("timestamp_ntz"))
      .withColumn("allnull", lit(null).cast("string"))
    t.write(df)
    val snap = t.snapshot()
    val fromFooters = snap.activeFiles.map(a => a.path -> a.stats.get).toMap
    val viaAgg = t.attachStatsViaAgg(
        snap.activeFiles.map(_.copy(stats = None)), Nil, snap.schema)
      .map(a => a.path -> a.stats.get).toMap
    assert(fromFooters.keySet == viaAgg.keySet)
    fromFooters.foreach { case (p, fj) =>
      val f = FileStats.fromJsonString(fj).get
      val g = FileStats.fromJsonString(viaAgg(p)).get
      assert(f.numRecords == g.numRecords, s"numRecords differ for $p")
      assert(f.minValues == g.minValues, s"minValues differ for $p:\n$f\n$g")
      assert(f.maxValues == g.maxValues, s"maxValues differ for $p:\n$f\n$g")
      assert(f.nullCount == g.nullCount, s"nullCount differ for $p:\n$f\n$g")
    }
    // pruning still works off the footer stats: selective range query reads
    // a strict subset of files
    val pruned = DataSkipping.prune(snap,
      graft.query.MongoFilter.column("""{"id":{"$lte":3}}""", snap.schema))
    assert(pruned.size < snap.activeFiles.size)
  }
}
