package graft.delta

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._

class MergeCdcSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpTable(): DeltaTable =
    DeltaTable.forPath(spark, Files.createTempDirectory("graft-merge").toString)

  test("merge upserts: updates matched, inserts unmatched, leaves rest") {
    val t = tmpTable()
    t.write(Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "s", "x"))
    val source = Seq((2, "B!", 99.0), (4, "d", 40.0)).toDF("id", "s", "x")
    val r = t.merge(source, Seq("id"))
    assert(r.updated == 1 && r.inserted == 1 && r.deleted == 0)
    val got = t.toDF().orderBy("id").as[(Int, String, Double)].collect().toSeq
    assert(got == Seq((1, "a", 10.0), (2, "B!", 99.0), (3, "c", 30.0), (4, "d", 40.0)))
  }

  test("merge first-match semantics: duplicate source keys collapse") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    val source = Seq((1, "first"), (1, "second")).toDF("id", "s")
    val r = t.merge(source, Seq("id"))
    assert(r.updated == 1 && r.inserted == 0)
    assert(t.toDF().count() == 1)
  }

  test("merge with Delete action removes matched rows") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    val r = t.merge(Seq((2, "x")).toDF("id", "s"), Seq("id"),
      matched = Merge.MergeAction.Delete, insertUnmatched = false)
    assert(r.deleted == 1 && r.inserted == 0)
    assert(t.toDF().orderBy("id").select("id").as[Int].collect().toSeq == Seq(1, 3))
  }

  test("merge UpdateSet overwrites only chosen columns") {
    val t = tmpTable()
    t.write(Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "s", "x"))
    val r = t.merge(Seq((1, "zzz", 100.0)).toDF("id", "s", "x"), Seq("id"),
      matched = Merge.MergeAction.UpdateSet(Map("x" -> lit(-1.0))),
      insertUnmatched = false)
    assert(r.updated == 1)
    val got = t.toDF().orderBy("id").as[(Int, String, Double)].collect().toSeq
    assert(got == Seq((1, "a", -1.0), (2, "b", 2.0))) // s untouched
  }

  test("closure merge: arbitrary whenMatched/whenNotMatched row functions") {
    import org.apache.spark.sql.Row
    val t = tmpTable()
    t.write(Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "s", "x"))
    val source = Seq((1, 5.0), (2, -1.0), (4, 40.0), (5, -1.0)).toDF("id", "delta")
    val r = Merge.executeWith(t, source, Seq("id"))(
      whenMatched = (existing, incoming) => {
        val d = incoming.getDouble(incoming.fieldIndex("delta"))
        if (d < 0) None // negative delta = delete, like the reference's null
        else Some(Row(existing.getInt(0), existing.getString(1),
          existing.getDouble(2) + d))
      },
      whenNotMatched = incoming => {
        val d = incoming.getDouble(incoming.fieldIndex("delta"))
        if (d < 0) None // skip
        else Some(Row(incoming.getInt(incoming.fieldIndex("id")), "new", d))
      })
    assert(r.updated == 1 && r.deleted == 1 && r.inserted == 1)
    val got = t.toDF().orderBy("id").as[(Int, String, Double)].collect().toSeq
    assert(got == Seq((1, "a", 15.0), (3, "c", 30.0), (4, "new", 40.0)))
  }

  test("merge null-key source row applies exactly once (update, not insert)") {
    val t = tmpTable()
    t.write(Seq[(Option[Int], String)]((Some(1), "a"), (None, "nullrow")).toDF("id", "s"))
    // The matched join is null-safe (`<=>`), so the null-key source row
    // matches the null-key target row; the insert anti-join must use the
    // SAME semantics or the row is ALSO inserted (null = null is null under
    // plain equality, so it would survive a plain anti-join).
    val source = Seq[(Option[Int], String)]((None, "UPDATED"), (Some(2), "new")).toDF("id", "s")
    val r = t.merge(source, Seq("id"))
    assert(r.updated == 1 && r.inserted == 1 && r.deleted == 0)
    val got = t.toDF().orderBy(col("id").asc_nulls_first)
      .as[(Option[Int], String)].collect().toSeq
    assert(got == Seq((None, "UPDATED"), (Some(1), "a"), (Some(2), "new")))
  }

  test("merge null-key source row inserts once when no null-key target exists") {
    val t = tmpTable()
    t.write(Seq[(Option[Int], String)]((Some(1), "a")).toDF("id", "s"))
    val r = t.merge(Seq[(Option[Int], String)]((None, "n")).toDF("id", "s"), Seq("id"))
    assert(r.updated == 0 && r.inserted == 1)
    assert(t.toDF().count() == 2)
  }

  test("closure merge null-key source row applies exactly once; counts from data") {
    import org.apache.spark.sql.Row
    val t = tmpTable()
    t.write(Seq[(Option[Int], String)]((Some(1), "a"), (None, "nullrow"), (Some(3), "c"))
      .toDF("id", "s"))
    val source = Seq[(Option[Int], String)]((None, "UPD"), (Some(3), "del"), (Some(4), "new"))
      .toDF("id", "s")
    val r = Merge.executeWith(t, source, Seq("id"))(
      whenMatched = (existing, incoming) => {
        val s = incoming.getString(incoming.fieldIndex("s"))
        if (s == "del") None else Some(Row(existing.get(0), s))
      },
      whenNotMatched = incoming => Some(Row(incoming.get(0), "ins")))
    // null-key row updated (once), id=3 deleted, id=4 inserted — and the
    // updated/deleted split is derived from written row counts, not an
    // accumulator.
    assert(r.updated == 1 && r.deleted == 1 && r.inserted == 1)
    val got = t.toDF().orderBy(col("id").asc_nulls_first)
      .as[(Option[Int], String)].collect().toSeq
    assert(got == Seq((None, "UPD"), (Some(1), "a"), (Some(4), "ins")))
  }

  test("merge into a table with an EMPTY active set inserts everything") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Schema-first table (metaData commit, zero add actions — how another
    // writer creates a table before its first write): the scan is an empty
    // local relation where `_metadata` cannot resolve, so the merge paths
    // must short-circuit to insert-only.
    def emptyTable(): DeltaTable = {
      val t = tmpTable()
      val schema = StructType(Seq(
        StructField("id", IntegerType), StructField("s", StringType)))
      t.log.writeCommit(0, Seq[Action](Protocol(),
        TableMetadata(id = "empty", schemaString = schema.json),
        CommitInfo(0L, "CREATE")))
      assert(t.snapshot().activeFiles.isEmpty)
      t
    }
    val t = emptyTable()
    val r = t.merge(Seq((2, "b"), (3, "c")).toDF("id", "s"), Seq("id"))
    assert(r.updated == 0 && r.deleted == 0 && r.inserted == 2)
    assert(t.toDF().orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((2, "b"), (3, "c")))
    // closure and condition variants short-circuit the same way
    val t2 = emptyTable()
    val r2 = Merge.executeWith(t2, Seq((5, "e")).toDF("id", "s"), Seq("id"))(
      whenMatched = (e, _) => Some(e),
      whenNotMatched = in => Some(Row(in.getInt(0), "ins")))
    assert(r2.inserted == 1 && t2.toDF().count() == 1)
    val t3 = emptyTable()
    val r3 = t3.mergeWithCondition(Seq((7, "g")).toDF("id", "s"), lit(true))
    assert(r3.inserted == 1 && t3.toDF().count() == 1)
  }

  test("condition merge: arbitrary theta predicate updates, inserts, deletes") {
    val t = tmpTable()
    t.write(Seq((1, 10.0, "a"), (2, 50.0, "b"), (3, 90.0, "c")).toDF("id", "x", "s"))
    // Non-equi condition: a source row matches any target with x below its
    // threshold AND the same parity — no key equality anywhere.
    val source = Seq((0, 60.0, "low"), (1, 100.0, "odd")).toDF("par", "threshold", "tag")
    val cond = col("t.x") < col("s.threshold") &&
      pmod(col("t.id"), lit(2)) === col("s.par")
    // UpdateSet: overwrite s with the source tag
    val r = t.mergeWithCondition(source, cond,
      matched = Merge.MergeAction.UpdateSet(Map("s" -> col("__src.tag"))),
      insertUnmatched = false)
    // Reference semantics: each incoming row binds to its FIRST matching
    // existing row. "low" (even, th=60) → target 2; "odd" (odd, th=100)
    // matches targets 1 and 3 but claims only target 1 (first in table
    // order). Target 3 stays untouched.
    assert(r.updated == 2 && r.inserted == 0 && r.deleted == 0)
    val got = t.toDF().orderBy("id").as[(Int, Double, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1, 2, 3))
    assert(got(0)._3 == "odd" && got(1)._3 == "low" && got(2)._3 == "c")
  }

  test("condition merge: unmatched source inserts; Delete removes matched") {
    val t = tmpTable()
    t.write(Seq((1, 10.0, "a"), (2, 50.0, "b")).toDF("id", "x", "s"))
    // matches nothing (threshold below every x) → insert path only
    val src = Seq((7, 5.0, "new")).toDF("id", "x", "s")
    val r = t.mergeWithCondition(src, col("t.x") < col("s.x"))
    assert(r.updated == 0 && r.inserted == 1)
    assert(t.toDF().count() == 3)
    // Delete action: remove every target with x above the source threshold
    val r2 = t.mergeWithCondition(Seq(40.0).toDF("threshold"),
      col("t.x") > col("s.threshold"),
      matched = Merge.MergeAction.Delete, insertUnmatched = false)
    assert(r2.deleted == 1) // only x=50 exceeds 40
    assert(t.toDF().orderBy("id").select("id").as[Int].collect().toSeq == Seq(1, 7))
  }

  test("condition merge: a source row claims only its FIRST matching target") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    // one source row matching EVERY target: sequential semantics bind it to
    // the first existing row only; the others stay untouched
    val r = t.mergeWithCondition(Seq("X").toDF("tag"), lit(true),
      matched = Merge.MergeAction.UpdateSet(Map("s" -> col("__src.tag"))),
      insertUnmatched = false)
    assert(r.updated == 1)
    val got = t.toDF().orderBy("id").select("s").as[String].collect().toSeq
    assert(got.count(_ == "X") == 1 && got.size == 3)
  }

  test("CDC: inserts, deletes, update pre/post images captured with versions") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s")) // v0, pre-CDC
    t.enableCDC() // v1
    t.write(Seq((4, "d")).toDF("id", "s")) // v2: insert
    t.delete("""{"id":1}""") // v3: delete
    t.update("""{"id":2}""", """{"s":"B"}""") // v4: pre+post
    val changes = t.changes(2, 4)
    val byType = changes.groupBy(Cdc.ChangeType).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    // version column present and correct
    val vIns = changes.filter(col(Cdc.ChangeType) === "insert")
      .select(Cdc.CommitVersion).as[Long].head()
    assert(vIns == 2L)
    // pre/post carry old/new values
    val pre = changes.filter(col(Cdc.ChangeType) === "update_preimage")
      .select("s").as[String].head()
    val post = changes.filter(col(Cdc.ChangeType) === "update_postimage")
      .select("s").as[String].head()
    assert(pre == "b" && post == "B")
    // dual date-partitioned layout exists
    val dir = Cdc.changeDataDir(t.tablePath)
    assert(t.log.fs.listStatus(dir).exists(_.getPath.getName.startsWith("date=")))
  }

  test("CDC consumer: poll + commit offsets, resume") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.enableCDC()
    t.write(Seq((2, "b")).toDF("id", "s"))
    val c = t.newConsumer("g1")
    val first = c.poll()
    assert(first.isDefined)
    assert(first.get.filter(col(Cdc.ChangeType) === "insert").count() == 1)
    c.commit()
    assert(c.poll().isEmpty) // nothing new
    t.write(Seq((3, "c")).toDF("id", "s"))
    val next = c.poll()
    assert(next.isDefined && next.get.select("id").as[Long].collect().toSeq == Seq(3L))
    // a second consumer group starts from the beginning
    val c2 = t.newConsumer("g2")
    assert(c2.poll().isDefined)
  }

  test("CDC read sniffs formats: foreign NDJSON files union with parquet") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s")) // v0
    t.enableCDC() // v1
    t.write(Seq((2, "b")).toDF("id", "s")) // v2: insert captured as parquet
    // a JSON CDC file as another tool would write it (reference sniffs
    // content, cdc/index.ts:1462-1558)
    val dir = Cdc.changeDataDir(t.tablePath)
    val jsonFile = new org.apache.hadoop.fs.Path(dir, f"cdc-${3L}%020d.json")
    val out = t.log.fs.create(jsonFile, true)
    out.write(
      """{"id": 9, "s": "z", "_change_type": "insert", "_commit_version": 3, "_commit_timestamp": "2026-01-01T00:00:00Z"}
        |""".stripMargin.getBytes("UTF-8"))
    out.close()
    val changes = Cdc.readByVersion(t, 2, 3)
    assert(changes.count() == 2)
    val ids = changes.select("id").as[Long].collect().toSet
    assert(ids == Set(2L, 9L))
    val vNine = changes.filter(col("id") === 9)
      .select(Cdc.CommitVersion).as[Long].head()
    assert(vNine == 3L)
  }

  test("readByTimestamp filters and sorts ascending") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.enableCDC()
    t.write(Seq((2, "b")).toDF("id", "s"))
    t.write(Seq((3, "c")).toDF("id", "s"))
    val now = System.currentTimeMillis()
    val df = t.changesByTimestamp(0L, now + 60000)
    assert(df.count() == 2)
  }

  test("MERGE on a CDF table: pre/post images + inserts captured in ONE version") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    t.enableCDC()
    val r = t.merge(Seq((2, "B"), (3, "c")).toDF("id", "s"), Seq("id"))
    assert(r.updated == 1 && r.inserted == 1)
    val ch = t.changes(r.version, r.version)
    val byType = ch.groupBy(Cdc.ChangeType).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "insert" -> 1L))
    assert(ch.filter(col(Cdc.ChangeType) === "update_preimage")
      .select("s").as[String].head() == "b")
    assert(ch.filter(col(Cdc.ChangeType) === "update_postimage")
      .select("s").as[String].head() == "B")
    assert(ch.filter(col(Cdc.ChangeType) === "insert")
      .select("id").as[Int].head() == 3)
    // atomicity: the update AND the insert share one commit version
    assert(ch.select(Cdc.CommitVersion).distinct().as[Long].collect().toSeq ==
      Seq(r.version))
  }

  test("MoR MERGE and Delete-action MERGE capture CDC change rows") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    t.enableCDC()
    val r1 = t.mergeWithDV(Seq((1, "A"), (4, "d")).toDF("id", "s"), Seq("id"))
    val ch1 = t.changes(r1.version, r1.version)
    val types1 = ch1.groupBy(Cdc.ChangeType).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(types1 == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "insert" -> 1L))
    val r2 = t.merge(Seq((2, "x")).toDF("id", "s"), Seq("id"),
      matched = Merge.MergeAction.Delete, insertUnmatched = false)
    val ch2 = t.changes(r2.version, r2.version)
    assert(ch2.filter(col(Cdc.ChangeType) === "delete")
      .select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("MergeResult.version is the merge's own commit, not a later writer's") {
    val t = tmpTable()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    t.enableCDC()
    val start = t.version
    // The UPDATE SET value is a UDF. The CDC post-image re-evaluates it
    // after the merge committed; on that evaluation it lands a
    // commitInfo-only commit, as a concurrent writer would.
    var landed = false
    MergeCdcSpec.onEval = () => MergeCdcSpec.synchronized {
      if (!landed && t.log.latestVersion() == start + 1) {
        landed = true
        t.log.writeCommit(start + 2,
          Seq[Action](CommitInfo(System.currentTimeMillis(), "CONCURRENT")))
      }
    }
    val probe = udf((s: String) => { MergeCdcSpec.onEval(); s + "!" })
    val r = try t.merge(Seq((1, "x")).toDF("id", "s"), Seq("id"),
        matched = Merge.MergeAction.UpdateSet(Map("s" -> probe(col("__src.s")))),
        insertUnmatched = false)
      finally MergeCdcSpec.onEval = () => ()
    assert(landed && t.version == start + 2)
    assert(r.updated == 1 && r.version == start + 1)
    assert(t.changes(r.version, r.version).groupBy(Cdc.ChangeType).count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap ==
      Map("update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("theta merge releases its persisted frames when the write throws") {
    val t = tmpTable()
    t.write(Seq((1, 10.0), (2, 50.0)).toDF("id", "x"))
    t.addCheckConstraint("xpos", "x > 0")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[ValidationException] {
      t.mergeWithCondition(Seq(20.0).toDF("cut"), col("t.x") < col("s.cut"),
        matched = Merge.MergeAction.UpdateSet(Map("x" -> lit(-1.0))),
        insertUnmatched = false)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"merge left persisted RDDs $leaked")
    assert(t.toDF().orderBy("id").select("x").as[Double].collect().toSeq ==
      Seq(10.0, 50.0))
  }

  test("foreign _cdc_config.json sidecar enables capture; table configuration wins when present") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    assert(!t.cdcEnabled)
    // a reference-written table records enablement ONLY in the sidecar
    t.log.writeString(
      new org.apache.hadoop.fs.Path(t.tablePath, "_cdc_config.json"),
      """{"enabled":true}""", overwrite = true)
    assert(t.cdcEnabled)
    val v = t.write(Seq((2, "b")).toDF("id", "s"))
    val changes = t.changes(v, v)
    assert(changes.filter(col(Cdc.ChangeType) === "insert").count() == 1)
    // explicit configuration overrides the sidecar
    t.updateConfiguration(Map(Cdc.EnableKey -> "false"))
    assert(!t.cdcEnabled)
    val v2 = t.write(Seq((3, "c")).toDF("id", "s"))
    intercept[IllegalArgumentException] { t.changes(v2, v2) }
  }

  test("enableCDC mirrors enablement into the reference's sidecar files") {
    val t = tmpTable()
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.enableCDC()
    assert(t.log.fs.exists(
      new org.apache.hadoop.fs.Path(t.tablePath, "_cdc_config.json")))
    assert(t.log.readString(
      new org.apache.hadoop.fs.Path(t.tablePath, "_cdc_config.json"))
      .contains("\"enabled\":true"))
    assert(t.log.fs.exists(
      new org.apache.hadoop.fs.Path(t.log.logPath, "_cdc_properties.json")))
  }
}

object MergeCdcSpec {
  /** Called by a test UDF on every evaluation (executors share the JVM in
    * local mode). */
  @volatile var onEval: () => Unit = () => ()
}
