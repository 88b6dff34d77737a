package graft.delta

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.plans.GraftSql

/**
 * Identity columns (`GENERATED {ALWAYS|BY DEFAULT} AS IDENTITY`): appends
 * omitting the column get unique values assigned from the table's
 * high-water mark (advanced in the same commit); ALWAYS refuses explicit
 * values, BY DEFAULT accepts them (without advancing the mark — Delta's
 * documented caveat); DML cannot SET one; racing assigners conflict
 * instead of committing duplicates.
 */
class IdentityColumnsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cat: String = GraftSql.ensure(spark)
  private def sql(q: String) = spark.sql(q)
  private var n = 0
  private def freshTable(): String = synchronized {
    n += 1
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.idn")
    s"$cat.idn.t$n"
  }
  private def deltaOf(t: String): DeltaTable =
    DeltaTable.forPath(spark,
      GraftSql.warehousePath(spark).get + "/idn/" + t.split('.').last)

  test("GENERATED ALWAYS AS IDENTITY assigns unique lattice values across commits") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 100 INCREMENT BY 3), s STRING)")
    sql(s"INSERT INTO $t (s) VALUES ('a'), ('b'), ('c')")
    sql(s"INSERT INTO $t (s) VALUES ('d'), ('e')")
    val rows = sql(s"SELECT rid FROM $t ORDER BY rid").collect().map(_.getLong(0))
    assert(rows.length == 5 && rows.distinct.length == 5)
    assert(rows.forall(v => (v - 100) % 3 == 0 && v >= 100),
      s"values must sit on the (100, +3) lattice: ${rows.toSeq}")
    assert(rows.min == 100 && rows.max == 100 + 3 * 4,
      s"two gap-free appends cover the first 5 lattice points: ${rows.toSeq}")
    // the mark is persisted in the schema
    val hwm = deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey)
    assert(hwm == rows.max)
    // identity is a writer feature: protocol declares writer v6
    assert(deltaOf(t).metaSnapshot().protocol.exists(_.minWriterVersion >= 6))
  }

  test("ALWAYS refuses explicit values; BY DEFAULT accepts and the mark advances past them") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, s STRING)")
    val e = intercept[Exception] { sql(s"INSERT INTO $t VALUES (7, 'x')") }
    assert(e.getMessage.contains("identity"))

    val t2 = freshTable()
    sql(s"CREATE TABLE $t2 (rid BIGINT GENERATED BY DEFAULT AS IDENTITY, s STRING)")
    sql(s"INSERT INTO $t2 (s) VALUES ('a'), ('b')") // assigned 1, 2
    sql(s"INSERT INTO $t2 VALUES (100, 'x')")       // explicit
    // the mark advances PAST explicit values (stricter than Delta, which
    // leaves it behind and documents the collision hazard): next = 101
    sql(s"INSERT INTO $t2 (s) VALUES ('c')")
    val got = sql(s"SELECT rid, s FROM $t2 ORDER BY rid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (100L, "x"), (101L, "c")), got)
    // a NULL under BY DEFAULT also means "assign"
    sql(s"INSERT INTO $t2 VALUES (NULL, 'd')")
    assert(sql(s"SELECT rid FROM $t2 WHERE s = 'd'").head().getLong(0) == 102L)
  }

  test("UPDATE and MERGE cannot SET an identity column; merge inserts allocate omitted values") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED BY DEFAULT AS IDENTITY, s STRING)")
    sql(s"INSERT INTO $t (s) VALUES ('a')") // rid = 1
    val e1 = intercept[Exception] { sql(s"UPDATE $t SET rid = 9 WHERE s = 'a'") }
    assert(e1.getMessage.contains("identity"))
    val dt = deltaOf(t)
    // a source omitting the identity column ALLOCATES from the mark
    // (Delta's MERGE INSERT behavior) instead of refusing
    dt.merge(Seq(("zz")).toDF("s"), Seq("s"),
      Merge.MergeAction.UpdateAll, insertUnmatched = true)
    val afterAlloc = sql(s"SELECT rid, s FROM $t ORDER BY rid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterAlloc == Seq((1L, "a"), (2L, "zz")), afterAlloc)
    // the mark advanced IN the merge commit
    assert(deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey) == 2L)
    // explicit values still work (BY DEFAULT) — and the mark catches up
    // past them in the SAME merge commit, so later appends cannot collide
    dt.merge(Seq((50L, "yy")).toDF("rid", "s"), Seq("s"),
      Merge.MergeAction.UpdateAll, insertUnmatched = true)
    assert(deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey) == 50L)
    sql(s"INSERT INTO $t (s) VALUES ('b')")
    assert(sql(s"SELECT rid FROM $t WHERE s = 'b'").head().getLong(0) == 51L)
    assert(dt.toDF().count() == 4)
  }

  test("GENERATED ALWAYS: merge inserts allocate; clause-provided values refuse") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 10 INCREMENT BY 5), k BIGINT, v STRING)")
    sql(s"INSERT INTO $t (k, v) VALUES (1, 'a'), (2, 'b')") // rid 10, 15
    sql(s"MERGE INTO $t t USING (SELECT 2 AS k, 'B' AS v UNION ALL " +
      "SELECT 3 AS k, 'c' AS v) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val rows = sql(s"SELECT rid, k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((10L, 1L, "a"), (15L, 2L, "B"), (20L, 3L, "c")), rows)
    assert(deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey) == 20L)
    // naming the ALWAYS column in an insert clause refuses
    val e = intercept[Exception] {
      sql(s"MERGE INTO $t t USING (SELECT 9 AS k) s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (rid, k) VALUES (99, s.k)")
    }
    assert(e.getMessage.contains("identity"))
  }

  test("replaceWhere and dynamic overwrite allocate omitted identity values") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, bucket STRING) PARTITIONED BY (bucket)")
    sql(s"INSERT INTO $t (k, bucket) VALUES (1, 'x'), (2, 'y')") // rid 1, 2
    val dt = deltaOf(t)
    // replaceWhere: new region rows get fresh values past the mark
    dt.replaceWhere(Seq((10L, "x"), (11L, "x")).toDF("k", "bucket"),
      col("bucket") === "x")
    val rids = sql(s"SELECT rid FROM $t ORDER BY rid").collect().map(_.getLong(0))
    assert(rids.length == 3 && rids.distinct.length == 3,
      s"replaceWhere must allocate unique values: ${rids.toSeq}")
    assert(dt.metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey) == rids.max)
    // dynamic partition overwrite likewise
    dt.overwritePartitionsDynamic(Seq((20L, "y")).toDF("k", "bucket"))
    val rids2 = sql(s"SELECT rid FROM $t ORDER BY rid").collect().map(_.getLong(0))
    assert(rids2.length == 3 && rids2.distinct.length == 3,
      s"dynamic overwrite must allocate unique values: ${rids2.toSeq}")
  }

  test("identity INSERTs ride the direct write: pre-allocate, task-side files, 1x bytes") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 7 INCREMENT BY 2), s STRING)")
    val before = deltaOf(t).version
    sql(s"INSERT INTO $t (s) VALUES ('a'), ('b'), ('c')")
    assert(deltaOf(t).version == before + 1,
      "one INSERT pre-allocates, writes task-side and commits once")
    val rids = sql(s"SELECT rid FROM $t ORDER BY rid").collect().map(_.getLong(0))
    assert(rids.toSeq == Seq(7L, 9L, 11L), rids.toSeq)
    // the mark advanced in the same commit
    assert(deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey) == 11L)
    // a second append continues the lattice through the same arm
    sql(s"INSERT INTO $t (s) VALUES ('d')")
    assert(deltaOf(t).version == before + 2)
    assert(sql(s"SELECT rid FROM $t WHERE s = 'd'").head().getLong(0) == 13L)
    sql(s"INSERT INTO $t (s) VALUES ('e')")
    assert(sql(s"SELECT count(DISTINCT rid) FROM $t").head().getLong(0) == 5)
  }

  test("identity columns cannot be partition columns; clones keep the writer declaration") {
    // partition columns carry no footer stats → the mark could never
    // advance → silent duplicate values; refused at both entry points
    val t = freshTable()
    val e1 = intercept[Exception] {
      sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, s STRING) " +
        "PARTITIONED BY (rid)")
    }
    assert(e1.getMessage.contains("partition"))
    val t2 = freshTable()
    sql(s"CREATE TABLE $t2 (rid BIGINT GENERATED ALWAYS AS IDENTITY, s STRING)")
    sql(s"INSERT INTO $t2 (s) VALUES ('a')")
    // a clone must carry the source's writer-v6 declaration, or a
    // feature-unaware writer could append without assigning values
    val dst = java.nio.file.Files.createTempDirectory("graft-idn-clone").toString
    val cloned = deltaOf(t2).cloneTo(dst, deep = true)
    assert(cloned.metaSnapshot().protocol.exists(_.minWriterVersion >= 6),
      s"cloned identity table under-declared: ${cloned.metaSnapshot().protocol}")
  }

  test("racing assigners never commit duplicate identity values") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)")
    sql(s"INSERT INTO $t (v) VALUES (0)") // seed so both racers see a mark
    val dt = deltaOf(t)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val fs = (1 to 2).map { w =>
      pool.submit { () =>
        gate.await(10, TimeUnit.SECONDS)
        try Right(dt.write(Seq(w.toLong * 10, w.toLong * 10 + 1).toDF("v")))
        catch { case e: IdentityAllocationConflictException => Left(e) }
      }
    }
    gate.countDown()
    val outcomes = fs.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val rids = sql(s"SELECT rid FROM $t").collect().map(_.getLong(0))
    assert(rids.distinct.length == rids.length,
      s"duplicate identity values committed: ${rids.toSeq}; outcomes=$outcomes")
    // either both serialized cleanly (5 rows) or one lost and threw
    val committed = outcomes.count(_.isRight)
    assert(rids.length == 1 + 2 * committed, s"rows=${rids.length} outcomes=$outcomes")
  }

  test("graft_sync_identity recomputes the mark from data (the repair verb)") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED BY DEFAULT AS IDENTITY, s STRING)")
    sql(s"INSERT INTO $t VALUES (500, 'x'), (510, 'y')") // explicit only
    // simulate an imported/stale mark: explicit values advanced it here,
    // so first force it stale by hand-committing a lower one? Simpler:
    // delete the high rows, then SYNC lowers the mark to the live max.
    sql(s"INSERT INTO $t (s) VALUES ('a')") // assigned 511
    sql(s"DELETE FROM $t WHERE rid >= 510")
    val rows = sql(s"SELECT column, high_water_mark FROM graft_sync_identity('$t')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("rid", 500L)), rows)
    sql(s"INSERT INTO $t (s) VALUES ('b')") // next = 501
    assert(sql(s"SELECT rid FROM $t WHERE s = 'b'").head().getLong(0) == 501L)
  }

  test("model soak: random append/explicit/delete/sync sequences keep values distinct") {
    // Invariant across any operation interleaving: live identity values
    // are always pairwise distinct, and every ASSIGNED value sits on the
    // (start, step) lattice. Deterministic seed, 3 tables × 12 steps.
    val rnd = new scala.util.Random(12L)
    (0 until 3).foreach { ti =>
      val t = freshTable()
      sql(s"CREATE TABLE $t (rid BIGINT GENERATED BY DEFAULT AS IDENTITY " +
        "(START WITH 10 INCREMENT BY 7), v BIGINT)")
      val dt = deltaOf(t)
      var explicitNext = 1000000L // explicit values far from the lattice
      (0 until 12).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => // assigned append, 1-3 rows
            val n = 1 + rnd.nextInt(3)
            dt.write(spark.range(n).toDF("v")); ()
          case 1 => // explicit insert
            explicitNext += 1
            sql(s"INSERT INTO $t VALUES ($explicitNext, -1)"); ()
          case 2 => // delete some rows (possibly none match)
            try { dt.delete(s"""{"v": ${rnd.nextInt(3)}}""") }
            catch { case _: NoMatchedRowsException => () }
          case 3 =>
            dt.syncIdentity(); ()
        }
        val vals = dt.toDF().collect().map(_.getLong(0))
        assert(vals.distinct.length == vals.length,
          s"table $ti: duplicate identity values: ${vals.sorted.toSeq}")
        val assignedVals = vals.filter(_ < 1000000L)
        assert(assignedVals.forall(x => x >= 10 && (x - 10) % 7 == 0),
          s"table $ti: off-lattice assigned value in ${assignedVals.sorted.toSeq}")
      }
    }
  }

  test("negative INCREMENT descends and the mark follows the min") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 0 INCREMENT BY -5), s STRING)")
    sql(s"INSERT INTO $t (s) VALUES ('a'), ('b')")
    sql(s"INSERT INTO $t (s) VALUES ('c')")
    val rows = sql(s"SELECT rid FROM $t ORDER BY rid DESC").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(0L, -5L, -10L), rows.toSeq)
  }

  test("streaming toTable allocates per epoch: unique on-lattice values, mark advances") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 10 INCREMENT BY 5), s STRING)")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idstream").toString
    def runEpochs(): Unit = {
      val q = mem.toDF().toDF("s").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(t)
      q.awaitTermination()
    }
    mem.addData("a", "b", "c")
    runEpochs()
    mem.addData("d", "e")
    runEpochs()
    val rows = sql(s"SELECT s, rid FROM $t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size == 5, s"expected 5 rows, got $rows")
    val vals = rows.values.toSeq
    assert(vals.distinct.size == 5, s"duplicate identity values: $vals")
    assert(vals.forall(v => v >= 10 && (v - 10) % 5 == 0),
      s"values must sit on the (10, +5) lattice: $vals")
    // epoch 2 allocates from the mark epoch 1's commit advanced, so every
    // epoch-2 value clears every epoch-1 value (gaps are fine — Delta's
    // identity contract — but cross-epoch collisions are not)
    val epoch1Max = Seq("a", "b", "c").map(rows).max
    assert(Seq("d", "e").map(rows).min > epoch1Max,
      s"epoch-2 values must allocate above epoch-1's: $rows")
    // the mark is persisted past the furthest value
    val hwm = deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey)
    assert(hwm == vals.max, s"mark $hwm must equal max assigned ${vals.max}")
  }

  test("streaming epoch conflicts when a racer advances the mark between factory and commit") {
    import org.apache.spark.sql.catalyst.InternalRow
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)")
    val dt = deltaOf(t)
    val w = new graft.streaming.GraftDirectWrite(spark, dt.path, "race-q",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))),
      graft.streaming.GraftDirectWrite.Append)
    // epoch factory reads the mark NOW (nextValue = 1)
    val factory = w.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 2
      })
    val writer = factory.createWriter(0, 0L, 0L)
    writer.write(InternalRow(5L))
    writer.write(InternalRow(6L))
    val msg = writer.commit()
    // racer lands an allocation from the SAME mark before our commit
    sql(s"INSERT INTO $t (v) VALUES (99)")
    intercept[IdentityAllocationConflictException] {
      w.commit(0L, Array(msg))
    }
    // the epoch's staged files are deleted; only the racer's row committed,
    // and no duplicate identity value can ever have landed
    val rows = sql(s"SELECT rid, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 99L)), rows.toSeq)
    assert(dt.snapshot().activeFiles.size == 1, "staged epoch files must be gone")
  }

  test("soak: streaming epochs interleaved with racing batch inserts stay duplicate-free") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 0 INCREMENT BY 3), v BIGINT)")
    val mem = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idsoak").toString
    var streamed = 0L
    var batched = 0L
    (1 to 6).foreach { round =>
      mem.addData((1L to 5L).map(round * 100L + _): _*)
      streamed += 5
      // racing batch writer between epochs (advances the mark under the
      // stream's feet; the NEXT epoch's factory must pick the new mark up)
      sql(s"INSERT INTO $t (v) VALUES (${round * 1000})")
      batched += 1
      // a lost race surfaces as a failed AvailableNow run; the restart
      // replays the epoch against a fresh factory — retry like a real
      // pipeline supervisor would
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        try {
          val q = mem.toDS().toDF("v").writeStream
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).toTable(t)
          q.awaitTermination()
          done = true
        } catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
              if attempts < 5 => ()
        }
      }
    }
    val rids = sql(s"SELECT rid FROM $t").collect().map(_.getLong(0))
    assert(rids.length == (streamed + batched).toInt,
      s"rows=${rids.length}, expected ${streamed + batched}")
    assert(rids.distinct.length == rids.length,
      s"duplicate identity values: ${rids.sorted.toSeq}")
    assert(rids.forall(v => v >= 0 && v % 3 == 0),
      s"off-lattice value in ${rids.sorted.toSeq}")
    // the persisted mark covers everything ever assigned
    val hwm = deltaOf(t).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey)
    assert(hwm == rids.max)
  }

  test("streaming toTable: ALWAYS refuses a provided value task-side; BY DEFAULT keeps it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, s STRING)")
    val mem = MemoryStream[(Long, String)]
    mem.addData((7L, "x"))
    val q = mem.toDF().toDF("rid", "s").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-idstream-a").toString)
      .trigger(Trigger.AvailableNow()).toTable(t)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("identity") ||
      Option(e.getCause).exists(_.getMessage.contains("identity")),
      s"expected the task-side identity refusal, got: ${e.getMessage}")
    assert(sql(s"SELECT count(*) FROM $t").head.getLong(0) == 0L,
      "nothing may commit when a task refuses")

    val t2 = freshTable()
    sql(s"CREATE TABLE $t2 (rid BIGINT GENERATED BY DEFAULT AS IDENTITY " +
      "(START WITH 1 INCREMENT BY 1), s STRING)")
    val mem2 = MemoryStream[(java.lang.Long, String)]
    mem2.addData((java.lang.Long.valueOf(100L), "x"), (null, "y"))
    val q2 = mem2.toDF().toDF("rid", "s").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-idstream-d").toString)
      .trigger(Trigger.AvailableNow()).toTable(t2)
    q2.awaitTermination()
    val byS = sql(s"SELECT s, rid FROM $t2").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("x") == 100L, s"explicit BY DEFAULT value must be kept: $byS")
    assert(byS("y") != 100L && byS("y") >= 1L, s"NULL row must be assigned: $byS")
    // the mark catches up past the explicit value in the same commit
    val hwm = deltaOf(t2).metaSnapshot().schema("rid").metadata
      .getLong(IdentityColumns.HighWaterMarkKey)
    assert(hwm == byS.values.max)
  }

  test("batch identity allocation scans the input exactly once (IO audit)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, v BIGINT)")
    // instrument the source: one accumulator tick per partition TRAVERSAL,
    // so a second execution of the plan (the pre-round-15 count+fill double
    // scan) reads 8 instead of 4
    val acc = spark.sparkContext.longAccumulator("graft-src-passes")
    val rdd = spark.sparkContext.parallelize(1L to 1000L, 4)
      .mapPartitions { it => acc.add(1L); it.map(Row(_)) }
    val df = spark.createDataFrame(rdd,
      StructType(Seq(StructField("v", LongType))))
    df.createOrReplaceTempView("idn_one_pass_src")
    sql(s"INSERT INTO $t (v) SELECT v FROM idn_one_pass_src")
    assert(acc.value == 4L,
      "identity allocation must traverse each input partition once " +
        s"(4 partitions); saw ${acc.value} traversals")
    // and the allocation contract is untouched: gap-free, row-ordered
    val rids = sql(s"SELECT rid FROM $t ORDER BY rid").collect().map(_.getLong(0))
    assert(rids.length == 1000 && rids.head == 1L && rids.last == 1000L &&
      rids.distinct.length == 1000)
  }
}
