package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.plans.GraftSql
import graft.streaming.GraftDirectWrite

/**
 * Catalog batch writes plan as a DSv2 direct write: Spark's own write
 * execs run the engine's task writers, which land parquet under final
 * names in the table layout, and the driver makes one metadata commit.
 * Row contracts (CHECK constraints, the REPLACE WHERE region) are
 * enforced task-side.
 */
class DirectBatchWriteSpec extends SparkTestBase {

  private lazy val cat: String = GraftSql.ensure(spark)
  private def sql(q: String) = spark.sql(q)

  private var n = 0
  private def freshTable(): String = synchronized {
    n += 1; s"$cat.dwrite.t$n"
  }
  private def setup(): Unit = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dwrite"); ()
  }

  private def tablePath(t: String): String =
    GraftSql.warehousePath(spark).get + "/dwrite/" + t.split('.').last

  test("INSERT INTO routes through the direct write and lands correct rows") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, s STRING)")
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) FROM range(1000)")
    assert(GraftDirectWrite.batchCommits.get() > before,
      "batch INSERT INTO should take the direct write path")
    assert(sql(s"SELECT count(*), sum(id) FROM $t").head().toSeq ==
      Seq(1000L, (0L until 1000L).sum))
  }

  test("INSERT OVERWRITE truncate-overwrites through the direct write, atomically") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    sql(s"INSERT INTO $t SELECT id FROM range(50)")
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"INSERT OVERWRITE $t SELECT id FROM range(100, 107)")
    assert(GraftDirectWrite.batchCommits.get() > before)
    assert(sql(s"SELECT min(id), max(id), count(*) FROM $t").head().toSeq ==
      Seq(100L, 106L, 7L))
    // pre-overwrite state stays time-travelable
    val dt = graft.delta.DeltaTable.forPath(spark, tablePath(t))
    assert(dt.toDF(dt.snapshot(Some(dt.version - 1))).count() == 50)
    // history names the operation like DeltaTable.write would — the audit
    // trail must not differ by write path for the same statement
    val op = dt.log.readCommit(dt.version).collectFirst {
      case c: graft.delta.CommitInfo => c.operation
    }
    assert(op.contains("WRITE-OVERWRITE"),
      s"direct-path INSERT OVERWRITE logged $op, expected WRITE-OVERWRITE")
  }

  test("partitioned INSERT lands the Hive layout and prunes by partition") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"INSERT INTO $t SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(100)")
    assert(GraftDirectWrite.batchCommits.get() > before)
    assert(sql(s"SELECT count(*) FROM $t WHERE p = 'even'").head().getLong(0) == 50)
    val dt = graft.delta.DeltaTable.forPath(spark, tablePath(t))
    assert(dt.snapshot().activeFiles.forall(f =>
      f.path.startsWith("p=even/") || f.path.startsWith("p=odd/")),
      "direct write must land files inside Hive partition directories")
  }

  test("CHECK-constraint tables write DIRECT; violations abort task-side with no partial files") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delta.constraints.pos' = 'id >= 0')")
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"INSERT INTO $t VALUES (1), (2)")
    assert(GraftDirectWrite.batchCommits.get() > before,
      "constrained tables enforce task-side and take the direct path (round-12)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
    val dt = graft.delta.DeltaTable.forPath(spark, tablePath(t))
    val v = dt.version
    val err = intercept[Exception] { sql(s"INSERT INTO $t VALUES (7), (-5)") }
    assert(err.getMessage != null)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
    assert(dt.version == v, "a violating direct write must not commit")
    // Files a killed-mid-commit task left behind are ORPHANS by design:
    // never referenced by any commit (invisible to every reader) and
    // reclaimed by vacuum. Assert exactly that contract — a stray that
    // IS referenced would be a real atomicity break.
    val referenced = dt.snapshot().activeFiles.map(_.path).toSet
    val fs = new org.apache.hadoop.fs.Path(dt.path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def strays(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dt.path))
        .filter(_.isFile).map(_.getPath.getName).toSeq
        .filterNot(n => referenced.contains(n) || n.startsWith("_"))
    strays().foreach(sName => assert(!referenced.contains(sName)))
    if (strays().nonEmpty) {
      graft.delta.Maintenance.vacuum(dt, retentionHours = 0.0,
        enforceMinimum = false)
      assert(strays().isEmpty,
        s"orphans must be vacuum-reclaimable: ${strays()}")
      assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
    }
    // a constraint over a column the query omits evaluates NULL -> passes
    sql(s"ALTER TABLE $t ADD COLUMN v BIGINT")
    sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delta.constraints.vbig' = 'v > 100')")
    sql(s"INSERT INTO $t (id) VALUES (3)") // v omitted -> NULL -> passes
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
    val err2 = intercept[Exception] { sql(s"INSERT INTO $t VALUES (4, 5)") }
    assert(err2.getMessage != null)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
  }

  test("INSERT OVERWRITE ... REPLACE WHERE goes direct; region enforced task-side") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, day STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'b')")
    val before = GraftDirectWrite.batchCommits.get()
    // replace the day='b' region with one new row
    spark.sql(s"INSERT INTO $t REPLACE WHERE day = 'b' SELECT 9, 'b'")
    assert(GraftDirectWrite.batchCommits.get() > before,
      "REPLACE WHERE must take the direct path (round-12)")
    assert(sql(s"SELECT id, day FROM $t ORDER BY id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "a"), Seq(9L, "b")))
    // a row OUTSIDE the region aborts task-side, nothing commits
    val dt = graft.delta.DeltaTable.forPath(spark, tablePath(t))
    val v = dt.version
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO $t REPLACE WHERE day = 'b' SELECT 5, 'a'")
    }
    assert(err.getMessage != null)
    assert(dt.version == v, "out-of-region direct replaceWhere must not commit")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
  }

  test("dynamic partition overwrite goes direct and replaces only written partitions") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val before = GraftDirectWrite.batchCommits.get()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql(s"INSERT OVERWRITE $t VALUES (20, 'b'), (21, 'b')")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(GraftDirectWrite.batchCommits.get() > before,
      "dynamic partition overwrite must take the direct path (round-12)")
    assert(sql(s"SELECT id, p FROM $t ORDER BY id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "a"), Seq(20L, "b"), Seq(21L, "b")),
      "partition a untouched, partition b fully replaced")
  }

  test("CDC capture rides the direct batch commit") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"INSERT INTO $t SELECT id FROM range(5)")
    assert(GraftDirectWrite.batchCommits.get() > before)
    val dt = graft.delta.DeltaTable.forPath(spark, tablePath(t))
    val feed = graft.delta.Cdc.readByVersion(dt, dt.version, dt.version)
    assert(feed.filter(col(graft.delta.Cdc.ChangeType) === "insert").count() == 5)
  }

  test("optimizeWrite rebalances the pre-write shuffle: few full files, not one per task") {
    setup()
    val plain = freshTable()
    sql(s"CREATE TABLE $plain (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $plain SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END" +
      s" FROM range(0, 100000, 1, 32)")
    val plainFiles = graft.delta.DeltaTable.forPath(spark, tablePath(plain))
      .snapshot().activeFiles.size
    assert(plainFiles > 8, s"expected one shard per (task, partition), got $plainFiles")

    val opt = freshTable()
    sql(s"CREATE TABLE $opt (id BIGINT, p STRING) PARTITIONED BY (p) TBLPROPERTIES " +
      "('delta.autoOptimize.optimizeWrite' = 'true')")
    sql(s"INSERT INTO $opt SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END" +
      s" FROM range(0, 100000, 1, 32)")
    val optFiles = graft.delta.DeltaTable.forPath(spark, tablePath(opt))
      .snapshot().activeFiles.size
    assert(optFiles <= 4,
      s"optimizeWrite should rebalance 32 input shards toward the 128 MiB " +
        s"target, got $optFiles files")
    assert(sql(s"SELECT count(*), sum(id) FROM $opt").head().toSeq ==
      sql(s"SELECT count(*), sum(id) FROM $plain").head().toSeq)
  }

  test("optimizeWrite on a partitioned table clusters by partition: one file per directory") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('delta.autoOptimize.optimizeWrite' = 'true')")
    sql(s"INSERT INTO $t SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END " +
      "FROM range(0, 10000, 1, 16)")
    val files = graft.delta.DeltaTable.forPath(spark, tablePath(t))
      .snapshot().activeFiles
    val perDir = files.groupBy(_.path.takeWhile(_ != '/')).view.mapValues(_.size)
    assert(perDir.keys.toSet == Set("p=a", "p=b"))
    perDir.foreach { case (dir, n) =>
      assert(n <= 2, s"$dir got $n files; clustering should have co-located it")
    }
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 10000)
  }

  test("two concurrent INSERTs both commit through the direct path (OCC, no lost rows)") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    val before = GraftDirectWrite.batchCommits.get()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      Future(sql(s"INSERT INTO $t SELECT id FROM range(0, 500)")),
      Future(sql(s"INSERT INTO $t SELECT id FROM range(500, 1000)")))
    fs.foreach(Await.result(_, 120.seconds))
    assert(GraftDirectWrite.batchCommits.get() - before == 2)
    assert(sql(s"SELECT count(*), count(DISTINCT id), min(id), max(id) FROM $t")
      .head().toSeq == Seq(1000L, 1000L, 0L, 999L))
  }

  test("direct write stores PHYSICAL names under column mapping (rename then insert)") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, old_name STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a')")
    sql(s"ALTER TABLE $t RENAME COLUMN old_name TO new_name")
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"INSERT INTO $t VALUES (2, 'b')") // must write the PHYSICAL name
    assert(GraftDirectWrite.batchCommits.get() > before,
      "a column-mapped table is still direct-write eligible")
    val rows = sql(s"SELECT id, new_name FROM $t ORDER BY id")
      .collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("CTAS data lands through the direct write") {
    setup()
    val t = freshTable()
    val before = GraftDirectWrite.batchCommits.get()
    sql(s"CREATE TABLE $t AS SELECT id, id * 2 AS v FROM range(200)")
    assert(GraftDirectWrite.batchCommits.get() > before,
      "CTAS appends after the schema commit, so the direct path is eligible")
    assert(sql(s"SELECT sum(v) FROM $t").head().getLong(0) ==
      (0L until 200L).map(_ * 2).sum)
  }

  // ---- push-based identity writes (round 15; used to refuse) ---------------

  /** Drive GraftDirectWrite's push-based BatchWrite interface by hand —
    * createBatchWriterFactory + task writers + commit — the path a DSv2
    * planner takes when it pushes rows without holding the DataFrame. */
  private def pushRows(w: GraftDirectWrite,
                       df: org.apache.spark.sql.DataFrame): Unit = {
    val f = w.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = df.rdd.getNumPartitions
      })
    val messages = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val wr = f.createWriter(pid,
        org.apache.spark.TaskContext.get().taskAttemptId())
      try {
        it.foreach(wr.write)
        Iterator.single(wr.commit())
      } catch { case e: Throwable => wr.abort(); throw e }
    }.collect()
    w.commit(messages.map(m =>
      m: org.apache.spark.sql.connector.write.WriterCommitMessage))
  }

  test("push-based batch write allocates identity values on the lattice") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 100 INCREMENT BY 3), s STRING)")
    val querySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val df = sql("SELECT CAST(id AS STRING) AS s FROM range(0, 500, 1, 4)")
    pushRows(new graft.streaming.GraftDirectWrite(spark, tablePath(t),
      java.util.UUID.randomUUID().toString, querySchema,
      GraftDirectWrite.Append), df)
    // second push allocates from the ADVANCED mark — no overlap
    pushRows(new graft.streaming.GraftDirectWrite(spark, tablePath(t),
      java.util.UUID.randomUUID().toString, querySchema,
      GraftDirectWrite.Append), df)
    val rids = sql(s"SELECT rid FROM $t").collect().map(_.getLong(0))
    assert(rids.length == 1000 && rids.distinct.length == 1000,
      "task-side lattice allocation must never produce duplicates")
    assert(rids.forall(v => v >= 100 && (v - 100) % 3 == 0),
      s"values must sit on the (100, +3) lattice")
    // the mark advanced past the furthest landed value in the same commits
    val hwm = graft.delta.DeltaTable.forPath(spark, tablePath(t))
      .metaSnapshot().schema("rid").metadata
      .getLong(graft.delta.IdentityColumns.HighWaterMarkKey)
    assert(hwm == rids.max, s"mark $hwm must equal furthest value ${rids.max}")
  }

  test("push-based identity write conflicts when a racer advances the mark") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (rid BIGINT GENERATED ALWAYS AS IDENTITY, s STRING)")
    val querySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val w = new graft.streaming.GraftDirectWrite(spark, tablePath(t),
      java.util.UUID.randomUUID().toString, querySchema,
      GraftDirectWrite.Append)
    val df = sql("SELECT CAST(id AS STRING) AS s FROM range(0, 50, 1, 2)")
    // the factory (and the mark its tasks allocate from) is created BEFORE
    // the racer commits — the window the OCC re-check must close
    val f = w.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = df.rdd.getNumPartitions
      })
    // racer: a routed INSERT advances the high-water mark
    sql(s"INSERT INTO $t (s) VALUES ('racer')")
    val e = intercept[Exception] {
      val messages = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        val wr = f.createWriter(pid,
          org.apache.spark.TaskContext.get().taskAttemptId())
        try {
          it.foreach(wr.write)
          Iterator.single(wr.commit())
        } catch { case ex: Throwable => wr.abort(); throw ex }
      }.collect()
      w.commit(messages.map(m =>
        m: org.apache.spark.sql.connector.write.WriterCommitMessage))
    }
    assert(e.getMessage.toLowerCase.contains("identity"),
      s"stale-mark push must conflict, got: ${e.getMessage}")
    // only the racer's row committed; no duplicate or orphaned values
    val rids = sql(s"SELECT rid FROM $t").collect().map(_.getLong(0))
    assert(rids.toSeq == Seq(1L), s"expected only the racer's row: ${rids.toSeq}")
  }
}
