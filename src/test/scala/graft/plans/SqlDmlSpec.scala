package graft.plans

import graft.SparkTestBase

/** SQL front-door contract: catalog DDL, INSERT, SELECT with time travel,
  * and DELETE/UPDATE/MERGE INTO lowered onto the transactional machinery —
  * the engine surface a 100-TB Spark user actually drives. */
class SqlDmlSpec extends SparkTestBase {

  private lazy val cat: String = GraftSql.ensure(spark)

  private def sql(q: String) = spark.sql(q)

  private var n = 0
  private def freshTable(): String = synchronized {
    n += 1; s"$cat.dml.t$n"
  }

  private def setup(): Unit = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dml")
    ()
  }

  test("CREATE TABLE + INSERT + SELECT round-trips") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, name STRING, bal DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
    assert(sql(s"SELECT name FROM $t WHERE id = 2").head().getString(0) == "b")
  }

  test("CTAS + DELETE FROM removes matching rows transactionally") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 5 AS g FROM range(100)")
    sql(s"DELETE FROM $t WHERE g = 3")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 80)
    assert(sql(s"SELECT count(*) FROM $t WHERE g = 3").head().getLong(0) == 0)
  }

  test("DELETE/UPDATE matching zero rows is a SQL no-op, not an error") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id FROM range(5)")
    sql(s"DELETE FROM $t WHERE id > 100") // matches nothing
    sql(s"UPDATE $t SET id = id + 1 WHERE id > 100")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5)
  }

  test("UPDATE SET with expressions sees the OLD row on every RHS") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, a BIGINT, b BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 10, 100), (2, 20, 200)")
    // swap semantics: both RHS evaluate against the pre-update row
    sql(s"UPDATE $t SET a = b, b = a WHERE id = 1")
    val r = sql(s"SELECT a, b FROM $t WHERE id = 1").head()
    assert(r.getLong(0) == 100 && r.getLong(1) == 10)
    val r2 = sql(s"SELECT a, b FROM $t WHERE id = 2").head()
    assert(r2.getLong(0) == 20 && r2.getLong(1) == 200)
  }

  test("MERGE INTO with key-equality ON: update + insert") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'old1'), (2, 'old2')")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (2, 'new2'), (3, 'new3') AS s(id, v)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = sql(s"SELECT id, v FROM $t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "old1"), (2L, "new2"), (3L, "new3")))
  }

  test("MERGE INTO ... WHEN MATCHED THEN DELETE") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id FROM range(10)")
    sql(s"""MERGE INTO $t
           |USING (SELECT id * 2 AS id FROM range(5)) src
           |ON $t.id = src.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5)
    assert(sql(s"SELECT sum(id) FROM $t").head().getLong(0) == 1 + 3 + 5 + 7 + 9)
  }

  test("MERGE INTO with UPDATE SET expressions referencing both sides") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, bal DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 10.0), (2, 20.0)")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (1, 5.0), (9, 90.0) AS s(id, delta)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET bal = tgt.bal + src.delta""".stripMargin)
    val byId = sql(s"SELECT id, bal FROM $t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId == Map(1L -> 15.0, 2L -> 20.0)) // no insert clause: 9 skipped
  }

  test("SELECT ... VERSION AS OF / TIMESTAMP AS OF time travel") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)") // v0
    sql(s"INSERT INTO $t SELECT id FROM range(10)") // v1
    sql(s"DELETE FROM $t WHERE id >= 5") // v2
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5)
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 1").head().getLong(0) == 10)
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 0").head().getLong(0) == 0)
  }

  test("SELECT ... TIMESTAMP AS OF resolves the pre-change state") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)") // v0
    sql(s"INSERT INTO $t SELECT id FROM range(10)") // v1
    // commit timestamps are millisecond-granular: ensure v2 lands strictly later
    Thread.sleep(1100)
    sql(s"DELETE FROM $t WHERE id >= 5") // v2
    val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
    val v1Ms = graft.delta.DeltaTable.forPath(spark, path).commitTimestamp(1)
    val lit = java.time.Instant.ofEpochMilli(v1Ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$lit'")
      .head().getLong(0) == 10, s"state at v1's own timestamp must be v1")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5)
  }

  test("INSERT OVERWRITE replaces table contents in one commit") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id FROM range(10)")
    sql(s"INSERT OVERWRITE $t SELECT id + 100 AS id FROM range(3)")
    val rows = sql(s"SELECT id FROM $t ORDER BY id").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(100L, 101L, 102L))
  }

  test("filter + column pushdown parity with the DSv1 reader") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, CAST(id AS STRING) AS s, id * 2 AS d FROM range(1000)")
    val df = sql(s"SELECT s FROM $t WHERE id = 7")
    val plan = df.queryExecution.executedPlan.toString
    // the predicate must reach the scan node (file pruning + parquet
    // row-group pushdown), and the scan must read only the referenced
    // columns — the same audit the DSv1 relation passed in round 1
    assert(plan.contains("EqualTo(id,7)"), s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema"), s"no read schema on the scan:\n$plan")
    assert(!plan.matches("(?s).*ReadSchema:[^\\n]*\\bd\\b.*"),
      s"unreferenced column 'd' not pruned from the scan:\n$plan")
    // parity: the DSv1 reader over the same table path pushes the same
    val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
    val v1 = spark.read.format("graft-delta").load(path)
      .filter(org.apache.spark.sql.functions.col("id") === 7).select("s")
    val v1plan = v1.queryExecution.executedPlan.toString
    assert(v1plan.contains("EqualTo(id,7)"), s"DSv1 filter not pushed:\n$v1plan")
    assert(df.head().getString(0) == "7" && v1.head().getString(0) == "7")
  }

  test("ALTER TABLE ADD/RENAME COLUMN and TBLPROPERTIES through SQL") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a')")
    sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    // old rows read the new column as null; new rows carry it
    sql(s"INSERT INTO $t VALUES (2, 'b', 1.5)")
    val rows = sql(s"SELECT id, v, score FROM $t ORDER BY id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 1.5)
    sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    assert(sql(s"SELECT label FROM $t WHERE id = 1").head().getString(0) == "a")
    sql(s"ALTER TABLE $t SET TBLPROPERTIES ('delta.appendOnly' = 'false')")
    assert(sql(s"SHOW TBLPROPERTIES $t").collect()
      .exists(r => r.getString(0) == "delta.appendOnly" && r.getString(1) == "false"))
  }

  test("DataFrameWriterV2: df.writeTo(...).create/append through the catalog") {
    setup()
    import spark.implicits._
    val t = freshTable()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").writeTo(t).create()
    Seq((3L, "c")).toDF("id", "v").writeTo(t).append()
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
    assert(spark.table(t).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("PARTITIONED BY creates a Hive-layout table; predicates prune files") {
    setup()
    val t = freshTable()
    sql(s"""CREATE TABLE $t (id BIGINT, grp STRING) PARTITIONED BY (grp)""")
    sql(s"INSERT INTO $t SELECT id, concat('g', id % 3) AS grp FROM range(90)")
    // Hive layout on disk: one directory per partition value
    val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("grp="))
    assert(dirs.toSet == Set("grp=g0", "grp=g1", "grp=g2"), dirs.mkString(","))
    // partition-pruned read through SQL: only g1's rows
    assert(sql(s"SELECT count(*) FROM $t WHERE grp = 'g1'").head().getLong(0) == 30)
    // the pruner keeps file-count pressure off the scan: one partition dir read
    val dt = graft.delta.DeltaTable.forPath(spark, path)
    val pruned = dt.scanState(None,
      graft.query.MongoFilter.column("""{"grp":"g1"}""", dt.snapshot().schema))
    assert(pruned.activeFiles.nonEmpty &&
      pruned.activeFiles.forall(_.partitionValues.get("grp").contains("g1")))
  }

  test("DROP TABLE and SHOW TABLES") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    val short = t.split('.').last
    assert(sql(s"SHOW TABLES IN $cat.dml").collect()
      .exists(_.getString(1) == short))
    sql(s"DROP TABLE $t")
    assert(!sql(s"SHOW TABLES IN $cat.dml").collect()
      .exists(_.getString(1) == short))
  }

  test("spark.graft.sql.dml.mor routes SQL DELETE/UPDATE through deletion vectors") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 5 AS g FROM range(100)")
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try {
      sql(s"DELETE FROM $t WHERE g = 3")
      sql(s"UPDATE $t SET g = g + 100 WHERE g = 1")
      assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 80)
      assert(sql(s"SELECT count(*) FROM $t WHERE g = 101").head().getLong(0) == 20)
      // MoR proof: the delete masked rows instead of rewriting — some
      // active file carries a deletion vector
      val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
      val snap = graft.delta.DeltaTable.forPath(spark, path).snapshot()
      assert(snap.activeFiles.exists(_.deletionVector.nonEmpty),
        "expected a DV-masked file after MoR DML")
      // single-clause MERGE also rides the MoR twin under the flag
      sql(s"""MERGE INTO $t USING (SELECT id FROM range(2)) src
             |ON $t.id = src.id
             |WHEN MATCHED THEN DELETE""".stripMargin)
      assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 78)
      val hist = sql(s"SELECT operation FROM graft_history('dml.${t.split('.').last}')")
        .collect().map(_.getString(0))
      assert(hist.count(_ == "MERGE") >= 1, hist.mkString(","))
    } finally spark.conf.unset("spark.graft.sql.dml.mor")
  }

  test("graft_table_changes TVF serves the change feed through SQL") {
    setup()
    val t = freshTable()
    sql(s"""CREATE TABLE $t (id BIGINT, v STRING)
           |TBLPROPERTIES ('delta.enableChangeDataFeed'='true')""".stripMargin)
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')") // v2 (create+props are v0/v1)
    sql(s"DELETE FROM $t WHERE id = 2") // v3
    val ref = t.stripPrefix(s"$cat.")
    val ins = sql(s"SELECT id, v, _change_type FROM graft_table_changes('$ref', 2, 2)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ins == Set((1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")))
    val del = sql(s"SELECT id, _change_type FROM graft_table_changes('$ref', 3, 3)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(del == Set((2L, "delete")))
  }

  test("graft_compact and graft_vacuum TVFs run maintenance through SQL") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    (0 until 4).foreach(i => sql(s"INSERT INTO $t VALUES ($i)")) // 4 tiny files
    val ref = t.stripPrefix(s"$cat.")
    val c = sql(s"SELECT * FROM graft_compact('$ref')").head()
    assert(c.getLong(0) >= 2, s"expected files compacted, got $c")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4)
    // vacuum with default retention deletes nothing young, but must run
    val v = sql(s"SELECT files_deleted, bytes_freed FROM graft_vacuum('$ref')").head()
    assert(v.getLong(0) == 0)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 4)
  }

  test("graft_compact with a partition predicate compacts only matching partitions") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, day STRING) PARTITIONED BY (day)")
    (0 until 3).foreach(i =>
      sql(s"INSERT INTO $t VALUES ($i, '2026-01-01'), (${i + 10}, '2026-01-02')"))
    val ref = t.stripPrefix(s"$cat.")
    val dt = graft.delta.DeltaTable.forPath(spark,
      GraftSql.warehousePath(spark).get + "/" + ref.replace(".", "/"))
    def filesIn(day: String): Int = dt.snapshot().activeFiles
      .count(_.partitionValues.get("day").contains(day))
    val before = filesIn("2026-01-01")
    val c = sql(s"SELECT * FROM graft_compact('$ref', \"day = '2026-01-02'\")").head()
    assert(c.getLong(0) >= 2)
    assert(filesIn("2026-01-01") == before,
      "non-matching partition files must be untouched")
    assert(filesIn("2026-01-02") < before)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 6)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: native SQL CHECK constraints") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 0.5), (2, 2.0)")
    sql(s"ALTER TABLE $t ADD CONSTRAINT pos CHECK (v > 0)")
    // enforced on subsequent writes (both write paths)
    val e = intercept[Exception] { sql(s"INSERT INTO $t VALUES (3, -1.0)") }
    assert(e.getMessage != null)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
    // adding a constraint EXISTING rows violate refuses
    val e2 = intercept[Exception] {
      sql(s"ALTER TABLE $t ADD CONSTRAINT small CHECK (v < 1)")
    }
    // Spark 4.1 pre-validates existing rows itself (NEW_CHECK_CONSTRAINT_
    // VIOLATION) before alterTable; our addCheckConstraint re-validates
    // under the commit's OCC snapshot — either refusal is correct.
    assert(e2.getMessage.contains("existing rows violate") ||
      e2.getMessage.contains("violated by existing data"))
    // drop re-admits the rows
    sql(s"ALTER TABLE $t DROP CONSTRAINT pos")
    sql(s"INSERT INTO $t VALUES (3, -1.0)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
    val e3 = intercept[Exception] { sql(s"ALTER TABLE $t DROP CONSTRAINT nope") }
    assert(e3.getMessage.contains("nope"))
    sql(s"ALTER TABLE $t DROP CONSTRAINT IF EXISTS nope") // no-op, no error
  }

  test("graft_detail TVF reports table facts from the log") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('delta.appendOnly' = 'false')")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val ref = t.stripPrefix(s"$cat.")
    val d = sql(s"SELECT * FROM graft_detail('$ref')").head()
    assert(d.getAs[String]("partition_columns") == "p")
    assert(d.getAs[Long]("num_files") >= 1L)
    assert(d.getAs[Long]("size_in_bytes") > 0L)
    assert(d.getAs[Long]("version") >= 1L)
    assert(d.getAs[String]("properties").contains("delta.appendOnly=false"))
    assert(sql(s"SELECT cluster_by FROM graft_detail('$ref')").head().getString(0) == "")
  }

  test("graft_history TVF lists the commit sequence") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    sql(s"INSERT INTO $t VALUES (1), (2)")
    sql(s"DELETE FROM $t WHERE id = 1")
    val ref = t.stripPrefix(s"$cat.")
    val ops = sql(s"SELECT version, operation FROM graft_history('$ref') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ops.map(_._1).toSeq == ops.map(_._1).toSeq.sorted)
    assert(ops.exists(_._2 == "WRITE") && ops.exists(_._2 == "DELETE"), ops.mkString(","))
  }

  test("graft_restore TVF rolls the table back; side effect deferred past EXPLAIN") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id FROM range(10)")
    val ref = t.stripPrefix(s"$cat.")
    val v0 = sql(s"SELECT max(version) FROM graft_history('$ref')").head().getLong(0)
    sql(s"DELETE FROM $t WHERE id >= 5")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5)
    val r = sql(s"SELECT * FROM graft_restore('$ref', $v0)").head()
    assert(r.getLong(2) > v0, r.toString)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 10)
    // the deferred contract: EXPLAIN resolves+plans but must NOT restore
    sql(s"DELETE FROM $t WHERE id >= 5")
    sql(s"EXPLAIN SELECT * FROM graft_restore('$ref', $v0)").collect()
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 5)
  }

  test("graft_zorder TVF rewrites clustered by the key columns, content intact") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (a BIGINT, b BIGINT)")
    (0 until 3).foreach(i =>
      sql(s"INSERT INTO $t SELECT id + ${i * 100}, id * 7 % 100 FROM range(100)"))
    val ref = t.stripPrefix(s"$cat.")
    val before = sql(s"SELECT sum(a) + sum(b) FROM $t").head().getLong(0)
    val r = sql(s"SELECT * FROM graft_zorder('$ref', 'a', 'b')").head()
    assert(r.getLong(0) >= 1 && r.getLong(1) >= 1, r.toString)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 300)
    assert(sql(s"SELECT sum(a) + sum(b) FROM $t").head().getLong(0) == before)
  }

  test("graft_dedup TVF drops exact and by-key duplicates through SQL") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 3 AS g FROM range(9)")
    sql(s"INSERT INTO $t SELECT id, id % 3 AS g FROM range(9)") // exact dup of every row
    val ref = t.stripPrefix(s"$cat.")
    val r = sql(s"SELECT rows_before, rows_after FROM graft_dedup('$ref')").head()
    assert(r.getLong(0) == 18 && r.getLong(1) == 9, r.toString)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 9)
    val r2 = sql(s"SELECT rows_before, rows_after FROM graft_dedup('$ref', 'g')").head()
    assert(r2.getLong(0) == 9 && r2.getLong(1) == 3, r2.toString)
    assert(sql(s"SELECT count(DISTINCT g) FROM $t").head().getLong(0) == 3)
  }

  test("graft_clone TVF zero-copy clones to a path through SQL") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id FROM range(7)")
    val ref = t.stripPrefix(s"$cat.")
    val dir = java.nio.file.Files.createTempDirectory("graft-clone-sql").toString
    graft.TempDirs.deleteOnExit(dir)
    val target = s"$dir/cloned"
    val r = sql(s"SELECT * FROM graft_clone('$ref', '$target')").head()
    assert(r.getLong(0) >= 0 && r.getLong(1) >= 0, r.toString)
    val cloned = graft.delta.DeltaTable.forPath(spark, target)
    assert(cloned.toDF().count() == 7)
    // writes to the clone leave the source untouched (shallow isolation)
    cloned.delete("""{"id":{"$gte":5}}""")
    assert(cloned.toDF().count() == 5)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 7)
  }

  test("conditional multi-clause MERGE: first-true clause wins per row") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 'keep', 10), (2, 'drop', 20), (3, 'bump', 30), (4, 'x', 40)")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES
           |         (2, 'whatever', 0), (3, 'src3', 5), (4, 'src4', 7), (9, 'new', 90)
           |       AS s(id, v, n)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED AND tgt.v = 'drop' THEN DELETE
           |WHEN MATCHED AND tgt.v = 'bump' THEN UPDATE SET n = tgt.n + src.n
           |WHEN MATCHED AND src.v = 'src4' THEN UPDATE SET *
           |WHEN NOT MATCHED AND src.n > 50 THEN INSERT *""".stripMargin)
    val rows = sql(s"SELECT id, v, n FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      (1L, "keep", 10L),  // matched nothing? not in source → untouched
      (3L, "bump", 35L),  // second clause: n = 30 + 5
      (4L, "src4", 7L),   // third clause: UPDATE SET *
      (9L, "new", 90L)))  // conditional insert (n=90 > 50); id=2 deleted
  }

  test("conditional NOT MATCHED insert filters the source") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id FROM range(3)")
    sql(s"""MERGE INTO $t
           |USING (SELECT id FROM range(10)) src
           |ON $t.id = src.id
           |WHEN NOT MATCHED AND src.id % 2 = 0 THEN INSERT *""".stripMargin)
    val ids = sql(s"SELECT id FROM $t ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 1L, 2L, 4L, 6L, 8L))
  }

  test("WHEN NOT MATCHED BY SOURCE syncs the target to the source") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (2, 'B'), (5, 'E') AS s(id, v)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND tgt.id > 1 THEN DELETE""".stripMargin)
    val rows = sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // 1 kept (NMS condition false), 2 updated, 3/4 deleted, 5 inserted
    assert(rows == Seq((1L, "a"), (2L, "B"), (5L, "E")))
  }

  test("NOT MATCHED BY SOURCE UPDATE patches only source-absent rows") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT 1 AS id) AS src
           |ON tgt.id = src.id
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(tgt.v, '-stale')""".stripMargin)
    val rows = sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b-stale")))
  }

  test("unsupported MERGE shapes fail with a clear error") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'x')")
    val e = intercept[Exception] {
      sql(s"""MERGE INTO $t AS tgt
             |USING (SELECT 1 AS id, 'y' AS v) src
             |ON tgt.id > src.id
             |WHEN MATCHED AND src.v = 'y' THEN UPDATE SET v = src.v
             |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("equality on"), e.getMessage)
  }

  test("INSERT (cols) VALUES (exprs): expressions evaluate, omitted columns NULL") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 'a', 10)")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (1, 7), (2, 8) AS s(k, x)) AS src
           |ON tgt.id = src.k
           |WHEN MATCHED THEN UPDATE SET n = src.x
           |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (src.k, src.x * 10 + 1)""".stripMargin)
    val rows = sql(s"SELECT id, v, n FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    // id=2 inserted with expression value; v NOT in the column list → NULL
    assert(rows == Seq((1L, "a", 7L), (2L, null, 81L)))
  }

  test("multiple conditional NOT MATCHED clauses: first-true-wins") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, tag STRING, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (0, 'seed', 0)")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT id, id * 10 AS x FROM range(1, 5)) AS src
           |ON tgt.id = src.id
           |WHEN NOT MATCHED AND src.x >= 30 THEN INSERT (id, tag, n) VALUES (src.id, 'big', src.x)
           |WHEN NOT MATCHED AND src.id % 2 = 0 THEN INSERT (id, tag) VALUES (src.id, 'even')
           |WHEN NOT MATCHED AND src.id = 1 THEN INSERT (id, n) VALUES (src.id, -1)""".stripMargin)
    val rows = sql(s"SELECT id, tag, n FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) -999L else r.getLong(2))).toSeq
    assert(rows == Seq(
      (0L, "seed", 0L),
      (1L, null, -1L),     // only third clause: n set, tag omitted → NULL
      (2L, "even", -999L), // second clause: n omitted → NULL
      (3L, "big", 30L),    // first clause wins (x=30) before the parity clause
      (4L, "big", 40L)))   // first clause
  }

  test("differently-named equi-keys ride the clause path (ON t.id = s.src_id)") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (1, 100), (3, 300), (9, 900)
           |       AS s(src_id, amt)) AS src
           |ON tgt.id = src.src_id
           |WHEN MATCHED AND tgt.n < 15 THEN UPDATE SET n = src.amt
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (src.src_id, src.amt)""".stripMargin)
    val rows = sql(s"SELECT id, v, n FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    // 1 updated (n<15), 2 untouched, 3 deleted, 9 inserted
    assert(rows == Seq((1L, "a", 100L), (2L, "b", 20L), (9L, null, 900L)))
  }

  test("partial UPDATE SET with a full-width source does not clobber unassigned columns") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 'orig', 10)")
    // source carries ALL target column names with different values; the
    // assignment list covers only n — v must stay 'orig' (a starLike
    // over-promotion to UPDATE SET * would overwrite it with 'evil')
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (1, 'evil', 99) AS s(id, v, n)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET n = src.n""".stripMargin)
    val r = sql(s"SELECT v, n FROM $t WHERE id = 1").head()
    assert(r.getString(0) == "orig" && r.getLong(1) == 99L)
  }

  test("SQL MERGE raises a cardinality violation on ambiguous matches") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, n BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    val e = intercept[Exception] {
      sql(s"""MERGE INTO $t AS tgt
             |USING (SELECT * FROM VALUES (1, 5), (1, 6) AS s(id, x)) AS src
             |ON tgt.id = src.id
             |WHEN MATCHED THEN UPDATE SET n = src.x""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("cardinality"), e.getMessage)
    // duplicate keys that match NOTHING are fine — and both insert
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (7, 70), (7, 71) AS s(id, x)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET n = src.x
           |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (src.id, src.x)""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t WHERE id = 7").head().getLong(0) == 2)
  }

  test("SQL MERGE key nulls: null-key source row inserts, never matches") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (NULL, 'nullrow')")
    sql(s"""MERGE INTO $t AS tgt
           |USING (SELECT * FROM VALUES (CAST(NULL AS BIGINT), 'fromsrc') AS s(id, v)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND tgt.id IS NULL THEN UPDATE SET v = 'nms'""".stripMargin)
    val rows = sql(s"SELECT v FROM $t ORDER BY v").collect().map(_.getString(0)).toSeq
    // SQL `=` never matches NULL: target null row hits NMS, source null row inserts
    assert(rows == Seq("a", "fromsrc", "nms"))
  }

  test("clause-chain MERGE under MoR: DV-masked, zero files rewritten") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING, n BIGINT)")
    sql(s"INSERT INTO $t SELECT id, concat('v', id), id * 10 FROM range(100)")
    val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
    val before = graft.delta.DeltaTable.forPath(spark, path).snapshot()
      .activeFiles.map(_.path).toSet
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try {
      sql(s"""MERGE INTO $t AS tgt
             |USING (SELECT id, id * 3 AS x FROM range(50, 110)) AS src
             |ON tgt.id = src.id
             |WHEN MATCHED AND tgt.id % 2 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET n = src.x
             |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (src.id, src.x)""".stripMargin)
    } finally spark.conf.unset("spark.graft.sql.dml.mor")
    val snap = graft.delta.DeltaTable.forPath(spark, path).snapshot()
    // every pre-merge file is still active (DV-masked, not rewritten)...
    assert(before.subsetOf(snap.activeFiles.map(_.path).toSet),
      "MoR clause merge must not rewrite existing files")
    assert(snap.activeFiles.exists(_.deletionVector.nonEmpty),
      "expected DV-masked files after MoR clause merge")
    // ...and the post-state is the clause-chain semantics
    val got = sql(s"SELECT id, n FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = ((0L until 50L).map(i => (i, i * 10)) ++           // untouched
      (50L until 100L).filter(_ % 2 != 0).map(i => (i, i * 3)) ++ // updated odds
      (100L until 110L).map(i => (i, i * 3))).sortBy(_._1)        // inserted
    assert(got == want)
  }

  test("theta MERGE under MoR: DV-masked, zero files rewritten") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(100)")
    val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
    val before = graft.delta.DeltaTable.forPath(spark, path).snapshot()
      .activeFiles.map(_.path).toSet
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try {
      // a non-equi ON: each source row matches exactly the target id + 1
      sql(s"""MERGE INTO $t AS tgt
             |USING (SELECT * FROM VALUES (10L, 'x'), (20L, 'y'), (500L, 'new')
             |  AS s(id, v)) AS src
             |ON tgt.id > src.id AND tgt.id <= src.id + 1
             |WHEN MATCHED THEN UPDATE SET v = src.v
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    } finally spark.conf.unset("spark.graft.sql.dml.mor")
    val snap = graft.delta.DeltaTable.forPath(spark, path).snapshot()
    assert(before.subsetOf(snap.activeFiles.map(_.path).toSet),
      "MoR theta merge must not rewrite existing files")
    assert(snap.activeFiles.exists(_.deletionVector.nonEmpty),
      "expected DV-masked files after MoR theta merge")
    val got = sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 100L).map(i => (i, i match {
      case 11L => "x"
      case 21L => "y"
      case _ => s"v$i"
    })) :+ ((500L, "new"))
    assert(got == want)
  }

  test("maintenance TVF side effects run at EXECUTION, not resolution (EXPLAIN is free)") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    (0 until 3).foreach(i => sql(s"INSERT INTO $t VALUES ($i)")) // 3 tiny files
    val ref = t.stripPrefix(s"$cat.")
    def ops: Seq[String] =
      sql(s"SELECT operation FROM graft_history('$ref')").collect()
        .map(_.getString(0)).toSeq
    // EXPLAIN resolves and plans the TVF — it must NOT compact
    val plan = sql(s"EXPLAIN SELECT * FROM graft_compact('$ref')").head().getString(0)
    assert(plan.contains("GraftMaintenance"), plan)
    assert(!ops.contains("COMPACT"), s"EXPLAIN must not run the verb: $ops")
    // executing the same query DOES
    assert(sql(s"SELECT * FROM graft_compact('$ref')").head().getLong(0) >= 2)
    assert(ops.contains("COMPACT"), ops)
  }

  test("DELETE/UPDATE with IN (subquery) predicates lower to the join-shaped cores") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 10 AS g FROM range(100)")
    sql(s"CREATE TABLE $aux AS SELECT id * 2 AS k FROM range(10)") // 0,2,..,18
    // subquery + residual conjunct: delete even ids < 20 with g in {0,2,..}
    sql(s"DELETE FROM $t WHERE id IN (SELECT k FROM $aux) AND g >= 4")
    // deleted: ids in {0..18 even} with id%10 >= 4 → 4,6,8,14,16,18
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 94)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (4,6,8,14,16,18)").head().getLong(0) == 0)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (0,2,10,12)").head().getLong(0) == 4)
    // UPDATE through a subquery predicate
    sql(s"UPDATE $t SET g = g + 100 WHERE id IN (SELECT k + 1 FROM $aux)")
    assert(sql(s"SELECT count(*) FROM $t WHERE g >= 100").head().getLong(0) == 10)
    // zero-match subquery DML is a SQL no-op
    sql(s"DELETE FROM $t WHERE id IN (SELECT k + 1000 FROM $aux)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 94)
    // NULLs in the subquery result never make IN true
    sql(s"UPDATE $t SET g = -1 WHERE id IN (SELECT CAST(NULL AS BIGINT) FROM $aux)")
    assert(sql(s"SELECT count(*) FROM $t WHERE g = -1").head().getLong(0) == 0)
    // correlated IN runs through the same multi-key join core: the
    // membership set here is {k | k = t.id}, so the delete hits exactly
    // rows with g = id and id present in aux — ids 0 and 2 (10 and 12
    // survive: their g is 0/2, not 10/12)
    sql(s"DELETE FROM $t WHERE g IN (SELECT k FROM $aux WHERE k = $t.id)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 92)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (0, 2)").head().getLong(0) == 0)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (10, 12)").head().getLong(0) == 2)
  }

  test("map-typed columns survive the general subquery-DML fallback (canonical-key match)") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, g BIGINT, attrs MAP<STRING,DOUBLE>)")
    sql(s"INSERT INTO $t SELECT id, id % 10, map('a', CAST(id AS DOUBLE), " +
      "'b', CAST(id * 2 AS DOUBLE)) FROM range(40)")
    sql(s"CREATE TABLE $aux AS SELECT id * 4 AS k FROM range(8)") // 0,4..28
    // OR of two subqueries routes to the GENERAL full-row fallback — which
    // used to refuse map columns (maps cannot be join keys or DISTINCT);
    // they now key on a canonical JSON encoding on both sides
    sql(s"DELETE FROM $t WHERE id IN (SELECT k FROM $aux WHERE k < 10) " +
      s"OR id IN (SELECT k + 1 FROM $aux WHERE k >= 20)")
    // deleted: {0,4,8} ∪ {21,25,29}
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 34)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (0,4,8,21,25,29)")
      .head().getLong(0) == 0)
    // the surviving maps kept their values intact through the rewrite
    assert(sql(s"SELECT element_at(attrs, 'b') FROM $t WHERE id = 7")
      .head().getDouble(0) == 14.0)
    // UPDATE through the same fallback, with a map-typed assignment VALUE
    sql(s"UPDATE $t SET attrs = map('z', CAST(g AS DOUBLE)) " +
      s"WHERE id IN (SELECT k FROM $aux) OR id IN (SELECT k + 2 FROM $aux)")
    assert(sql(s"SELECT element_at(attrs, 'z') FROM $t WHERE id = 12")
      .head().getDouble(0) == 2.0)
    assert(sql(s"SELECT count(*) FROM $t WHERE element_at(attrs, 'z') IS NOT NULL")
      .head().getLong(0) == 13,
      "{12,16,20,24,28} ∪ {2,6,10,14,18,22,26,30} — the matched survivors")
  }

  test("EXISTS / NOT EXISTS / NOT IN subquery predicates in DML") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 10 AS g FROM range(40)")
    sql(s"CREATE TABLE $aux AS SELECT id * 4 AS k, id AS w FROM range(8)") // 0,4..28
    // correlated EXISTS with a sub-side filter: delete ids in {16,20,24,28}∩(w>3 → k>=16)
    sql(s"DELETE FROM $t WHERE EXISTS (SELECT 1 FROM $aux WHERE k = $t.id AND w > 3)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 36)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (16,20,24,28)").head().getLong(0) == 0)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (0,4,8,12)").head().getLong(0) == 4)
    // NOT EXISTS with a residual conjunct: update rows with no aux match and id < 3
    sql(s"UPDATE $t SET g = -5 WHERE NOT EXISTS (SELECT 1 FROM $aux WHERE k = $t.id) AND id < 3")
    assert(sql(s"SELECT count(*) FROM $t WHERE g = -5").head().getLong(0) == 2) // ids 1,2 (0 matches aux)
    // NOT IN over a null-free subquery = anti-join delete
    val t2 = freshTable()
    sql(s"CREATE TABLE $t2 AS SELECT id FROM range(10)")
    sql(s"DELETE FROM $t2 WHERE id NOT IN (SELECT id * 2 FROM range(3))") // keep 0,2,4
    assert(sql(s"SELECT id FROM $t2 ORDER BY id").collect().map(_.getLong(0)).toSeq
      == Seq(0L, 2L, 4L))
    // NOT IN whose subquery yields a NULL is a statement-wide no-op
    sql(s"DELETE FROM $t2 WHERE id NOT IN (SELECT CAST(NULL AS BIGINT) FROM range(2))")
    assert(sql(s"SELECT count(*) FROM $t2").head().getLong(0) == 3)
    // NOT IN never deletes a NULL probe row (x <> NULL is unknown)
    val t3 = freshTable()
    sql(s"CREATE TABLE $t3 (id BIGINT)")
    sql(s"INSERT INTO $t3 VALUES (1), (2), (NULL)")
    sql(s"DELETE FROM $t3 WHERE id NOT IN (SELECT id FROM range(2))") // list {0,1}
    val left = sql(s"SELECT id FROM $t3").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(left == Seq(-1L, 1L)) // 2 deleted; NULL row and 1 kept
  }

  test("uncorrelated scalar subqueries fold to literals in UPDATE/DELETE") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(10)")
    sql(s"CREATE TABLE $aux AS SELECT id AS k FROM range(4)") // max k = 3
    // scalar in SET and in WHERE, composing in one statement
    sql(s"UPDATE $t SET v = (SELECT max(k) * 100 FROM $aux) WHERE id > (SELECT max(k) FROM $aux)")
    assert(sql(s"SELECT count(*) FROM $t WHERE v = 300.0").head().getLong(0) == 6) // ids 4..9
    // scalar + IN-subquery conjunct in the same condition
    sql(s"DELETE FROM $t WHERE id IN (SELECT k FROM $aux) AND id < (SELECT max(k) FROM $aux)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 7) // 0,1,2 gone
    // zero-row scalar → NULL → no row matches (ternary logic)
    sql(s"DELETE FROM $t WHERE id > (SELECT k FROM $aux WHERE k > 100)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 7)
    // >1-row scalar → error, statement unapplied
    val e = intercept[Exception] {
      sql(s"DELETE FROM $t WHERE id > (SELECT k FROM $aux)")
    }
    assert(e.getMessage.toLowerCase.contains("more than one row"), e.getMessage)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 7)
  }

  test("MERGE ... WITH SCHEMA EVOLUTION adds source-only columns additively") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $t AS tgt
           |USING (SELECT * FROM VALUES (2, 'B', 20L), (3, 'C', 30L)
           |       AS s(id, v, extra)) AS src
           |ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = sql(s"SELECT id, v, extra FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // pre-existing unmatched row reads NULL for the evolved column
    assert(rows == Seq((1L, "a", -1L), (2L, "B", 20L), (3L, "C", 30L)))
    // WITHOUT the clause, the same merge must NOT evolve (extra ignored)
    val t2 = freshTable()
    sql(s"CREATE TABLE $t2 (id BIGINT, v STRING)")
    sql(s"INSERT INTO $t2 VALUES (1, 'a')")
    sql(s"""MERGE INTO $t2 AS tgt
           |USING (SELECT * FROM VALUES (9, 'Z', 99L) AS s(id, v, extra)) AS src
           |ON tgt.id = src.id
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sql(s"SELECT * FROM $t2").schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("zero-match DML signals by TYPE, not message text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nomatch").toString
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    import spark.implicits._
    t.write(Seq((1L, "a")).toDF("id", "v"))
    // programmatic API parity: still an IllegalArgumentException subclass
    val e = intercept[graft.delta.NoMatchedRowsException] {
      t.delete(org.apache.spark.sql.functions.col("id") > 100)
    }
    assert(e.isInstanceOf[IllegalArgumentException])
  }

  test("UPDATE SET from a correlated scalar subquery; no match → NULL") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, total DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 0.0), (2, 0.0), (3, 0.0)")
    sql(s"CREATE TABLE $aux (k BIGINT, v DOUBLE)")
    sql(s"INSERT INTO $aux VALUES (1, 5.0), (1, 7.0), (2, 11.0)") // no k=3
    sql(s"UPDATE $t SET total = (SELECT max(v) FROM $aux WHERE $aux.k = $t.k)")
    val got = sql(s"SELECT k, total FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq((1L, Some(7.0)), (2L, Some(11.0)), (3L, None)))
  }

  test("UPDATE correlated scalar: WHERE bounds the assignment, rows outside untouched") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k, CAST(-1 AS DOUBLE) AS m FROM range(6)")
    sql(s"CREATE TABLE $aux AS SELECT id % 3 AS k, CAST(id AS DOUBLE) AS v FROM range(9)")
    // per-key max over aux: k=0→6, k=1→7, k=2→8; t keys 3..5 unmatched
    sql(s"""UPDATE $t SET m = (SELECT max(v) FROM $aux WHERE $aux.k = $t.k)
           |WHERE k % 2 = 0""".stripMargin)
    val got = sql(s"SELECT k, m FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // k=0 matched+admitted → 6; k=2 → 8; k=4 admitted but unmatched → NULL;
    // odd keys outside the WHERE keep -1
    assert(got.toSeq == Seq((0L, Some(6.0)), (1L, Some(-1.0)), (2L, Some(8.0)),
      (3L, Some(-1.0)), (4L, None), (5L, Some(-1.0))))
  }

  test("DELETE WHERE compares against a correlated scalar; unmatched rows survive") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, price DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 10.0), (2, 10.0), (3, 10.0)")
    sql(s"CREATE TABLE $aux (k BIGINT, v DOUBLE)")
    sql(s"INSERT INTO $aux VALUES (1, 4.0), (2, 40.0)") // avg: k1=4, k2=40; no k=3
    sql(s"DELETE FROM $t WHERE price > (SELECT avg(v) FROM $aux WHERE $aux.k = $t.k)")
    // k=1: 10 > 4 → deleted; k=2: 10 > 40 → kept; k=3: 10 > NULL → kept
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 3L))
  }

  test("DELETE WHERE correlated scalar IS NULL deletes exactly the unmatched rows") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(5)")
    sql(s"CREATE TABLE $aux AS SELECT id AS k, id AS v FROM range(3)")
    sql(s"DELETE FROM $t WHERE (SELECT max(v) FROM $aux WHERE $aux.k = $t.k) IS NULL")
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(0L, 1L, 2L))
  }

  test("correlated scalar observed at >1 row per key is an error; unobserved duplicates are not") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, x DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 0.0)")
    sql(s"CREATE TABLE $aux (k BIGINT, v DOUBLE)")
    // k=9 duplicated but no target row has k=9 → never observed, no error
    sql(s"INSERT INTO $aux VALUES (1, 5.0), (9, 1.0), (9, 2.0)")
    sql(s"UPDATE $t SET x = (SELECT v FROM $aux WHERE $aux.k = $t.k)")
    assert(sql(s"SELECT x FROM $t").head().getDouble(0) == 5.0)
    sql(s"INSERT INTO $aux VALUES (1, 6.0)") // now k=1 is ambiguous AND observed
    val e = intercept[Exception] {
      sql(s"UPDATE $t SET x = (SELECT v FROM $aux WHERE $aux.k = $t.k)")
    }
    assert(e.getMessage.toLowerCase.contains("multiple source rows") ||
      e.getMessage.toLowerCase.contains("more than one row"), e.getMessage)
  }

  test("correlated COUNT sees 0 (not NULL) for unmatched rows — no count bug") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(5)")
    sql(s"CREATE TABLE $aux AS SELECT id AS k FROM range(2)") // k = 0, 1
    // `count(*) = 0` is TRUE exactly for keys absent from aux: the
    // zero-tuple value is 0, not the NULL a naive substitution would use
    sql(s"DELETE FROM $t WHERE (SELECT count(*) FROM $aux WHERE $aux.k = $t.k) = 0")
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(0L, 1L))
    // and as an assignment: matched keys get their count, unmatched 0
    val t2 = freshTable()
    sql(s"CREATE TABLE $t2 AS SELECT id AS k, CAST(-1 AS BIGINT) AS c FROM range(3)")
    val aux2 = freshTable()
    sql(s"CREATE TABLE $aux2 AS SELECT id % 2 AS k FROM range(3)") // k0×2, k1×1
    sql(s"UPDATE $t2 SET c = (SELECT count(*) FROM $aux2 WHERE $aux2.k = $t2.k)")
    assert(sql(s"SELECT c FROM $t2 ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 1L, 0L))
  }

  test("correlated scalar DELETE under MoR: DV-masked, no files rewritten") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k, CAST(10 AS DOUBLE) AS price FROM range(10)")
    sql(s"CREATE TABLE $aux AS SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(5, 15)")
    val path = GraftSql.warehousePath(spark).get + "/dml/" + t.split('.').last
    val before = graft.delta.DeltaTable.forPath(spark, path).snapshot()
      .activeFiles.map(_.path).toSet
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try {
      // keys 5..9 matched with v = k: 10 > k deletes 5..9? v=k so 10>v for k∈{5..9}
      sql(s"DELETE FROM $t WHERE price > (SELECT max(v) FROM $aux WHERE $aux.k = $t.k)")
    } finally spark.conf.unset("spark.graft.sql.dml.mor")
    val snap = graft.delta.DeltaTable.forPath(spark, path).snapshot()
    assert(before.subsetOf(snap.activeFiles.map(_.path).toSet),
      "MoR correlated-scalar DELETE must not rewrite existing files")
    assert(snap.activeFiles.exists(_.deletionVector.nonEmpty))
    // unmatched keys 0..4 survive (10 > NULL never TRUE); matched 5..9 deleted
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("correlated IN: membership is tested per correlation group") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, g BIGINT)")
    sql(s"INSERT INTO $t VALUES (1, 0), (2, 0), (1, 1), (3, 1)")
    sql(s"CREATE TABLE $aux (x BIGINT, g BIGINT)")
    sql(s"INSERT INTO $aux VALUES (1, 0), (3, 1)")
    // k=1 is in group 0's list only; k=3 in group 1's only
    sql(s"DELETE FROM $t WHERE k IN (SELECT x FROM $aux WHERE $aux.g = $t.g)")
    val got = sql(s"SELECT k, g FROM $t ORDER BY g, k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 0L), (1L, 1L)))
    // and in UPDATE, with a residual conjunct
    sql(s"UPDATE $t SET k = -k WHERE k IN (SELECT x FROM $aux WHERE $aux.g = $t.g) AND g >= 0")
    // survivors (2,0) and (1,1): k=1 IS in group 1's list {3}? no — only (1,1)
    // has k=1, group 1 list is {3} → no match; (2,0) group 0 list {1} → no
    assert(sql(s"SELECT count(*) FROM $t WHERE k < 0").head().getLong(0) == 0)
    sql(s"INSERT INTO $aux VALUES (2, 0)")
    sql(s"UPDATE $t SET k = -k WHERE k IN (SELECT x FROM $aux WHERE $aux.g = $t.g)")
    val got2 = sql(s"SELECT k, g FROM $t ORDER BY g, k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((-2L, 0L), (1L, 1L)))
  }

  test("correlated NOT IN routes through the general fallback, per-group NULL semantics intact") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k, id % 2 AS g FROM range(4)")
    sql(s"CREATE TABLE $aux AS SELECT id AS x, id % 2 AS g FROM range(2)")
    // group 0 list {0}, group 1 list {1}: rows (2,0) and (3,1) are NOT IN
    sql(s"DELETE FROM $t WHERE k NOT IN (SELECT x FROM $aux WHERE $aux.g = $t.g)")
    val got = sql(s"SELECT k, g FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 0L), (1L, 1L)))
    // a NULL in ONE group's list blocks NOT IN for that group only
    sql(s"INSERT INTO $aux VALUES (NULL, 0)")
    sql(s"INSERT INTO $t VALUES (5, 0), (5, 1)")
    sql(s"DELETE FROM $t WHERE k NOT IN (SELECT x FROM $aux WHERE $aux.g = $t.g)")
    val got2 = sql(s"SELECT k, g FROM $t ORDER BY k, g").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // (5,0): 5 NOT IN {0, NULL} is UNKNOWN → survives; (5,1): TRUE → deleted
    assert(got2 == Seq((0L, 0L), (1L, 1L), (5L, 0L)))
  }

  test("non-equality correlation in a scalar subquery runs through the general fallback") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k FROM range(4)")
    sql(s"CREATE TABLE $aux AS SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(4)")
    // per-row running max over aux.k < t.k: k=0 → NULL (keep), k=1 → 0.0
    // (keep), k=2 → 1.0 (keep, not <), k=3 → 2.0 (delete)
    sql(s"DELETE FROM $t WHERE 1.0 < (SELECT max(v) FROM $aux WHERE $aux.k < $t.k)")
    assert(sql(s"SELECT k FROM $t ORDER BY k").collect().map(_.getLong(0)).toSeq
      == Seq(0L, 1L, 2L))
  }

  test("multiple subquery conjuncts and subqueries under OR run through the general fallback") {
    setup()
    val t = freshTable()
    val a = freshTable()
    val b = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 10 AS g FROM range(40)")
    sql(s"CREATE TABLE $a AS SELECT id * 2 AS x FROM range(10)")    // evens 0..18
    sql(s"CREATE TABLE $b AS SELECT id * 3 AS y FROM range(10)")    // 0,3..27
    // two subquery conjuncts, one under OR with a plain predicate:
    // delete ids that are (in a OR g=7) AND in b → even multiples of 3
    // below 19 ({0,6,12,18}) plus {27} (g=7 via id=27, 27 in b)
    sql(s"""DELETE FROM $t
           |WHERE (id IN (SELECT x FROM $a) OR g = 7)
           |  AND id IN (SELECT y FROM $b)""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 35)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (0,6,12,18,27)")
      .head().getLong(0) == 0)
    assert(sql(s"SELECT count(*) FROM $t WHERE id IN (2,3,9,17,21,24)")
      .head().getLong(0) == 6)
    // UPDATE through the same route: assignment over the OLD row, WHERE
    // mixing EXISTS with NOT IN
    sql(s"""UPDATE $t SET g = g + 100
           |WHERE EXISTS (SELECT 1 FROM $a WHERE x = $t.id)
           |  AND id NOT IN (SELECT y FROM $b)""".stripMargin)
    // evens 0..18 minus b-members {0,6,12,18} minus already-deleted → 2,4,8,10,14,16
    assert(sql(s"SELECT count(*) FROM $t WHERE g >= 100").head().getLong(0) == 6)
    assert(sql(s"SELECT sum(g) FROM $t WHERE g >= 100").head().getLong(0)
      == (2 + 4 + 8 + 0 + 4 + 6) + 600)
    // zero-match through the fallback is a SQL no-op
    sql(s"""DELETE FROM $t
           |WHERE id IN (SELECT x + 1000 FROM $a)
           |  AND id IN (SELECT y + 1000 FROM $b)""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 35)
  }

  test("subqueries in UPDATE assignment values run through the general fallback") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k, CAST(0 AS DOUBLE) AS v FROM range(4)")
    sql(s"CREATE TABLE $aux AS SELECT id AS k, CAST(id AS DOUBLE) AS w FROM range(4)")
    // NON-equality-correlated scalar in the VALUE (running sum over
    // aux.k < t.k) — the specialized correlated-scalar path refuses it
    sql(s"UPDATE $t SET v = (SELECT sum(w) FROM $aux WHERE $aux.k < $t.k) WHERE k > 0")
    val got = sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((0L, 0.0), (1L, 0.0), (2L, 1.0), (3L, 3.0)))
    // TWO different correlated scalars across assignments, both reading
    // the PRE-update row, computed together in one pass
    sql(s"""UPDATE $t SET
           |  v = (SELECT max(w) FROM $aux WHERE $aux.k = $t.k),
           |  k = (SELECT count(*) FROM $aux WHERE $aux.k < $t.k) + 10 * $t.k""".stripMargin)
    val got2 = sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got2 == Seq((0L, 0.0), (11L, 1.0), (22L, 2.0), (33L, 3.0)))
  }

  test("correlated scalar under GROUP BY + HAVING runs through the general fallback") {
    setup()
    val t = freshTable()
    val aux = freshTable()
    sql(s"CREATE TABLE $t (g BIGINT, tag STRING)")
    sql(s"INSERT INTO $t VALUES (0, 'a'), (1, 'b')")
    sql(s"CREATE TABLE $aux (g BIGINT, w BIGINT)")
    sql(s"INSERT INTO $aux VALUES (0, 1), (0, 2), (1, 5)")
    // g=0: sum=3 with count 2 → passes HAVING → 3 >= 3 deletes;
    // g=1: single row fails HAVING → scalar NULL → survives
    sql(s"""DELETE FROM $t WHERE
           |  (SELECT sum(w) FROM $aux WHERE $aux.g = $t.g
           |   GROUP BY $aux.g HAVING count(*) > 1) >= 3""".stripMargin)
    val got = sql(s"SELECT g, tag FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "b")))
  }

  test("general fallback handles map-typed columns (formerly a refusal)") {
    setup()
    val t = freshTable()
    val a = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, map('k', id) AS m FROM range(4)")
    sql(s"CREATE TABLE $a AS SELECT id AS x FROM range(2)")
    // two subquery conjuncts → general full-row fallback; id 1 matches both
    sql(s"""DELETE FROM $t
           |WHERE id IN (SELECT x FROM $a) AND id IN (SELECT x + 1 FROM $a)""".stripMargin)
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 3)
    assert(sql(s"SELECT count(*) FROM $t WHERE id = 1").head().getLong(0) == 0)
    // the specialized single-conjunct path still covers map-carrying tables
    sql(s"DELETE FROM $t WHERE id IN (SELECT x FROM $a)")
    assert(sql(s"SELECT count(*) FROM $t").head().getLong(0) == 2)
  }
}
