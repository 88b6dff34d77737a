package graft.plans

import graft.SparkTestBase

/**
 * Column DEFAULT values through the catalog: Spark resolves the default
 * from the schema's field metadata at ANALYSIS time, so the value is
 * materialized into every written row — reads never consult it. CREATE
 * TABLE carries defaults on the v2 columns; ALTER COLUMN SET/DROP DEFAULT
 * is a metadata-only commit; ADD COLUMN with DEFAULT is refused (existing
 * rows would read NULL, not the default).
 */
class ColumnDefaultsSpec extends SparkTestBase {

  private lazy val cat: String = GraftSql.ensure(spark)
  private def sql(q: String) = spark.sql(q)

  private var n = 0
  private def freshTable(): String = synchronized {
    n += 1; s"$cat.dflt.t$n"
  }
  private def setup(): Unit = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dflt"); ()
  }
  private def deltaOf(t: String): graft.delta.DeltaTable =
    graft.delta.DeltaTable.forPath(spark,
      GraftSql.warehousePath(spark).get + "/dflt/" + t.split('.').last)

  test("CREATE TABLE with DEFAULT fills omitted columns and the DEFAULT keyword") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, status STRING DEFAULT 'new', " +
      "score DOUBLE DEFAULT 1.5)")
    sql(s"INSERT INTO $t (id) VALUES (1)")
    sql(s"INSERT INTO $t VALUES (2, DEFAULT, DEFAULT)")
    sql(s"INSERT INTO $t VALUES (3, 'done', 9.0)")
    val rows = sql(s"SELECT id, status, score FROM $t ORDER BY id")
      .collect().map(_.toSeq)
    assert(rows.toSeq == Seq(
      Seq(1L, "new", 1.5), Seq(2L, "new", 1.5), Seq(3L, "done", 9.0)))
  }

  test("ALTER COLUMN SET DEFAULT applies to future inserts; DROP DEFAULT stops it") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, tag STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a')")
    sql(s"ALTER TABLE $t ALTER COLUMN tag SET DEFAULT 'z'")
    sql(s"INSERT INTO $t (id) VALUES (2)")
    sql(s"ALTER TABLE $t ALTER COLUMN tag DROP DEFAULT")
    sql(s"INSERT INTO $t VALUES (3, DEFAULT)")
    val rows = sql(s"SELECT id, tag FROM $t ORDER BY id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, "a"), Seq(2L, "z"), Seq(3L, null)))
  }

  test("defaults are materialized at write: pre-SET-DEFAULT rows keep their values") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v INT DEFAULT 7)")
    sql(s"INSERT INTO $t (id) VALUES (1)")
    sql(s"ALTER TABLE $t ALTER COLUMN v SET DEFAULT 99")
    sql(s"INSERT INTO $t (id) VALUES (2)")
    val rows = sql(s"SELECT id, v FROM $t ORDER BY id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, 7), Seq(2L, 99)))
  }

  test("UPDATE SET c = DEFAULT resolves the current default") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v INT DEFAULT 7)")
    sql(s"INSERT INTO $t VALUES (1, 100), (2, 200)")
    sql(s"UPDATE $t SET v = DEFAULT WHERE id = 2")
    val rows = sql(s"SELECT id, v FROM $t ORDER BY id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, 100), Seq(2L, 7)))
  }

  test("ADD COLUMN with DEFAULT is refused with the backfill guidance") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    sql(s"INSERT INTO $t VALUES (1)")
    val e = intercept[Exception] {
      sql(s"ALTER TABLE $t ADD COLUMN v INT DEFAULT 5")
    }
    assert(e.getMessage.contains("DEFAULT"))
  }

  test("defaults survive unrelated writes and table properties commits") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, s STRING DEFAULT 'd')")
    sql(s"INSERT INTO $t VALUES (1, 'x')")
    sql(s"ALTER TABLE $t SET TBLPROPERTIES ('k' = 'v')")
    sql(s"INSERT INTO $t (id) VALUES (2)")
    val rows = sql(s"SELECT id, s FROM $t ORDER BY id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, "x"), Seq(2L, "d")))
  }

  test("rows that PREDATE a column read NULL even after SET DEFAULT (not the default)") {
    // Regression (round-12 advice): EXISTS_DEFAULT persisted in the schema
    // made parquet readers fill columns missing from old files with the
    // default. Write-time-only semantics require NULL.
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    sql(s"INSERT INTO $t VALUES (1)") // file without column v
    sql(s"ALTER TABLE $t ADD COLUMN v INT")
    sql(s"ALTER TABLE $t ALTER COLUMN v SET DEFAULT 5")
    sql(s"INSERT INTO $t (id) VALUES (2)") // default materialized
    val rows = sql(s"SELECT id, v FROM $t ORDER BY id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, null), Seq(2L, 5)),
      "pre-existing rows must read NULL, not the later default")
    // and a file rewrite (compaction) must not change what queries return
    val dt = deltaOf(t)
    graft.delta.Maintenance.compact(dt,
      graft.delta.Maintenance.CompactionConfig(targetFileSize = 1L << 30))
    val after = sql(s"SELECT id, v FROM $t ORDER BY id").collect().map(_.toSeq)
    assert(after.toSeq == Seq(Seq(1L, null), Seq(2L, 5)),
      "compaction must preserve NULLs (no default injection at rewrite)")
  }

  test("DROP DEFAULT leaves no EXISTS_DEFAULT behind in the schema") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, v INT)")
    sql(s"INSERT INTO $t VALUES (1, 1)")
    sql(s"ALTER TABLE $t ALTER COLUMN v SET DEFAULT 5")
    sql(s"ALTER TABLE $t ALTER COLUMN v DROP DEFAULT")
    val md = deltaOf(t).metaSnapshot().schema.fields.find(_.name == "v").get.metadata
    assert(!md.contains("CURRENT_DEFAULT") && !md.contains("EXISTS_DEFAULT"),
      s"stale default metadata after DROP DEFAULT: $md")
  }

  test("direct and table-API writes materialize defaults identically") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, s STRING DEFAULT 'd')")
    sql(s"INSERT INTO $t (id) VALUES (1)") // DSv2 direct write
    // identity tables take the V1 route into DeltaTable.write, whose
    // allocator numbers the rows before the task writers run
    val v1 = freshTable()
    sql(s"CREATE TABLE $v1 (rid BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "id BIGINT, s STRING DEFAULT 'd')")
    sql(s"INSERT INTO $v1 (id) VALUES (2)")
    val rows = sql(s"SELECT id, s FROM $t UNION ALL SELECT id, s FROM $v1 ORDER BY id")
      .collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(1L, "d"), Seq(2L, "d")))
  }
}
