package graft.sources

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.plans.GraftSql

/**
 * The native DSv2 batch scan behind every catalog SELECT: parity with the
 * programmatic reader on every table shape (plain, partitioned,
 * column-mapped, DV-masked, mixed), columnar execution for DV-free
 * tables, and runtime file pruning from broadcast-join predicates.
 */
class GraftBatchScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val cat: String = GraftSql.ensure(spark)

  private def sql(q: String) = spark.sql(q)

  private var n = 0
  private def freshTable(): String = synchronized {
    n += 1; s"$cat.bscan.t$n"
  }

  private def setup(): Unit = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.bscan")
    ()
  }

  private def scanExecs(df: org.apache.spark.sql.DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }

  test("catalog SELECT plans a BatchScanExec (not the V1 row bridge) and reads columnar") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, CAST(id % 7 AS INT) AS g FROM range(10000)")
    val df = sql(s"SELECT id, g FROM $t")
    val scans = scanExecs(df)
    assert(scans.size == 1, s"expected one BatchScanExec:\n${df.queryExecution.executedPlan}")
    assert(scans.head.supportsColumnar, "DV-free scan should read columnar")
    assert(df.count() == 10000)
    assert(df.agg(sum("id")).head().getLong(0) == (0L until 10000L).sum)
  }

  test("filters and projection reach the scan; rows match the programmatic reader") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, CAST(id AS STRING) AS s, id * 3 AS v FROM range(5000)")
    val df = sql(s"SELECT s FROM $t WHERE id >= 100 AND id < 110")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(id,100)"), s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema"), plan)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      (100 until 110).map(_.toString).sorted)
  }

  test("partitioned table: partition values are reconstructed typed, pruning still applies") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, g INT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $t SELECT id, CAST(id % 3 AS INT), CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(1000)")
    val rows = sql(s"SELECT id, p FROM $t WHERE p = 'even' ORDER BY id").collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getString(1) == "even"))
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1000L by 2).toSeq)
    // partition column only — rows come purely from partitionValues
    assert(sql(s"SELECT p FROM $t").collect().map(_.getString(0))
      .count(_ == "odd") == 500)
  }

  test("typed + null partition values round-trip (int partition, HIVE default null)") {
    setup()
    import spark.implicits._
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, k INT) PARTITIONED BY (k)")
    Seq((1L, Integer.valueOf(5)), (2L, Integer.valueOf(5)),
      (3L, null.asInstanceOf[Integer]))
      .toDF("id", "k").writeTo(t).append()
    val got = sql(s"SELECT id, k FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1)))
    assert(got.toSeq == Seq((1L, 5), (2L, 5), (3L, null)))
    assert(sql(s"SELECT id FROM $t WHERE k = 5").count() == 2)
    assert(sql(s"SELECT id FROM $t WHERE k IS NULL").head().getLong(0) == 3L)
  }

  test("DV-masked table: rows drop by position, scan downgrades to row mode") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, CAST(id AS STRING) AS s FROM range(2000)")
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try sql(s"DELETE FROM $t WHERE id % 10 = 3")
    finally spark.conf.unset("spark.graft.sql.dml.mor")
    val df = sql(s"SELECT id, s FROM $t")
    val scans = scanExecs(df)
    assert(scans.nonEmpty && !scans.head.supportsColumnar,
      "DV-carrying scan must be partition-uniform row mode")
    val ids = df.collect().map(_.getLong(0)).sorted
    assert(ids.length == 1800)
    assert(!ids.exists(_ % 10 == 3))
    // filter over a DV'd file must still not shift positions
    assert(sql(s"SELECT count(*) FROM $t WHERE id < 100").head().getLong(0) == 90)
  }

  test("column-mapped table (RENAME COLUMN) reads physical parquet names positionally") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, old_name STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    sql(s"ALTER TABLE $t RENAME COLUMN old_name TO new_name")
    sql(s"INSERT INTO $t VALUES (3, 'c')")
    val rows = sql(s"SELECT id, new_name FROM $t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // pushed filter on the renamed column must still find rows
    assert(sql(s"SELECT id FROM $t WHERE new_name = 'b'").head().getLong(0) == 2L)
  }

  test("LIMIT trims the planned file list (partial pushdown, exact rows)") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT)")
    (0 until 5).foreach(i =>
      sql(s"INSERT INTO $t SELECT id FROM range(${i * 100}, ${i * 100 + 100})"))
    val before = DeltaRelation.limitSkipped.get()
    assert(sql(s"SELECT id FROM $t LIMIT 10").count() == 10)
    assert(DeltaRelation.limitSkipped.get() > before,
      "limit should have trimmed files from the plan")
  }

  test("runtime filtering: a broadcast-join predicate prunes files at execution") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $t SELECT id, CONCAT('p', CAST(id % 20 AS STRING)) FROM range(20000)")
    // DPP requires a LIKELY-SELECTIVE build side that survives to the
    // optimized plan (a LocalRelation dim constant-folds its filter away
    // and is never used to prune) — so the dim is a table too, carrying
    // a real Filter node.
    val dim = freshTable()
    sql(s"CREATE TABLE $dim (p STRING, keep INT)")
    sql(s"INSERT INTO $dim VALUES ('p3', 1), ('p9', 0)")
    val joined = sql(
      s"SELECT t.id FROM $t t JOIN $dim d ON t.p = d.p WHERE d.keep = 1")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"DPP filter not injected into the scan:\n$plan")
    assert(joined.collect().length == 1000)
    // The executed fact-side scan's own driver metrics.
    val fact = collect(joined.queryExecution.executedPlan) {
      case b: BatchScanExec if b.runtimeFilters.nonEmpty => b
    }
    assert(fact.size == 1, joined.queryExecution.executedPlan.toString)
    def metric(name: String) = fact.head.metrics(name).value
    assert(metric(GraftBatchScan.RuntimeFiltersMetric) > 0,
      "runtime filter should have reached the scan")
    assert(metric(GraftBatchScan.RuntimeSkippedFilesMetric) > 0,
      "runtime filter should have pruned planned partitions")
  }

  test("empty table and empty projection still answer") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t (id BIGINT, s STRING)")
    assert(sql(s"SELECT * FROM $t").count() == 0)
    sql(s"INSERT INTO $t SELECT id, 'x' FROM range(7)")
    // empty required schema: SELECT literal
    assert(sql(s"SELECT 1 FROM $t").count() == 7)
  }

  test("catalog read equals programmatic read on a mixed DV + append table") {
    setup()
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id, id % 5 AS g FROM range(1000)")
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try sql(s"DELETE FROM $t WHERE g = 2")
    finally spark.conf.unset("spark.graft.sql.dml.mor")
    sql(s"INSERT INTO $t SELECT id, id % 5 FROM range(1000, 1400)")
    val viaSql = sql(s"SELECT id, g FROM $t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val path = GraftSql.warehousePath(spark).get + "/bscan/" + t.split('.').last
    val viaApi = graft.delta.DeltaTable.forPath(spark, path).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaSql == viaApi)
    assert(viaSql.size == 1200)
  }
}
