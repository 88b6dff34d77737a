package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.plans.GraftSql
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** Log-derived statistics reporting: graft relations must tell Spark's
  * join planner how big they are. Without it every relation reports the
  * assume-huge `defaultSizeInBytes`, so a kilobyte dimension table stored
  * as a graft table never auto-broadcasts and each join against it
  * shuffles both sides — at 100 TB, the single worst plan a catalog can
  * cause. Covers the format path (`load(path)`), the DSv2 catalog path
  * (`SupportsReportStatistics` AFTER filter pruning),
  * and the resulting auto-broadcast decision itself. */
class StatsReportingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cat: String = GraftSql.ensure(spark)

  private def v2Stats(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.stats
    }

  test("load(path) scan reports log-derived sizeInBytes") {
    val dir = Files.createTempDirectory("graft-stats-v1").toString
    (1 to 1000).map(i => (i.toLong, s"name$i")).toDF("id", "s")
      .write.format("graft-delta").save(dir)
    val stats = v2Stats(spark.read.format("graft-delta").load(dir))
    assert(stats.size == 1)
    val size = stats.head.sizeInBytes
    val onDisk = graft.delta.DeltaTable.forPath(spark, dir)
      .snapshot().activeFiles.map(_.size).sum
    assert(size == onDisk, s"sizeInBytes $size != log file bytes $onDisk")
    assert(size > 0 && size < spark.sessionState.conf.defaultSizeInBytes)
    assert(stats.head.rowCount.contains(BigInt(1000)))
  }

  test("DSv2 scan reports size and exact row count from the log") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.statsrep")
    val t = s"$cat.statsrep.dims"
    spark.sql(s"CREATE TABLE $t AS SELECT id, CAST(id % 10 AS INT) AS g FROM range(5000)")
    val stats = v2Stats(spark.table(t))
    assert(stats.size == 1)
    assert(stats.head.rowCount.contains(BigInt(5000)),
      s"rowCount ${stats.head.rowCount} != Some(5000)")
    assert(stats.head.sizeInBytes > 0 &&
      stats.head.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes)
  }

  test("row count subtracts deletion vectors; stays exact") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.statsrep")
    val t = s"$cat.statsrep.dvdims"
    spark.sql(s"CREATE TABLE $t AS SELECT id FROM range(200)")
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try spark.sql(s"DELETE FROM $t WHERE id < 50")
    finally spark.conf.unset("spark.graft.sql.dml.mor")
    val stats = v2Stats(spark.table(t))
    assert(stats.size == 1)
    assert(stats.head.rowCount.contains(BigInt(150)),
      s"rowCount ${stats.head.rowCount} != Some(150) after DV delete")
  }

  test("partition-pruned scans report the pruned size, not the table size") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.statsrep")
    val t = s"$cat.statsrep.parts"
    spark.sql(s"CREATE TABLE $t (id BIGINT, p INT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 4 AS INT) FROM range(4000)")
    val full = v2Stats(spark.table(t)).head
    val pruned = v2Stats(spark.table(t).filter(col("p") === 1)).head
    assert(pruned.sizeInBytes < full.sizeInBytes,
      s"pruned ${pruned.sizeInBytes} !< full ${full.sizeInBytes}")
    assert(pruned.rowCount.contains(BigInt(1000)),
      s"pruned rowCount ${pruned.rowCount} != Some(1000)")
  }

  test("small graft tables auto-broadcast in joins against big relations") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.statsrep")
    val t = s"$cat.statsrep.dim"
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k, CONCAT('v', id) AS v FROM range(100)")
    // big side: ~5M rows of LongType ≈ 40 MB estimate, over the 10 MB
    // broadcast threshold — a BroadcastHashJoin can only mean the planner
    // sized the graft side from its log stats and picked it as build side
    val big = spark.range(5000000L).toDF("k")
    val joined = big.join(spark.table(t), "k")
    val phys = joined.queryExecution.sparkPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"expected auto-broadcast of the small graft table, got:\n$phys")
    assert(joined.count() == 100)
    // same through the V1 format path
    val dir = Files.createTempDirectory("graft-stats-bc").toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.format("graft-delta").save(dir)
    val joined1 = big.join(spark.read.format("graft-delta").load(dir), "k")
    val phys1 = joined1.queryExecution.sparkPlan.toString
    assert(phys1.contains("BroadcastHashJoin"),
      s"expected auto-broadcast through the V1 path, got:\n$phys1")
  }
}
