package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory

import graft.SparkTestBase
import graft.plans.GraftSql

/**
 * One Hadoop-conf broadcast per planned scan: a scan builds its reader
 * factory once however often Spark asks for it, and the clean and
 * deletion-vector Parquet factories inside it share one broadcast conf.
 * The DV twin must still push no filter: a page skipped by a pushed
 * filter would shift the physical row positions its bitmap masks.
 */
class ReaderFactoryReuseSpec extends SparkTestBase {

  private lazy val cat: String = GraftSql.ensure(spark)
  private def sql(q: String) = spark.sql(q)

  private val Rows = 100000L
  private val Appended = 1000L

  /** One 100k-row file (five Parquet pages per column) masked by a DV,
    * plus one clean appended file. Pages hold 20,000 rows, so the mask's
    * period (7) does not divide a page skip's position shift. */
  private lazy val table: String = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rfreuse")
    val t = s"$cat.rfreuse.mixed"
    sql(s"CREATE TABLE $t AS SELECT id, id % 7 AS g FROM range(0, $Rows, 1, 1)")
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try sql(s"DELETE FROM $t WHERE g = 2")
    finally spark.conf.unset("spark.graft.sql.dml.mor")
    sql(s"INSERT INTO $t SELECT id, id % 7 FROM range($Rows, ${Rows + Appended})")
    t
  }

  private def query = s"SELECT id, g FROM $table WHERE id >= 90000"

  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftBatchScan =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan.asInstanceOf[GraftBatchScan]

  test("repeated createReaderFactory calls on one planned scan return one instance") {
    val scan = scanOf(sql(query))
    val first = scan.createReaderFactory()
    assert(scan.createReaderFactory() eq first)
    assert(scan.toBatch.createReaderFactory() eq first)
  }

  test("the clean and DV factories share one broadcast conf; the DV twin pushes no filter") {
    val scan = scanOf(sql(query))
    val parts = scan.planInputPartitions()
    assert(parts.exists(_.isInstanceOf[GraftDvPartition]) &&
      parts.exists(!_.isInstanceOf[GraftDvPartition]),
      s"table should plan both DV and clean partitions: ${parts.toSeq}")
    val f = scan.createReaderFactory().asInstanceOf[GraftReaderFactory]
    val clean = f.clean.asInstanceOf[ParquetPartitionReaderFactory]
    val dv = f.dvRaw.asInstanceOf[ParquetPartitionReaderFactory]
    assert(clean.broadcastedConf.id == dv.broadcastedConf.id)
    assert(clean.filters.nonEmpty, "the clean factory should push the filter")
    assert(dv.filters.isEmpty, "the DV factory must push no filter")
  }

  test("a filtered query over DV-masked and clean files returns the brute-force rows twice") {
    val expected = ((90000L until Rows).filter(_ % 7 != 2) ++
      (Rows until Rows + Appended)).map(id => (id, id % 7)).toSet
    val df = sql(query)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (got <- Seq(rows(df), rows(df), rows(sql(query)))) {
      val seen = got.toSet
      val exact = got.size == seen.size && seen == expected
      assert(exact, s"${got.size} rows: ${(seen diff expected).size} unexpected, " +
        s"${(expected diff seen).size} missing")
    }
  }
}
