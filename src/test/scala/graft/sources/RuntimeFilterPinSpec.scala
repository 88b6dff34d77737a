package graft.sources

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase
import graft.plans.GraftSql

/**
 * Runtime filtering must re-prune the PINNED planning snapshot, never
 * re-read the latest table version: a commit landing between query
 * planning and execution must not change which snapshot the query reads
 * (within-query snapshot consistency), and the refiltered file set must
 * be a SUBSET of the base plan's (the columnar/row decision and the
 * skipped-file metric both assume it).
 */
class RuntimeFilterPinSpec extends SparkTestBase {

  private lazy val cat: String = GraftSql.ensure(spark)
  private def sql(q: String) = spark.sql(q)

  private def eqPred(column: String, value: String): Predicate =
    new Predicate("=", Array(
      Expressions.column(column),
      Expressions.literal(UTF8String.fromString(value))))

  test("a commit between planning and execution is invisible to the runtime-filtered scan") {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rtpin")
    val t = s"$cat.rtpin.t1"
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO $t SELECT id, 'old' FROM range(100)")

    val df = sql(s"SELECT id, p FROM $t")
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
      .scan.asInstanceOf[GraftBatchScan]
    val baseParts = scan.planInputPartitions()
    assert(baseParts.nonEmpty)

    // A writer lands a NEW partition after this query planned.
    sql(s"INSERT INTO $t SELECT id, 'fresh' FROM range(50)")

    // Runtime predicate matching ONLY the new partition: the pinned
    // snapshot has no such files, so the refiltered plan must be empty.
    // (Re-reading the latest version — the bug — would find the new file.)
    scan.filter(Array(eqPred("p", "fresh")))
    val refiltered = scan.planInputPartitions()
    assert(refiltered.isEmpty,
      s"runtime-filtered plan read files committed AFTER planning: " +
        s"${refiltered.length} partitions")

    // A predicate on the planned partition keeps a subset of the base plan.
    scan.filter(Array(eqPred("p", "old")))
    assert(scan.planInputPartitions().length <= baseParts.length)
  }

  test("runtime skipped-file metric never goes negative") {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rtpin")
    val t = s"$cat.rtpin.t2"
    sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    (0 until 4).foreach(i =>
      sql(s"INSERT INTO $t SELECT id, 'p$i' FROM range(25)"))
    val df = sql(s"SELECT id FROM $t")
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
      .scan.asInstanceOf[GraftBatchScan]
    def metrics = scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    scan.planInputPartitions()
    val planned = metrics(GraftBatchScan.NumFilesMetric)
    assert(metrics(GraftBatchScan.RuntimeSkippedFilesMetric) == 0)
    sql(s"INSERT INTO $t SELECT id, 'p1' FROM range(25)") // concurrent append
    scan.filter(Array(eqPred("p", "p1")))
    scan.planInputPartitions()
    val after = metrics
    assert(after(GraftBatchScan.RuntimeFiltersMetric) == 1)
    assert(after(GraftBatchScan.RuntimeSkippedFilesMetric) >= 0,
      "skipped-file metric must not go negative (refiltered set ⊆ base set)")
    assert(after(GraftBatchScan.RuntimeSkippedFilesMetric) +
      after(GraftBatchScan.NumFilesMetric) == planned)
  }
}
