package graft.delta

import graft.SparkTestBase
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/**
 * Plan audit for the DML candidate restriction: a CoW/MoR delete/update must
 * restrict the rewrite to its matched files via the scan's FILE LIST (or a
 * broadcast semi-join), never a literal `isin(matchedFiles)` — an
 * In-expression with one literal per file is a driver plan-size/analysis
 * blow-up at 10⁵–10⁶ matched files even though it "works" at unit-test scale.
 * The audit is structural (captures every plan the DML executes and rejects
 * ANY In/InSet over a file-path attribute, and ANY In with an unbounded
 * literal list), so it pins the property without writing 10⁴ real files:
 * with file-list restriction the expression cannot exist at any N, and the
 * numFiles assertion proves the rewrite scan read ONLY matched files.
 */
class DmlPlanAuditSpec extends SparkTestBase {
  import spark.implicits._

  /** Collected (logical, physical) plans for every query run while active. */
  private class PlanCapture extends QueryExecutionListener {
    val plans = new ConcurrentLinkedQueue[(LogicalPlan, SparkPlan)]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add((qe.optimizedPlan, qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      plans.add((qe.optimizedPlan, qe.executedPlan))
  }

  /** All In/InSet expressions anywhere in a logical plan (incl. subqueries). */
  private def inExprs(plan: LogicalPlan): Seq[Any] =
    plan.collectWithSubqueries { case node =>
      node.expressions.flatMap(_.collect {
        case i: In => i
        case i: InSet => i
      })
    }.flatten

  private def isFilePathAttr(e: Any): Boolean = e match {
    case i: In => i.value match {
      case a: Attribute => a.name == "__file" || a.name == "file_path"
      case other => other.references.exists(r =>
        r.name == "__file" || r.name == "file_path")
    }
    case i: InSet => i.child.references.exists(r =>
      r.name == "__file" || r.name == "file_path")
    case _ => false
  }

  private def literalCount(e: Any): Int = e match {
    case i: In => i.list.size
    case i: InSet => i.hset.size
    case _ => 0
  }

  /** numFiles metric of every file scan in a physical plan (AQE-unwrapped). */
  private def scanNumFiles(plan: SparkPlan): Seq[Long] = {
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => Seq(other)
    }
    unwrap(plan).flatMap(_.collect {
      case b: BatchScanExec => b.metrics.get("numFiles").map(_.value)
    }.flatten)
  }

  /** Run `body` with a plan-capture listener attached; returns its plans.
    * The listener bus is async — poll until the plan set is quiescent. */
  private def capturing(body: => Unit): Seq[(LogicalPlan, SparkPlan)] = {
    val cap = new PlanCapture
    spark.listenerManager.register(cap)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 30000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val n = cap.plans.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      cap.plans.asScala.toSeq
    } finally spark.listenerManager.unregister(cap)
  }

  private def assertNoFileIn(plans: Seq[(LogicalPlan, SparkPlan)], op: String): Unit = {
    val offenders = plans.flatMap(p => inExprs(p._1))
      .filter(e => isFilePathAttr(e) || literalCount(e) > 100)
    assert(offenders.isEmpty,
      s"$op built a literal In over file paths (plan-size scale hazard): " +
        offenders.take(3).mkString("; "))
  }

  private def fragmentedTable(nFiles: Int, rows: Int): DeltaTable = {
    val t = DeltaTable.forPath(spark,
      Files.createTempDirectory("graft-dmlaudit").toString)
    // Range-partition by id so a contiguous id filter matches a strict
    // subset of the files (round-robin would smear every id range over
    // all files and defeat the numFiles assertion).
    t.write((0 until rows).map(i => (i, i % 10, s"r$i")).toDF("id", "k", "s")
      .repartitionByRange(nFiles, col("id")))
    assert(t.snapshot().activeFiles.size == nFiles)
    t
  }

  test("CoW delete: no In over file paths; rewrite scans only matched files") {
    val t = fragmentedTable(nFiles = 40, rows = 4000)
    val plans = capturing {
      t.delete("""{"id":{"$lt":400}}""")
    }
    assertNoFileIn(plans, "delete")
    assert(t.toDF().count() == 3600)
    // The rewrite job's scan must read exactly the matched files — fewer
    // than the table's 40 — proving the restriction is file-list pruning,
    // not a scan-everything-and-filter shape.
    val matched = t.log.readCommit(t.version)
      .collectFirst { case c: CommitInfo => c }.flatMap(_.operationParameters
        .get("numRewrittenFiles")).map(_.toLong).getOrElse(fail("no commitInfo"))
    val counts = plans.flatMap(p => scanNumFiles(p._2)).filter(_ > 0)
    assert(counts.contains(matched),
      s"expected a scan over exactly $matched matched files, saw $counts")
    assert(matched < 40, s"test should match a strict subset, matched $matched")
  }

  test("CoW update: no In over file paths") {
    val t = fragmentedTable(nFiles = 30, rows = 3000)
    val plans = capturing {
      t.update("""{"id":{"$lt":300}}""", """{"s":"patched"}""")
    }
    assertNoFileIn(plans, "update")
    assert(t.toDF().filter($"s" === "patched").count() == 300)
  }

  test("MoR deleteWithDV: no In over file paths") {
    val t = fragmentedTable(nFiles = 30, rows = 3000)
    val plans = capturing {
      t.deleteWithDV("""{"id":{"$lt":300}}""")
    }
    assertNoFileIn(plans, "deleteWithDV")
    assert(t.toDF().count() == 2700)
  }

  test("MoR updateWithDV: no In over file paths") {
    val t = fragmentedTable(nFiles = 30, rows = 3000)
    val plans = capturing {
      t.updateWithDV("""{"id":{"$lt":300}}""", """{"s":"patched"}""")
    }
    assertNoFileIn(plans, "updateWithDV")
    assert(t.toDF().filter($"s" === "patched").count() == 300)
  }

  test("MERGE: no In over file paths (semi-join restriction, Merge.scala)") {
    val t = fragmentedTable(nFiles = 30, rows = 3000)
    val src = (0 until 200).map(i => (i, -1, "merged")).toDF("id", "k", "s")
    val plans = capturing {
      t.merge(src, Seq("id"))
    }
    assertNoFileIn(plans, "merge")
    // Bound note, enforced: the matched-file census must aggregate one row
    // per file (groupBy __file), never a single collect_set(__file) cell —
    // one array cell holding 10⁵ paths would be assembled by one task as a
    // multi-MB aggregation row (Merge.matchedCensus).
    val collectSets = plans.flatMap(_._1.collectWithSubqueries { case node =>
      node.expressions.flatMap(_.collect {
        case c: org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet
          if c.references.exists(_.name == "__file") => c
      })
    }.flatten)
    assert(collectSets.isEmpty,
      s"merge aggregated the file set into one collect_set cell: $collectSets")
    assert(t.toDF().filter($"s" === "merged").count() == 200)
  }

  /** The distinct `graft:*` job labels `body` runs, in first-run order.
    * The listener bus is async — poll until the set is quiescent. */
  private def graftLabels(body: => Unit): Seq[String] = {
    val labels = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("graft:")).foreach(labels.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 30000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val n = labels.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      labels.asScala.toSeq.distinct
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def mergeLabels(body: => Unit): Seq[String] =
    graftLabels(body).filter(_.startsWith("graft:merge-"))

  test("MERGE: each route runs exactly its pinned graft:merge-* passes") {
    val cat = graft.plans.GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.audit")
    def table(name: String): String = {
      val t = s"$cat.audit.$name"
      spark.sql(s"CREATE TABLE $t AS SELECT id, concat('v', id) AS v FROM range(1000)")
      t
    }
    // the change-batch shape a CDC ingest runs: delete, upsert, insert
    def keyMerge(t: String): Unit = spark.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT id, concat('u', id) AS v, IF(id % 2 = 0, 'D', 'U') AS op
         |  FROM range(990, 1010)) src
         |ON tgt.id = src.id
         |WHEN MATCHED AND src.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // two passes on every route: the census (which also checks SQL
    // cardinality) and one write job for the images and the inserts
    val twoPasses = Seq("graft:merge-census", "graft:merge-write")
    val cow = table("labcow")
    assert(mergeLabels(keyMerge(cow)) == twoPasses)
    val mask = table("labmask")
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try assert(mergeLabels(keyMerge(mask)) == twoPasses)
    finally spark.conf.unset("spark.graft.sql.dml.mor")
    val theta = table("labtheta")
    assert(mergeLabels(spark.sql(
      s"""MERGE INTO $theta tgt
         |USING (SELECT id, concat('u', id) AS v FROM range(995, 1005)) src
         |ON tgt.id > src.id AND tgt.id <= src.id + 1
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)) == twoPasses)
    Seq(cow, mask).foreach { t =>
      assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 1005)
    }
    assert(spark.sql(s"SELECT count(*) FROM $theta").head().getLong(0) == 1006)
  }

  test("a write of more than 8 files runs one job and no stats pass") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-statsjob").toString)
    val labels = graftLabels {
      t.write((0 until 2000).map(i => (i, s"r$i")).toDF("id", "s").repartition(12))
    }
    assert(t.snapshot().activeFiles.size == 12)
    assert(t.snapshot().activeFiles.forall(_.parsedStats.exists(_.numRecords > 0)))
    assert(labels == Seq("graft:write-data"), s"write ran $labels")
  }

  test("correlated-subquery SQL DML: no file-path In, no nested-loop join") {
    val cat = graft.plans.GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.audit")
    val t = s"$cat.audit.corr"
    val aux = s"$cat.audit.corraux"
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k, CAST(0 AS DOUBLE) AS x FROM range(1000)")
    spark.sql(
      s"CREATE TABLE $aux AS SELECT id % 100 AS k, CAST(id AS DOUBLE) AS v FROM range(500)")
    val plans = capturing {
      spark.sql(s"UPDATE $t SET x = (SELECT max(v) FROM $aux WHERE $aux.k = $t.k)")
      spark.sql(
        s"DELETE FROM $t WHERE k IN (SELECT k FROM $aux AS a WHERE a.v > 100 AND a.k = $t.k)")
    }
    assertNoFileIn(plans, "correlated DML")
    // Both lowerings must plan equi-joins on the correlation keys — a
    // nested-loop/cartesian here would be a per-target-row re-execution
    // in disguise, the exact shape the merge lowering exists to avoid.
    val phys = plans.map(_._2).map {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val loops = phys.flatMap(_.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    })
    assert(loops.isEmpty,
      s"correlated DML planned a nested-loop join: ${loops.take(2)}")
    // and the semantics went through: every key <100 got its per-key max
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE x IS NULL").head().getLong(0) == 900)
  }

  test("general-fallback SQL DML: equality shapes plan hash joins, no file-path In") {
    val cat = graft.plans.GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.audit")
    val t = s"$cat.audit.fb"
    val a = s"$cat.audit.fba"
    val b = s"$cat.audit.fbb"
    spark.sql(s"CREATE TABLE $t AS SELECT id AS k, CAST(id AS DOUBLE) AS x FROM range(1000)")
    spark.sql(s"CREATE TABLE $a AS SELECT id * 2 AS k FROM range(50)")   // evens < 100
    spark.sql(s"CREATE TABLE $b AS SELECT id * 3 AS k FROM range(333)")  // 3k < 999
    val plans = capturing {
      // two subquery conjuncts, one under OR → the general full-row
      // fallback; every subquery is equality-shaped, so the evaluation
      // pass and the merge join must BOTH plan as hash/sort-merge joins
      spark.sql(s"""DELETE FROM $t
                   |WHERE (k IN (SELECT k FROM $a) OR x >= 900)
                   |  AND EXISTS (SELECT 1 FROM $b WHERE $b.k = $t.k)""".stripMargin)
    }
    assertNoFileIn(plans, "fallback DML")
    val phys = plans.map(_._2).map {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }
    val loops = phys.flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    })
    assert(loops.isEmpty,
      s"general fallback planned a nested-loop join for equality shapes: ${loops.take(2)}")
    // deleted: multiples of 6 below 100 (17) + multiples of 3 in [900,996]
    // (33 — b holds 3*id for id<333, so 999 is NOT in it): 50 rows
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 950)
  }
}
