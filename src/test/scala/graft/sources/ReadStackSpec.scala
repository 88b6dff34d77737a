package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.delta.DeltaTable

/** Every read of table data plans through the one DSv2 scan: the table API
  * builds its DataFrames without touching the store, and the format reader
  * plans a `BatchScanExec`. */
class ReadStackSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs `body` starts (counted by its job group once the listener
    * has seen a later sentinel job, so no event is still in flight). */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("read-stack-body", "read stack")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("read-stack-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("read-stack-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains("read-stack-sentinel"), "listener never saw the sentinel job")
      groups.asScala.count(_ == "read-stack-body")
    } finally sc.removeSparkListener(listener)
  }

  private def scans(plan: SparkPlan): Seq[SparkPlan] = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect { case s if s.getClass.getSimpleName.endsWith("ScanExec") => s }
  }

  test("toDF() and asOf(v) on a driver-cached snapshot launch no Spark job before an action") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-stack").toString)
    // more files than Spark's parallel-listing threshold (32): a file
    // source over them would list and stat them in a Spark job
    (0 until 3).foreach { v =>
      t.write((0 until 400).map(i => (v * 400 + i, i % 4)).toDF("id", "p").repartition(20),
        partitionBy = Seq("p"))
    }
    assert(t.snapshot().activeFiles.size > 32)
    val jobs = jobsStartedBy {
      val now = t.toDF()
      val then = t.asOf(1)
      now.where(col("p") === 1).queryExecution.executedPlan
      then.where(col("p") === 1).groupBy("p").count().queryExecution.executedPlan
      ()
    }
    assert(jobs == 0, s"$jobs Spark jobs before any action")
    assert(scans(t.asOf(1).queryExecution.executedPlan).map(_.getClass) ==
      Seq(classOf[BatchScanExec]))
    assert(t.asOf(1).count() == 800)
    assert(t.toDF().where(col("p") === 1).count() == 300)
  }

  test("load(path) plans BatchScanExec; rlike stays post-scan") {
    val dir = Files.createTempDirectory("graft-stack-load").toString
    (1 to 40).map(i => (i, s"s$i", i % 5)).toDF("id", "s", "v")
      .write.format("graft-delta").save(dir)
    val df = spark.read.format("graft-delta").load(dir)
      .where(col("id") > 10 && col("s").startsWith("s2"))
    val plan = df.queryExecution.executedPlan
    assert(scans(plan).map(_.getClass) == Seq(classOf[BatchScanExec]), plan)
    assert(plan.toString.contains("PushedFilters: [") && plan.toString.contains("StringStartsWith"),
      plan)
    assert(df.select("id").as[Int].collect().toSet ==
      (11 to 40).toSet.filter(i => s"s$i".startsWith("s2")))
    // an untranslatable residual keeps the Filter node (and stays correct)
    val df2 = spark.read.format("graft-delta").load(dir)
      .where(col("id") > 10 && col("s").rlike("s2.*"))
    assert(df2.queryExecution.executedPlan.toString.contains("Filter"), "rlike must stay post-scan")
    assert(df2.select("id").as[Int].collect().toSet ==
      (11 to 40).toSet.filter(i => s"s$i".matches("s2.*")))
  }
}
