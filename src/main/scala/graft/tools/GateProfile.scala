package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-gate job breakdown (round-16 measurement tool, guide §1): runs the
  * named gates once under a SparkListener that records every Spark job's
  * wall time and call site, then prints a sorted breakdown per gate —
  * "where do this gate's N jobs spend their time" — plus the dead time
  * (wall - sum(jobs)): driver-side planning, commit protocol, file I/O
  * between jobs. The bench medians say WHICH gate is expensive; this says
  * WHY, without the (disabled) Spark UI.
  *
  * Usage: runMain graft.tools.GateProfile <gate> [gate ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 32).
  */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionEnv.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRec(id: Int, desc: String, started: Long, var ended: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time, -1L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.ended = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup pass: file listing + codegen JIT, like Bench
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { n =>
      try graft.Tables.t(spark, sfDir, n).count() catch { case _: Throwable => () }
    }
    try graft.Tables.events(spark, sfDir).count() catch { case _: Throwable => () }

    args.foreach { gate =>
      val fn = graft.SparkEntry.queries(gate)
      // one untimed warm run, then the profiled run (mirrors the bench's
      // cold-first-run-discarded methodology)
      try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      spark.catalog.clearCache()
      Thread.sleep(300) // let the async listener bus drain
      jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wallSec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val recs = jobs.values().asScala.toSeq.sortBy(_.started)
      val jobSum = recs.map(r => math.max(0L, r.ended - r.started)).sum / 1e3
      println(f"===== $gate: wall $wallSec%.2f s, ${recs.size} jobs, " +
        f"job-sum $jobSum%.2f s, dead ${wallSec - jobSum}%.2f s =====")
      var prevEnd = -1L
      recs.foreach { r =>
        val d = if (r.ended < 0) -1.0 else (r.ended - r.started) / 1e3
        // gap since the previous job ended = driver-side dead time (planning,
        // commit protocol, log parse, file renames) preceding this job
        val gap = if (prevEnd < 0) 0.0 else math.max(0L, r.started - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.ended)
        println(f"  job ${r.id}%4d ${d}%7.3f s  gap ${gap}%6.3f s  ${r.desc.take(120)}")
      }
    }
    spark.stop()
  }
}
