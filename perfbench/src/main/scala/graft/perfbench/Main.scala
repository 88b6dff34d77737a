package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measured closed loop.
  *
  * {{{
  *   Main --workload <ingest_cdc|scan_mix|corpus_dedup> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--scale <x>] [--spans <file>]
  * }}}
  *
  * One client thread sends each op only after the previous one returned.
  * Set-up builds the tables from generated data [[SetupRuns]] times in
  * fresh namespaces, then warms the last build up with one op of each
  * kind; `setup_s` is the median build time plus the warm-up time, and the
  * last build is the one measured. With `--trace 0` the last stdout line
  * carries the end-to-end metrics; with `--trace 1` ops are traced in
  * alternating blocks of one workload cycle (so both halves see every op
  * kind), the line carries the per-layer metrics of the traced ops, and
  * `trace.overhead_ms` is the traced minus the untraced mean op time,
  * compared within each op kind. */
object Main {
  val SetupRuns = 3

  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                          work: Path, scale: Double, spans: Option[Path])

  /** One op's result: its kind, the work items it completed and its output
    * check, which runs after the op's clock has stopped. */
  final case class Op(kind: String, items: Long, check: () => Boolean)

  /** One op as timed by the loop. */
  final case class Timed(ms: Double, traced: Boolean, kind: String)

  /** A workload: built by `setup`, driven by `op`, judged by `finalCheck`. */
  trait Workload {
    /** Ops in one cycle of the workload's op kinds. */
    def cycle: Int
    /** Builds the tables in namespace `ns`. */
    def setup(ns: String): Unit
    /** Runs one checked op of each kind against the last build. */
    def warmUp(): Unit
    def op(i: Int, traced: Boolean): Op
    def finalCheck(): Boolean
    /** Layer counters measured from tables and logs, per traced op. */
    def counters(tracedOps: Int): Map[String, Double]
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    val startLoad = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(cfg.work)
    val spark = session(cfg.work, cores)
    val host = Seq(
      "start_loadavg" -> f"$startLoad%.2f", "cores" -> cores.toString,
      "max_heap_mib" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "spark" -> spark.version, "workload" -> cfg.workload,
      "seed" -> cfg.seed.toString, "trace" -> cfg.trace.toString,
      "scale" -> cfg.scale.toString,
      "jvm_start_s" -> f"${(System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f")
    System.err.println("[perfbench] host " + host.map { case (k, v) => s"$k=$v" }.mkString(" "))
    if (cfg.trace) Trace.install(spark.sparkContext)

    val wl: Workload = cfg.workload match {
      case "ingest_cdc" => new IngestCdc(spark, cfg)
      case "scan_mix" => new ScanMix(spark, cfg)
      case "corpus_dedup" => new CorpusDedup(spark, cfg)
      case other => sys.error(s"unknown workload $other")
    }
    val setupSecs = (0 until SetupRuns).map { r =>
      val t0 = System.nanoTime()
      wl.setup(s"r$r")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmUpSecs = (System.nanoTime() - w0) / 1e9
    System.err.println(s"[perfbench] setup_s builds ${setupSecs.map(s => f"$s%.2f").mkString(",")} " +
      f"warm_up $warmUpSecs%.2f")

    val steal0 = cpuSteal()
    val lat = mutable.ArrayBuffer.empty[Timed]
    var items = 0L
    var failed = 0
    val t0 = System.nanoTime()
    val deadline = t0 + cfg.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) {
      val traced = cfg.trace && (i / wl.cycle) % 2 == 0
      Trace.op = i
      Trace.enabled = traced
      val s = System.nanoTime()
      val res = try Some(wl.op(i, traced)) catch {
        case e: Exception => System.err.println(s"[perfbench] op $i failed: $e"); None
      }
      val ms = (System.nanoTime() - s) / 1e6
      Trace.enabled = false
      lat += Timed(ms, traced, res.map(_.kind).getOrElse("failed"))
      val ok = res.exists { r =>
        items += r.items
        try r.check() catch {
          case e: Exception => System.err.println(s"[perfbench] op $i check threw: $e"); false
        }
      }
      if (!ok) failed += 1
      i += 1
    }
    val loopSecs = (System.nanoTime() - t0) / 1e9
    val steal1 = cpuSteal()
    val c0 = System.nanoTime()
    val finalOk = try wl.finalCheck() catch {
      case e: Exception => System.err.println(s"[perfbench] final check threw: $e"); false
    }
    // A failed whole-run check cannot be pinned on one op: count them all.
    if (!finalOk) failed = i
    System.err.println(f"[perfbench] final_check_s=${(System.nanoTime() - c0) / 1e9}%.2f")
    val opMs = lat.map(_.ms).toSeq
    val e2e = Seq(
      "setup_s" -> (median(setupSecs) + warmUpSecs, "s"),
      "throughput" -> (items / loopSecs, "1/s"),
      "op_p50_ms" -> (quantile(opMs, 0.5), "ms"),
      "op_p90_ms" -> (quantile(opMs, 0.9), "ms"))
    val stealPct = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    System.err.println(f"[perfbench] ops=$i failed=$failed failed_op_frac=${failed.toDouble / i}%.4f " +
      f"items=$items loop_s=$loopSecs%.2f loop_cpu_steal_pct=$stealPct%.1f " +
      s"op_ms=${opMs.map(m => f"$m%.0f").mkString(",")} " +
      e2e.map { case (k, (v, u)) => f"$k=$v%.4f$u" }.mkString(" "))
    val metrics =
      if (!cfg.trace) e2e
      else layerMetrics(cfg, wl, lat.toSeq).map { case (k, v) => k -> (v, Layers.unitOf(k)) }
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $i, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    spark.stop()
  }

  /** Every per-layer metric, zero where the workload does not enter the
    * layer. Times and counts are per traced op. */
  private def layerMetrics(cfg: Config, wl: Workload, lat: Seq[Timed]): Seq[(String, Double)] = {
    val (totals, inBytes, inRows) = Trace.totals()
    cfg.spans.foreach(Trace.dump)
    val traced = lat.zipWithIndex.filter(_._1.traced)
    val n = math.max(1, traced.size).toDouble
    val perSpan = Layers.Spans.flatMap { s =>
      val t = totals.getOrElse(s, Trace.Totals())
      Seq(s"$s.ms" -> t.ms / n, s"$s.cpu_ms" -> t.cpuMs / n, s"$s.driver_ms" -> t.driverMs / n,
        s"$s.tasks" -> t.tasks / n, s"$s.shuffle_bytes" -> t.shuffleBytes / n) ++
        (if (s == "streaming.trigger") Seq(s"$s.self_ms" -> t.selfMs / n) else Nil)
    }
    val top = Trace.topLevelMsByOp()
    val coverage = traced.map { case (_, op) => top.getOrElse(op, 0.0) }.sum /
      math.max(traced.map(_._1.ms).sum, 1e-9)
    // Traced minus untraced mean latency within each op kind, weighted by
    // the kind's traced ops, so a different mix of kinds in the two halves
    // does not show as overhead.
    val perKind = lat.groupBy(_.kind).values.toSeq.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      def mean(ys: Seq[Timed]) = ys.map(_.ms).sum / ys.size
      if (t.isEmpty || u.isEmpty) None else Some(((mean(t) - mean(u)) * t.size, t.size))
    }
    val counters = wl.counters(traced.size)
    perSpan ++ Layers.Counters.map(c => c -> counters.getOrElse(c, 0.0)) ++ Seq(
      "sources.bytes_read" -> inBytes / n,
      "sources.rows_read" -> inRows / n,
      "sources.rows_read_per_match" -> counters.get("sources.rows_matched")
        .filter(_ > 0).map(m => inRows / m).getOrElse(0.0),
      "trace.coverage" -> coverage,
      "trace.ops" -> traced.size.toDouble,
      "trace.overhead_ms" ->
        (if (perKind.isEmpty) 0.0 else perKind.map(_._1).sum / perKind.map(_._2).sum))
  }

  /** (steal, total) CPU ticks from /proc/stat; zeros where it is absent. */
  private def cpuSteal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val ticks = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (ticks.lift(7).getOrElse(0L), ticks.sum)
    } catch { case _: Exception => (0L, 0L) }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def parse(argv: Array[String]): Config = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Config(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, m.get("scale").map(_.toDouble).getOrElse(1.0),
      m.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  private def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftSparkSessionExtension)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftSql.ensure(spark, Some(work.resolve("warehouse").toString))
    spark
  }
}
