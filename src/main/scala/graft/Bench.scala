package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds on
  * SPARK_GRAFT_SF_DIR (driver contract).
  *
  * Robustness (round-3): each query runs once as WARMUP (file listing,
  * codegen JIT, shuffle-file creation) and then three timed times; the
  * reported number is the MEDIAN of the three. One-off JVM/OS noise — the
  * reason rounds 1-2 were uninterpretable driver-to-driver — lands in the
  * discarded samples instead of the headline. The cache is cleared between
  * runs so every sample does identical work.
  *
  * Self-defense (round-13): three consecutive rounds of adjudication went
  * to transient host co-load windows poisoning CONTIGUOUS name-sorted gate
  * blocks (all 3 samples of q4..s11 ran inside one 30-second spike). Two
  * structural fixes:
  *   1. the timed samples are INTERLEAVED round-robin ACROSS gates (sample
  *      pass 1 of every gate, then pass 2, then pass 3) — a transient
  *      window now lands in at most ONE sample per gate, which the median
  *      discards;
  *   2. any gate whose median still exceeds 3× its anchor
  *      (`scripts/bench_anchors.json` — the minimum over the builder's
  *      low-load closing runs) is RE-RUN once at suite end (3 more
  *      round-robin samples); both readings and all per-sample times go to
  *      the stderr forensics line, and the headline takes the MIN of the
  *      two medians (contention can inflate a reading, never deflate it).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Loadavg is sampled NOW — before the session spins up 32 threads —
    // so the artifact records the HOST's state, not the bench's own load
    // (sampling at the end made every run read self-contaminated, which
    // is what the round-11 "in-file loadavg <3" process goal tripped on).
    // Start-load GATE (round 15): a co-loaded host start poisoned three of
    // the last four driver artifacts — above the threshold, wait (bounded)
    // for the host to settle instead of measuring into the noise. The run
    // always proceeds after the wait budget: a late artifact beats none.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // Threshold 2.0 (was 6.0; round-17, verdict item 9): the r16 driver run
    // started at loadavg 4.30 and every family drifted ~10% — waiting out a
    // transient spike is cheaper than a contaminated artifact. The run still
    // always proceeds once the wait budget is spent.
    val maxStartLoad = sys.env.get("SPARK_GRAFT_MAX_START_LOAD")
      .map(_.toDouble).getOrElse(2.0)
    val waitDeadline = System.currentTimeMillis() +
      sys.env.get("SPARK_GRAFT_LOAD_WAIT_MS").map(_.toLong).getOrElse(300000L)
    var startLoad = osBean.getSystemLoadAverage
    while (startLoad > maxStartLoad && System.currentTimeMillis() < waitDeadline) {
      System.err.println(f"[bench] start load $startLoad%.2f > " +
        f"$maxStartLoad%.1f - waiting for the host to settle")
      Thread.sleep(15000)
      startLoad = osBean.getSystemLoadAverage
    }
    val spark = SessionEnv.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: one scan per input table (file listing + footer reads + JIT).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { n =>
      try Tables.t(spark, sfDir, n).count() catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      // operators cache intermediates (LSH signatures etc.); drop them so
      // the next sample repeats the full computation
      spark.catalog.clearCache()
      if (ok) sec else -1.0
    }

    // optional args: run only the named queries (iteration aid).
    // Order is PINNED (name-sorted) so runs are comparable across rounds.
    val selected =
      (if (args.isEmpty) SparkEntry.queries
       else SparkEntry.queries.view.filterKeys(args.toSet).toMap).toSeq.sortBy(_._1)

    def medianOf(xs: Seq[Double]): Double =
      if (xs.exists(_ < 0)) -1.0 else xs.sorted.apply(xs.size / 2)

    /** One full measurement of `gates`: a cold first run per gate (pays
      * codegen/janino compile + JIT — pure per-query overhead at small SF),
      * then 3 timed samples taken ROUND-ROBIN across the whole set. */
    def measure(gates: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
        : Seq[(String, Double, Double, Seq[Double])] = {
      val first = gates.map { case (n, fn) => n -> timeOne(fn) }.toMap
      val passes: Seq[Map[String, Double]] =
        (1 to 3).map(_ => gates.map { case (n, fn) => n -> timeOne(fn) }.toMap)
      gates.map { case (n, _) =>
        val samples = passes.map(_(n))
        (n, medianOf(samples), first(n), samples)
      }
    }

    val firstPass = measure(selected)

    // Anchors: per-gate seconds from the builder's low-load closing runs —
    // measured at sf0.1, so they only apply there (at other SFs, or for a
    // gate with no anchor yet, fall back to an internal-dispersion rule:
    // median > 3× the gate's own best sample).
    val anchorsApply = sfDir.stripSuffix("/").endsWith("sf0.1")
    val anchors: Map[String, Double] =
      if (!anchorsApply) Map.empty else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sys.env.getOrElse(
            "SPARK_GRAFT_ANCHORS", "scripts/bench_anchors.json"))), "UTF-8")
        org.json4s.jackson.JsonMethods.parse(txt) match {
          case org.json4s.JObject(fields) => fields.collect {
            case (k, org.json4s.JDouble(v)) => k -> v
            case (k, org.json4s.JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty[String, Double]
        }
      } catch { case _: Throwable => Map.empty[String, Double] }

    def suspect(name: String, median: Double, samples: Seq[Double]): Boolean =
      median > 0 && (anchors.get(name) match {
        case Some(a) => median > 3 * a && median - a > 0.15
        case None => samples.nonEmpty && median > 3 * samples.min && median > 0.5
      })

    val suspects = firstPass.collect {
      case (n, m, _, ss) if suspect(n, m, ss) => n
    }.toSet
    val rerun: Map[String, (Double, Seq[Double])] =
      if (suspects.isEmpty) Map.empty
      else measure(selected.filter(s => suspects(s._1)))
        .map { case (n, m, _, ss) => n -> (m, ss) }.toMap

    // Headline: min of the two medians when a gate re-ran (a co-load window
    // inflates readings, it cannot deflate them; the lower median is the
    // closer estimate of the code's cost).
    val results = firstPass.map { case (n, m, f, ss) =>
      val best = rerun.get(n) match {
        case Some((m2, _)) if m2 >= 0 && (m < 0 || m2 < m) => m2
        case _ => m
      }
      (n, best, f, ss, m)
    }
    val total = results.map(_._2).sum
    // Environment attribution: round-5/6 showed byte-identical code varying
    // 1.03-1.28x run-to-run under VM contention. Recording the 1-minute
    // load average and core count IN the result makes a noisy run
    // self-identifying instead of a forensic exercise.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // start-of-run load (host attribution) + end-of-run load (how much the
    // bench itself raised it — a sanity cross-check, not a host signal)
    val load = f"$startLoad%.2f"
    val loadEnd = f"${os.getSystemLoadAverage}%.2f"
    val cores = os.getAvailableProcessors

    // Full-precision forensics (all medians + cold first-runs + per-sample
    // times + re-run readings) → stderr. The harness that consumes stdout
    // keeps only a ~2000-char TAIL, so anything bulky on stdout would push
    // the medians out of the capture (the round-6 artifact lesson).
    val qsFull = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val firsts = results.map { case (k, _, f, _, _) => "\"" + k + "\":" + f }
      .mkString("{", ",", "}")
    val samplesJson = results.map { case (k, _, _, ss, _) =>
      "\"" + k + "\":" + ss.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val rerunJson = results.collect { case (k, _, _, _, m0) if rerun.contains(k) =>
      val (m2, ss2) = rerun(k)
      "\"" + k + "\":{\"orig\":" + m0 + ",\"rerun\":" + m2 +
        ",\"rerun_samples\":" + ss2.mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"first_run":$firsts,"samples":$samplesJson,"rerun":$rerunJson,"loadavg":$load,"loadavg_end":$loadEnd,"cores":$cores,"sf":"$sfDir"}"""
    System.err.println(fullJson)
    // ...and as a FILE artifact (round 15): the stdout tail budget can drop
    // small gates from the compact line, which makes longitudinal per-gate
    // comparison a stderr-archaeology exercise. The full-precision map is
    // always recoverable from this file. FULL runs only — an args-filtered
    // iteration run must not overwrite the longitudinal record — and the
    // default lives outside the repo so bench runs never dirty the tree.
    if (args.isEmpty) try {
      val out = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_bench_full_last.json"))
      java.nio.file.Files.write(out, (fullJson + "\n").getBytes("UTF-8"))
      ()
    } catch { case _: Throwable => () } // best-effort; stdout stays canonical

    // stdout: ONE compact JSON line guaranteed to fit the tail capture,
    // with ALL queries present. Keys are the query IDs (the unique prefix
    // before the first underscore: q1_pricing_summary → "q1"), values at
    // ~ms precision — the round-7 artifact dropped 16 sub-0.15 s entries
    // because full names pushed 86 entries past the tail budget. Full
    // names + full precision remain on stderr above. If IDs ever collide,
    // the full name is kept for the colliders.
    // Precision is ADAPTIVE (round-17, verdict item 7): at 167 gates the
    // 3-decimal encoding is 1999 chars — over the harness's measured
    // 2000-char tail minus sbt's ~74-char success line — which silently
    // dropped 15 gates (7 with r15 history) from longitudinal tracking.
    // When the 3-decimal line would overflow, sub-1 s values fall back to
    // 2 decimals (≤0.005 s quantization, far under run-to-run noise; full
    // precision stays on stderr + the file artifact) — that fits all 167
    // entries with slack, so nothing is dropped. The prioritized drop
    // ranking below remains as the final fallback only.
    def fmtAt(prec: Int)(v: Double): String =
      if (v < 0) "-1"
      else if (v >= 10) f"$v%.1f"
      else if (v >= 1) f"$v%.2f"
      else if (prec == 3) f"$v%.3f"
      else f"$v%.2f"
    val idOf: String => String = {
      val ids = results.map(_._1).groupBy(_.takeWhile(_ != '_'))
      name => {
        val id = name.takeWhile(_ != '_')
        if (ids(id).size == 1) id else name
      }
    }
    val totalStr = f"$total%.2f"
    val prefix = s"""{"metric":"total","value":$totalStr,"unit":"sec","queries":{"""
    val suffix = s"""},"reruns":${rerun.size},"loadavg":$load,"cores":$cores,"sf":"$sfDir"}"""
    // Line-length ceiling: 2000-char tail capture (measured in BENCH_r16)
    // minus sbt's trailing "[success] Total time..." line (~74 chars) and
    // two newlines. Pick the highest precision whose FULL entry set fits.
    val lineCeiling = 1918
    val fullAt: Int => Int = prec =>
      prefix.length + suffix.length - 1 +
        results.map { case (k, m, _, _, _) =>
          "\"".length * 2 + idOf(k).length + 1 + fmtAt(prec)(m).length + 1 }.sum
    val prec = if (fullAt(3) <= lineCeiling) 3 else 2
    val fmt = fmtAt(prec) _
    // Safety net (now the LAST fallback): if even the 2-decimal encoding
    // overflows, failures are kept first, then gates WITHOUT an anchor
    // (the entries a longitudinal reader most needs to see), then by
    // ANCHOR cost descending — a fixed ranking, so the dropped set is the
    // SAME cheap gates every run instead of rotating with measurement
    // noise at the cut boundary (round-15 verdict finding #2). Only when
    // no anchor file applies (non-sf0.1 runs) does measured cost rank the
    // cut.
    // When the chosen precision fits the whole set, bypass the ranking (no
    // ","dropped":NN" reserve needed — nothing is dropped by construction).
    val budget =
      if (fullAt(prec) <= lineCeiling) Int.MaxValue
      else lineCeiling - prefix.length - suffix.length - ""","dropped":84""".length
    // The headline-11 set is pinned onto stdout regardless of anchor cost:
    // the round-over-round "vs baseline" sum is computed FROM this line,
    // and q2/q6 are cheap enough that pure anchor ranking would drop them
    // once the gate count grows past the budget (seen at 167 gates).
    val headline = Set(
      "q1_pricing_summary", "q2_range_filter", "q3_join_topk",
      "q6_forecast_revenue", "n2_asof_join", "n3_rollup",
      "n4_cube", "d6_delta_merge", "t4_minhash_neardup",
      "t7_embedding_neardup", "t11_curation_pipeline")
    val prioritized = results.sortBy { case (n, m, _, _, _) =>
      val rank =
        if (m < 0) Double.NegativeInfinity
        else if (headline(n)) Double.MinValue
        else anchors.get(n) match {
          case Some(a) => -a
          case None if anchors.nonEmpty => Double.MinValue / 2
          case None => -m
        }
      (rank, n)
    }
    var used = 0
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    prioritized.foreach { case (k, m, _, _, _) =>
      val e = "\"" + idOf(k) + "\":" + fmt(m)
      if (used + e.length + 1 <= budget) { kept += ((k, m)); used += e.length + 1 }
    }
    val dropped = results.size - kept.size
    val qsCompact = kept.sortBy(_._1)
      .map { case (k, m) => "\"" + idOf(k) + "\":" + fmt(m) }.mkString(",")
    val droppedField = if (dropped > 0) s""","dropped":$dropped""" else ""
    val line = prefix + qsCompact + "}" + droppedField + suffix.stripPrefix("}")
    println(line)
    spark.stop()
  }
}
