package graft

/** Smoke: every declared query runs on sf0.001 and yields rows, and every
  * query has a matching oracle entry (the driver's gate needs both). */
class QueriesSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name runs and returns rows") {
      assert(SparkEntry.queries(name)(spark, dir).count() > 0)
    }
  }

  test("oracle coverage: every oracleSql key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query: $missing")
  }

  // ---- plan audits: lock in the scale-design properties, not just results --

  test("plan audit: t11 has no cache barrier and fuses TokenStats in codegen") {
    val plan = SparkEntry.queries("t11_curation_pipeline")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"),
      "t11 must not materialize the feature set behind a cache barrier")
    assert(plan.contains("tokenstats"),
      "t11 features should derive from the fused TokenStats kernel")
  }

  /** The physical plans of every query `body` runs. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.SpecInternals.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  test("plan audit: t4 reads cached bands on both join sides, census rides the shuffle") {
    // minhashNearDups materializes its pairs and releases its caches before
    // it returns, so the plan to audit is the one that ran inside the call
    val plans = executedPlans(SparkEntry.queries("t4_minhash_neardup")(spark, dir))
    assert(plans.size == 1, plans.mkString("\n\n"))
    val plan = plans.head
    // the banded signature stream is cached → the bucket self-join reads
    // InMemoryTableScan, so the minhash kernel evaluates once
    assert(plan.contains("InMemoryTableScan"))
    // the skew census is an observe() metric over a window on the join keys —
    // part of THIS plan, not a separate eager probe job
    assert(plan.contains("CollectMetrics"))
  }

  test("plan audit: d6 merge restricts files via join, not a literal In-list") {
    // The merge restricts the target to the affected files by the FILE LIST
    // of the scan (DeltaTable.matchedFilesDF) and re-pairs that restricted
    // scan with the source by a join (pairUp). Both are visible in the d6
    // plan only during execution, so assert on the calls the code path makes
    // (no `isin` over collected paths remains anywhere in Merge;
    // DmlPlanAuditSpec checks the executed plans).
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/delta/Merge.scala", "UTF-8").mkString
    assert(!src.contains(".isin(matchedFiles"),
      "merge must not build literal In-lists from file sets")
    assert(src.contains("table.matchedFilesDF(snap"))
    assert(src.contains("pairing.pairUp("))
  }

  test("plan audit: MoR DV builds aggregate bitmaps on executors, never raw row indexes") {
    // Source tripwire: the three merge-on-read paths (deleteWithDV,
    // updateWithDV, the merge core's mask) must keep the typed bitmap
    // aggregator — a collect_list of row indexes is the driver-OOM shape
    // (8 B/row on the driver vs KBs/file).
    Seq("src/main/scala/graft/delta/DeltaTable.scala",
        "src/main/scala/graft/delta/Merge.scala").foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8").mkString
      assert(!src.contains("collect_list(col(\"__ri\")"),
        s"$f must not collect raw row indexes to the driver")
    }
    // Behavioral: the DV-build aggregation runs as a partial-then-final
    // object hash aggregate over DvBitmapAggregator — bitmaps reduce on the
    // map side and cross the exchange compressed.
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000)
      .select(concat(lit("f"), col("id") % 7).as("__file"), col("id").as("__ri"))
      .groupBy("__file")
      .agg(graft.delta.DeletionVectors.bitmapAgg(col("__ri")).as("__dv"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.toLowerCase.contains("dvbitmapaggregator"), plan)
    assert(plan.contains("partial_"), "map-side partial aggregation expected")
  }

  test("plan audit: streaming state is watermark-bounded (n17) or table-resident (n18)") {
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/NorthStarQueries.scala", "UTF-8").mkString
    // n17 stream-stream join: BOTH sides must be watermarked or join state
    // grows without bound on a real stream
    val n17 = src.substring(src.indexOf("n17_stream_join"))
      .takeWhile(_ != '}' | true).take(2000)
    assert("withWatermark".r.findAllIn(n17).size >= 2,
      "n17 must watermark both join sides to bound state")
    // n18 stream-merge: stateless by design — AvailableNow + foreachBatch,
    // per-key latest state lives IN the Delta table, not a state store;
    // nothing in the batch closure may collect to the driver
    val n18 = src.substring(src.indexOf("n18_stream_merge")).take(2500)
    assert(n18.contains("foreachBatch") && n18.contains("Trigger.AvailableNow"))
    assert(!n18.contains(".collect()"),
      "n18's batch closure must stay distributed")
    // n20 streaming curation: the cross-batch dedup state must be keyed on
    // (lang, fp) — a global-fp key makes the surviving lang depend on
    // arrival order — and the unbounded state is only legal because the
    // query is an AvailableNow backfill
    val n20 = src.substring(src.indexOf("n20_stream_curation")).take(2500)
    assert(n20.contains("dropDuplicates(\"lang\", \"fp\")"),
      "n20's dedup state must be keyed on (lang, fp)")
    assert(n20.contains("Trigger.AvailableNow"),
      "n20's unbounded dedup state requires a finite backfill trigger")
  }

  test("plan audit: t18/t20/t21 corpus stats are single-scan window plans, no self-join") {
    Seq("t18_tfidf_topk", "t20_dup_spans", "t21_bigram_surprisal").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      // corpus counts ride windows over aggregated rows — a tf⋈df-style
      // self-join would scan the corpus twice
      assert(!plan.contains("SortMergeJoin"),
        s"$name must not self-join the corpus stream")
      assert(plan.contains("Window"), s"$name should derive counts via windows")
      val scans = "Scan parquet".r.findAllIn(plan).size
      // t20: exactly one corpus scan; t18 adds a scalar doc-count scan and
      // t21 a scalar vocabulary-count scan (both column-pruned, documented)
      val maxScans = if (name == "t20_dup_spans") 1 else 2
      assert(scans <= maxScans, s"$name scans the corpus $scans times")
    }
  }

  test("plan audit: t23/t26 corpus dedup plans join on keys, never all-pairs") {
    Seq("t23_line_dedup", "t26_span_removal").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name must stay key-joined")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name must stay key-joined")
      // two corpus passes by design (raw rows + census/rank branch); a
      // third would mean a lost exchange reuse
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans <= 2, s"$name scans the corpus $scans times")
    }
    // t26's coverage decision is the doc-keyed running-max window — the
    // token⋈span range-join shape must never appear
    val t26 = SparkEntry.queries("t26_span_removal")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(t26.contains("Window"), "t26 coverage must ride a window")
  }

  test("plan audit: t5 prefix-filtered jaccard has no cartesian / nested-loop join") {
    val df = SparkEntry.queries("t5_ngram_jaccard")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "t5 must generate candidates via the shingle equi-join, not all pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "t5 must generate candidates via the shingle equi-join, not all pairs")
    // and the prefix-filtered composition returns the all-pairs answer
    import org.apache.spark.sql.functions.col
    val docs = Tables.t(spark, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id").as("id"), col("text"))
    val exact = graft.functions.Dedup
      .ngramJaccardPairs(docs, "id", "text", n = 2, threshold = 0.05)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    val banded = df.collect().toSeq
    assert(banded == exact, "prefix filtering must be lossless (recall 1.0)")
  }

  test("plan audit: n26's correlated EXISTS becomes a semi join, not a per-row subquery") {
    val plan = SparkEntry.queries("n26_exists_subquery")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"EXISTS must rewrite to a left semi join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("plan audit: n24's bucketed join runs with zero exchanges below the join") {
    import org.apache.spark.sql.functions.col
    // At test SF the planner rightly prefers a broadcast join (orders is
    // tiny); the technique under audit is the TWO-BIG-TABLES case, so
    // disable broadcasting for the audit — bucketing must then remove both
    // pre-join exchanges. The gate adds an aggregation whose shuffle is
    // expected; this audits the join alone.
    val (liName, oName) = NorthStarQueries.bucketedTables(spark, dir)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val join = spark.table(liName)
        .join(spark.table(oName),
          col("l_orderkey") === col("o_orderkey"))
      val plan = join.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a co-located join over the bucketed tables:\n$plan")
      // bucket metadata survived: both scans report bucketed reads
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set(key, old)
  }
}
