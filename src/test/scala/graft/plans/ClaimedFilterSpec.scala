package graft.plans

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.delta.StatsAggregates

/**
 * DSv2 partition-filter CLAIMING (round 14): filters that are exactly
 * decidable per-file on partition values are consumed by the scan (exact
 * file subset, version-pinned) instead of staying post-scan residuals.
 * Two consequences under test:
 *  1. row scans stay correct with NO Spark-side re-evaluation — proven by
 *     comparing against a cached in-memory ground truth;
 *  2. `SELECT count(*)/min/max ... WHERE <partition predicate>` becomes a
 *     metadata fold — proven physically by deleting the data files.
 */
class ClaimedFilterSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cat: String = GraftSql.ensure(spark)

  private var n = 0
  private def freshTable(): String = synchronized {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.claimed")
    n += 1; s"$cat.claimed.t$n"
  }

  private def tableDir(t: String): Path = {
    val wh = GraftSql.warehousePath(spark).get
    Paths.get((wh +: t.split('.').drop(1).toSeq).mkString("/"))
  }

  private def answered[A](body: => A): (A, Long) = {
    val before = StatsAggregates.answered.get()
    val r = body
    (r, StatsAggregates.answered.get() - before)
  }

  test("aggregates under a partition filter answer from metadata (files deleted)") {
    val t = freshTable()
    spark.sql(s"""CREATE TABLE $t (id BIGINT, g STRING) PARTITIONED BY (g)""")
    spark.sql(s"""INSERT INTO $t
      SELECT id, CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE NULL END
      FROM range(900)""")
    // physically remove the data — only the log remains
    Files.walk(tableDir(t)).iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filterNot(_.toString.contains("_delta_log"))
      .foreach(Files.delete)
    val (r1, h1) = answered {
      spark.sql(s"SELECT COUNT(*), MIN(id), MAX(id) FROM $t WHERE g = 'a'").head()
    }
    assert(h1 == 1, "partition-filtered aggregate was not metadata-answered")
    assert(r1.getLong(0) == 300 && r1.getLong(1) == 0 && r1.getLong(2) == 897)
    // IS NULL partition filter
    val (r2, h2) = answered {
      spark.sql(s"SELECT COUNT(*) FROM $t WHERE g IS NULL").head()
    }
    assert(h2 == 1 && r2.getLong(0) == 300)
    // IN + range-of-string
    val (r3, h3) = answered {
      spark.sql(s"SELECT COUNT(*) FROM $t WHERE g IN ('a','b')").head()
    }
    assert(h3 == 1 && r3.getLong(0) == 600)
    // GROUP BY partition col under the claimed filter
    val (rows, h4) = answered {
      spark.sql(s"SELECT g, COUNT(*) AS c FROM $t WHERE g IS NOT NULL GROUP BY g ORDER BY g")
        .collect()
    }
    assert(h4 == 1)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 300L), ("b", 300L)))
    // a residual (data-column) predicate still needs the rows: with the
    // files gone it can only fail, and the metadata path must not fire
    val (_, h5) = answered {
      intercept[Throwable](
        spark.sql(s"SELECT COUNT(*) FROM $t WHERE g = 'a' AND id > 10").head())
    }
    assert(h5 == 0, "residual-filtered aggregate must not be metadata-answered")
  }

  test("claimed row scans match an in-memory ground truth (incl. null partitions)") {
    val dir = Files.createTempDirectory("graft-claim-rows").toString
    val days = Seq(Some("2026-04-01"), Some("2026-04-02"), Some("2026-04-03"), None)
    days.zipWithIndex.flatMap { case (d, i) =>
      (1 to 25).map(j => (i * 25 + j, d.map(java.sql.Date.valueOf).orNull, j % 5))
    }.toDF("id", "d", "v")
      .write.format("graft-delta").option("partitionBy", "d").save(dir)
    val full = spark.read.format("graft-delta").load(dir).cache()
    full.count() // materialize: ground-truth filters run on InMemoryRelation
    def check(cond: String): Unit = {
      val got = spark.read.format("graft-delta").load(dir)
        .where(cond).select("id").as[Int].collect().sorted.toSeq
      val want = full.where(cond).select("id").as[Int].collect().sorted.toSeq
      assert(got == want, s"cond=$cond got=$got want=$want")
    }
    check("d = DATE'2026-04-02'")
    check("d IN (DATE'2026-04-01', DATE'2026-04-03')")
    check("d >= DATE'2026-04-02'")
    check("d < DATE'2026-04-02'")
    check("d IS NULL")
    check("d IS NOT NULL")
    check("d = DATE'2026-04-01' OR d IS NULL")
    check("NOT (d = DATE'2026-04-02')")
    check("d = DATE'2026-04-02' AND v = 3") // mixed: partition claimed, v residual
    check("d != DATE'2026-04-02'")
    check("d <=> DATE'2026-04-02'")
    full.unpersist()
    ()
  }

  test("LIMIT and ORDER-BY-LIMIT file trims compose with claimed filters") {
    // Spark only pushes Limit/TopN past an EMPTY post-scan filter set —
    // claiming makes `WHERE p = 'a' ORDER BY id LIMIT k` trim files,
    // which was unreachable with any WHERE before.
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    for (part <- Seq("a", "b"); i <- 0 until 4)
      spark.sql(s"INSERT INTO $t SELECT id, '$part' FROM " +
        s"range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    val before = graft.sources.DeltaRelation.topNSkipped.get()
    val top = spark.sql(s"SELECT id FROM $t WHERE p = 'a' ORDER BY id DESC LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(39L, 38L, 37L))
    val trimmed = graft.sources.DeltaRelation.topNSkipped.get() - before
    assert(trimmed == 3, s"expected 3 of 4 'a' files trimmed, got $trimmed")
    // plain LIMIT under a claimed filter pushes too (partial)
    val lim = spark.sql(s"SELECT p FROM $t WHERE p = 'b' LIMIT 5")
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit"), "limit not pushed")
    val got = lim.collect()
    assert(got.length == 5 && got.forall(_.getString(0) == "b"))
  }

  test("DISTINCT over a partition column is metadata-answered, filtered or not") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 4 AS STRING) FROM range(100)")
    Files.walk(tableDir(t)).iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.delete)
    val (d1, h1) = answered {
      spark.sql(s"SELECT DISTINCT p FROM $t ORDER BY p").collect().map(_.getString(0)).toSeq
    }
    assert(h1 == 1, "DISTINCT partition values not metadata-answered")
    assert(d1 == Seq("0", "1", "2", "3"))
    val (d2, h2) = answered {
      spark.sql(s"SELECT DISTINCT p FROM $t WHERE p >= '2' ORDER BY p")
        .collect().map(_.getString(0)).toSeq
    }
    assert(h2 == 1 && d2 == Seq("2", "3"))
  }

  test("claimed scans report exact post-claim statistics to the join planner") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 4 AS STRING) FROM range(400)")
    def stats(cond: String) = {
      val plan = spark.sql(s"SELECT id FROM $t WHERE $cond")
        .queryExecution.optimizedPlan
      plan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.computeStats()
      }.get
    }
    val one = stats("p = '1'")
    assert(one.rowCount.contains(BigInt(100)),
      s"claimed scan must report the partition's exact rows, got ${one.rowCount}")
    val half = stats("p IN ('1', '3')")
    assert(half.rowCount.contains(BigInt(200)), half.rowCount)
    assert(one.sizeInBytes < half.sizeInBytes)
  }

  test("the DSv2 plan claims partition filters and keeps data filters residual") {
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 2 AS STRING) FROM range(10)")
    val plan = spark.sql(s"SELECT id FROM $t WHERE p = '1' AND id > 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ClaimedFilters"), plan)
    assert(plan.contains("p"), plan)
    // the data predicate survives as a real post-scan filter
    assert(plan.contains("Filter") && plan.contains("id"), plan)
    // non-partition filters alone claim nothing
    val plan2 = spark.sql(s"SELECT id FROM $t WHERE id > 3")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("ClaimedFilters"), plan2)
  }

  test("distributed claiming: exact scans and metadata folds above the snapshot threshold") {
    // Round 15: above the distributed-snapshot threshold the driver claim
    // (claimState) refuses, so any ClaimedFilters in the plan below can
    // only come from the executor-side claimability check — and the kept
    // file set is re-derived by exact per-file eval, never materialized as
    // a path set at pushFilters time.
    spark.conf.set("spark.graft.distributedSnapshotThreshold", "1")
    try {
      val t = freshTable()
      spark.sql(s"CREATE TABLE $t (id BIGINT, g STRING) PARTITIONED BY (g)")
      spark.sql(s"""INSERT INTO $t
        SELECT id, CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE NULL END
        FROM range(900)""")
      // the distributed reconstruction needs a checkpoint base
      graft.delta.DeltaTable.forPath(spark, tableDir(t).toString).checkpoint()

      // the plan claims through the distributed path
      val plan = spark.sql(s"SELECT id FROM $t WHERE g = 'a' AND id > 3")
        .queryExecution.executedPlan.toString
      assert(plan.contains("ClaimedFilters"), plan)

      // row scans are exact while the data still exists
      val got = spark.sql(s"SELECT id FROM $t WHERE g = 'a'")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (0L until 900L by 3L).toSeq, s"got ${got.take(5)}...")
      val gotNull = spark.sql(s"SELECT count(*) FROM $t WHERE g IS NULL").head().getLong(0)
      assert(gotNull == 300L)

      // metadata folds: prove physically by deleting the data files
      Files.walk(tableDir(t)).iterator().asScala.toList
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .filterNot(_.toString.contains("_delta_log"))
        .foreach(Files.delete)
      val foldsBefore = StatsAggregates.distributedFolds.get()
      val (r1, h1) = answered {
        spark.sql(s"SELECT COUNT(*), MIN(id), MAX(id) FROM $t WHERE g = 'a'").head()
      }
      assert(h1 == 1, "distributed-claimed aggregate was not metadata-answered")
      assert(r1.getLong(0) == 300 && r1.getLong(1) == 0 && r1.getLong(2) == 897)
      // round 16: above the threshold the fold runs on executors —
      // per-partition states, no claimed file list on the driver
      assert(StatsAggregates.distributedFolds.get() > foldsBefore,
        "big-table aggregate took the driver route instead of the distributed fold")
      val foldsBeforeG = StatsAggregates.distributedFolds.get()
      val (rows, h2) = answered {
        spark.sql(s"SELECT g, COUNT(*) AS c FROM $t WHERE g IS NOT NULL GROUP BY g ORDER BY g")
          .collect()
      }
      assert(h2 == 1)
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 300L), ("b", 300L)))
      // the grouped fold takes the distributed route too (O(groups) driver)
      assert(StatsAggregates.distributedFolds.get() > foldsBeforeG,
        "big-table GROUPED aggregate took the driver fold")
      // DISTINCT over a partition column is a grouped fold with zero
      // aggregates: answered from metadata above the threshold as below it
      val (keys, h4) = answered {
        spark.sql(s"SELECT DISTINCT g FROM $t WHERE g IS NOT NULL ORDER BY g").collect()
      }
      assert(h4 == 1, "partition-column DISTINCT was not metadata-answered")
      assert(keys.map(_.getString(0)).toSeq == Seq("a", "b"))
      // a residual (data-column) predicate still needs the rows
      val (_, h3) = answered {
        intercept[Throwable](
          spark.sql(s"SELECT COUNT(*) FROM $t WHERE g = 'a' AND id > 10").head())
      }
      assert(h3 == 0, "residual-filtered aggregate must not be metadata-answered")
    } finally spark.conf.unset("spark.graft.distributedSnapshotThreshold")
  }

  test("foreign partition renderings: claims match plain Spark, string MIN/MAX from metadata") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (id BIGINT, f FLOAT, s STRING) PARTITIONED BY (f, s)")
    spark.sql(s"""INSERT INTO $t VALUES (1, CAST(0.1 AS FLOAT), 'a'),
      (2, CAST(2.5 AS FLOAT), 'b'), (3, NULL, 'a'), (4, CAST(0.3 AS FLOAT), NULL)""")
    // Files as another writer records them: a float-exact but non-shortest
    // rendering of 0.1f, NaN, and non-ASCII strings. "\uFF76" sorts above
    // "\uD834\uDD1E" in Java's UTF-16 order but below it in Spark's UTF-8
    // byte order. Delta paths need not be Hive directories; the log's
    // partitionValues are what the engine reads.
    val foreign = Seq(
      (10L, "0.100000001490116", "\u00fcber"),
      (11L, "NaN", "\uFF76"),
      (12L, "2.5", "\uD834\uDD1E"))
    val delta = graft.delta.DeltaTable.forPath(spark, tableDir(t).toString)
    val adds = foreign.map { case (id, f, str) =>
      val tmp = Files.createTempDirectory("graft-foreign").toString
      Seq(id).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val name = s"foreign-$id.parquet"
      Files.copy(src, tableDir(t).resolve(name))
      graft.delta.AddFile(name, Map("f" -> f, "s" -> str), Files.size(src), 0L,
        stats = Some(graft.delta.FileStats(1L, Map("id" -> org.json4s.JInt(id)),
          Map("id" -> org.json4s.JInt(id)), Map("id" -> 0L)).toJsonString))
    }
    delta.log.writeCommit(delta.version + 1, adds)

    val truthRows = Seq[(Long, Any, String)](
      (1L, 0.1f, "a"), (2L, 2.5f, "b"), (3L, null, "a"), (4L, 0.3f, null),
      (10L, 0.1f, "\u00fcber"), (11L, Float.NaN, "\uFF76"), (12L, 2.5f, "\uD834\uDD1E"))
      .map { case (id, f, str) => Row(id, f, str) }
    // not cached: the in-memory relation's batch pruning drops NaN rows
    // for `f = NaN`, which Spark's row evaluation keeps
    val truth = spark.createDataFrame(spark.sparkContext.parallelize(truthRows, 1),
      StructType(Seq(StructField("id", LongType), StructField("f", FloatType),
        StructField("s", StringType))))
    def check(cond: String): Unit = {
      val df = spark.sql(s"SELECT id FROM $t WHERE $cond")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ClaimedFilters"), s"cond=$cond not claimed: $plan")
      val got = df.as[Long].collect().sorted.toSeq
      val want = truth.where(cond).select("id").as[Long].collect().sorted.toSeq
      assert(got == want, s"cond=$cond got=$got want=$want")
    }
    def checkAll(): Unit = {
      check("f = CAST(0.1 AS FLOAT)")
      check("f = CAST('NaN' AS FLOAT)")
      check("f > CAST(0.2 AS FLOAT)")
      check("f IN (CAST(0.1 AS FLOAT), CAST(2.5 AS FLOAT))")
      check("f IS NULL")
      check("s = '\u00fcber'")
      check("s > '\uFF00'")
      check("s LIKE '\u00fc%'")
      check("s IS NOT NULL AND f < CAST(1 AS FLOAT)")
    }
    checkAll()

    // partition MIN/MAX: the string column answers from metadata and
    // equals the forced scan; float extremums keep refusing
    val forced = spark.sql(
      s"SELECT MIN(s), MAX(s), MIN(f), MAX(f) FROM $t WHERE id > -1000").head()
    val (strs, h1) = answered { spark.sql(s"SELECT MIN(s), MAX(s) FROM $t").head() }
    assert(h1 == 1, "string partition MIN/MAX was not metadata-answered")
    assert(strs.getString(0) == forced.getString(0) &&
      strs.getString(1) == forced.getString(1), s"metadata $strs vs scan $forced")
    assert(strs.getString(1) == "\uD834\uDD1E")
    val (flts, h2) = answered { spark.sql(s"SELECT MIN(f), MAX(f) FROM $t").head() }
    assert(h2 == 0, "float partition MIN/MAX must not be metadata-answered")
    assert(flts == Row(forced.get(2), forced.get(3)))

    // the same claims through the distributed path
    spark.conf.set("spark.graft.distributedSnapshotThreshold", "1")
    try {
      delta.checkpoint()
      checkAll()
    } finally spark.conf.unset("spark.graft.distributedSnapshotThreshold")
  }
}
