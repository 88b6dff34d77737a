package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.{SessionEnv, SparkTestBase}
import graft.delta.DeltaTable
import graft.plans.GraftSql

/** A streaming MERGE compiles its generated code once per session, not
  * once per query. Each `writeStream…start()` runs on a cloned session;
  * under artifact isolation every clone's tasks get their own class
  * loader, and generated code is cached per (class loader, code), so each
  * query compiled its classes again. The engine's session default turns
  * isolation off ([[SessionEnv.ArtifactIsolation]]).
  *
  * Each case runs on a `newSession()` sibling of the shared test session,
  * which starts from Spark's default (`true`), and counts Janino compiles
  * as the delta of Spark's codegen compile counter around each of three
  * `Trigger.AvailableNow` `foreachBatch` SQL MERGEs over a `graft-delta`
  * stream, each on a same-shaped new batch. */
class CodegenReuseSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles of each of three streaming MERGE queries on `s`, whose
    * catalog is set up. */
  private def mergeCompiles(s: SparkSession, cat: String): Seq[Long] = {
    import s.implicits._
    val ns = s"cgr${System.nanoTime()}"
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
    s.sql(s"CREATE TABLE $cat.$ns.target (k BIGINT, v STRING, n INT)")
    s.sql(s"INSERT INTO $cat.$ns.target SELECT id, 'base', 0 FROM range(100)")
    val landingDir = Files.createTempDirectory("graft-cgr-landing").toString
    val landing = DeltaTable.forPath(s, landingDir)
    val ckpt = Files.createTempDirectory("graft-cgr-ckpt").toString
    (1 to 3).map { round =>
      landing.write((0 until 20)
        .map(i => (i * 7L + round, s"r$round", round, if (i % 5 == 0) "D" else "U"))
        .toDF("k", "v", "n", "op"))
      val before = compiles
      val q = s.readStream.format("graft-delta").load(landingDir).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.createOrReplaceTempView("cgr_changes")
          b.sparkSession.sql(
            s"""MERGE INTO $cat.$ns.target t
               |USING (SELECT k, v, n, op FROM cgr_changes) c ON t.k = c.k
               |WHEN MATCHED AND c.op = 'D' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET v = c.v, n = c.n
               |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (c.k, c.v, c.n)""".stripMargin)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.map(_.numInputRows).sum == 20, s"round $round")
      compiles - before
    }
  }

  test("under Spark's default isolation every streaming query compiles again") {
    val s = spark.newSession()
    assert(!s.conf.getAll.contains(SessionEnv.ArtifactIsolation))
    // the catalog by hand: GraftSql.ensure would change the default
    val key = s"spark.sql.catalog.${GraftSql.CatalogName}"
    s.conf.set(key, classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"$key.warehouse", Files.createTempDirectory("graft-cgr-wh").toString)
    val perQuery = mergeCompiles(s, GraftSql.CatalogName)
    assert(perQuery(2) >= 10, s"compiles per query: $perQuery")
  }

  test("after GraftSql.ensure the third streaming MERGE compiles nothing") {
    val s = spark.newSession()
    val cat = GraftSql.ensure(s)
    assert(s.conf.get(SessionEnv.ArtifactIsolation) == "false")
    val perQuery = mergeCompiles(s, cat)
    assert(perQuery(2) == 0, s"compiles per query: $perQuery")
  }

  test("GraftSql.ensure leaves an explicitly set isolation alone") {
    val s = spark.newSession()
    s.conf.set(SessionEnv.ArtifactIsolation, "true")
    val cat = GraftSql.ensure(s)
    assert(s.conf.get(SessionEnv.ArtifactIsolation) == "true")
    val perQuery = mergeCompiles(s, cat)
    assert(perQuery(2) >= 10, s"compiles per query: $perQuery")
  }
}
