package graft.delta

import graft.SparkTestBase
import graft.plans.GraftSql
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SpecInternals
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/**
 * One replayed state per table, shared by every [[DeltaTable]] instance
 * through the table's log path ([[TableStateCache]]): fresh instances and
 * catalog reads of an unchanged table read no checkpoint; commits made
 * through another instance or written into the log directly are seen; a
 * table dropped and recreated at the same path never gets the old state
 * back; crash leftovers degrade as on a cold read; and the cache keeps to
 * its entry bound.
 */
class TableStateCacheSpec extends SparkTestBase {
  import spark.implicits._

  /** Jobs launched from `Checkpoints.scala` (the driver route's checkpoint
    * read and its metadata read) while `body` runs. */
  private def checkpointJobs(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains("Checkpoints.scala"))) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      SpecInternals.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  private def freshDir(): String = Files.createTempDirectory("graft-state-cache").toString

  /** A new instance with the shared state dropped: what a new driver
    * process would see. */
  private def cold(path: String): DeltaTable = {
    val t = DeltaTable.forPath(spark, path)
    TableStateCache.shared.remove(t.log.qualifiedLogPath)
    DeltaTable.forPath(spark, path)
  }

  private def rows(t: DeltaTable): Set[(Long, String)] =
    t.toDF().as[(Long, String)].collect().toSet

  test("fresh instances and catalog SELECTs of an unchanged table read no checkpoint") {
    val cat = GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tsc")
    spark.sql(s"CREATE TABLE $cat.tsc.t (id BIGINT, s STRING) PARTITIONED BY (s)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO $cat.tsc.t VALUES ($i, 'p${i % 2}')"))
    val path = s"${GraftSql.warehousePath(spark).get}/tsc/t"
    DeltaTable.forPath(spark, path).checkpoint()
    // the counter sees a checkpoint read when one happens
    assert(checkpointJobs(cold(path).snapshot()) == 1)
    val k = 5
    val jobs = checkpointJobs {
      (1 to k).foreach { _ =>
        assert(DeltaTable.forPath(spark, path).snapshot().activeFiles.size == 3)
        assert(spark.sql(s"SELECT count(*) FROM $cat.tsc.t WHERE s = 'p0'").head().getLong(0) == 2L)
      }
    }
    assert(jobs == 0, s"$k fresh reads of an unchanged table ran $jobs checkpoint job(s)")
  }

  test("a commit through another instance and a raw commit file are both seen") {
    val path = freshDir()
    val a = DeltaTable.forPath(spark, path)
    a.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    a.checkpoint()
    assert(a.snapshot().activeFiles.size == 1)
    DeltaTable.forPath(spark, path).write(Seq((3L, "c")).toDF("id", "s"))
    assert(rows(a) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a commit written into the log outside the engine: drop the first file
    val first = a.snapshot(Some(0L)).activeFiles.head
    val v = a.version + 1
    a.log.writeString(a.log.commitFile(v),
      Actions.toNdjson(Seq(RemoveFile(first.path, System.currentTimeMillis()))), overwrite = false)
    val b = DeltaTable.forPath(spark, path)
    assert(b.snapshot().version == v)
    assert(!b.snapshot().activeFiles.exists(_.path == first.path))
    assert(rows(a) == Set((3L, "c")))
  }

  test("every later statement reuses one stats parse per file") {
    val path = freshDir()
    DeltaTable.forPath(spark, path).write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val first = DeltaTable.forPath(spark, path).snapshot().activeFiles
    val again = DeltaTable.forPath(spark, path).snapshot().activeFiles
    assert(first.nonEmpty && first.forall(_.parsedStats.isDefined))
    first.zip(again).foreach { case (a, b) => assert(a.parsedStats eq b.parsedStats) }
    // the memo is no part of the action's value
    val copy = first.head.copy()
    assert(copy == first.head && copy.wrap == first.head.wrap)
  }

  test("a table dropped and recreated at the same path, up to the same version, reads its new rows") {
    val path = freshDir()
    val old = DeltaTable.forPath(spark, path)
    old.write(Seq((1L, "old")).toDF("id", "s"))
    old.write(Seq((2L, "old")).toDF("id", "s"))
    assert(rows(old) == Set((1L, "old"), (2L, "old")))
    // another driver drops the table and recreates it at the same path, up
    // to the same version, without this process reading it in between
    val elsewhere = DeltaTable.forPath(spark, freshDir())
    elsewhere.write(Seq((10L, "new")).toDF("id", "s"))
    elsewhere.write(Seq((20L, "new")).toDF("id", "s"))
    assert(elsewhere.version == old.snapshot().version)
    val fs = old.log.fs
    assert(fs.delete(new Path(path), true))
    assert(fs.rename(new Path(elsewhere.path), new Path(path)))
    assert(rows(DeltaTable.forPath(spark, path)) == Set((10L, "new"), (20L, "new")))
    assert(rows(old) == Set((10L, "new"), (20L, "new")))
  }

  test("a table recreated through the catalog under the same name reads its new rows") {
    val cat = GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tsc")
    val t = s"$cat.tsc.recreated"
    def load(v: String): Unit = {
      spark.sql(s"CREATE TABLE $t (id BIGINT, s STRING)")
      spark.sql(s"INSERT INTO $t VALUES (1, '$v'), (2, '$v')")
    }
    load("first")
    assert(spark.sql(s"SELECT s FROM $t").as[String].collect().toSet == Set("first"))
    spark.sql(s"DROP TABLE $t")
    load("second")
    assert(spark.sql(s"SELECT s FROM $t").as[String].collect().toSet == Set("second"))
  }

  private def threeVersions(): DeltaTable = {
    val t = DeltaTable.forPath(spark, freshDir())
    (0 until 3).foreach { k =>
      t.write((k * 100 until (k + 1) * 100).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    }
    t
  }

  test("a torn multi-part checkpoint: a cold read and a cached state both replay the log") {
    val t = threeVersions()
    Checkpoints.write(spark, t.log, t.snapshot(), actionsPerPart = 2)
    val parts = Checkpoints.partsFor(t.log, 2).get
    assert(t.log.fs.delete(t.log.checkpointPart(2, 2, parts), false))
    assert(Checkpoints.completeParts(t.log, 2).isEmpty)
    assert(cold(t.path).toDF().count() == 300)
    // the state cached by that read, extended by a new commit
    t.write(Seq((900L, "x")).toDF("id", "s"))
    assert(DeltaTable.forPath(spark, t.path).toDF().count() == 301)
    // time travel below the cached state replays from the log, too
    assert(DeltaTable.forPath(spark, t.path).asOf(2).count() == 300)
  }

  test("a dangling _last_checkpoint: a cold read and a cached state both replay the log") {
    val t = threeVersions()
    t.checkpoint()
    assert(t.log.fs.delete(t.log.checkpointFile(2), false))
    assert(t.log.readLastCheckpoint().exists(_._1 == 2))
    val r = cold(t.path)
    assert(r.toDF().count() == 300)
    r.delete("""{"id":{"$lt":100}}""")
    assert(DeltaTable.forPath(spark, t.path).toDF().count() == 200)
    assert(cold(t.path).toDF().count() == 200)
  }

  test("the cache keeps to its entry bound, evicting the least recently used table") {
    def entry(version: Long, files: Int) = TableStateCache.Entry(
      Snapshot(version, None, None, (0 until files).map(i => AddFile(s"f-$i")), Nil),
      FileStamp(1L, version))
    val cache = new TableStateCache(10)
    cache.put("a", entry(0, 4), None)
    cache.put("b", entry(0, 4), None)
    assert(cache.get("a").isDefined) // a is now the most recently used
    cache.put("c", entry(0, 4), None)
    assert(cache.keys == Seq("a", "c"), "b was the least recently used")
    assert(cache.entries == 8)
    // a newer state of a table replaces its older one
    cache.put("a", entry(1, 5), None)
    assert(cache.get("a").map(_.snapshot.version).contains(1L))
    assert(cache.entries == 9)
    // an older state does not displace a newer one unless it replaces it
    cache.put("a", entry(0, 1), None)
    assert(cache.get("a").map(_.snapshot.version).contains(1L))
    cache.put("a", entry(0, 1), cache.get("a"))
    assert(cache.get("a").map(_.snapshot.version).contains(0L))
    // a state larger than the bound is not kept, and drops its table's
    cache.put("c", entry(1, 11), None)
    assert(cache.get("c").isEmpty)
    assert(cache.keys == Seq("a") && cache.entries == 1)
  }

  test("a commit file rewritten in place with another length or time invalidates the state") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1L, "a")).toDF("id", "s"))
    t.write(Seq((2L, "b")).toDF("id", "s"))
    assert(rows(t) == Set((1L, "a"), (2L, "b")))
    // version 1 replaced by a commit that removes version 0's file
    val v0 = t.snapshot(Some(0L)).activeFiles.head
    val body = Actions.toNdjson(Seq(RemoveFile(v0.path, 1L)))
    val out = t.log.fs.create(t.log.commitFile(1), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    assert(DeltaTable.forPath(spark, t.path).snapshot().activeFiles.isEmpty)
  }
}
