package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Crash-recovery fault injection: OCC protects racing writers, but a
 * KILLED writer leaves torn on-disk state the reader and vacuum must
 * absorb. Four injected faults, each asserting (a) reads keep returning
 * the committed state, and (b) where garbage is left, vacuum reclaims it.
 */
class CrashRecoverySpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): DeltaTable = {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val t = DeltaTable.forPath(spark, dir)
    (0 until 3).foreach { k =>
      t.write((k * 100 until (k + 1) * 100).map(i => (i.toLong, s"r$i"))
        .toDF("id", "s"))
    }
    t
  }

  /** A new instance with the table's shared state dropped, as a new
    * driver process would open it: its read replays from disk. */
  private def reopen(t: DeltaTable): DeltaTable = {
    TableStateCache.shared.remove(t.log.qualifiedLogPath)
    DeltaTable.forPath(spark, t.path)
  }

  test("torn multi-part checkpoint: reader skips it and replays the log") {
    val t = freshTable()
    Checkpoints.write(spark, t.log, t.snapshot(), actionsPerPart = 2) // multi-part
    val parts = Checkpoints.partsFor(t.log, 2)
    assert(parts.exists(_ >= 2), s"fixture needs a multi-part checkpoint, got $parts")
    // sanity: the complete checkpoint serves reads
    assert(reopen(t).toDF().count() == 300)
    // crash injection: one part vanishes (killed writer mid-rename-loop)
    val victim = t.log.checkpointPart(2, 2, parts.get)
    assert(t.log.fs.delete(victim, false))
    assert(Checkpoints.completeParts(t.log, 2).isEmpty)
    val r = reopen(t)
    assert(r.toDF().count() == 300, "torn checkpoint must not serve reads")
    assert(r.toDF().agg(sum(col("id"))).head().getLong(0) == (0L until 300).sum)
  }

  test("dangling _last_checkpoint (files deleted) falls back cleanly") {
    val t = freshTable()
    t.checkpoint() // single-file checkpoint + _last_checkpoint pointer
    val cpFile = t.log.checkpointFile(2)
    assert(t.log.fs.exists(cpFile))
    assert(t.log.fs.delete(cpFile, false))
    // pointer still claims version 2; the files are gone
    assert(t.log.readLastCheckpoint().exists(_._1 == 2))
    val r = reopen(t)
    assert(r.toDF().count() == 300)
    // and DML over the recovered state still commits
    r.delete("""{"id":{"$lt":100}}""")
    assert(reopen(t).toDF().count() == 200)
  }

  test("dangling _last_checkpoint above the distributed threshold: compaction and dynamic overwrite fall back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-big").toString
    def big(): DeltaTable = {
      val t = DeltaTable.forPath(spark, dir)
      t.distributedSnapshotThreshold = 1 // every checkpoint routes distributed
      t
    }
    val t = big()
    t.checkpointInterval = 0 // manual
    (0 until 4).foreach { k =>
      t.write((k * 10 until (k + 1) * 10).map(i => (i.toLong, s"g${k % 2}"))
        .toDF("id", "g"), partitionBy = Seq("g"))
    }
    t.checkpoint()
    assert(t.log.fs.delete(t.log.checkpointFile(3), false))
    // the pointer still claims version 3 and a size above the threshold
    assert(t.log.readLastCheckpoint().exists(_._1 == 3))
    val r = Maintenance.compact(big())
    assert(r.filesCompacted >= 4)
    assert(big().toDF().as[(Long, String)].collect().toSet ==
      (0L until 40L).map(i => (i, s"g${(i / 10) % 2}")).toSet)
    big().overwritePartitionsDynamic(Seq((100L, "g1")).toDF("id", "g"))
    assert(big().toDF().as[(Long, String)].collect().toSet ==
      (0L until 40L).filter(i => (i / 10) % 2 == 0).map(i => (i, "g0")).toSet + ((100L, "g1")))
  }

  test("torn checkpoint falls back to an EARLIER complete checkpoint") {
    val t = freshTable()
    t.checkpoint() // complete at v2
    t.write(Seq((900L, "x")).toDF("id", "s")) // v3
    Checkpoints.write(spark, t.log, t.snapshot(), actionsPerPart = 2) // multi-part at v3
    val parts = Checkpoints.partsFor(t.log, 3).get
    assert(t.log.fs.delete(t.log.checkpointPart(3, 1, parts), false))
    val r = reopen(t)
    assert(r.toDF().count() == 301) // v2 checkpoint + v3 commit replay
  }

  test("orphaned staged files from a killed write: invisible, vacuumable") {
    val t = freshTable()
    val n0 = t.toDF().count()
    // crash injection: a dead writer's staging dir plus a moved-but-never-
    // committed part in the table layout
    val fs = t.log.fs
    val donor = t.snapshot().activeFiles.head.path
    val staged = new Path(t.path, "_staging_deadbeef/part-00000-dead.parquet")
    val orphan = new Path(t.path, "part-00099-orphan-dead.c000.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(t.path, donor), fs, staged,
      false, spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(t.path, donor), fs, orphan,
      false, spark.sparkContext.hadoopConfiguration)
    // (a) reads are oblivious: only committed adds are scanned
    assert(reopen(t).toDF().count() == n0)
    Thread.sleep(20) // ensure mtimes fall strictly below the cutoff
    // (b) vacuum reclaims both classes of garbage
    val res = Maintenance.vacuum(t, retentionHours = 0, enforceMinimum = false)
    assert(!fs.exists(staged), "stale staging file must be reclaimed")
    assert(!fs.exists(orphan), "orphaned layout file must be reclaimed")
    assert(res.filesDeleted >= 2)
    assert(reopen(t).toDF().count() == n0, "vacuum must not touch live data")
  }

  test("kill between DML image write and commit: orphans reclaimed, state intact") {
    val t = freshTable()
    val n0 = t.toDF().count()
    val filesBefore = t.snapshot().activeFiles.map(_.path).toSet
    // crash injection: the MoR-update/merge shape — new-image files written
    // and moved into the layout, then the writer dies BEFORE commitDvMask
    val images = t.writeDataFiles(
      Seq((9999L, "img")).toDF("id", "s"), Nil, t.snapshot().schema)
    assert(images.nonEmpty)
    assert(reopen(t).toDF().count() == n0, "uncommitted images must be invisible")
    Thread.sleep(20)
    val res = Maintenance.vacuum(t, retentionHours = 0, enforceMinimum = false)
    images.foreach(a =>
      assert(!t.log.fs.exists(new Path(t.path, a.path)),
        s"uncommitted image ${a.path} must be reclaimed"))
    val after = reopen(t)
    assert(after.toDF().count() == n0)
    assert(after.snapshot().activeFiles.map(_.path).toSet == filesBefore)
  }
}
