package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import java.nio.file.Files

/**
 * The distributed checkpoint WRITE path: the previous checkpoint rolls
 * forward as a DataFrame (tail reconciled via broadcast anti-join) and is
 * written as a distributed parquet job — never materializing the file list
 * on the driver. Equivalence is asserted against the driver path
 * (Snapshot.replay + Checkpoints.write) action-by-action, including
 * tombstones, txn merging, and metadata overrides in the tail.
 */
class DistributedCheckpointSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType)))

  /** Base checkpoint at v0 with `nFiles` adds + one carried tombstone, then
    * a two-commit tail exercising every reconciliation rule: remove of a
    * checkpointed file, fresh add, re-add with new size (last add wins),
    * remove-then-re-add (add clears the tombstone), metadata override, and
    * a txn bump over a checkpointed txn. */
  private def logWithTail(nFiles: Int): DeltaLog = {
    val dir = Files.createTempDirectory("graft-distcp").toString
    val log = new DeltaLog(new Path(dir), spark.sessionState.newHadoopConf())
    val meta = TableMetadata("tid", schemaString = schema.json,
      partitionColumns = Seq("k"))
    val adds = (0 until nFiles).map { i =>
      AddFile(
        path = s"k=${i % 50}/part-$i.parquet",
        partitionValues = Map("k" -> (i % 50).toString),
        size = 1000L + i,
        modificationTime = 1L,
        stats = Some(s"""{"numRecords":10,"minValues":{"v":${i * 10L}},""" +
          s""""maxValues":{"v":${i * 10L + 9}},"nullCount":{"v":0}}"""))
    }
    val snap = Snapshot(0L, Some(meta), Some(Protocol(1, 2)), adds,
      Seq(RemoveFile("k=0/old-tombstone.parquet", 1L)),
      Map("app" -> 7L, "other" -> 1L))
    Checkpoints.write(spark, log, snap)
    log.fs.mkdirs(log.logPath)
    log.writeCommit(1, Seq(
      RemoveFile("k=3/part-3.parquet", 2L),
      AddFile("k=3/part-extra.parquet", Map("k" -> "3"), 7777L, 2L),
      AddFile("k=7/part-7.parquet", Map("k" -> "7"), 9999L, 2L),
      RemoveFile("k=5/part-5.parquet", 2L),
      Txn("app", 8L)))
    log.writeCommit(2, Seq(
      // re-add of a path tombstoned in commit 1: the add must clear it
      AddFile("k=5/part-5.parquet", Map("k" -> "5"), 5555L, 3L),
      TableMetadata("tid", name = Some("renamed"), schemaString = schema.json,
        partitionColumns = Seq("k")),
      Txn("third", 3L)))
    log
  }

  /** Parsed, comparable action content of the checkpoint at `version`. */
  private def checkpointContent(log: DeltaLog, version: Long)
      : (Set[(String, Long, String)], Set[(String, Long)], Set[(String, Long)],
         Option[String], Option[Protocol]) = {
    val snap = Checkpoints.read(spark, log, version,
      Checkpoints.partsFor(log, version))
    (snap.activeFiles.map(a => (a.path, a.size,
        a.partitionValues.toSeq.sorted.mkString(","))).toSet,
      snap.tombstones.map(r => (r.path, r.deletionTimestamp)).toSet,
      snap.transactions.toSet,
      snap.metadata.flatMap(_.name),
      snap.protocol)
  }

  test("distributed checkpoint equals driver checkpoint on a 100k-file log") {
    val log = logWithTail(100000)
    // driver oracle: full replay → Checkpoints.write into a sibling log
    val oracleDir = Files.createTempDirectory("graft-distcp-oracle").toString
    val oracleLog = new DeltaLog(new Path(oracleDir),
      spark.sessionState.newHadoopConf())
    val base = Checkpoints.read(spark, log, 0L, None)
    val full = Snapshot.replay(base.copy(version = 2L),
      Iterator(1L -> log.readCommit(1), 2L -> log.readCommit(2)))
    Checkpoints.write(spark, oracleLog, full)

    Checkpoints.writeDistributed(spark, log, 2L)

    val got = checkpointContent(log, 2L)
    val want = checkpointContent(oracleLog, 2L)
    assert(got == want)

    // spot-check the reconciliation rules directly
    val (actives, tombstones, txns, metaName, _) = got
    assert(!actives.exists(_._1 == "k=3/part-3.parquet"))
    assert(actives.exists(a => a._1 == "k=3/part-extra.parquet" && a._2 == 7777L))
    assert(actives.exists(a => a._1 == "k=7/part-7.parquet" && a._2 == 9999L))
    assert(actives.exists(a => a._1 == "k=5/part-5.parquet" && a._2 == 5555L))
    assert(tombstones.exists(_._1 == "k=3/part-3.parquet"))
    assert(!tombstones.exists(_._1 == "k=5/part-5.parquet")) // cleared by re-add
    assert(tombstones.exists(_._1 == "k=0/old-tombstone.parquet")) // carried
    assert(txns == Set("app" -> 8L, "other" -> 1L, "third" -> 3L))
    assert(metaName.contains("renamed"))

    // _last_checkpoint points at v2 with the exact action count
    val Some((v, size, _)) = log.readLastCheckpoint()
    assert(v == 2L)
    // 100000 adds − part-3 removed + part-extra added, 2 tombstones,
    // 1 metadata + 1 protocol + 3 txns
    assert(size == 100000L + 2 + 1 + 1 + 3)
  }

  test("multi-part distributed checkpoint round-trips through the reader") {
    val log = logWithTail(1000)
    Checkpoints.writeDistributed(spark, log, 2L, actionsPerPart = 300L)
    val Some((v, size, parts)) = log.readLastCheckpoint()
    assert(v == 2L && parts.exists(_ >= 3))
    val snap = Checkpoints.read(spark, log, 2L, parts)
    assert(snap.activeFiles.size == 1000) // −part-3 +extra; part-5 re-added
    assert(snap.activeFiles.map(_.path).distinct.size == snap.activeFiles.size)
    assert(size == snap.activeFiles.size + snap.tombstones.size +
      snap.transactions.size + 2)
  }

  test("table-level checkpointing routes distributed above the threshold") {
    val t = DeltaTable.forPath(spark,
      Files.createTempDirectory("graft-distcp-e2e").toString)
    t.checkpointInterval = 1
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    t.write(Seq((4, "d"), (5, "e")).toDF("id", "s"))
    t.distributedSnapshotThreshold = 1 // force the distributed write path
    t.write(Seq((6, "f")).toDF("id", "s"))
    t.delete("""{"id":{"$eq":2}}""")
    // DML candidate selection itself routed through the distributed scan
    assert(t.lastQueryDistributed)
    // every commit checkpointed; the last two rolled forward distributed
    val Some((v, _, _)) = t.log.readLastCheckpoint()
    assert(v == 3L)
    // reads reconstruct purely from the distributed-written checkpoint
    val rows = t.query("{}").orderBy("id").as[(Int, String)].collect().toSeq
    assert(rows == Seq((1, "a"), (3, "c"), (4, "d"), (5, "e"), (6, "f")))
    // and time travel from it still works
    val v1 = t.query("{}", None, Some(1L)).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(v1 == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("a driver checkpoint writes its parts without a Spark job") {
    val meta = TableMetadata("tid", schemaString = schema.json, partitionColumns = Seq("k"))
    val snap = Snapshot(4L, Some(meta), Some(Protocol(1, 2)),
      (0 until 2500).map(i => AddFile(s"k=${i % 5}/f-$i.parquet",
        Map("k" -> (i % 5).toString), 100L + i, 1L)),
      Seq(RemoveFile("k=0/gone.parquet", 1L)), Map("app" -> 3L))
    Seq(Checkpoints.DefaultActionsPerPart, 1000L).foreach { perPart =>
      val log = new DeltaLog(new Path(Files.createTempDirectory("graft-cpjob").toString),
        spark.sessionState.newHadoopConf())
      log.fs.mkdirs(log.logPath)
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Checkpoints.write(spark, log, snap, perPart)
        // the listener bus is asynchronous: a job would have posted by now
        org.apache.spark.sql.SpecInternals.drainListeners(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get == 0, s"checkpoint ($perPart actions per part) ran ${jobs.get} job(s)")
      val parts = Checkpoints.partsFor(log, 4L)
      assert(parts == (if (perPart == 1000L) Some(3) else None))
      val back = Checkpoints.read(spark, log, 4L, parts)
      assert(back.activeFiles.toSet == snap.activeFiles.toSet)
      assert(back.tombstones.toSet == snap.tombstones.toSet)
      assert(back.transactions == snap.transactions && back.metadata == snap.metadata)
    }
  }
}
