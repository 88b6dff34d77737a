package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SpecInternals
import org.apache.spark.sql.sources.EqualTo
import java.nio.file.Files
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/**
 * The distributed snapshot path: checkpoint stays a DataFrame, the commit
 * tail reconciles via anti-join, the DataSkipping predicate runs on
 * executors, and only pruning survivors reach the driver. Equivalence is
 * asserted against the driver fast-path (Checkpoints.read + Snapshot.replay
 * + DataSkipping.prune) on a synthetic 100k-file log — the scale shape the
 * round-6 verdict flagged as the last O(files) driver ceiling.
 */
class DistributedSnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType)))

  private def pred(filterJson: String) =
    graft.query.MongoFilter.column(filterJson, schema)

  private def syntheticLog(nFiles: Int): DeltaLog = {
    val dir = Files.createTempDirectory("graft-distsnap").toString
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
    val snap = Snapshot(0L, Some(meta), Some(Protocol(1, 2)), adds, Nil,
      Map("app" -> 7L))
    Checkpoints.write(spark, log, snap)
    // commit tail past the checkpoint: remove one k=3 file, add a fresh one,
    // re-add an existing path with a new size (tail must override the
    // checkpoint), and advance a txn
    log.fs.mkdirs(log.logPath)
    log.writeCommit(1, Seq(
      RemoveFile("k=3/part-3.parquet", 2L),
      AddFile("k=3/part-extra.parquet", Map("k" -> "3"), 7777L, 2L,
        stats = Some("""{"numRecords":10,"minValues":{"v":1},"maxValues":{"v":2},"nullCount":{"v":0}}""")),
      AddFile("k=7/part-7.parquet", Map("k" -> "7"), 9999L, 2L),
      Txn("app", 8L)))
    log
  }

  private def driverOracle(log: DeltaLog, filterJson: String): Snapshot = {
    val base = Checkpoints.read(spark, log, 0L, None)
    val full = Snapshot.replay(base.copy(version = 1L),
      Iterator(1L -> log.readCommit(1)))
    full.copy(activeFiles =
      DataSkipping.prune(full, pred(filterJson)))
  }

  test("100k-file log: distributed prune equals driver replay (partition filter)") {
    val log = syntheticLog(100000)
    val filter = """{"k":{"$eq":3}}"""
    val dist = DistributedSnapshot.prunedState(spark, log, 0L, None, 1L,
      _ => pred(filter))._1
    val oracle = driverOracle(log, filter)
    assert(dist.activeFiles.map(f => (f.path, f.size)).sorted ==
      oracle.activeFiles.map(f => (f.path, f.size)).sorted)
    // k=3 partition: 2000 checkpoint files − 1 removed + 1 added
    assert(dist.activeFiles.size == 2000)
    assert(dist.activeFiles.exists(_.path == "k=3/part-extra.parquet"))
    assert(!dist.activeFiles.exists(_.path == "k=3/part-3.parquet"))
    assert(dist.metadata == oracle.metadata)
    assert(dist.protocol == oracle.protocol)
    assert(dist.transactions == Map("app" -> 8L))
    assert(dist.version == 1L)
    // scan-only contract: tombstones never materialize on this path
    assert(dist.tombstones.isEmpty)
  }

  test("100k-file log: distributed zone-map prune equals driver replay (stats filter)") {
    val log = syntheticLog(100000)
    val filter = """{"v":{"$lt":100}}"""
    val dist = DistributedSnapshot.prunedState(spark, log, 0L, None, 1L,
      _ => pred(filter))._1
    val oracle = driverOracle(log, filter)
    assert(dist.activeFiles.map(_.path).sorted ==
      oracle.activeFiles.map(_.path).sorted)
    // minValues 0,10,…,90 < 100 → checkpoint files 0–9 (file 3 removed in
    // the tail) + the tail add with minValues.v=1; the k=7 re-add carries
    // no stats → conservative keep
    assert(dist.activeFiles.map(_.path).toSet ==
      ((0 until 10).toSet - 3).map(i => s"k=${i % 50}/part-$i.parquet") +
        "k=3/part-extra.parquet" + "k=7/part-7.parquet")
  }

  test("tail re-add overrides the checkpoint version of the file") {
    val log = syntheticLog(1000)
    val dist = DistributedSnapshot.prunedState(spark, log, 0L, None, 1L,
      _ => pred("""{"k":{"$eq":7}}"""))._1
    val readd = dist.activeFiles.find(_.path == "k=7/part-7.parquet")
    assert(readd.map(_.size).contains(9999L))
  }

  test("end-to-end query routes through the distributed path above the threshold") {
    val t = DeltaTable.forPath(spark,
      Files.createTempDirectory("graft-distsnap-e2e").toString)
    t.checkpointInterval = 1
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"))
    t.write(Seq((4, "d"), (5, "e")).toDF("id", "s"))
    // tail commits past the last checkpoint
    t.checkpointInterval = 1000
    t.write(Seq((6, "f")).toDF("id", "s"))
    t.delete("""{"id":{"$eq":2}}""")

    val filter = """{"id":{"$gte":2}}"""
    val viaDriver = t.query(filter).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(!t.lastQueryDistributed)

    t.distributedSnapshotThreshold = 1
    val viaDistributed = t.query(filter).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(t.lastQueryDistributed)
    assert(viaDistributed == viaDriver)
    assert(viaDistributed == Seq((3, "c"), (4, "d"), (5, "e"), (6, "f")))

    // time travel takes the distributed path too when a checkpoint precedes it
    val v1 = t.query("{}", None, Some(1L)).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(t.lastQueryDistributed)
    assert(v1 == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("rawState cache key pins session identity and checkpoint CONTENT") {
    val log = syntheticLog(1000)
    val k1 = DistributedSnapshot.cacheKeyFor(spark, log, 0L, None)
    assert(k1 == DistributedSnapshot.cacheKeyFor(spark, log, 0L, None))

    // a second session in the same JVM must key separately: the cached
    // decoded rows are bound to the session that built them, and a
    // recreated session must never be served rows of a stopped one
    val other = spark.newSession()
    val k2 = DistributedSnapshot.cacheKeyFor(other, log, 0L, None)
    assert(k2 != k1)
    assert(DistributedSnapshot.sessionIdentity(other) !=
      DistributedSnapshot.sessionIdentity(spark))

    // SAME-LENGTH content change (drop-and-recreate at the same path can
    // alias (mtime, length) on coarse-mtime filesystems): the fingerprint
    // is over bytes, so the key still changes
    val body = log.readString(log.lastCheckpointFile)
    val mutated = body.map(c => if (c.isDigit) ('0' + (9 - (c - '0'))).toChar else c)
    assert(mutated != body && mutated.length == body.length)
    log.writeString(log.lastCheckpointFile, mutated, overwrite = true)
    try {
      val k3 = DistributedSnapshot.cacheKeyFor(spark, log, 0L, None)
      assert(k3 != k1)
    } finally log.writeString(log.lastCheckpointFile, body, overwrite = true)
    assert(DistributedSnapshot.cacheKeyFor(spark, log, 0L, None) == k1)
  }

  test("claimDecided decides from partitionValues alone (partial JSON projection)") {
    val log = syntheticLog(1000)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    import org.apache.spark.sql.sources._
    val decided = DistributedSnapshot.claimDecided(spark, log, 0L, None, 1L,
      Seq(EqualTo("k", 3), GreaterThan("v", 10L), IsNotNull("k"),
        In("k", Array(1, 2, 49))), schema)
    // k-filters decide on every file (the path string parses as int on all
    // 1000 adds + the 3 tail files); v references a data column → undecided
    assert(decided == Seq(EqualTo("k", 3), IsNotNull("k"),
      In("k", Array(1, 2, 49))))

    // an undecidable-on-ONE-file candidate is rejected even when every
    // other file decides: corrupt one tail add's partition value
    log.writeCommit(2, Seq(
      AddFile("k=bogus/part-x.parquet", Map("k" -> "bogus"), 1L, 3L)))
    val decided2 = DistributedSnapshot.claimDecided(spark, log, 0L, None, 2L,
      Seq(EqualTo("k", 3), IsNotNull("k")), schema)
    // equality can't parse "bogus" as int → undecided; IS NOT NULL still
    // decides (the value exists, whatever it spells)
    assert(decided2 == Seq(IsNotNull("k")))
  }

  /** Completed stages that scan Parquet, and the bytes they read. The
    * calls these specs count read no data file, so every such stage scans
    * a checkpoint. */
  private final class CheckpointScans extends SparkListener {
    val stages = new AtomicInteger()
    val bytes = new AtomicLong()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) {
        stages.incrementAndGet()
        bytes.addAndGet(e.stageInfo.taskMetrics.inputMetrics.bytesRead)
      }
    def read: (Int, Long) = {
      SpecInternals.drainListeners(spark.sparkContext)
      (stages.get, bytes.get)
    }
  }

  private def countingScans[A](body: CheckpointScans => A): A = {
    val scans = new CheckpointScans
    spark.sparkContext.addSparkListener(scans)
    try body(scans) finally spark.sparkContext.removeSparkListener(scans)
  }

  private def cachedEntries: Int = SpecInternals.cachedEntries(spark)

  private val k3 = """{"k":{"$eq":3}}"""

  private def prunedPaths(log: DeltaLog, cpVersion: Long, target: Long,
                          filter: String): Seq[String] =
    DistributedSnapshot.prunedState(spark, log, cpVersion, None, target,
      _ => pred(filter))._1.activeFiles.map(_.path).sorted

  test("decode once: claim, prune and fold at one version scan the checkpoint on the first call only") {
    val log = syntheticLog(20000)
    def calls(target: Long) = (
      prunedPaths(log, 0L, target, k3),
      DistributedSnapshot.claimDecided(spark, log, 0L, None, target,
        Seq(EqualTo("k", 3)), schema),
      DistributedSnapshot.foldAggregates(spark, log, 0L, None, target,
        Seq(EqualTo("k", 3)), schema, Nil, Seq(StatsAggregates.CountStar)))
    val oracle = driverOracle(log, k3).activeFiles.map(_.path).sorted
    countingScans { scans =>
      val first = calls(1L)
      val decoded = scans.read
      assert(decoded._1 > 0 && decoded._2 > 0, s"no checkpoint scan seen: $decoded")
      (1 to 3).foreach(_ => assert(calls(1L) == first))
      assert(scans.read == decoded, "a repeated call scanned the checkpoint again")
      assert(first._1 == oracle)
      assert(first._2 == Seq(EqualTo("k", 3)))
      // 400 k=3 checkpoint files − 1 removed + 1 added, 10 rows each
      assert(first._3.contains(Seq(Seq(4000L))))

      // a new commit on the same checkpoint replays its tail over the
      // cached rows and scans nothing
      log.writeCommit(2, Seq(AddFile("k=3/part-new.parquet", Map("k" -> "3"),
        5L, 3L, stats = Some("""{"numRecords":5}"""))))
      val second = calls(2L)
      assert(scans.read == decoded, "a new commit re-read the checkpoint")
      assert(second._1 == (first._1 :+ "k=3/part-new.parquet").sorted)
      assert(second._3.contains(Seq(Seq(4005L))))
    }
  }

  test("a new checkpoint replaces the decoded one: one cached entry for the table") {
    spark.catalog.clearCache()
    val log = syntheticLog(5000)
    val before = prunedPaths(log, 0L, 1L, k3)
    assert(cachedEntries == 1)
    Checkpoints.writeDistributed(spark, log, 1L)
    assert(log.readLastCheckpoint().map(_._1).contains(1L))
    val after = prunedPaths(log, 1L, 1L, k3)
    assert(cachedEntries == 1, "the replaced checkpoint's rows are still cached")
    assert(after == before)
    assert(after == driverOracle(log, k3).activeFiles.map(_.path).sorted)
  }

  test("after clearCache the state is decoded again and still equals the driver oracle") {
    val log = syntheticLog(5000)
    val oracle = driverOracle(log, k3).activeFiles.map(_.path).sorted
    assert(prunedPaths(log, 0L, 1L, k3) == oracle)
    spark.catalog.clearCache()
    assert(cachedEntries == 0)
    countingScans { scans =>
      assert(prunedPaths(log, 0L, 1L, k3) == oracle)
      assert(cachedEntries == 1, "the dropped state was served uncached")
      val redecoded = scans.read
      assert(redecoded._1 > 0)
      assert(DistributedSnapshot.claimDecided(spark, log, 0L, None, 1L,
        Seq(EqualTo("k", 3)), schema) == Seq(EqualTo("k", 3)))
      assert(prunedPaths(log, 0L, 1L, k3) == oracle)
      assert(scans.read == redecoded)
    }
  }

  test("two first users of a checkpoint decode it once and leave one cached entry") {
    spark.catalog.clearCache()
    val log = syntheticLog(5000)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map(_ => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = prunedPaths(log, 0L, 1L, k3)
      })).map(_.get())
      assert(results.distinct == Seq(driverOracle(log, k3).activeFiles.map(_.path).sorted))
    } finally pool.shutdown()
    assert(cachedEntries == 1)
  }

  test("a claimed query on an already decoded checkpoint launches no claim job") {
    val log = syntheticLog(5000)
    assert(prunedPaths(log, 0L, 1L, k3) == driverOracle(log, k3).activeFiles.map(_.path).sorted)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    import org.apache.spark.sql.sources.{GreaterThan, IsNotNull}
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(DistributedSnapshot.claimDecided(spark, log, 0L, None, 1L,
        Seq(EqualTo("k", 3), GreaterThan("v", 10L), IsNotNull("k")), schema) ==
        Seq(EqualTo("k", 3), IsNotNull("k")))
      // a tail file whose value does not decode leaves equality undecided
      log.writeCommit(2, Seq(AddFile("k=bogus/part-x.parquet", Map("k" -> "bogus"), 1L, 3L)))
      assert(DistributedSnapshot.claimDecided(spark, log, 0L, None, 2L,
        Seq(EqualTo("k", 3), IsNotNull("k")), schema) == Seq(IsNotNull("k")))
      SpecInternals.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"the claim checks ran ${jobs.get} job(s)")
  }
}
