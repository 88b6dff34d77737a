package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods

/**
 * Driver-memory soak for the bounded-driver claims: a ~10⁶-file table
 * (synthetic checkpoint entries + a handful of real files in one
 * partition) driven through scan → warm scan → CoW DML → distributed
 * checkpoint roll-forward → distributed vacuum under a deliberately small heap
 * (the spec forks this main with `-Xmx1g`). Every phase would OOM a 1 GB
 * driver if it materialized the full file list (~10⁶ AddFile objects plus
 * JSON parse garbage), so survival IS the evidence that the distributed
 * paths ([[DistributedSnapshot]], [[Checkpoints.writeDistributed]],
 * [[Maintenance.vacuum]]'s large-table branch, the tail-replay commit
 * checks) stay O(pruned survivors + commit tail) on the driver.
 *
 * The synthetic checkpoint is written DISTRIBUTED (a range job renders
 * add-action JSON on executors) for the same reason — building 10⁶
 * AddFiles driver-side to write them would defeat the soak before it
 * starts. Fabricated paths are never read: the real partition (k=999) is
 * the only one any scan or DML touches, exactly how a partition-pruned
 * query behaves on a 100 TB table.
 */
object DriverSoak {

  private def render(a: Action): String =
    JsonMethods.compact(JsonMethods.render(a.wrap.obj.head._2))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soak").toString)
    val nSynthetic = args.lift(1).map(_.toInt).getOrElse(1000000)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-driver-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.currentTimeMillis()
      val r = body
      timings.put(name, System.currentTimeMillis() - t0)
      r
    }
    println(s"maxHeapMiB=${Runtime.getRuntime.maxMemory() / (1024 * 1024)}")

    // ---- real data: one partition with genuine parquet files -------------
    val t = DeltaTable.forPath(spark, dir)
    phase("write-real") {
      t.write((0 until 20000).map(i => (i, 999, s"row-$i")).toDF("id", "k", "s")
        .repartition(4), partitionBy = Seq("k"))
    }
    val realSnap = t.snapshot()
    val realRows = 20000L

    // ---- synthetic 10⁶-entry checkpoint at the current version -----------
    phase("synthetic-checkpoint") {
      val log = t.log
      val driverRows = Seq(
        realSnap.metadata.map(m => (render(m), "metaData")).get,
        realSnap.protocol.map(p => (render(p), "protocol")).get) ++
        realSnap.activeFiles.map(a => (render(a), "add"))
      val driverDf = driverRows.toDF("json", "kind").select(
        when(col("kind") === "add", col("json")).as("add"),
        lit(null).cast("string").as("remove"),
        when(col("kind") === "metaData", col("json")).as("metaData"),
        when(col("kind") === "protocol", col("json")).as("protocol"),
        lit(null).cast("string").as("txn"))
      // Executor-side render of the fabricated entries: never driver-held.
      val synth = spark.range(nSynthetic.toLong).select(
        format_string(
          """{"path":"k=%d/part-%d-synthetic.parquet","partitionValues":{"k":"%d"},""" +
            """"size":1048576,"modificationTime":1,"dataChange":true,""" +
            """"stats":"{\"numRecords\":10}"}""",
          col("id") % 50, col("id"), col("id") % 50).as("add"),
        lit(null).cast("string").as("remove"),
        lit(null).cast("string").as("metaData"),
        lit(null).cast("string").as("protocol"),
        lit(null).cast("string").as("txn"))
      val tmp = new Path(log.logPath, ".soak-cp-tmp")
      synth.union(driverDf).repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = log.fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error("no checkpoint part written"))
      val target = log.checkpointFile(realSnap.version)
      log.fs.delete(target, false)
      log.fs.rename(part, target)
      log.fs.delete(tmp, true)
      log.writeLastCheckpoint(realSnap.version,
        nSynthetic.toLong + driverRows.size, None)
      // the driver snapshot cache predates the big checkpoint; a fresh
      // handle is what a new driver process would see
    }
    val big = DeltaTable.forPath(spark, dir)

    // ---- scan: partition-pruned query over the 10⁶-file state ------------
    phase("scan") {
      val n = big.query("""{"k":999}""").count()
      require(n == realRows, s"scan saw $n rows, expected $realRows")
      require(big.lastQueryDistributed, "scan did not take the distributed path")
    }

    val schema = org.apache.spark.sql.types.DataType
      .fromJson(realSnap.metadata.get.schemaString)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

    // ---- warm scan: claim and prune on the decoded checkpoint ------------
    // The first scan paid the one-time decode; this phase times what every
    // later partition-pruned query pays at this file count: the claim
    // check and the pruned file list. Its rows are counted after it.
    val warm = phase("warm-scan") {
      val claimed = DistributedSnapshot.claimDecided(spark, big.log, realSnap.version,
        None, big.version, Seq(org.apache.spark.sql.sources.EqualTo("k", 999)), schema)
      require(claimed.nonEmpty, "the partition filter was not claimed")
      big.query("""{"k":999}""")
    }
    require(warm.count() == realRows, "warm scan lost rows")

    // ---- metadata fold: distributed aggregates over 10⁶ files ------------
    // The never-materializing path: COUNT(*) claimed to one partition, over
    // the whole table and GROUP BY k, folded as per-RDD-partition states.
    // Under the 1 GB cap a driver-side file list (10⁶ AddFiles) would OOM
    // here — completing is the heap audit.
    phase("metadata-fold") {
      def countStar(claimed: Seq[org.apache.spark.sql.sources.Filter],
                    groupCols: Seq[String]) =
        DistributedSnapshot.foldAggregates(spark, big.log, realSnap.version,
          None, big.version, claimed, schema, groupCols,
          Seq(StatsAggregates.CountStar))
      val claimed = countStar(Seq(org.apache.spark.sql.sources.EqualTo("k", 999)), Nil)
      require(claimed.contains(Seq(Seq(realRows))),
        s"claimed metadata fold returned $claimed, expected $realRows")
      val total = countStar(Nil, Nil)
      require(total.contains(Seq(Seq(nSynthetic.toLong * 10 + realRows))),
        s"whole-table metadata fold returned $total")
      // synthetic files spread over k = 0..49, the real ones sit in k=999
      val grouped = countStar(Nil, Seq("k")).getOrElse(
        sys.error("grouped metadata fold refused"))
      val groups = math.min(nSynthetic, 50) + 1
      require(grouped.size == groups,
        s"grouped metadata fold returned ${grouped.size} groups, expected $groups")
      val rows = grouped.map(_(1).asInstanceOf[Long]).sum
      require(rows == nSynthetic.toLong * 10 + realRows,
        s"grouped metadata fold counted $rows rows")
      require(grouped.exists(r => r == Seq(999, realRows)),
        s"grouped metadata fold lost the real partition: ${grouped.takeRight(3)}")
    }

    // ---- DML: CoW delete restricted to the real partition ----------------
    phase("dml-delete") {
      val res = big.delete("""{"k":999,"id":{"$lt":1000}}""")
      require(res.rowsAffected == 1000, s"deleted ${res.rowsAffected}")
    }

    // ---- checkpoint: distributed roll-forward past the DML ---------------
    phase("checkpoint-rollforward") {
      Checkpoints.writeDistributed(spark, big.log, big.version)
      val (cv, size, _) = big.log.readLastCheckpoint().get
      require(cv == big.version, s"checkpoint at $cv, expected ${big.version}")
      require(size > nSynthetic.toLong, s"rolled-forward checkpoint size $size")
    }

    // ---- vacuum: distributed listing ∖ keep-set --------------------------
    phase("vacuum") {
      val res = Maintenance.vacuum(big, retentionHours = 0.0,
        dryRun = false, enforceMinimum = false)
      require(res.filesDeleted > 0, "vacuum reclaimed nothing")
    }

    // ---- final read-back --------------------------------------------------
    phase("final-scan") {
      val n = big.query("""{"k":999}""").count()
      require(n == realRows - 1000, s"final scan saw $n rows")
    }

    val rt = Runtime.getRuntime
    val usedMiB = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    println("SOAK OK " + timings.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"nSyntheticFiles":$nSynthetic,""", ",",
        s""","usedHeapMiB":$usedMiB}"""))
    spark.stop()
  }
}
