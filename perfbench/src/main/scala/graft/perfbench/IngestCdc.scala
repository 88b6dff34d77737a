package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.delta.{DeltaTable, Maintenance, RemoveFile}

/** The write path as a CDC upsert pipeline.
  *
  * Set-up: a catalog `orders` target partitioned by order year, and a
  * landing table. An op appends one seeded change batch to landing (mostly
  * updates, some inserts and deletes, keys skewed toward recent years),
  * drains one `Trigger.AvailableNow` run of a `graft-delta` stream over
  * landing whose `foreachBatch` runs one SQL MERGE into the target, and
  * refreshes a reader's snapshot of the target. Every [[CompactEvery]]th op
  * instead compacts the recent partitions. Work items are change rows. */
final class IngestCdc(spark: SparkSession, cfg: Main.Config) extends Main.Workload {
  import IngestCdc._

  val cycle: Int = CompactEvery
  private val nOrders = math.max(1000L, (30000 * cfg.scale).toLong)
  private val batchRows = math.max(20, (300 * cfg.scale).toInt)

  private var ns = ""
  private var target: DeltaTable = _
  private var landing: DeltaTable = _
  private var reader: DeltaTable = _
  private var readerFiles = Map.empty[String, Long]
  private var rng: scala.util.Random = _
  // live keys per year, for updates and deletes that hit
  private var live: Array[mutable.ArrayBuffer[Long]] = _
  private var nextKey = 0L
  private var seq = 0L
  private val applied = mutable.ArrayBuffer.empty[Row]
  private var loopFromSeq = 0L
  private var loopOps = 0
  private var bytesAtStart = 0L
  private var logBytesAtStart = 0L
  private var checkpointsAtStart = 0
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def wh = graft.plans.GraftSql.warehousePath(spark).get
  private def targetPath = s"$wh/$ns/orders"
  private def landingPath = s"$wh/$ns/landing"

  def setup(nsName: String): Unit = {
    ns = nsName
    rng = new scala.util.Random(cfg.seed)
    applied.clear()
    seq = 0L
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    target = DeltaTable.forPath(spark, targetPath)
    target.write(Gen.orders(spark, cfg.seed, nOrders), partitionBy = Seq("o_year"))
    live = Array.fill(Gen.Years.size)(mutable.ArrayBuffer.empty[Long])
    Gen.orders(spark, cfg.seed, nOrders).select("o_orderkey", "o_year").collect()
      .foreach(r => live(r.getInt(1) - Gen.Years.head) += r.getLong(0))
    nextKey = nOrders + 1
    landing = DeltaTable.forPath(spark, landingPath)
    landing.write(spark.createDataFrame(java.util.List.of[Row](), ChangeSchema))
    // Checkpointed from the start, as tables long in service are: the
    // stream and the MERGE read checkpoint plus tail from the first op on.
    landing.checkpoint()
    target.checkpoint()
    reader = DeltaTable.forPath(spark, targetPath)
  }

  def warmUp(): Unit = {
    Seq(-CompactEvery, -1).foreach(i => require(op(i, traced = false).check()))
    loopFromSeq = seq
    loopOps = 0
    bytesAtStart = Gen.dirBytes(targetPath) + Gen.dirBytes(landingPath)
    logBytesAtStart = Gen.dirBytes(s"$targetPath/_delta_log")
    checkpointsAtStart = target.discoverCheckpoints().size
  }

  /** A change batch: 80% updates, 10% inserts, 10% deletes, distinct keys,
    * years drawn with weights rising toward the most recent. */
  private def nextBatch(): Seq[Row] = {
    val s = seq
    seq += 1
    val seen = mutable.HashSet.empty[Long]
    (0 until batchRows).flatMap { _ =>
      val y = pickYear()
      val keys = live(y)
      val roll = rng.nextInt(10)
      val isInsert = roll == 0 || keys.isEmpty
      if (isInsert) {
        val k = nextKey
        nextKey += 1
        keys += k
        seen += k
        Some(change(k, y, "I", s))
      } else {
        val ix = rng.nextInt(keys.size)
        val k = keys(ix)
        if (!seen.add(k)) None
        else if (roll == 1) {
          keys(ix) = keys.last
          keys.remove(keys.size - 1)
          Some(change(k, y, "D", s))
        } else Some(change(k, y, "U", s))
      }
    }
  }

  private def pickYear(): Int = {
    var r = rng.nextInt(YearWeights.sum)
    YearWeights.indexWhere { w => r -= w; r < 0 }
  }

  private def change(key: Long, yearIx: Int, op: String, s: Long): Row = {
    val year = Gen.Years(yearIx)
    val date = java.time.LocalDate.of(year, 1 + rng.nextInt(if (year == 1998) 7 else 12),
      1 + rng.nextInt(28))
    Row(key, 1L + rng.nextInt(15000), Seq("F", "O", "P")(rng.nextInt(3)),
      java.math.BigDecimal.valueOf(100L + rng.nextInt(50000000), 2), date,
      Gen.Priorities(rng.nextInt(Gen.Priorities.size)), s"change $s", year, op, s)
  }

  def op(i: Int, traced: Boolean): Main.Op = {
    if (i >= 0) loopOps += 1
    if (Math.floorMod(i, CompactEvery) == CompactEvery - 1) compactOp(traced) else changeOp(traced)
  }

  private def changeOp(traced: Boolean): Main.Op = {
    val before = target.version
    val rows = nextBatch()
    Trace.span("delta.write") {
      landing.write(spark.createDataFrame(rows.asJava, ChangeSchema))
    }
    val progress = Trace.span("streaming.trigger") {
      val q = spark.readStream.format("graft-delta").load(landingPath).writeStream
        .foreachBatch { (b: DataFrame, _: Long) => merge(b) }
        .option("checkpointLocation", cfg.work.resolve(s"$ns-checkpoint").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    val snap = Trace.span("delta.snapshot")(reader.snapshot())
    applied ++= rows
    Main.Op("change", rows.size, () => {
      val streamed = progress.map(_.numInputRows).sum
      if (traced) {
        val removed = (before + 1 to snap.version).flatMap(v => target.log.readCommit(v))
          .collect { case r: RemoveFile => r.path }
        counts("delta.merge.files_rewritten") += removed.size
        counts("delta.merge.bytes_rewritten") += removed.map(readerFiles.getOrElse(_, 0L)).sum
        counts("delta.write.bytes") += landing.log.readCommit(landing.version)
          .collect { case a: graft.delta.AddFile => a.size }.sum
        counts("delta.snapshot.tail_commits") +=
          snap.version - target.log.readLastCheckpoint().map(_._1).getOrElse(-1L)
        counts("streaming.batches") += progress.count(_.numInputRows > 0)
        counts("streaming.rows") += streamed
      }
      readerFiles = snap.activeFiles.map(a => a.path -> a.size).toMap
      streamed == rows.size && snap.version == target.version && snap.version > before
    })
  }

  private def compactOp(traced: Boolean): Main.Op = {
    val res = Trace.span("delta.compact") {
      Maintenance.compact(target, Maintenance.CompactionConfig(
        partitionFilter = Some(s"o_year >= ${Gen.Years.last - 1}")))
    }
    val snap = Trace.span("delta.snapshot")(reader.snapshot())
    Main.Op("compact", 0, () => {
      if (traced) counts("delta.compact.bytes_in") += res.bytesIn
      readerFiles = snap.activeFiles.map(a => a.path -> a.size).toMap
      snap.version == target.version
    })
  }

  private def merge(batch: DataFrame): Unit = Trace.span("plans.merge") {
    val s = batch.sparkSession
    batch.createOrReplaceTempView("changes")
    s.sql(
      s"""MERGE INTO graft.$ns.orders t
         |USING (SELECT ${OrderCols.mkString(", ")}, op FROM changes) c
         |ON t.o_orderkey = c.o_orderkey
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    ()
  }

  /** The target equals a plain-Spark replay of base orders plus every
    * applied change batch, by row count and an order-independent hash. */
  def finalCheck(): Boolean = {
    val changes = spark.createDataFrame(applied.asJava, ChangeSchema)
    val base = Gen.orders(spark, cfg.seed, nOrders)
      .withColumn("op", lit("I")).withColumn("seq", lit(-1L))
    val replay = base.unionByName(changes)
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1 && col("op") =!= "D")
    val want = fingerprint(replay)
    val got = fingerprint(spark.table(s"graft.$ns.orders"))
    if (want != got) System.err.println(s"[perfbench] ingest_cdc target $got != replay $want")
    want == got
  }

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(hash(OrderCols.map(col): _*).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def counters(tracedOps: Int): Map[String, Double] = {
    val n = math.max(1, tracedOps).toDouble
    // Plain-Parquet size of the measured change batches, one file each.
    val plainDir = cfg.work.resolve(s"$ns-plain").toString
    spark.createDataFrame(applied.filter(_.getLong(9) >= loopFromSeq).asJava, ChangeSchema)
      .repartition(col("seq")).write.mode("overwrite").partitionBy("seq").parquet(plainDir)
    val written = Gen.dirBytes(targetPath) + Gen.dirBytes(landingPath) - bytesAtStart
    val live = target.snapshot().activeFiles.map(_.size).sum
    // Log growth over the whole loop (traced or not), per loop op.
    val ops = math.max(1, loopOps).toDouble
    counts.view.mapValues(_ / n).toMap ++ Map(
      "delta.log.bytes" -> (Gen.dirBytes(s"$targetPath/_delta_log") - logBytesAtStart) / ops,
      "delta.log.checkpoints" -> (target.discoverCheckpoints().size - checkpointsAtStart) / ops,
      "write_amp" -> written.toDouble / math.max(1L, Gen.dirBytes(plainDir)),
      "space_amp" -> Gen.dirBytes(targetPath).toDouble / math.max(1L, live))
  }
}

object IngestCdc {
  val CompactEvery = 4
  // 1992..1998: recent years take most changes
  val YearWeights: Seq[Int] = Seq(1, 1, 2, 3, 5, 8, 13)
  val OrderCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_comment", "o_year")
  val ChangeSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType), StructField("o_year", IntegerType),
    StructField("op", StringType), StructField("seq", LongType)))
}
