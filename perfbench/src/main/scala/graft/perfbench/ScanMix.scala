package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods

import graft.delta.{Action, DeltaTable}
import graft.query.Pipeline

/** The read path: a seeded rotation of eight query shapes over tables
  * built in set-up, with no writes in the loop.
  *
  * `lineitem` (partitioned by ship year) is built by [[Appends]] appends
  * of contiguous key ranges, one deletion-vector delete and a checkpoint:
  * a few dozen files, far below the engine's distributed-snapshot
  * threshold (100,000 checkpoint entries), so its snapshot is
  * driver-cached. `events_wide` carries a checkpoint of [[SyntheticFiles]]
  * fabricated file entries plus real events in the partitions queries
  * touch, so its snapshot goes through the distributed path. Every query's
  * expected result is computed once, by plain Spark over the raw Parquet
  * the tables were loaded from. Work items are queries. */
final class ScanMix(spark: SparkSession, cfg: Main.Config) extends Main.Workload {
  import ScanMix._

  val cycle: Int = Rotation.size
  // a multiple of 4 * Appends, so no order's line items straddle two appends
  private val nLines = math.max(1200L, (60000 * cfg.scale).toLong / (4 * Appends) * (4 * Appends))
  private val nOrders = nLines / 4
  private val chunk = nLines / Appends
  private val eventsPerPart = math.max(100L, (5000 * cfg.scale).toLong)

  private var ns = ""
  private var queries: Map[String, IndexedSeq[Query]] = Map.empty
  private var rng: scala.util.Random = _
  private var order: Seq[String] = Nil
  private var rowsOut = 0L

  private def wh = graft.plans.GraftSql.warehousePath(spark).get
  private def raw(name: String) = cfg.work.resolve(s"raw/$name").toString

  def setup(nsName: String): Unit = {
    ns = nsName
    rng = new scala.util.Random(cfg.seed)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val seed = cfg.seed

    val eventParts: IndexedSeq[Int] = 0 until 4
    // The raw inputs are the same for every set-up of one run: the first
    // writes them, the later ones reuse them.
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(raw("")))) {
      Gen.lineitem(spark, seed, 0, nLines).write.parquet(raw("lineitem"))
      Gen.orders(spark, seed, nOrders).write.parquet(raw("orders"))
      eventParts.map(k => Gen.events(spark, seed, k, eventsPerPart, eventsPerPart / 20))
        .reduce(_ union _).write.parquet(raw("events"))
    }
    val li = DeltaTable.forPath(spark, s"$wh/$ns/lineitem")
    (0 until Appends).foreach { c =>
      li.write(Gen.lineitem(spark, seed, c * chunk, (c + 1) * chunk), partitionBy = Seq("l_shipyear"))
    }
    // Parameters come from the full years (1992 and 1998 are partial), so
    // one seed's queries cost about as much as another's.
    val fullYears = Gen.Years.slice(1, Gen.Years.size - 1)
    def year() = fullYears(rng.nextInt(fullYears.size))
    val dvYear = year()
    val dvCond = col("l_shipyear") === dvYear && col("l_quantity") > 40
    li.deleteWithDV(dvCond)
    li.checkpoint()

    DeltaTable.forPath(spark, s"$wh/$ns/orders").write(spark.read.parquet(raw("orders")))

    val ev = DeltaTable.forPath(spark, s"$wh/$ns/events_wide")
    ev.write(spark.read.parquet(raw("events")), partitionBy = Seq("k"))
    syntheticCheckpoint(ev)

    // Reference views: the raw Parquet, minus the rows the DV delete masks.
    spark.read.parquet(raw("lineitem")).filter(not(dvCond)).createOrReplaceTempView("ref_li")
    spark.read.parquet(raw("orders")).createOrReplaceTempView("ref_orders")
    spark.read.parquet(raw("events")).createOrReplaceTempView("ref_events")
    val engine = Tables(s"graft.$ns.lineitem", s"graft.$ns.orders", s"graft.$ns.events_wide")
    val ref = Tables("ref_li", "ref_orders", "ref_events")

    val m = year()
    val lo = 1L + rng.nextInt(math.max(1, (nOrders - nOrders / 8).toInt))
    val (m1, m2) = { val a = year(); val b = year(); if (a <= b) (a, b) else (b, a) }
    val asOfVersion = 1 + rng.nextInt(Appends - 1)
    val maxKey = (asOfVersion + 1) * chunk / 4
    val minQty = 30 + rng.nextInt(15)
    val all = Seq(
      sqlQuery("selective", engine, ref, t =>
        s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM ${t.li}
           |WHERE l_shipyear = $m AND l_orderkey BETWEEN $lo AND ${lo + nOrders / 8}""".stripMargin),
      Query("wide_v1", () => exec(plan(spark.read.format("graft-delta")
        .load(s"$wh/$ns/lineitem").where(col("l_shipyear") === m && col("l_linenumber") === 1 && col("l_shipmode") === "AIR"))),
        refHash(s"SELECT * FROM ${ref.li} WHERE l_shipyear = $m AND l_linenumber = 1 AND l_shipmode = 'AIR'")),
      sqlQuery("claimed_agg", engine, ref, t =>
        s"""SELECT count(*), min(l_shipyear), max(l_shipyear) FROM ${t.li}
           |WHERE l_shipyear BETWEEN $m1 AND $m2""".stripMargin),
      sqlQuery("join_topn", engine, ref, t =>
        s"""SELECT o.o_orderkey, o.o_orderdate, sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
           |FROM ${t.li} l JOIN ${t.orders} o ON l.l_orderkey = o.o_orderkey
           |WHERE l.l_shipyear = $m AND o.o_orderpriority = '1-URGENT'
           |GROUP BY o.o_orderkey, o.o_orderdate
           |ORDER BY rev DESC, o.o_orderkey LIMIT 10""".stripMargin),
      Query("as_of", () => {
        val df = Trace.span("delta.prune")(li.asOf(asOfVersion))
        exec(plan(df.where(col("l_shipyear") === m)
          .agg(count(lit(1)), sum("l_quantity"), max("l_orderkey"))))
      }, refHash(s"""SELECT count(*), sum(l_quantity), max(l_orderkey) FROM parquet.`${raw("lineitem")}`
           |WHERE l_shipyear = $m AND l_orderkey <= $maxKey""".stripMargin)),
      Query("mongo_pipeline", () => {
        val df = Trace.span("delta.prune")(li.query(
          s"""{"l_shipyear": $m, "l_quantity": {"$$gte": $minQty}}"""))
        val piped = Trace.span("query.build")(Pipeline.run(df,
          """[{"$group": {"_id": "$l_returnflag", "n": {"$sum": 1}, "q": {"$sum": "$l_quantity"}}}]"""))
        exec(plan(piped))
      }, refHash(s"""SELECT l_returnflag, count(*), sum(l_quantity) FROM ${ref.li}
           |WHERE l_shipyear = $m AND l_quantity >= $minQty GROUP BY l_returnflag""".stripMargin)),
      sqlQuery("dv_read", engine, ref, t =>
        s"""SELECT count(*), sum(l_quantity), max(l_orderkey), min(l_extendedprice) FROM ${t.li}
           |WHERE l_shipyear = $dvYear""".stripMargin),
    ) ++ rng.shuffle(eventParts).take(3).map(k =>
      sqlQuery("events_wide", engine, ref, t =>
        s"""SELECT kind, count(*), count(DISTINCT user_id), sum(value) FROM ${t.events}
           |WHERE k = $k AND value > 100 GROUP BY kind""".stripMargin))
    queries = all.groupBy(_.shape).view.mapValues(_.toIndexedSeq).toMap
    order = Nil
  }

  def warmUp(): Unit = queries.values.map(_.head).foreach { q =>
    require(Gen.hashRows(q.run()) == q.expected, s"warm-up ${q.shape} result differs from the reference")
  }

  private def sqlQuery(shape: String, engine: Tables, ref: Tables, text: Tables => String): Query =
    Query(shape, () => exec(plan(spark.sql(text(engine)))), refHash(text(ref)))

  // Every set-up of one run builds the same data, so the references are
  // computed by the first and reused.
  private val refs = mutable.Map.empty[String, (Long, Long)]

  private def refHash(sql: String): (Long, Long) =
    refs.getOrElseUpdate(sql, Gen.hashRows(spark.sql(sql).collect().toSeq))

  private def plan(df: => DataFrame): DataFrame = Trace.span("plans.plan") {
    val d = df
    d.queryExecution.executedPlan
    d
  }

  private def exec(df: DataFrame): Seq[Row] = Trace.span("sources.exec")(df.collect().toSeq)

  /** Replace `ev`'s checkpoint with one that also lists [[SyntheticFiles]]
    * fabricated entries in partitions no query reads (rendered on
    * executors, as the engine's own driver soak does). */
  private def syntheticCheckpoint(ev: DeltaTable): Unit = {
    val snap = ev.snapshot()
    val log = ev.log
    def render(a: Action) = JsonMethods.compact(JsonMethods.render(a.wrap.obj.head._2))
    import spark.implicits._
    val real = (Seq(render(snap.metadata.get) -> "metaData", render(snap.protocol.get) -> "protocol") ++
      snap.activeFiles.map(a => render(a) -> "add")).toDF("json", "kind").select(
      when(col("kind") === "add", col("json")).as("add"),
      lit(null).cast("string").as("remove"),
      when(col("kind") === "metaData", col("json")).as("metaData"),
      when(col("kind") === "protocol", col("json")).as("protocol"),
      lit(null).cast("string").as("txn"))
    val synth = spark.range(SyntheticFiles).select(
      format_string(
        """{"path":"k=%d/part-%d-synthetic.parquet","partitionValues":{"k":"%d"},""" +
          """"size":1048576,"modificationTime":1,"dataChange":true,""" +
          """"stats":"{\"numRecords\":10}"}""",
        col("id") % 50 + 100, col("id"), col("id") % 50 + 100).as("add"),
      lit(null).cast("string").as("remove"), lit(null).cast("string").as("metaData"),
      lit(null).cast("string").as("protocol"), lit(null).cast("string").as("txn"))
    val tmp = new Path(log.logPath, ".synthetic-tmp")
    synth.union(real).repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = log.fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    val target = log.checkpointFile(snap.version)
    log.fs.delete(target, false)
    log.fs.rename(part, target)
    log.fs.delete(tmp, true)
    log.writeLastCheckpoint(snap.version, SyntheticFiles + snap.activeFiles.size + 2, None)
  }

  def op(i: Int, traced: Boolean): Main.Op = {
    if (order.isEmpty) order = rng.shuffle(Rotation)
    val shape = order.head
    order = order.tail
    val qs = queries(shape)
    val q = qs(rng.nextInt(qs.size))
    val rows = q.run()
    if (traced) rowsOut += rows.size
    Main.Op(shape, 1, () => Gen.hashRows(rows) == q.expected)
  }

  def finalCheck(): Boolean = true

  def counters(tracedOps: Int): Map[String, Double] = Map("sources.rows_matched" -> rowsOut.toDouble)
}

object ScanMix {
  /** One query: its shape, the engine call (which opens its own spans)
    * and the expected result hash. */
  final case class Query(shape: String, run: () => Seq[Row], expected: (Long, Long))

  /** Table names a query text is instantiated with: the engine's catalog
    * tables or the plain-Spark reference views. */
  final case class Tables(li: String, orders: String, events: String)

  val Appends = 4
  val SyntheticFiles = 100000L
  val Shapes: Seq[String] = Seq("selective", "wide_v1", "claimed_agg", "join_topn", "as_of",
    "mongo_pipeline", "dv_read", "events_wide")
  /** One cycle of ops. Op latencies fall into three groups: five shapes
    * near 0.2 s, `join_topn` and `as_of` near 0.5 s, and `events_wide`
    * (the distributed snapshot) near 1 s. Weighting them 5:5:3 puts
    * `op_p50_ms` inside the middle group and `op_p90_ms` inside the slow
    * one, each with a margin of more than one op, instead of on a gap
    * between groups where it would jump from run to run. */
  val Rotation: Seq[String] =
    Shapes ++ Seq("join_topn", "join_topn", "as_of", "events_wide", "events_wide")
}
