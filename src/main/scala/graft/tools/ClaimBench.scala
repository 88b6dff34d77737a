package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * A/B demonstrator for the claimed-partition-filter aggregate path
 * (round 14): builds an `event_type`-partitioned table from a testdata
 * `events.parquet` (optionally replicated `rep`× to scale the row count),
 * then times two shapes — global `COUNT/MIN/MAX ... WHERE event_type =
 * 'click'` and `SELECT event_type, COUNT/MIN/MAX ... GROUP BY event_type`
 * — each twice: metadata-answered (the partition predicate is CLAIMED, the
 * aggregate folds log stats) vs forced-scan (an always-true residual on a
 * data column blocks the metadata path). The metadata time is O(files)
 * and stays flat as rows grow; the scan is O(rows). One
 * `CLAIMBENCH ... shape=global|grouped` line per shape.
 *
 * Usage: `runMain graft.tools.ClaimBench <sfDir> [replication] [threshold]`
 * Measured (sf1 events, local[32]): 1M rows 0.113s vs 0.235s (2.1×),
 * 10M 0.118s vs 0.330s (2.8×), 30M 0.152s vs 0.497s (3.3×).
 *
 * File-count axis (round 15): the optional `threshold` argument sets
 * `spark.graft.distributedSnapshotThreshold` before the table is built,
 * and the table is checkpointed — with threshold=1 the SAME queries run
 * through the DISTRIBUTED claim (executor-side claimability, exact
 * per-file re-eval, no driver path set), the regime a 10⁶⁺-file table
 * would be in. Comparing the two runs isolates the distributed-claim
 * planning overhead from the metadata-vs-scan gap itself.
 */
object ClaimBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val threshold: Option[Long] =
      if (args.length > 2) Some(args(2).toLong) else None
    threshold.foreach(th =>
      spark.conf.set("spark.graft.distributedSnapshotThreshold", th.toString))
    val cat = graft.plans.GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.cb")
    val t = s"$cat.cb.ev"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"""CREATE TABLE $t (event_id BIGINT, user_id BIGINT,
                 |  value DOUBLE, event_type STRING)
                 |PARTITIONED BY (event_type)""".stripMargin)
    val rep = if (args.length > 1) args(1).toInt else 1
    val src0 = spark.read.parquet(args(0) + "/events.parquet")
    val src = (1 to rep).map(i => src0.selectExpr(
      s"event_id + ${i.toLong * 10000000}L AS event_id",
      "user_id", "value", "event_type"))
      .reduce(_ unionAll _)
    src.write.insertInto(t)
    // under a forced threshold the distributed reconstruction needs a
    // checkpoint base — same shape a genuinely large table would have
    threshold.foreach { _ =>
      val wh = graft.plans.GraftSql.warehousePath(spark).get
      graft.delta.DeltaTable.forPath(spark, s"$wh/cb/ev").checkpoint()
    }
    def time(q: String, n: Int): Double = {
      spark.sql(q).collect() // warm
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); spark.sql(q).collect()
        (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(n / 2)
    }
    val mode = threshold.fold("driver")(th => s"distributed(th=$th)")
    val aggs = "count(*), min(event_id), max(event_id)"
    // always true, but a data-column residual: the rows must be scanned
    val forceScan = "value >= -1e18"
    Seq[(String, Option[String] => String)](
      "global" -> (w => s"SELECT $aggs FROM $t WHERE event_type = 'click'" +
        w.fold("")(" AND " + _)),
      "grouped" -> (w => s"SELECT event_type, $aggs FROM $t" +
        w.fold("")(" WHERE " + _) + " GROUP BY event_type")
    ).foreach { case (shape, q) =>
      val meta = time(q(None), 5)
      val scan = time(q(Some(forceScan)), 5)
      println(f"CLAIMBENCH rep=$rep mode=$mode shape=$shape " +
        f"meta=$meta%.4fs scan=$scan%.4fs speedup=${scan / meta}%.1fx")
    }
    spark.stop()
  }
}
