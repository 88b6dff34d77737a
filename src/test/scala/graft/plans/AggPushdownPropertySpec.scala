package graft.plans

import java.nio.file.Paths

import graft.SparkTestBase
import graft.delta.StatsAggregates

/** Spark's own aggregate is the reference for the metadata fold: over small
  * seeded tables (random partition values including NULL and non-ASCII,
  * random nulls, a merge-on-read DELETE leaving deletion vectors), every
  * aggregate the fold answers must equal the same query forced through a
  * scan by an always-true data-column residual. Checked on the driver route
  * and, with the snapshot threshold at 1, on the distributed route. */
class AggPushdownPropertySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cat: String = GraftSql.ensure(spark)

  private val ps = Seq(null, "a", "café", "ｶ", "𝄞")
  private val qs = Seq(null, -1, 0, 7)

  /** Shapes over `t`; each takes an optional residual that forces a scan. */
  private def shapes(t: String): Seq[Option[String] => String] = {
    def where(w: Option[String]) = w.fold("")(" WHERE " + _)
    Seq(
      w => s"SELECT COUNT(*), COUNT(v), MIN(v), MAX(v), MIN(s), MAX(s) FROM $t${where(w)}",
      w => s"SELECT COUNT(p), MIN(p), MAX(p), COUNT(q), MIN(q), MAX(q), COUNT(*) FROM $t${where(w)}",
      w => s"SELECT p, COUNT(*), MIN(q), MAX(q), COUNT(q) FROM $t${where(w)} GROUP BY p",
      w => s"SELECT p, q, COUNT(*), MIN(v), MAX(s) FROM $t${where(w)} GROUP BY p, q",
      w => s"SELECT DISTINCT q FROM $t${where(w)}")
  }

  private def rows(q: String): Seq[String] =
    spark.sql(q).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Builds one seeded table through SQL; returns its name and directory. */
  private def table(seed: Int): (String, String) = {
    val rnd = new scala.util.Random(seed)
    val t = s"$cat.aggprop.t${seed}_${System.nanoTime()}"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.aggprop")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v INT, s STRING, p STRING, q INT) " +
      "PARTITIONED BY (p, q)")
    val wh = GraftSql.warehousePath(spark).get
    val dir = Paths.get((wh +: t.split('.').drop(1).toSeq).mkString("/"))
    def orNull[A](a: => A): Option[A] = if (rnd.nextInt(5) == 0) None else Some(a)
    val data = (0 until 60 + rnd.nextInt(60)).map { i =>
      (i.toLong, orNull(rnd.nextInt(1000) - 500), orNull(ps(1 + rnd.nextInt(4)) + rnd.nextInt(9)),
        Option(ps(rnd.nextInt(ps.size))), Option(qs(rnd.nextInt(qs.size))).map(_.asInstanceOf[Int]))
    }
    data.toDF("id", "v", "s", "p", "q").repartition(3).createOrReplaceTempView("aggprop_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM aggprop_src")
    (t, dir.toString)
  }

  /** Deletes a seeded share of rows, and every row of one partition,
    * through deletion vectors. */
  private def morDelete(t: String, seed: Int): Unit = {
    spark.conf.set("spark.graft.sql.dml.mor", "true")
    try spark.sql(s"DELETE FROM $t WHERE id % 5 = ${seed % 5} OR " +
      s"(p <=> '${ps(1 + seed % 4)}' AND id >= 0)")
    finally spark.conf.unset("spark.graft.sql.dml.mor")
  }

  /** Every shape on `t`: the answer equals the forced scan's; returns how
    * many shapes the fold answered. */
  private def check(t: String, label: String): Long =
    shapes(t).map { q =>
      val before = StatsAggregates.answered.get()
      val got = rows(q(None))
      val hit = StatsAggregates.answered.get() - before
      val want = rows(q(Some("id >= 0")))
      assert(got == want, s"$label: ${q(None)}\nmetadata=$got\nscan=$want")
      hit
    }.sum

  test("metadata answers equal the forced scan on the driver and distributed routes") {
    var answeredDriver = 0L
    var answeredDistributed = 0L
    (1 to 4).foreach { seed =>
      val (t, dir) = table(seed)
      answeredDriver += check(t, s"seed $seed driver")
      morDelete(t, seed)
      answeredDriver += check(t, s"seed $seed driver after DELETE")
      spark.conf.set("spark.graft.distributedSnapshotThreshold", "1")
      try {
        graft.delta.DeltaTable.forPath(spark, dir).checkpoint()
        val folds = StatsAggregates.distributedFolds.get()
        answeredDistributed += check(t, s"seed $seed distributed")
        assert(StatsAggregates.distributedFolds.get() > folds)
      } finally spark.conf.unset("spark.graft.distributedSnapshotThreshold")
    }
    // the comparison means something only if the fold answered
    assert(answeredDriver >= 20 && answeredDistributed >= 10,
      s"driver $answeredDriver, distributed $answeredDistributed answered")
  }
}
