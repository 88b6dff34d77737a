package graft.sources

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.plans.GraftSql

/**
 * Property check: for ANY row set, null pattern, and partitioning choice,
 * the two routes into the one task writer — a catalog `INSERT INTO`
 * (Spark's DSv2 write execs) and `DeltaTable.write` (the table API's own
 * job) — both read back exactly what plain Spark holds: same rows, same
 * partition-pruned counts. Cases come from a fixed-seed RNG
 * (reproducible), with Hive-escaping-hostile partition values (spaces,
 * '=', empty string) always in the pool.
 */
case class DwRec(id: Long, s: Option[String], v: Option[Double], p: String)

class DirectWritePropertySpec extends SparkTestBase {

  private lazy val cat: String = GraftSql.ensure(spark)
  private def sql(q: String) = spark.sql(q)

  test("property: both write routes match a plain-Spark oracle") {
    sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dwprop")
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val strings = Vector("x", "y", "", "He said \"hi\"", "a/b=c d")
    val doubles = Vector(0.0, -1.5, 2.25, Double.MaxValue)
    val parts = Vector("p1", "p 2", "p=3", "")
    for (caseNo <- 1 to 12) {
      val partitioned = rnd.nextBoolean()
      val rows = Seq.fill(20 + rnd.nextInt(40))(DwRec(
        rnd.nextInt(1000).toLong,
        if (rnd.nextBoolean()) Some(strings(rnd.nextInt(strings.size))) else None,
        if (rnd.nextBoolean()) Some(doubles(rnd.nextInt(doubles.size))) else None,
        parts(rnd.nextInt(parts.size))))
      val dt = s"$cat.dwprop.d$caseNo"
      val st = s"$cat.dwprop.s$caseNo"
      val part = if (partitioned) " PARTITIONED BY (p)" else ""
      val ddl = "(id BIGINT, s STRING, v DOUBLE, p STRING)"
      sql(s"CREATE TABLE $dt $ddl$part")
      sql(s"CREATE TABLE $st $ddl$part")
      rows.toDF().createOrReplaceTempView("dw_src")
      sql(s"INSERT INTO $dt SELECT id, s, v, p FROM dw_src")
      DeltaTable.forPath(spark, GraftSql.warehousePath(spark).get + s"/dwprop/s$caseNo")
        .write(rows.toDF())
      // plain Spark over the same rows; a partition directory stores an
      // empty string as the Hive null marker, so it reads back NULL
      sql("SELECT id, s, v, " +
        (if (partitioned) "CASE WHEN p = '' THEN NULL ELSE p END" else "p") +
        " AS p FROM dw_src").createOrReplaceTempView("dw_oracle")

      def canon(t: String): Seq[Seq[Any]] =
        sql(s"SELECT id, s, v, p FROM $t ORDER BY id, s, v, p")
          .collect().toSeq.map(_.toSeq.map {
            case d: Double => d.toString
            case x => x
          })
      val oracle = canon("dw_oracle")
      assert(canon(dt) == oracle,
        s"case $caseNo (partitioned=$partitioned): catalog INSERT != oracle")
      assert(canon(st) == oracle,
        s"case $caseNo (partitioned=$partitioned): DeltaTable.write != oracle")
      if (partitioned) {
        for (pv <- parts) {
          val q = s"WHERE p = '${pv.replace("'", "''")}'"
          val expected = sql(s"SELECT count(*) FROM dw_oracle $q").head().getLong(0)
          for (t <- Seq(dt, st)) assert(
            sql(s"SELECT count(*) FROM $t $q").head().getLong(0) == expected,
            s"case $caseNo: $t pruned count differs for partition value '$pv'")
        }
      }
    }
  }
}
