package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the benchmark's inputs (TPC-H-shaped orders and
  * lineitem, an events table, a text corpus) and the order-independent
  * result hash the output checks compare. The same seed gives the same
  * rows; every value derives from `xxhash64(seed, id, salt)`. */
object Gen {
  def h(seed: Long, id: Column, salt: Int): Column = xxhash64(lit(seed), id, lit(salt))

  /** Uniform integer in [0, n) for row `id`. */
  def pick(seed: Long, id: Column, salt: Int, n: Long): Column = pmod(h(seed, id, salt), lit(n))

  private def oneOf(seed: Long, id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, id, salt, xs.size.toLong) + 1).cast("int"))

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val FirstDate = "1992-01-01"
  val DateSpan = 2405L // through 1998-08-02, as in TPC-H
  val Years: IndexedSeq[Int] = 1992 to 1998

  /** `n` orders, keys 1..n, partition column `o_year`. */
  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      (id + 1).as("o_orderkey"),
      (pick(seed, id, 1, math.max(1L, n / 10)) + 1).as("o_custkey"),
      oneOf(seed, id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      ((pick(seed, id, 3, 50000000L) + 100) / 100).cast("decimal(12,2)").as("o_totalprice"),
      date_add(lit(FirstDate).cast("date"), pick(seed, id, 4, DateSpan).cast("int")).as("o_orderdate"),
      oneOf(seed, id, 5, Priorities).as("o_orderpriority"),
      concat(lit("order "), pick(seed, id, 6, 100000L).cast("string")).as("o_comment"))
      .withColumn("o_year", year(col("o_orderdate")))
  }

  /** About four line items per order over `nOrders` orders; line items of
    * consecutive ids share an order, so `l_orderkey` ranges stay narrow
    * within one contiguous id chunk. Partition column `l_shipyear`. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    val id = col("id")
    spark.range(from, until).select(
      (floor(id / 4) + 1).as("l_orderkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (pick(seed, id, 11, 20000L) + 1).as("l_partkey"),
      (pick(seed, id, 12, 1000L) + 1).as("l_suppkey"),
      (pick(seed, id, 13, 50L) + 1).cast("decimal(12,2)").as("l_quantity"),
      ((pick(seed, id, 14, 10000000L) + 90000) / 100).cast("decimal(12,2)").as("l_extendedprice"),
      (pick(seed, id, 15, 11L) / 100).cast("decimal(12,2)").as("l_discount"),
      oneOf(seed, id, 16, Seq("A", "N", "R")).as("l_returnflag"),
      date_add(lit(FirstDate).cast("date"), (pick(seed, id, 17, DateSpan) + 1).cast("int"))
        .as("l_shipdate"),
      oneOf(seed, id, 18, Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")).as("l_shipmode"),
      concat(lit("item "), pick(seed, id, 19, 100000L).cast("string")).as("l_comment"))
      .withColumn("l_shipyear", year(col("l_shipdate")))
  }

  /** Events of `users` users in partition `k`. */
  def events(spark: SparkSession, seed: Long, k: Int, n: Long, users: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      (id + k * 1000000L).as("event_id"),
      (pick(seed, id + k * 1000000L, 21, users) + 1).as("user_id"),
      oneOf(seed, id + k * 1000000L, 22, Seq("view", "click", "cart", "buy")).as("kind"),
      (pick(seed, id + k * 1000000L, 23, 100000L) / 100).cast("decimal(12,2)").as("value"),
      lit(k).as("k"))
  }

  /** Text of corpus seed `s`: 60-99 tokens from a 5000-word vocabulary. */
  def text(seed: Long, s: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), (pmod(h(seed, s, 31), lit(40L)) + 59).cast("int")),
      i => concat(lit("w"), pmod(xxhash64(lit(seed), s, i), lit(5000L)))))

  /** Order-independent hash of collected rows: (row count, sum of row
    * hashes). Numbers compare by value at four decimals, so an engine that
    * returns `decimal(22,2)` and a reference that returns `decimal(32,2)`
    * for the same sum agree. */
  def hashRows(rows: Seq[Row]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.map(canon).mkString("\u0001")).toLong).sum)

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: java.math.BigDecimal => d.setScale(4, java.math.RoundingMode.HALF_UP).toPlainString
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case n: java.lang.Number => canon(new java.math.BigDecimal(n.toString))
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case other => other.toString
  }

  /** Bytes of every regular file under `dir` (data, deletion vectors,
    * logs, checkpoints and checksum sidecars alike). */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
