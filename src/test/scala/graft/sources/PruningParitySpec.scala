package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.catalyst.plans.{logical => lp}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.delta.{DataSkipping, DeltaTable}
import graft.plans.GraftSql

/**
 * Pruning power, pinned per shape. Soundness properties hold even when
 * nothing is pruned, so this spec asserts how many files each predicate
 * shape KEEPS, over a six-file table with tight per-file stats, through
 * every route a predicate takes into file skipping: the SQL scan (pushed
 * filters, claims), `DeltaTable.query` (a Mongo filter document) and a
 * DML / replaceWhere condition (an analyzed Catalyst expression). Each
 * route runs on the driver snapshot and on the distributed one
 * (threshold 1). `jsonPruner` records the counts of the Mongo-JSON
 * pruner this skipping predicate replaced; no shape may keep more files
 * than it did.
 *
 * Files (one per append; `p, f, g` are partition columns):
 * {{{
 *  file  p     f    g    id      s        ts (day, hours 0-9)  d     c
 *  0     a     0.1  0.1  0-9     ax0-ax9  01-01                01-01 0
 *  1     a     0.1  0.1  10-19   bx0-bx9  01-02                01-02 1
 *  2     b     0.5  0.7  20-29   cx0-cx9  01-03                01-03 2
 *  3     b     0.5  0.7  30-39   dx0-dx9  01-04                01-04 0
 *  4     c     0.5  0.7  40-49   ex0-ex9  01-05                01-05 1
 *  5     null  0.5  0.7  50-59   fx0-fx9  01-06                01-06 null
 * }}}
 * The log is then edited the way foreign or older writers render values:
 * file 0's `g` path value is the non-shortest "0.10000000000000001", and
 * three timestamp stats use the legacy `…T09:00` (file 0's max), a `Z`
 * suffix (file 1's max) and a space separator (file 2's min), each on a
 * bound that decides a shape below.
 */
class PruningParitySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cat: String = GraftSql.ensure(spark)

  /** One shape: SQL WHERE text (scan and DML routes), an optional Mongo
    * document, the kept-file counts per route (sql, query, dml; -1 = the
    * route cannot express the shape) and the JSON pruner's counts. */
  private final case class Shape(name: String, where: String, mongo: Option[String],
                                 kept: (Int, Int, Int), jsonPruner: (Int, Int, Int),
                                 dml: Option[Expression => Column] = None)

  /** `id IN (…)` above the optimizer's IN threshold, as the InSet it
    * becomes. */
  private def inSet(cond: Expression): Column = Shims.column(cond.transform {
    case in: org.apache.spark.sql.catalyst.expressions.In if in.list.forall(_.foldable) =>
      InSet(in.value, in.list.map(_.eval()).toSet)
  })

  private val bigIn = ((100 until 120) :+ 12).mkString(", ")

  private val shapes = Seq(
    Shape("=", "id = 15", Some("""{"id": 15}"""), (1, 1, 1), (1, 1, 1)),
    Shape("flipped literal 5 < id", "5 < id", Some("""{"id": {"$gt": 5}}"""), (6, 6, 6), (6, 6, 6)),
    Shape("range", "id > 25 AND id < 35", Some("""{"id": {"$gt": 25, "$lt": 35}}"""),
      (2, 2, 2), (2, 2, 2)),
    Shape("IN", "id IN (3, 45)", Some("""{"id": {"$in": [3, 45]}}"""), (2, 2, 2), (2, 2, 2)),
    Shape("InSet above the IN threshold", s"id IN ($bigIn)",
      Some(s"""{"id": {"$$in": [$bigIn]}}"""), (1, 1, 1), (1, 1, 1), Some(inSet)),
    Shape("<=> NULL", "c <=> NULL", Some("""{"c": null}"""), (1, 1, 1), (1, 6, 6)),
    Shape("IS NOT NULL", "c IS NOT NULL", Some("""{"c": {"$ne": null}}"""), (5, 5, 5), (5, 5, 5)),
    Shape("int to long widening", "id = CAST(15 AS BIGINT)", None, (1, -1, 1), (1, -1, 6)),
    Shape("date range", "d >= DATE'2024-01-03' AND d < DATE'2024-01-05'",
      Some("""{"d": {"$gte": "2024-01-03", "$lt": "2024-01-05"}}"""), (2, 2, 2), (2, 2, 2)),
    Shape("timestamp range", "ts >= TIMESTAMP'2024-01-02 05:00:00' AND ts <= TIMESTAMP'2024-01-02 08:00:00'",
      Some("""{"ts": {"$gte": "2024-01-02T05:00:00", "$lte": "2024-01-02T08:00:00"}}"""),
      (1, 1, 1), (1, 1, 1)),
    Shape("legacy T09:00 timestamp stat", "ts > TIMESTAMP'2024-01-01 09:00:00'",
      Some("""{"ts": {"$gt": "2024-01-01T09:00:00"}}"""), (5, 5, 5), (5, 5, 5)),
    Shape("Z-suffixed timestamp stat", "ts > TIMESTAMP'2024-01-02 09:00:00'",
      Some("""{"ts": {"$gt": "2024-01-02T09:00:00"}}"""), (4, 4, 4), (4, 4, 4)),
    Shape("space-separated timestamp stat", "ts < TIMESTAMP'2024-01-03 00:00:00'",
      Some("""{"ts": {"$lt": "2024-01-03T00:00:00"}}"""), (2, 2, 2), (2, 2, 2)),
    Shape("float 0.1 partition", "f = CAST(0.1 AS FLOAT)", None, (2, -1, 2), (2, -1, 6)),
    Shape("non-shortest double path", "g = 0.1", Some("""{"g": 0.1}"""), (2, 2, 2), (2, 2, 6)),
    Shape("$ne on a constant column", "NOT (c <=> 1)", Some("""{"c": {"$ne": 1}}"""),
      (4, 4, 4), (6, 4, 6)),
    Shape("$nin on a constant column", "c NOT IN (0, 2)", Some("""{"c": {"$nin": [0, 2]}}"""),
      (3, 3, 3), (6, 3, 6)),
    Shape("$regex with $options", "s RLIKE '(?i)^b'",
      Some("""{"s": {"$regex": "^b", "$options": "i"}}"""), (6, 6, 6), (6, 6, 6)),
    Shape("anchored RLIKE", "s RLIKE '^bx'", Some("""{"s": {"$regex": "^bx"}}"""), (6, 1, 1), (6, 1, 1)),
    Shape("LIKE prefix", "s LIKE 'c%'", None, (1, -1, 1), (1, -1, 1)),
    Shape("startsWith", "startswith(s, 'dx')", None, (1, -1, 1), (1, -1, 1)),
    Shape("partition OR stats", "p = 'a' OR id > 45",
      Some("""{"$or": [{"p": "a"}, {"id": {"$gt": 45}}]}"""), (4, 4, 4), (4, 4, 4)),
    Shape("NOT partition =", "NOT (p = 'b')", Some("""{"p": {"$ne": "b"}}"""), (3, 4, 3), (3, 4, 6)),
    Shape("partition IS NULL", "p IS NULL", Some("""{"p": null}"""), (1, 1, 1), (1, 1, 1)),
    Shape("AND drops an untranslatable conjunct", "id > 1 AND s = 'cx5' AND contains(s, 'q')",
      Some("""{"id": {"$gt": 1}, "s": "cx5"}"""), (1, 1, 1), (1, 1, 1)),
    Shape("NOT / UDF shapes keep", "NOT (id = 1)", Some("""{"$not": {"id": 1}}"""), (6, 6, 6), (6, 6, 6)),
    Shape("OR with an untranslatable branch keeps", "contains(s, 'q') OR id = 25", None,
      (6, -1, 6), (6, -1, 6)),
    Shape("IN with a column element keeps", "id IN (1, c)", None, (6, -1, 6), (6, -1, 6)),
    Shape("string cast keeps", "CAST(s AS INT) = 5", None, (6, -1, 6), (6, -1, 6)),
    Shape("decimal cast keeps", "CAST(id AS DECIMAL(10, 2)) = 1.50", None, (6, -1, 6), (6, -1, 6)))

  private lazy val (table, dir) = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.parity")
    val dir = Paths.get(graft.plans.GraftSql.warehousePath(spark).get, "parity", "t").toString
    val t = DeltaTable.forPath(spark, dir)
    val ps = Seq("a", "a", "b", "b", "c", null)
    (0 until 6).foreach { i =>
      val rows = (0 until 10).map { j =>
        (i * 10 + j, s"${('a' + i).toChar}x$j",
          java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 0$j:00:00"),
          java.sql.Date.valueOf(s"2024-01-0${i + 1}"),
          if (i == 5) None else Some(i % 3),
          ps(i), if (i < 2) 0.1f else 0.5f, if (i < 2) 0.1 else 0.7)
      }
      t.write(rows.toDF("id", "s", "ts", "d", "c", "p", "f", "g").repartition(1),
        partitionBy = Seq("p", "f", "g"))
    }
    def edit(version: Int, from: String, to: String): Unit = {
      val commit = Paths.get(dir, "_delta_log", f"$version%020d.json")
      val text = new String(Files.readAllBytes(commit), UTF_8)
      assert(text.contains(from), s"$from not in commit $version")
      Files.write(commit, text.replace(from, to).getBytes(UTF_8))
    }
    edit(0, "\"g\":\"0.1\"", "\"g\":\"0.10000000000000001\"")
    edit(0, "2024-01-01T09:00:00.000000", "2024-01-01T09:00")
    edit(1, "2024-01-02T09:00:00.000000", "2024-01-02T09:00:00Z")
    edit(2, "2024-01-03T00:00:00.000000", "2024-01-03 00:00:00.000000")
    DeltaTable.forPath(spark, dir).checkpoint()
    (s"$cat.parity.t", dir)
  }

  private def sqlKept(where: String): Int =
    planKept(spark.sql(s"SELECT * FROM $table WHERE $where"))

  /** Distinct files the planned table scans of `df` read. */
  private def planKept(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.scan }
      .collect { case g: GraftBatchScan => g }
      .flatMap(_.planInputPartitions().toSeq)
      .flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
        case dv: GraftDvPartition => dv.inner.files.map(_.filePath.toString).toSeq
      }.distinct.size

  private def condition(where: String, optimized: Boolean): Expression = {
    val qe = spark.read.format("graft-delta").load(dir).where(where).queryExecution
    (if (optimized) qe.optimizedPlan else qe.analyzed).collectFirst {
      case lp.Filter(cond, _) => cond
    }.get
  }

  private def counts(s: Shape, t: DeltaTable): (Int, Int, Int) = {
    val dml = s.dml match {
      case Some(f) => f(condition(s.where, optimized = true))
      case None => Shims.column(condition(s.where, optimized = false))
    }
    (sqlKept(s.where),
      s.mongo.fold(-1)(m => planKept(t.query(m))),
      t.scanState(None, dml).activeFiles.size)
  }

  private def check(distributed: Boolean): Unit = {
    table
    val t = DeltaTable.forPath(spark, dir)
    if (distributed) t.distributedSnapshotThreshold = 1
    val got = shapes.map(s => s -> counts(s, t))
    val report = got.map { case (s, c) =>
      f"${s.name}%-40s kept=$c jsonPruner=${s.jsonPruner}" }.mkString("\n")
    info(report)
    got.foreach { case (s, c) =>
      assert(c == s.kept, s"${s.name}: kept $c, expected ${s.kept}\n$report")
      assert(c.productIterator.zip(s.jsonPruner.productIterator).forall {
        case (now: Int, before: Int) => now <= before
        case _ => false
      }, s"${s.name}: keeps more files than the JSON pruner (${s.jsonPruner})")
    }
  }

  test("every shape keeps the pinned file count on every route (driver snapshot)") {
    check(distributed = false)
  }

  test("every shape keeps the pinned file count on every route (distributed, threshold 1)") {
    spark.conf.set("spark.graft.distributedSnapshotThreshold", "1")
    try check(distributed = true)
    finally spark.conf.unset("spark.graft.distributedSnapshotThreshold")
  }

  test("a filter that does not resolve only loses its own pruning") {
    val d = Files.createTempDirectory("graft-parity-dotted").toString
    (0 until 3).foreach { i =>
      (0 until 10).map(j => (i * 10 + j, j)).toDF("id", "a_b").repartition(1)
        .write.format("graft-delta").mode("append").save(d)
    }
    // a foreign writer's top-level column literally named `a.b`
    (0 until 3).foreach { i =>
      val commit = Paths.get(d, "_delta_log", f"$i%020d.json")
      Files.write(commit, new String(Files.readAllBytes(commit), UTF_8)
        .replace("a_b", "a.b").getBytes(UTF_8))
    }
    val snap = DeltaTable.forPath(spark, d).snapshot()
    assert(snap.schema.fieldNames.toSeq == Seq("id", "a.b"))
    // a V1 filter names the top-level `a.b` unquoted: `col("a.b")` reads
    // it as a nested field, which does not resolve
    val filters = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("a.b", 1),
      org.apache.spark.sql.sources.EqualTo("id", 15))
    assert(DataSkipping.prune(snap, DeltaRelation.conjunction(filters)).size == 1)
  }

  test("timestamp stats decode to one instant from every writer's rendering") {
    val forms = Seq("2024-01-01T13:00", "2024-01-01 13:00:00.000000",
      "2024-01-01T13:00:00Z", "2024-01-01T13:00:00.000000")
    Seq(TimestampType, TimestampNTZType).foreach { dt =>
      val decoded = forms.map(f => DataSkipping.statValue(org.json4s.JString(f), dt))
      assert(decoded.distinct.size == 1 && decoded.head != null, s"$dt: $decoded")
    }
    assert(DataSkipping.statValue(org.json4s.JString("not a time"), TimestampType) == null)
  }

  test("the parity table's rows read back through every route") {
    table
    val expected = (0 until 60).filter(i => i / 10 < 2).toSet
    assert(spark.sql(s"SELECT id FROM $table WHERE p = 'a'").as[Int].collect().toSet == expected)
    assert(DeltaTable.forPath(spark, dir).query("""{"p": "a"}""")
      .select(col("id")).as[Int].collect().toSet == expected)
    assert(spark.sql(s"SELECT id FROM $table WHERE g = 0.1").as[Int].collect().toSet == expected)
  }
}
