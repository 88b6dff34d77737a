package graft.delta

import graft.SparkTestBase
import graft.plans.GraftSql
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * MERGE's two passes — a census that also checks SQL cardinality, then one
 * task-writer job that writes the post-images and the inserts together —
 * on the edges where the two parts of the write could disagree: a matched
 * row no clause accepts, a cardinality violation, identity values in the
 * change feed, and the result counts on every route.
 */
class MergeWriteSpec extends SparkTestBase {
  import spark.implicits._
  import Merge._

  private def tmpTable(): DeltaTable =
    DeltaTable.forPath(spark, Files.createTempDirectory("graft-mergewrite").toString)

  /** Every file under `dir` (data, log, sidecars) with its size. */
  private def listing(dir: String): Set[(String, Long)] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: JPath) => p.toString -> Files.size(p)).toSet
    finally s.close()
  }

  private val upsertClauses = Seq(
    MergeClause(Some(col("__src.op") === "D"), MergeAction.Delete),
    MergeClause(None, MergeAction.UpdateSet(Map("v" -> col("__src.v")))))

  test("a matched row no clause accepts is neither rewritten nor inserted, and nothing commits") {
    val t = tmpTable()
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v").repartition(2))
    val before = t.snapshot()
    val r = executeClauses(t, Seq((5, "x")).toDF("id", "v"), Keys(Seq("id" -> "id")),
      Seq(MergeClause(Some(col("__src.v") === "never"), MergeAction.UpdateAll)),
      Seq(InsertClause(None)), sqlSemantics = true)
    assert((r.updated, r.deleted, r.inserted) == ((0L, 0L, 0L)))
    assert(r.version == before.version && t.version == before.version)
    assert(t.snapshot().activeFiles.map(_.path).toSet == before.activeFiles.map(_.path).toSet)
    assert(t.toDF().count() == 10)
  }

  test("a cardinality violation found by the census leaves the table directory unchanged") {
    val t = tmpTable()
    t.write((1 to 20).map(i => (i, s"v$i", "U")).toDF("id", "v", "op").repartition(3))
    val before = listing(t.path)
    val src = Seq((3, "a", "U"), (3, "b", "U"), (30, "new", "U")).toDF("id", "v", "op")
    val e = intercept[ValidationException] {
      executeClauses(t, src, Keys(Seq("id" -> "id")), upsertClauses,
        Seq(InsertClause(None)), sqlSemantics = true)
    }
    assert(e.getMessage.contains("cardinality violation") && e.getMessage.contains("3"))
    assert(listing(t.path) == before)
    // a duplicated key the target does not hold inserts both rows
    val r = executeClauses(t, Seq((40, "a", "U"), (40, "b", "U")).toDF("id", "v", "op"),
      Keys(Seq("id" -> "id")), upsertClauses, Seq(InsertClause(None)), sqlSemantics = true)
    assert(r.inserted == 2 && t.toDF().filter($"id" === 40).count() == 2)
  }

  test("identity table with CDF: insert change rows are exactly the inserted rows") {
    val cat = GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.mw")
    val name = s"$cat.mw.ident"
    spark.sql(s"CREATE TABLE $name (rid BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k INT, v STRING, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $name (k, v, p) VALUES " +
      (1 to 6).map(i => s"($i, 'v$i', '${if (i % 2 == 0) "a" else "b"}')").mkString(", "))
    val t = DeltaTable.forPath(spark, GraftSql.warehousePath(spark).get + "/mw/ident")
    t.updateConfiguration(Map(Cdc.EnableKey -> "true"))
    // updates and inserts land in the same two partitions
    val src = Seq((2, "u2", "a"), (3, "u3", "b"), (10, "n10", "a"), (11, "n11", "b"),
      (12, "n12", "a")).toDF("k", "v", "p")
    val r = executeClauses(t, src, Keys(Seq("k" -> "k")),
      Seq(MergeClause(None, MergeAction.UpdateAll)), Seq(InsertClause(None)))
    assert((r.updated, r.deleted, r.inserted) == ((2L, 0L, 3L)))
    def rows(df: DataFrame): Set[(Long, Int, String, String)] =
      df.select("rid", "k", "v", "p").as[(Long, Int, String, String)].collect().toSet
    val inserted = rows(t.toDF().filter($"k" >= 10))
    assert(inserted.size == 3 && inserted.map(_._1).size == 3)
    val changes = t.changes(r.version, r.version)
    assert(rows(changes.filter(col(Cdc.ChangeType) === "insert")) == inserted)
    assert(rows(changes.filter(col(Cdc.ChangeType) === "update_postimage")) ==
      rows(t.toDF().filter($"k".isin(2, 3))))
    // the allocated values sit past the pre-merge rows
    assert(inserted.map(_._1).min > rows(t.toDF().filter($"k" < 10)).map(_._1).max)
  }

  test("MergeResult counts equal a brute-force count on the key, theta and mask routes") {
    val rnd = new scala.util.Random(7)
    val tgtIds = (0 until 300).filter(_ => rnd.nextDouble() < 0.7)
    val srcIds = rnd.shuffle((200 until 400).toList).take(120)
    val src = srcIds.map(i => (i, s"s$i", if (i % 3 == 0) "D" else "U")).toDF("id", "v", "op")
    val tgt = tgtIds.map(i => (i, s"t$i", "U")).toDF("id", "v", "op")
    val inTarget = tgtIds.toSet
    val expDeleted = srcIds.count(i => inTarget(i) && i % 3 == 0).toLong
    val expUpdated = srcIds.count(i => inTarget(i) && i % 3 != 0).toLong
    val expInserted = srcIds.count(i => !inTarget(i)).toLong
    val routes: Seq[(String, Pairing, Boolean)] = Seq(
      ("key", Keys(Seq("id" -> "id")), false),
      ("theta", Theta(col("t.id") === col("s.id")), false),
      ("mask", Keys(Seq("id" -> "id")), true))
    routes.foreach { case (route, on, mask) =>
      val t = tmpTable()
      t.write(tgt.repartitionByRange(6, $"id"))
      val r = executeClauses(t, src, on, upsertClauses, Seq(InsertClause(None)),
        sqlSemantics = on.isInstanceOf[Keys], mask = mask)
      assert((r.updated, r.deleted, r.inserted) == ((expUpdated, expDeleted, expInserted)),
        s"$route route")
      assert(t.toDF().count() == tgtIds.size - expDeleted + expInserted, s"$route route")
      assert(t.toDF().filter($"v".startsWith("s")).count() == expUpdated + expInserted,
        s"$route route")
    }
  }

  test("MERGE records its row and file counts as commitInfo operationMetrics") {
    def lastCommitInfo(t: DeltaTable): CommitInfo =
      t.history().head._2.collectFirst { case c: CommitInfo => c }.get
    val src = Seq((1, "x", "D"), (2, "y", "U"), (50, "z", "U")).toDF("id", "v", "op")
    Seq(false, true).foreach { mask =>
      val t = tmpTable()
      t.write((0 until 20).map(i => (i, s"t$i", "U")).toDF("id", "v", "op")
        .repartitionByRange(4, $"id"))
      // a commit that records no metrics writes no operationMetrics key
      assert(lastCommitInfo(t).operationMetrics.isEmpty)
      assert(!t.log.readString(t.log.commitFile(t.version)).contains("operationMetrics"))
      val hit = t.toDF().filter($"id".isin(1, 2)).select(col("_metadata.file_path"))
        .distinct().count()
      val r = executeClauses(t, src, Keys(Seq("id" -> "id")), upsertClauses,
        Seq(InsertClause(None)), sqlSemantics = true, mask = mask)
      val m = lastCommitInfo(t).operationMetrics
      val adds = t.log.readCommit(r.version).collect {
        case a: AddFile if a.deletionVector.isEmpty => a
      }
      assert(m("numTargetRowsUpdated") == "1" && m("numTargetRowsDeleted") == "1" &&
        m("numTargetRowsInserted") == "1", s"mask=$mask: $m")
      // the files holding ids 1 and 2 are rewritten; a mask removes none
      assert(m("numTargetFilesRemoved") == (if (mask) 0L else hit).toString, s"mask=$mask: $m")
      assert(m("numTargetFilesAdded") == adds.size.toString, s"mask=$mask: $m")
    }
  }
}
