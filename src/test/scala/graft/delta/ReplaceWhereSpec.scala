package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Predicate-scoped atomic overwrites: `replaceWhere` (Delta's
 * `replaceWhere` option / SQL `INSERT INTO ... REPLACE WHERE`) and dynamic
 * partition overwrite — the idempotent-backfill and daily-reload
 * primitives. Both must be ONE commit, touch only the replaced region,
 * and conflict with concurrent appends INTO that region.
 */
class ReplaceWhereSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-rw").toString

  test("replaceWhere swaps exactly the matching region in one commit") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write((0 until 100).map(i => (i, i % 5, s"old$i")).toDF("id", "g", "s"))
    val v0 = t.version

    val r = t.replaceWhere(
      Seq((1000, 2, "new0"), (1001, 2, "new1")).toDF("id", "g", "s"),
      col("g") === 2)

    assert(t.version == v0 + 1, "one atomic commit")
    assert(r.rowsAffected == 20, "20 old rows in the g=2 region")
    val rows = t.toDF().collect()
    assert(rows.length == 82)
    assert(rows.count(_.getInt(1) == 2) == 2)
    assert(rows.filter(_.getInt(1) == 2).map(_.getString(2)).toSet ==
      Set("new0", "new1"))
    // untouched region survives byte-for-byte
    assert(rows.count(r => r.getInt(1) != 2 && r.getString(2).startsWith("old")) == 80)
  }

  test("replaceWhere refuses rows that land outside the replaced region") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1, 1, "a"), (2, 2, "b")).toDF("id", "g", "s"))
    val v0 = t.version
    val e = intercept[ValidationException] {
      t.replaceWhere(Seq((10, 1, "x"), (11, 3, "y")).toDF("id", "g", "s"),
        col("g") === 1)
    }
    assert(e.getMessage.contains("outside the replaced region"))
    assert(t.version == v0, "failed guard commits nothing")
    assert(t.toDF().count() == 2)
  }

  test("replaceWhere with a sparse insert NULL-fills and guards on NULL semantics") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1, 1, "a"), (2, 2, "b")).toDF("id", "g", "s"))
    // new rows omit `s`; condition references g only — legal
    t.replaceWhere(Seq((10, 1)).toDF("id", "g"), col("g") === 1)
    val rows = t.toDF().orderBy("id").collect()
    assert(rows.map(r => (r.getInt(0), r.isNullAt(2))).toSeq ==
      Seq((2, false), (10, true)))
  }

  test("replaceWhere refuses unknown columns (no implicit schema evolution)") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1, 1)).toDF("id", "g"))
    intercept[ValidationException] {
      t.replaceWhere(Seq((2, 1, "extra")).toDF("id", "g", "zzz"), col("g") === 1)
    }
  }

  test("replaceWhere captures CDF deletes + inserts when CDC is enabled") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1, 1, "a"), (2, 2, "b"), (3, 2, "c")).toDF("id", "g", "s"))
    t.enableCDC()
    val v = t.replaceWhere(Seq((20, 2, "n")).toDF("id", "g", "s"),
      col("g") === 2).version
    val changes = Cdc.readByVersion(t, v, v)
      .select("id", "_change_type").as[(Int, String)].collect().toSet
    assert(changes == Set((2, "delete"), (3, "delete"), (20, "insert")))
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write((0 until 60).map(i => (i, s"p${i % 3}", s"old$i")).toDF("id", "p", "s"),
      partitionBy = Seq("p"))
    val v0 = t.version
    val untouched = t.toDF().filter(col("p") === "p0")
      .select("id", "s").as[(Int, String)].collect().toSet

    t.overwritePartitionsDynamic(
      Seq((100, "p1", "new"), (101, "p1", "new")).toDF("id", "p", "s"))

    assert(t.version == v0 + 1, "one atomic commit")
    val after = t.toDF().select("id", "p", "s").as[(Int, String, String)]
      .collect()
    assert(after.count(_._2 == "p1") == 2)
    assert(after.filter(_._2 == "p1").forall(_._3 == "new"))
    assert(after.count(_._2 == "p2") == 20, "p2 untouched")
    assert(after.filter(_._2 == "p0").map(r => (r._1, r._3)).toSet == untouched)
  }

  test("dynamic overwrite with empty input replaces nothing") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1, "a", "x")).toDF("id", "p", "s"), partitionBy = Seq("p"))
    t.overwritePartitionsDynamic(
      Seq.empty[(Int, String, String)].toDF("id", "p", "s"))
    assert(t.toDF().count() == 1)
  }

  test("dynamic overwrite on an unpartitioned table degrades to full overwrite") {
    val t = DeltaTable.forPath(spark, freshDir())
    t.write(Seq((1, "a")).toDF("id", "s"))
    t.overwritePartitionsDynamic(Seq((2, "b")).toDF("id", "s"))
    assert(t.toDF().as[(Int, String)].collect().toSeq == Seq((2, "b")))
  }

  test("a concurrent append into the replaced region conflicts (stale snapshot seam)") {
    val dir = freshDir()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, 1, "a")).toDF("id", "g", "s"))
    // Read the region snapshot, then a racer appends rows INTO the region
    // before our commit — the tail scan must refuse, or the racer's rows
    // would silently survive a region this commit declares replaced.
    val snap = t.scanState(None, org.apache.spark.sql.functions.lit(true))
    DeltaTable.forPath(spark, dir)
      .write(Seq((5, 1, "racer")).toDF("id", "g", "s"))
    intercept[WriteConflictException] {
      t.commitFileRewrite(snap, Set.empty, Nil, "TEST-REPLACE",
        tailAddConflict = Some(_.dataChange))
    }
    // A racer OUTSIDE the region (predicate says no overlap) commits fine.
    val snap2 = t.scanState(None, org.apache.spark.sql.functions.lit(true))
    DeltaTable.forPath(spark, dir)
      .write(Seq((6, 9, "other")).toDF("id", "g", "s"))
    t.commitFileRewrite(snap2, Set.empty, Nil, "TEST-REPLACE",
      tailAddConflict = Some(_ => false))
  }
}
