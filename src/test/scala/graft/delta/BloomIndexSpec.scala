package graft.delta

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.hadoop.fs.Path

/** Bloom-filter file skipping: sidecars are built per written file, point
  * predicates on indexed high-cardinality keys skip files the min/max
  * zone maps cannot, skipping NEVER loses a matching row (the property
  * that matters), and the sidecar lifecycle follows the data files. */
class BloomIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(prefix: String): DeltaTable =
    DeltaTable.forPath(spark, Files.createTempDirectory(prefix).toString)

  /** 4 files of uuid-ish string keys: every file's [min,max] spans the
    * space, so zone maps prune nothing and skipping is the blooms' doing. */
  private def uuidTable(): (DeltaTable, Seq[String]) = {
    val t = freshTable("graft-bloom")
    // hex-ish keys with interleaved prefixes so min/max overlap per file
    val keys = (0 until 2000).map(i => f"${(i * 2654435761L) % 4096}%03x-key-$i")
    t.write(keys.zipWithIndex.toDF("k", "n"))
    t.updateConfiguration(Map(BloomIndex.ColumnsKey -> "k,n"))
    // re-write as 4 files so sidecars exist (config must pre-date the write)
    t.write(keys.zipWithIndex.toDF("k", "n").repartition(4), "overwrite")
    (t, keys)
  }

  private def sidecars(t: DeltaTable): Seq[Path] = {
    val dir = new Path(t.tablePath, BloomIndex.IndexDir)
    if (!t.log.fs.exists(dir)) Nil
    else t.log.fs.listStatus(dir).toSeq.map(_.getPath)
  }

  test("sidecars are written per data file and point-$eq skips files") {
    val (t, keys) = uuidTable()
    val active = t.snapshot().activeFiles
    assert(active.size == 4)
    assert(sidecars(t).map(_.getName).toSet ==
      active.map(f => s"${f.path}.bloom").toSet)
    val skippedBefore = BloomIndex.skipped.get()
    val probe = keys(123)
    val pruned = t.scanState(None, graft.query.MongoFilter.column(
      s"""{"k":{"$$eq":"$probe"}}""", t.snapshot().schema))
    assert(pruned.activeFiles.size < 4,
      s"bloom should skip files for a point key (kept ${pruned.activeFiles.size})")
    assert(BloomIndex.skipped.get() > skippedBefore)
    // and the query path returns exactly the matching row
    val rows = t.query(s"""{"k":"$probe"}""").collect()
    assert(rows.length == 1 && rows.head.getAs[String]("k") == probe)
  }

  test("skipping never loses a matching row (50 sampled keys + misses)") {
    val (t, keys) = uuidTable()
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val k = keys(rnd.nextInt(keys.size))
      assert(t.query(s"""{"k":"$k"}""").count() == 1, s"lost key $k")
    }
    // long column probes, hits and misses
    assert(t.query("""{"n":{"$eq":777}}""").count() == 1)
    assert(t.query("""{"n":{"$eq":999999}}""").count() == 0)
    assert(t.query("""{"k":"no-such-key"}""").count() == 0)
    // $in across files keeps every member's file
    val in = Seq(keys(3), keys(700), keys(1999)).map(k => s""""$k"""").mkString(",")
    assert(t.query(s"""{"k":{"$$in":[$in]}}""").count() == 3)
  }

  test("unindexed tables and non-probe predicates are untouched") {
    val t = freshTable("graft-nobloom")
    t.write((0 until 100).map(i => (s"k$i", i)).toDF("k", "n"))
    assert(sidecars(t).isEmpty)
    assert(t.query("""{"k":"k5"}""").count() == 1)
    val (t2, keys) = uuidTable()
    // range predicates contribute no probe: all files kept (zone maps
    // overlap by construction), result exact
    val all = t2.scanState(None, graft.query.MongoFilter.column(
      """{"k":{"$gte":"0"}}""", t2.snapshot().schema))
    assert(all.activeFiles.size == 4)
    assert(t2.query(s"""{"k":{"$$gte":"${keys.min}"}}""").count() == 2000)
  }

  test("point DELETE only rewrites the files the blooms keep") {
    val (t, keys) = uuidTable()
    val before = t.snapshot().activeFiles.map(_.path).toSet
    val r = t.delete(s"""{"k":"${keys(42)}"}""")
    assert(r.rowsAffected == 1)
    val after = t.snapshot().activeFiles.map(_.path).toSet
    // CoW rewrites only touched files: at least 2 of the 4 originals survive
    assert((before & after).size >= 2,
      s"bloom-pruned delete should leave untouched files alone (survived ${(before & after).size})")
    assert(t.query("{}").count() == 1999)
  }

  test("sidecars survive rename (physical-name keys) and follow vacuum") {
    val (t, keys) = uuidTable()
    t.renameColumn("k", "key")
    // old sidecars still prune through the new logical name
    val pruned = t.scanState(None, graft.query.MongoFilter.column(
      s"""{"key":{"$$eq":"${keys(5)}"}}""", t.snapshot().schema))
    assert(pruned.activeFiles.size < 4)
    assert(t.query(s"""{"key":"${keys(5)}"}""").count() == 1)
    // delete → CoW rewrite; vacuum with zero retention reclaims the old
    // file AND its sidecar, while active files keep theirs
    t.delete(s"""{"key":"${keys(42)}"}""")
    val activeRels = t.snapshot().activeFiles.map(_.path).toSet
    Maintenance.vacuum(t, retentionHours = 0.0, enforceMinimum = false)
    val left = sidecars(t).map(_.getName).toSet
    assert(activeRels.forall(r => left.contains(s"$r.bloom")),
      "active files lost their sidecars")
    assert(left.size == activeRels.size,
      s"orphan sidecars survived vacuum: ${left.size} vs ${activeRels.size} active")
  }
}
