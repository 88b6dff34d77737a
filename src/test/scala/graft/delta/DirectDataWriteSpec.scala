package graft.delta

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Contract of the engine's data-file writer ([[TaskWriter]] under
  * `DeltaTable.writeDataFiles`): files land under their FINAL names in
  * the table directory, no `_staging_*` dir is ever created, adds carry
  * real byte sizes, repeated writes can never collide on a name, and a
  * failed write leaves no files behind. Log-gated visibility (readers
  * never list the directory) is exercised by every existing
  * concurrency/crash suite, which runs through this path. */
class DirectDataWriteSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def newDir(): String =
    java.nio.file.Files.createTempDirectory("graft-directwrite").toString

  test("partitioned append writes final names, no staging dir, correct readback") {
    val dir = newDir()
    val t = DeltaTable.forPath(spark, dir)
    val df = (1 to 100).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")
    t.write(df, partitionBy = Seq("p"))
    // readback through the log
    val back = t.toDF().orderBy("id").collect()
    assert(back.length == 100 && back.head.getLong(0) == 1L)
    // on-disk layout: partition dirs with part- files, and NOTHING staged
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
    val all = walk(root).map(_.getName)
    assert(!all.exists(_.startsWith("_staging_")), "staging dir must not exist")
    assert(all.exists(_.startsWith("p=")), "partition dirs expected")
    // adds carry real sizes and stats
    val snap = t.snapshot()
    assert(snap.activeFiles.nonEmpty)
    assert(snap.activeFiles.forall(_.size > 0))
    assert(snap.activeFiles.forall(_.stats.nonEmpty))
  }

  test("non-ASCII and + partition values write ASCII directory names and read back") {
    val dir = newDir()
    val t = DeltaTable.forPath(spark, dir)
    val ps = Seq("café", "ｶ", "𝄞", "a:b", "a+b c", "plain")
    t.write(ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "p"),
      partitionBy = Seq("p"))
    val paths = t.snapshot().activeFiles.map(_.path)
    assert(paths.forall(_.forall(_ < 0x80)), s"non-ASCII path in $paths")
    assert(paths.exists(_.startsWith("p=caf%C3%A9/")), paths)
    assert(t.snapshot().activeFiles.map(_.partitionValues("p")).toSet == ps.toSet)
    assert(t.toDF().orderBy("id").collect().map(_.getString(1)).toSeq == ps)
    assert(t.toDF().where(col("p") === "𝄞").count() == 1)
  }

  // DML matches the files it read (`_metadata.file_path`, a URI) against
  // the log's relative paths; an escaped directory name holds `%` and a
  // space, which the URI form quotes.
  for ((mode, dv) <- Seq("copy-on-write" -> false, "deletion vectors" -> true))
    test(s"a non-ASCII partition column and escaped values survive DML ($mode)") {
      val dir = newDir()
      val t = DeltaTable.forPath(spark, dir)
      val ps = Seq("café", "a:b", "a b")
      val rows = for ((p, i) <- ps.zipWithIndex; j <- 0 to 1) yield (i * 2L + j, p, "v")
      t.write(rows.toDF("id", "café", "v"), partitionBy = Seq("café"))
      val files = t.snapshot().activeFiles
      assert(files.forall(_.partitionValues.keySet == Set("café")), files)
      assert(files.exists(_.path.startsWith("caf%C3%A9=caf%C3%A9/")), files)
      assert(files.exists(_.path.startsWith("caf%C3%A9=a%3Ab/")), files)
      def rowsNow = t.toDF().orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(rowsNow == rows)

      val gone = col("café") === "café" && col("id") === 0L
      if (dv) t.deleteWithDV(gone) else t.delete(gone)
      val set = Seq("v" -> lit("u"))
      val upd = col("café") === "a:b"
      if (dv) t.updateWithDV(upd, set) else t.update(upd, set)
      val src = Seq((1L, "café", "m"), (6L, "café", "new")).toDF("id", "café", "v")
      if (dv) t.mergeWithDV(src, Seq("id")) else t.merge(src, Seq("id"))

      assert(rowsNow == Seq((1L, "café", "m"), (2L, "a:b", "u"), (3L, "a:b", "u"),
        (4L, "a b", "v"), (5L, "a b", "v"), (6L, "café", "new")))
      assert(t.toDF().where(col("café") === "café").count() == 2)
    }

  test("repeated writes never collide on a file name") {
    val dir = newDir()
    val t = DeltaTable.forPath(spark, dir)
    (1 to 5).foreach { i =>
      t.write(Seq((i.toLong, "x")).toDF("id", "v"))
    }
    val snap = t.snapshot()
    val names = snap.activeFiles.map(_.path)
    assert(names.distinct.size == names.size, s"collision in $names")
    assert(t.toDF().count() == 5)
  }

  test("zero-row parts are still dropped (delete-all then readback)") {
    val dir = newDir()
    val t = DeltaTable.forPath(spark, dir)
    t.write((1 to 50).map(i => (i.toLong, i % 2)).toDF("id", "k"))
    t.delete(col("k") === 0)
    val snap = t.snapshot()
    // rewritten survivors only; no empty shells re-added
    assert(snap.activeFiles.forall(
      _.parsedStats.exists(_.numRecords > 0)))
    assert(t.toDF().count() == 25)
  }

  test("a CHECK violation in one task leaves no files behind") {
    val dir = newDir()
    val t = DeltaTable.forPath(spark, dir)
    t.write((1 to 40).map(i => (i.toLong, i % 3, i.toDouble)).toDF("id", "k", "price"),
      partitionBy = Seq("k"))
    t.addCheckConstraint("price_pos", "price > 0")
    def dataFiles(): Set[String] = {
      val root = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(root.relativize(_).toString)
        .filterNot(_.startsWith("_delta_log")).toSet
      finally s.close()
    }
    val before = dataFiles()
    val v = t.version
    // eight tasks over every partition directory; the one bad row sits
    // in the last task, so the others finish and write their files
    val df = spark.range(0, 8000, 1, 8).select(col("id"), (col("id") % 3).cast("int").as("k"),
      when(col("id") === 7999, -1.0).otherwise(1.0).as("price"))
    assert(df.rdd.getNumPartitions >= 4)
    val e = intercept[ValidationException](t.write(df))
    assert(e.getMessage.contains("price_pos"))
    assert(t.version == v, "a violating write must not commit")
    assert(dataFiles() == before, "a violating write must leave no files behind")
    assert(t.toDF().count() == 40)
  }
}
