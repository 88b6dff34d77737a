package graft.streaming

import graft.SparkTestBase
import graft.delta.{DeltaTable, Maintenance, StreamChangeException}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.nio.file.Files

/** The graft-delta streaming SOURCE: snapshot-then-tail offsets over the
  * commit log (Delta's streaming-source contract; the reference consumes
  * changes via its CDC envelope, src/cdc/index.ts:1500-1763). */
class DeltaSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def drain(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("fresh stream = snapshot batch, then tail of later appends via checkpoint resume") {
    val dir = Files.createTempDirectory("graft-src").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s")) // v0
    t.write(Seq((3, "c")).toDF("id", "s"))           // v1

    val ckpt = Files.createTempDirectory("graft-src-ck").toString
    def run(): Set[(Int, String)] = {
      val got = scala.collection.mutable.Set.empty[(Int, String)]
      val q = spark.readStream.format("graft-delta").load(dir)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= b.as[(Int, String)].collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSet
    }
    // first run: initial snapshot covers v0+v1
    assert(run() == Set((1, "a"), (2, "b"), (3, "c")))
    // appends land while the stream is down; resume tails ONLY the new commits
    t.write(Seq((4, "d")).toDF("id", "s")) // v2
    t.write(Seq((5, "e")).toDF("id", "s")) // v3
    assert(run() == Set((4, "d"), (5, "e")))
  }

  test("startingVersion tails from that version; layout-only compaction never re-emits") {
    val dir = Files.createTempDirectory("graft-src-sv").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "s")) // v0
    t.write(Seq((2, "b")).toDF("id", "s")) // v1
    t.write(Seq((3, "c")).toDF("id", "s")) // v2
    Maintenance.compact(t)                 // v3: dataChange=false rewrite
    t.write(Seq((4, "d")).toDF("id", "s")) // v4

    val out = drain(spark.readStream.format("graft-delta")
      .option("startingVersion", "1").load(dir), "src_sv")
    // v1, v2, v4 adds; v3's compacted file (which contains rows 1-3) skipped
    assert(out.as[(Int, String)].collect().toSet ==
      Set((2, "b"), (3, "c"), (4, "d")))
  }

  test("startingTimestamp tails from the first commit at or after it") {
    val dir = Files.createTempDirectory("graft-src-st").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "s")) // v0
    t.write(Seq((2, "b")).toDF("id", "s")) // v1
    val v1Ts = t.commitTimestamp(1)
    Thread.sleep(5)
    t.write(Seq((3, "c")).toDF("id", "s")) // v2

    // at v1's exact timestamp → v1 and later (at-or-AFTER, Delta contract)
    val out = drain(spark.readStream.format("graft-delta")
      .option("startingTimestamp", v1Ts.toString).load(dir), "src_st1")
    assert(out.as[(Int, String)].collect().toSet == Set((2, "b"), (3, "c")))

    // a timestamp before every commit → the whole history
    val all = drain(spark.readStream.format("graft-delta")
      .option("startingTimestamp", "1970-01-01").load(dir), "src_st2")
    assert(all.as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))

    // after the last commit → clear refusal
    val e = intercept[Exception] {
      drain(spark.readStream.format("graft-delta")
        .option("startingTimestamp", (System.currentTimeMillis() + 3600000L).toString)
        .load(dir), "src_st3")
    }
    assert(e.getMessage.contains("startingTimestamp") ||
      e.getCause != null && e.getCause.getMessage.contains("startingTimestamp"))

    // both options together → refusal
    val e2 = intercept[Exception] {
      drain(spark.readStream.format("graft-delta")
        .option("startingVersion", "1")
        .option("startingTimestamp", v1Ts.toString).load(dir), "src_st4")
    }
    assert(e2.getMessage.contains("not both") ||
      e2.getCause != null && e2.getCause.getMessage.contains("not both"))
  }

  test("maxFilesPerTrigger splits the tail into whole-version batches") {
    val dir = Files.createTempDirectory("graft-src-cap").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((0, "z")).toDF("id", "s")) // v0
    (1 to 4).foreach(i => t.write(Seq((i, s"r$i")).toDF("id", "s"))) // v1..v4

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "1")
      .option("maxFilesPerTrigger", "2")
      .load(dir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += b.count(); ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // 4 single-file versions, cap 2 → two batches of 2 rows
    assert(batchSizes.filter(_ > 0).toSeq == Seq(2L, 2L))
  }

  test("maxBytesPerTrigger splits the tail by version byte volume") {
    val dir = Files.createTempDirectory("graft-src-bcap").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((0, "z")).toDF("id", "s")) // v0
    (1 to 4).foreach(i => t.write(Seq((i, s"r$i")).toDF("id", "s"))) // v1..v4
    val oneFile = t.snapshot().activeFiles.map(_.size).max
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "1")
      .option("maxBytesPerTrigger", (2 * oneFile + 1).toString) // ~2 versions/batch
      .load(dir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += b.count(); ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batchSizes.filter(_ > 0).toSeq == Seq(2L, 2L))
  }

  test("a delete breaks the append-only contract; skipChangeCommits drops it") {
    val dir = Files.createTempDirectory("graft-src-del").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s")) // v0
    t.write(Seq((3, "c")).toDF("id", "s"))           // v1
    t.delete("""{"id": 1}""")                        // v2: CoW rewrite
    t.write(Seq((4, "d")).toDF("id", "s"))           // v3

    val err = intercept[StreamingQueryException] {
      drain(spark.readStream.format("graft-delta")
        .option("startingVersion", "1").load(dir), "src_fail")
    }
    def chain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(_.isInstanceOf[StreamChangeException]))

    val out = drain(spark.readStream.format("graft-delta")
      .option("startingVersion", "1")
      .option("skipChangeCommits", "true").load(dir), "src_skip")
    assert(out.as[(Int, String)].collect().toSet == Set((3, "c"), (4, "d")))
  }

  test("initial snapshot applies deletion vectors; MoR delete afterwards is a change commit") {
    val dir = Files.createTempDirectory("graft-src-dv").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write((1 to 10).map(i => (i, s"r$i")).toDF("id", "s")) // v0
    t.deleteWithDV("""{"id": {"$lte": 3}}""")                // v1: DV on v0's file
    // fresh stream: snapshot at latest version masks rows 1-3
    val out = drain(spark.readStream.format("graft-delta").load(dir), "src_dv")
    assert(out.as[(Int, String)].collect().map(_._1).sorted.toSeq == (4 to 10).toSeq)
    // tailing across the DV commit is a change commit
    t.write(Seq((11, "r11")).toDF("id", "s")) // v2
    val err = intercept[StreamingQueryException] {
      drain(spark.readStream.format("graft-delta")
        .option("startingVersion", "1").load(dir), "src_dv_fail")
    }
    def chain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(_.isInstanceOf[StreamChangeException]))
  }

  test("readChangeFeed streams CDF rows: inserts, update pre/post images, deletes") {
    val dir = Files.createTempDirectory("graft-src-cdf").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s")) // v0 (pre-CDC)
    t.enableCDC()                                    // v1
    t.write(Seq((3, "c")).toDF("id", "s"))           // v2: insert captured
    t.update("""{"id": 1}""", """{"s": "a2"}""")     // v3: pre+post images
    t.delete("""{"id": 2}""")                        // v4: delete captured

    val out = drain(spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(dir), "src_cdf")
    val rows = out.select("id", "s", "_change_type", "_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    assert(rows == Set(
      (3, "c", "insert", 2L),
      (1, "a", "update_preimage", 3L),
      (1, "a2", "update_postimage", 3L),
      (2, "b", "delete", 4L)))
    // a change feed includes deletes as DATA — no StreamChangeException
  }

  test("batch readChangeFeed via spark.read options returns the bounded change rows") {
    val dir = Files.createTempDirectory("graft-batch-cdf").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "s")) // v0
    t.updateConfiguration(Map(graft.delta.Cdc.EnableKey -> "true")) // v1
    t.write(Seq((2, "b"), (3, "c")).toDF("id", "s")) // v2
    t.delete(col("id") === 2) // v3

    val feed = spark.read.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(dir)
    assert(feed.columns.contains(graft.delta.Cdc.ChangeType))
    val got = feed.select("id", "s", graft.delta.Cdc.ChangeType)
      .as[(Int, String, String)].collect().toSet
    assert(got == Set((2, "b", "insert"), (3, "c", "insert"), (2, "b", "delete")))

    val bounded = spark.read.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "2").load(dir)
    assert(bounded.filter(col(graft.delta.Cdc.ChangeType) === "delete").count() == 0)

    val e = intercept[Exception] {
      spark.read.format("graft-delta")
        .option("readChangeFeed", "true").load(dir).collect()
    }
    assert(e.getMessage.contains("startingVersion"))
  }

  test("property: random append/compact history streams to exactly the batch state") {
    val rnd = new scala.util.Random(42)
    val dir = Files.createTempDirectory("graft-src-prop").toString
    val t = DeltaTable.forPath(spark, dir)
    var next = 0
    t.write(Seq((next, "r")).toDF("id", "s")); next += 1
    (0 until 12).foreach { _ =>
      if (rnd.nextDouble() < 0.3 && t.snapshot().activeFiles.size >= 2)
        Maintenance.compact(t) // layout-only: must not re-emit
      else {
        val n = 1 + rnd.nextInt(3)
        t.write((next until next + n).map(i => (i, "r")).toDF("id", "s"))
        next += n
      }
    }
    val cap = 1 + rnd.nextInt(3)
    val out = drain(spark.readStream.format("graft-delta")
      .option("startingVersion", "0")
      .option("maxFilesPerTrigger", cap.toString).load(dir), "src_prop")
    assert(out.select("id").as[Int].collect().sorted.toSeq == (0 until next).toSeq)
    assert(out.count() == t.toDF().count())
  }

  test("schema is pinned per run; a restart picks up additive evolution (Delta contract)") {
    val dir = Files.createTempDirectory("graft-src-evo").toString
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, "a")).toDF("id", "s")) // v0
    val ckpt = Files.createTempDirectory("graft-src-evo-ck").toString
    val seenCols = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def run(): Set[(Int, String)] = {
      val got = scala.collection.mutable.Set.empty[(Int, String)]
      val q = spark.readStream.format("graft-delta").load(dir)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            seenCols += b.columns.toSeq
            got ++= b.select("id", "s").as[(Int, String)].collect()
          }; ()
        }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSet
    }
    assert(run() == Set((1, "a")))
    assert(seenCols.last == Seq("id", "s"))
    // additive evolution while the stream is down: new column k. The
    // RESUMED stream re-resolves the source schema (same as Delta, which
    // requires a restart to pick up evolution) and emits the new column;
    // old rows were already consumed, new rows carry it.
    t.write(Seq((2, "b", 7)).toDF("id", "s", "k"))
    assert(run() == Set((2, "b")))
    assert(seenCols.last == Seq("id", "s", "k"))
    assert(t.toDF().columns.toSeq == Seq("id", "s", "k"))
  }

  test("streamed aggregation matches the batch result (composability)") {
    val dir = Files.createTempDirectory("graft-src-agg").toString
    val t = DeltaTable.forPath(spark, dir)
    (0 until 3).foreach { k =>
      t.write((0 until 100).map(i => (k * 100 + i, i % 7)).toDF("id", "grp"))
    }
    val streamed = drain(spark.readStream.format("graft-delta").load(dir), "src_agg")
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    val batch = t.toDF()
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    assert(streamed.orderBy("grp").collect().toSeq ==
      batch.orderBy("grp").collect().toSeq)
  }

  test("stream schema from metadata equals the old full-snapshot read schema") {
    def oldSchema(t: DeltaTable) = t.toDF(t.snapshot()).schema
    // column-mapped: a renamed column reads through its physical name
    val mapped = DeltaTable.forPath(spark,
      Files.createTempDirectory("graft-src-cm").toString)
    mapped.write(Seq((1, "a", "x"), (2, "b", "y")).toDF("id", "s", "p"),
      partitionBy = Seq("p"))
    mapped.renameColumn("s", "label")
    assert(mapped.metaSnapshot().schema("id").nullable == false)
    assert(DeltaStreamSource.schemaFor(mapped, readChangeFeed = false) ==
      oldSchema(mapped))
    // column defaults: the catalog-facing schema keeps the default keys
    val cat = graft.plans.GraftSql.ensure(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.srcschema")
    spark.sql(s"CREATE TABLE $cat.srcschema.d (id BIGINT NOT NULL, " +
      "v INT DEFAULT 7, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.srcschema.d (id, p) VALUES (1, 'x'), (2, 'y')")
    val dflt = DeltaTable.forPath(spark,
      graft.plans.GraftSql.warehousePath(spark).get + "/srcschema/d")
    val got = DeltaStreamSource.schemaFor(dflt, readChangeFeed = false)
    assert(got("v").metadata.contains("CURRENT_DEFAULT"))
    assert(got == oldSchema(dflt))
    assert(DeltaStreamSource.schemaFor(dflt, readChangeFeed = true).fields
      .take(got.length).toSeq == got.fields.toSeq)
  }
}
