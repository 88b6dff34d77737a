package graft.delta

import graft.SparkTestBase
import java.nio.file.Files
import org.json4s.JsonDSL._

class DeletionVectorsSpec extends SparkTestBase {
  import spark.implicits._

  test("Z85 round-trip") {
    val bytes = Array.tabulate(32)(i => (i * 7 - 100).toByte)
    val enc = DeletionVectors.z85Encode(bytes)
    assert(DeletionVectors.z85Decode(enc).toSeq == bytes.toSeq)
    // canonical test vector from the Z85 spec: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B → "HelloWorld"
    val hw = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(DeletionVectors.z85Encode(hw) == "HelloWorld")
  }

  test("RoaringBitmapArray serialize/deserialize round-trip incl. high keys") {
    val idxs = Seq(0L, 5L, 1000L, (1L << 33) + 7)
    val bm = DeletionVectors.fromIndexes(idxs)
    val round = DeletionVectors.deserialize(DeletionVectors.serialize(bm))
    idxs.foreach(i => assert(DeletionVectors.contains(round, i), s"missing $i"))
    assert(!DeletionVectors.contains(round, 6L))
    assert(!DeletionVectors.contains(round, (1L << 33) + 8))
  }

  test("bitmapAgg distributed build agrees with fromIndexes incl. >2^32 indexes") {
    import org.apache.spark.sql.functions._
    // indexes spanning three 32-bit keys, spread over 8 partitions so the
    // aggregator's merge path (partial buffers crossing the exchange) runs
    val idxs: Seq[Long] = Seq(0L, 1L, 7L, 4094L, Int.MaxValue.toLong,
      (1L << 32) + 3, (1L << 33) + 7, (1L << 33) + 8)
    val df = idxs.toDF("__ri").repartition(8)
      .withColumn("__file", lit("f1"))
      .groupBy("__file")
      .agg(DeletionVectors.bitmapAgg(col("__ri")).as("__dv"))
    val bytes = df.collect().head.getAs[Array[Byte]](1)
    val fromAgg = DeletionVectors.deserialize(bytes)
    val expected = DeletionVectors.fromIndexes(idxs)
    assert(DeletionVectors.cardinality(fromAgg) == idxs.size)
    idxs.foreach(i => assert(DeletionVectors.contains(fromAgg, i), s"missing $i"))
    assert(!DeletionVectors.contains(fromAgg, 2L))
    assert(!DeletionVectors.contains(fromAgg, (1L << 32) + 4))
    // byte-identical to the driver-side constructor (same sorted-key layout)
    assert(bytes.toSeq == DeletionVectors.serialize(expected).toSeq)
  }

  test("reading a table applies inline deletion vectors") {
    val t = DeltaTable.forPath(spark, Files.createTempDirectory("graft-dv").toString)
    t.write((0 until 100).map(i => (i, s"r$i")).toDF("id", "s"))
    val snap = t.snapshot()
    val add = snap.activeFiles.head // single-file table at local[4] may have several; pick one
    // mask row indexes 0 and 3 of that file
    val payload = DeletionVectors.z85Encode(
      pad4(DeletionVectors.serialize(DeletionVectors.fromIndexes(Seq(0L, 3L)))))
    val dv = ("storageType" -> "i") ~ ("pathOrInlineDv" -> payload) ~ ("cardinality" -> 2)
    val newAdd = add.copy(deletionVector = Some(dv))
    t.log.writeCommit(t.version + 1,
      Seq[Action](RemoveFile(add.path, 0L), newAdd, CommitInfo(0L, "ADD-DV")))
    val total = t.toDF().count()
    assert(total == 98)
    // the mask runs inside the scan's reader (the file's read partition
    // carries its bitmap): no UDF and no row filter in the plan
    val executed = t.toDF().queryExecution.executedPlan
    val plan = executed.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"DV mask left a UDF node in the plan:\n$plan")
    assert(executed.find(_.isInstanceOf[org.apache.spark.sql.execution.FilterExec]).isEmpty,
      s"DV mask left a row filter in the plan:\n$plan")
    // exactly physical positions 0 and 3 of that file are gone
    import org.apache.spark.sql.functions.col
    val left = t.toDF().select(col("_metadata.file_path"), col("_metadata.row_index"))
      .collect().filter(_.getString(0).endsWith(add.path)).map(_.getLong(1)).toSet
    assert(left.nonEmpty && !left.contains(0L) && !left.contains(3L) && left.contains(1L),
      left)
  }

  private def pad4(b: Array[Byte]): Array[Byte] =
    if (b.length % 4 == 0) b else b ++ Array.fill(4 - b.length % 4)(0.toByte)
}
