package graft.delta

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

/**
 * Equivalence property for the distributed combine form (round 16): for ANY
 * file set the generator can produce — stats present/absent, all-null
 * columns, DVs with/without cardinality, partition values present/marker/
 * absent/non-ASCII — and ANY split of that set into partitions merged in
 * ANY tree order, `contribute → merge → finish` must produce EXACTLY the
 * driver fold's answer (including its refusals). This is what licenses
 * [[DistributedSnapshot.foldAggregates]] to run the fold as per-partition
 * partials: associativity + per-file parity ⇒ the distributed answer IS
 * the sequential answer.
 */
class StatsAggregatesCombineSpec extends AnyFunSuite {
  import StatsAggregates._

  private val schema = StructType(Seq(
    StructField("pk", LongType),      // partition: integral
    StructField("ps", StringType),    // partition: string
    StructField("v", LongType),       // data
    StructField("s", StringType),     // data
    StructField("f", DoubleType)))    // data: extremum statically refused
  private val partCols = Set("pk", "ps")

  private val genStats: Gen[Option[String]] = for {
    present <- Gen.frequency(9 -> true, 1 -> false)
    n <- Gen.choose(0L, 100L)
    vNulls <- Gen.oneOf(0L, 1L, n) // some, none, ALL null
    sNulls <- Gen.oneOf(0L, n)
    vLo <- Gen.choose(-50L, 50L)
    vHi <- Gen.choose(vLo, 60L)
    dropVBounds <- Gen.frequency(4 -> false, 1 -> true)
    dropNullCounts <- Gen.frequency(9 -> false, 1 -> true)
    sBound <- Gen.oneOf("alpha", "Beta", "zz")
  } yield if (!present) None else {
    val minV: Map[String, JValue] =
      (if (dropVBounds || vNulls == n) Map.empty[String, JValue]
       else Map("v" -> JInt(vLo))) ++
        (if (sNulls == n) Map.empty[String, JValue]
         else Map("s" -> (JString(sBound): JValue)))
    val maxV: Map[String, JValue] =
      (if (dropVBounds || vNulls == n) Map.empty[String, JValue]
       else Map("v" -> JInt(vHi))) ++
        (if (sNulls == n) Map.empty[String, JValue]
         else Map("s" -> (JString(sBound + "~"): JValue)))
    val nulls: Map[String, Long] =
      if (dropNullCounts) Map.empty else Map("v" -> vNulls, "s" -> sNulls)
    Some(FileStats(n, minV, maxV, nulls).toJsonString)
  }

  private val genDv: Gen[Option[JObject]] = Gen.frequency(
    6 -> Gen.const(None),
    2 -> Gen.choose(0L, 5L).map(c => Some(("storageType" -> "u") ~ ("cardinality" -> c))),
    1 -> Gen.const(Some(JObject(List("storageType" -> JString("u")))))) // no cardinality

  private val genPv: Gen[Map[String, String]] = for {
    pk <- Gen.oneOf(Some("1"), Some("42"), Some("-7"),
      Some(PartitionPaths.NullMarker), Some("bogus"), None)
    ps <- Gen.oneOf(Some("a"), Some("Zz"), Some("café"), // non-ASCII
      Some(PartitionPaths.NullMarker), None)
  } yield Map.empty[String, String] ++
    pk.map("pk" -> _) ++ ps.map("ps" -> _)

  private val genFile: Gen[AddFile] = for {
    st <- genStats
    dv <- genDv
    pv <- genPv
    i <- Gen.choose(0, 1 << 20)
  } yield AddFile(s"part-$i.parquet", pv, 1L, 1L, stats = st,
    deletionVector = dv)

  private val allAggs: Seq[StatAgg] = Seq(
    CountStar, CountCol("v"), CountCol("pk"), CountCol("ps"),
    MinCol("v", LongType), MaxCol("v", LongType),
    MinCol("s", StringType), MaxCol("s", StringType),
    MinCol("pk", LongType), MaxCol("pk", LongType),
    MinCol("ps", StringType), MaxCol("ps", StringType),
    MinCol("f", DoubleType), CountCol("missing"), MinCol("missing", LongType))

  private val genAggs: Gen[Seq[StatAgg]] =
    Gen.nonEmptyListOf(Gen.oneOf(allAggs)).map(_.distinct)

  /** Combine-form answer over an arbitrary grouping of `files`. */
  private def combined(files: Seq[AddFile], aggs: Seq[StatAgg],
                       splitAt: Seq[Int]): Option[Seq[Any]] = {
    if (aggs.exists(staticallyRefused(_, partCols, schema))) return None
    val idx = aggs.toIndexedSeq
    val groups: Seq[Seq[AddFile]] = {
      val cuts = (0 +: splitAt.map(_ % (files.size + 1)).sorted :+ files.size).distinct
      cuts.sliding(2).collect { case Seq(a, b) => files.slice(a, b) }.toSeq
    }
    val partials = groups.map(_.foldLeft(identityPartial(idx)) { (acc, f) =>
      merge(acc, contribute(f, partCols, schema, idx), idx, schema)
    })
    val acc = partials.foldLeft(identityPartial(idx))(merge(_, _, idx, schema))
    finish(acc, partCols, schema, idx)
  }

  test("combine form ≡ driver fold for random files, aggs, and groupings") {
    val genCase = for {
      files <- Gen.listOfN(14, genFile)
      aggs <- genAggs
      splits <- Gen.listOf(Gen.choose(0, 14))
    } yield (files, aggs, splits)
    var checked = 0
    (0 until 600).foreach { i =>
      val (files, aggs, splits) = genCase(
        Gen.Parameters.default, org.scalacheck.rng.Seed(1000L + i)).get
      val viaFold = answerFiles(files, partCols, schema, aggs)
      val viaCombine = combined(files, aggs, splits)
      assert(viaFold == viaCombine,
        s"divergence at seed ${1000 + i}:\nfold=$viaFold\ncombine=$viaCombine\n" +
          s"aggs=$aggs\nfiles=${files.mkString("\n")}")
      checked += 1
    }
    assert(checked == 600)
  }

  /** Grouped combine over an arbitrary grouping — the production gating
    * of foldGroupedAggregates (static refusal pre-check included). */
  private def combinedGrouped(files: Seq[AddFile], groupCols: Seq[String],
                              aggs: Seq[StatAgg],
                              splitAt: Seq[Int]): Option[Seq[Seq[Any]]] = {
    if (aggs.isEmpty || groupCols.isEmpty ||
        !groupCols.forall(partCols.contains) ||
        aggs.exists(staticallyRefused(_, partCols, schema))) return None
    val idx = aggs.toIndexedSeq
    val gIdx = groupCols.toIndexedSeq
    val groups: Seq[Seq[AddFile]] = {
      val cuts = (0 +: splitAt.map(_ % (files.size + 1)).sorted :+ files.size).distinct
      cuts.sliding(2).collect { case Seq(a, b) => files.slice(a, b) }.toSeq
    }
    val partials = groups.map(_.foldLeft(identityGrouped) { (acc, f) =>
      mergeGrouped(acc, contributeGrouped(f, gIdx, partCols, schema, idx),
        idx, schema)
    })
    val acc = partials.foldLeft(identityGrouped)(mergeGrouped(_, _, idx, schema))
    finishGrouped(acc, partCols, schema, gIdx, idx)
  }

  private def canon(rows: Option[Seq[Seq[Any]]]): Option[Seq[String]] =
    rows.map(_.map(_.map(String.valueOf).mkString("|")).sorted)

  test("grouped combine form ≡ driver grouped fold (order-insensitive)") {
    val genCase = for {
      files <- Gen.listOfN(14, genFile)
      aggs <- genAggs
      groupCols <- Gen.oneOf(Seq("pk"), Seq("ps"), Seq("pk", "ps"), Seq("v"))
      splits <- Gen.listOf(Gen.choose(0, 14))
    } yield (files, aggs, groupCols, splits)
    (0 until 600).foreach { i =>
      val (files, aggs, groupCols, splits) = genCase(
        Gen.Parameters.default, org.scalacheck.rng.Seed(9000L + i)).get
      val viaFold = canon(
        answerGroupedFiles(files, partCols, schema, groupCols, aggs))
      val viaCombine = canon(combinedGrouped(files, groupCols, aggs, splits))
      // the combine path refuses STATICALLY-refused aggregates up front;
      // the driver fold only hits them per surviving group, so it can
      // return the empty row set where the combine refuses — refusal is
      // the safe direction (the consumer falls back to the scan)
      val benignExtraRefusal = viaCombine.isEmpty &&
        viaFold.exists(_.isEmpty) &&
        aggs.exists(staticallyRefused(_, partCols, schema))
      assert(viaFold == viaCombine || benignExtraRefusal,
        s"divergence at seed ${9000 + i}:\nfold=$viaFold\ncombine=$viaCombine\n" +
          s"groupCols=$groupCols aggs=$aggs\nfiles=${files.mkString("\n")}")
    }
  }

  test("combine form refuses exactly when fold refuses (targeted edges)") {
    val idx = IndexedSeq[StatAgg](CountStar, MinCol("pk", LongType))
    // statless file poisons everything
    val statless = AddFile("a.parquet", Map("pk" -> "1", "ps" -> "a"), 1L, 1L)
    val good = AddFile("b.parquet", Map("pk" -> "2", "ps" -> "b"), 1L, 1L,
      stats = Some(FileStats(5, Map("v" -> JInt(1)), Map("v" -> JInt(3)),
        Map("v" -> 0L)).toJsonString))
    assert(answerFiles(Seq(statless, good), partCols, schema, idx).isEmpty)
    assert(combined(Seq(statless, good), idx, Seq(1)).isEmpty)
    // empty subset: COUNT 0, extremum NULL — both paths
    assert(answerFiles(Nil, partCols, schema, idx) == Some(Seq(0L, null)))
    assert(combined(Nil, idx, Nil) == Some(Seq(0L, null)))
  }
}
