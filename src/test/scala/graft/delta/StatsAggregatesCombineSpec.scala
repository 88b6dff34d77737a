package graft.delta

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

/**
 * The metadata-aggregate fold's algebra. Every route runs one bound
 * [[StatsAggregates.Fold]]: the driver folds the claimed files in order,
 * [[DistributedSnapshot.foldAggregates]] folds each RDD partition on an
 * executor and merges the states in whatever order they arrive. So for
 * ANY file set the generator can produce — stats present/absent, all-null
 * columns, DVs with/without cardinality, partition values
 * present/marker/absent/undecodable/non-ASCII — and ANY split of it merged
 * in ANY order, the answer must equal the sequential `foldLeft`. The
 * values themselves are pinned by the targeted edges here and, against
 * Spark's own aggregate, by `AggPushdownPropertySpec`.
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

  private def run(files: Seq[AddFile], groupCols: Seq[String],
                  aggs: Seq[StatAgg]): Option[Seq[Seq[Any]]] =
    bind(schema, partCols, groupCols, aggs).flatMap(f => f.finish(f.over(files)))

  /** The answer over `files` cut at `splitAt`, each piece folded on its
    * own and the states merged pairwise in a random order. */
  private def split(files: Seq[AddFile], groupCols: Seq[String], aggs: Seq[StatAgg],
                    splitAt: Seq[Int], seed: Long): Option[Seq[Seq[Any]]] =
    bind(schema, partCols, groupCols, aggs).flatMap { fold =>
      val cuts = (0 +: splitAt.map(_ % (files.size + 1)).sorted :+ files.size).distinct
      val states = scala.collection.mutable.ArrayBuffer.from(
        cuts.sliding(2).collect { case Seq(a, b) => fold.over(files.slice(a, b)) })
      val rnd = new scala.util.Random(seed)
      while (states.size > 1) {
        val x = states.remove(rnd.nextInt(states.size))
        val y = states.remove(rnd.nextInt(states.size))
        states += fold.merge(x, y)
      }
      fold.finish(states.headOption.getOrElse(fold.zero))
    }

  private def invariant(groupCols: Gen[Seq[String]], seed0: Long): Unit = {
    val genCase = for {
      files <- Gen.listOfN(14, genFile)
      aggs <- genAggs
      g <- groupCols
      splits <- Gen.listOf(Gen.choose(0, 14))
    } yield (files, aggs, g, splits)
    (0 until 600).foreach { i =>
      val seed = seed0 + i
      val (files, aggs, g, splits) =
        genCase(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get
      val sequential = run(files, g, aggs)
      val merged = split(files, g, aggs, splits, seed)
      assert(sequential == merged,
        s"divergence at seed $seed:\nsequential=$sequential\nmerged=$merged\n" +
          s"groupCols=$g aggs=$aggs\nfiles=${files.mkString("\n")}")
    }
  }

  test("global fold: any split and merge order equals the foldLeft") {
    invariant(Gen.const(Nil), 1000L)
  }

  test("grouped fold: any split and merge order equals the foldLeft") {
    invariant(Gen.oneOf(Seq("pk"), Seq("ps"), Seq("pk", "ps"), Seq("v")), 9000L)
  }

  private def file(pv: Map[String, String], stats: Option[FileStats],
                   dv: Option[JObject] = None): AddFile =
    AddFile(s"part-${pv.hashCode}-${stats.hashCode}.parquet", pv, 1L, 1L,
      stats = stats.map(_.toJsonString), deletionVector = dv)

  /** `n` rows, `v` spanning [lo, hi] with `vNulls` nulls. */
  private def stats(n: Long, lo: Long, hi: Long, vNulls: Long = 0L): Option[FileStats] =
    Some(FileStats(n, Map("v" -> JInt(lo)), Map("v" -> JInt(hi)), Map("v" -> vNulls)))

  private def dv(cardinality: Long): Option[JObject] =
    Some(("storageType" -> "u") ~ ("cardinality" -> cardinality))

  test("targeted edges answer their written-out values") {
    val pv = Map("pk" -> "1", "ps" -> "a")
    val good = file(pv, stats(5, 1, 3))
    val counts = Seq(CountStar, CountCol("v"), MinCol("v", LongType), MaxCol("v", LongType))
    assert(run(Seq(good), Nil, counts) == Some(Seq(Seq(5L, 5L, 1L, 3L))))

    // a statless file refuses every aggregate, grouped or not
    val statless = file(Map("pk" -> "2", "ps" -> "b"), None)
    assert(run(Seq(statless, good), Nil, Seq(CountStar)).isEmpty)
    assert(run(Seq(statless, good), Seq("ps"), Seq(CountStar)).isEmpty)

    // a DV without a cardinality leaves the surviving rows unknown
    val noCard = file(pv, stats(5, 1, 3), Some(JObject(List("storageType" -> JString("u")))))
    assert(run(Seq(noCard, good), Nil, Seq(CountStar)).isEmpty)
    assert(run(Seq(noCard, good), Nil, Seq(CountCol("pk"))).isEmpty)
    // ...while a readable one is subtracted, and data-column stats refuse
    val thinned = file(pv, stats(5, 1, 3), dv(2))
    assert(run(Seq(thinned, good), Nil, Seq(CountStar, CountCol("pk"), MaxCol("pk", LongType))) ==
      Some(Seq(Seq(8L, 8L, 1L))))
    assert(run(Seq(thinned, good), Nil, Seq(MinCol("v", LongType))).isEmpty)
    assert(run(Seq(thinned, good), Nil, Seq(CountCol("v"))).isEmpty)

    // an all-null column: no bounds, nullCount = numRecords
    val allNull = file(pv, Some(FileStats(4, Map.empty, Map.empty, Map("v" -> 4L))))
    assert(run(Seq(allNull), Nil, counts) == Some(Seq(Seq(4L, 0L, null, null))))
    assert(run(Seq(allNull, good), Nil, counts) == Some(Seq(Seq(9L, 5L, 1L, 3L))))
    // a missing bound on a file with non-null rows refuses
    val noBounds = file(pv, Some(FileStats(4, Map.empty, Map.empty, Map("v" -> 1L))))
    assert(run(Seq(noBounds, good), Nil, Seq(MaxCol("v", LongType))).isEmpty)

    // NullMarker: a NULL partition value, not counted, not an extremum, a key
    val nullPk = file(Map("pk" -> PartitionPaths.NullMarker, "ps" -> "a"), stats(7, 0, 9))
    assert(run(Seq(nullPk, good), Nil,
      Seq(CountCol("pk"), MinCol("pk", LongType), MaxCol("pk", LongType))) ==
      Some(Seq(Seq(5L, 1L, 1L))))
    assert(run(Seq(nullPk), Nil, Seq(CountCol("pk"), MinCol("pk", LongType))) ==
      Some(Seq(Seq(0L, null))))
    assert(run(Seq(good, nullPk), Seq("pk"), Seq(CountStar)) ==
      Some(Seq(Seq(null, 7L), Seq(1L, 5L))))

    // a missing partition value refuses what reads it, not COUNT(*)
    val noPk = file(Map("ps" -> "a"), stats(3, 0, 1))
    assert(run(Seq(noPk, good), Nil, Seq(CountStar)) == Some(Seq(Seq(8L))))
    assert(run(Seq(noPk, good), Nil, Seq(CountCol("pk"))).isEmpty)
    assert(run(Seq(noPk, good), Nil, Seq(MinCol("pk", LongType))).isEmpty)
    assert(run(Seq(noPk, good), Seq("pk"), Seq(CountStar)).isEmpty)

    // a partition value that does not decode refuses its extremum and key
    val bogus = file(Map("pk" -> "bogus", "ps" -> "a"), stats(3, 0, 1))
    assert(run(Seq(bogus, good), Nil, Seq(MaxCol("pk", LongType))).isEmpty)
    assert(run(Seq(bogus, good), Seq("pk"), Seq(CountStar)).isEmpty)

    // non-ASCII strings order by UTF-8 bytes, as Spark does: "\uFF76"
    // sorts above "\uD834\uDD1E" in Java's UTF-16 order, below it here
    val strs = Seq("Zz", "caf\u00e9", "\uFF76", "\uD834\uDD1E", "a")
      .map(s => file(Map("pk" -> "1", "ps" -> s), stats(1, 0, 0)))
    assert(run(strs, Nil, Seq(MinCol("ps", StringType), MaxCol("ps", StringType))) ==
      Some(Seq(Seq("Zz", "\uD834\uDD1E"))))
    assert(run(strs, Seq("ps"), Nil).map(_.map(_.head)) ==
      Some(Seq("Zz", "a", "caf\u00e9", "\uD834\uDD1E", "\uFF76")))

    // a group emptied by DVs vanishes, and its DV does not refuse MIN(v)
    val emptied = file(Map("pk" -> "1", "ps" -> "gone"), stats(4, 0, 100), dv(4))
    assert(run(Seq(emptied, good), Seq("ps"), Seq(CountStar, MinCol("v", LongType))) ==
      Some(Seq(Seq("a", 5L, 1L))))
    // DISTINCT: a grouped fold with zero aggregates
    assert(run(Seq(emptied, good, nullPk), Seq("pk"), Nil) == Some(Seq(Seq(null), Seq(1L))))

    // an empty file set: one global row, no groups
    assert(run(Nil, Nil, Seq(CountStar, MinCol("pk", LongType))) == Some(Seq(Seq(0L, null))))
    assert(run(Nil, Seq("ps"), Seq(CountStar)) == Some(Nil))

    // static refusals, before any file is read
    assert(bind(schema, partCols, Nil, Seq(MinCol("f", DoubleType))).isEmpty)
    assert(bind(schema, partCols, Nil, Seq(CountCol("missing"))).isEmpty)
    assert(bind(schema, partCols, Seq("v"), Seq(CountStar)).isEmpty)
    assert(bind(schema, partCols, Nil, Seq(CountCol("f"))).isDefined)
  }
}
