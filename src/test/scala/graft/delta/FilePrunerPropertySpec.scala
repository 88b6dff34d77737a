package graft.delta

import graft.SparkTestBase
import graft.query.MongoFilter
import org.json4s._
import org.scalacheck.Gen

/**
 * Pruning-soundness property: for ANY filter the grammar can produce —
 * equality/ranges/$in/$nin/$ne over string partitions (incl. the null
 * marker), date partitions, and int zone-map stats, combined with
 * $and/$or/$not — [[DataSkipping]] must never drop a file containing a row
 * the query would return. Ground truth is the UNPRUNED scan filtered by
 * the Column translation (the engine's own row semantics), compared to the
 * union of rows in the kept files.
 *
 * Guards the whole over-pruning bug class (the round-13 regression where
 * timestamp-partition equality pruned every file and silently returned
 * zero rows was exactly a violation of this invariant).
 */
case class PruneDoc(id: Int, s: Option[String],
                    d: Option[java.sql.Date], n: Option[Int])

class FilePrunerPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val genDoc = for {
    id <- Gen.choose(0, 1000000)
    s <- Gen.option(Gen.oneOf("a", "b", "c", "d"))
    day <- Gen.option(Gen.choose(1, 9))
    n <- Gen.option(Gen.choose(-5, 5))
  } yield PruneDoc(id, s, day.map(x => java.sql.Date.valueOf(s"2026-03-0$x")), n)

  private val genLeaf: Gen[JObject] = for {
    field <- Gen.oneOf("s", "d", "n")
    op <- Gen.oneOf("$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin")
    jv <- field match {
      case "s" => Gen.oneOf[JValue](JString("a"), JString("b"), JString("zz"), JNull)
      case "d" => Gen.oneOf[JValue](JString("2026-03-02"), JString("2026-03-05"),
        JString("2027-01-01"), JNull)
      case _ => Gen.oneOf[JValue](JInt(0), JInt(3), JInt(-2), JNull)
    }
  } yield {
    val alt: JValue = field match {
      case "s" => JString("c")
      case "d" => JString("2026-03-07")
      case _ => JInt(1)
    }
    val operand: JValue =
      if (op == "$in" || op == "$nin") JArray(List(jv, alt)) else jv
    JObject(List(field -> JObject(List(op -> operand))))
  }

  // $regex leaves: anchored (prunes on the literal prefix), anchored with
  // top-level alternation (must NOT prune), unanchored, optional-tail.
  private val genRegexLeaf: Gen[JObject] = for {
    p <- Gen.oneOf("^a", "^ab", "^a.*", "^a|b", "b", "^c?d", "^(a|b)x", "^zz")
  } yield JObject(List("s" -> JObject(List("$regex" -> JString(p)))))

  private val genFilter: Gen[JObject] = Gen.oneOf(
    genLeaf,
    genRegexLeaf,
    for { a <- genLeaf; b <- genRegexLeaf } yield
      JObject(List("$and" -> JArray(List(a, b)))),
    for { a <- genLeaf; b <- genLeaf } yield JObject(List("$and" -> JArray(List(a, b)))),
    for { a <- genLeaf; b <- genLeaf } yield JObject(List("$or" -> JArray(List(a, b)))),
    for { a <- genLeaf; b <- genLeaf; c <- genLeaf } yield
      JObject(List("$or" -> JArray(List(JObject(List("$and" -> JArray(List(a, b)))), c)))),
    for { a <- genLeaf } yield JObject(List("$not" -> a)))

  test("pruning never drops a file containing a matching row (random filters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune-prop").toString
    val docs = Gen.listOfN(120, genDoc)(Gen.Parameters.default,
      org.scalacheck.rng.Seed(7L)).get
    // small target file size → many files per partition → zone maps on n
    // actually discriminate between files of the same (s, d) partition
    docs.toDF("id", "s", "d", "n")
      .repartition(6)
      .write.format("graft-delta").option("partitionBy", "s,d").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    val snap = t.snapshot()
    val schema = spark.read.format("graft-delta").load(dir).schema

    // rows per file, attached once (partition cols from the path)
    val rowsByFile: Map[String, Set[Int]] = snap.activeFiles.map { f =>
      val ids = spark.read.parquet(
        new org.apache.hadoop.fs.Path(dir, f.path).toString)
        .select("id").as[Int].collect().toSet
      f.path -> ids
    }.toMap
    assert(rowsByFile.size >= 8, s"want many files, got ${rowsByFile.size}")

    val full = spark.read.format("graft-delta").load(dir).cache()
    var pruned = 0
    (0 until 80).foreach { i =>
      val filter = genFilter(Gen.Parameters.default,
        org.scalacheck.rng.Seed(1000L + i)).getOrElse(JObject(Nil))
      val expected = full.filter(MongoFilter.translate(filter, schema))
        .select("id").as[Int].collect().toSet
      val kept = DataSkipping.prune(snap, MongoFilter.translate(filter, schema))
        .map(_.path).toSet
      if (kept.size < rowsByFile.size) pruned += 1
      val keptIds = kept.flatMap(rowsByFile)
      val lost = expected -- keptIds
      assert(lost.isEmpty, s"filter=${org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(filter))} over-pruned: " +
        s"lost ids $lost (kept ${kept.size}/${rowsByFile.size} files)")
    }
    // the property is vacuous if nothing ever prunes — demand real skipping
    assert(pruned >= 20, s"only $pruned/80 filters pruned anything")
    full.unpersist()
    ()
  }

  test("double partition paths parse under the column type (foreign non-shortest rendering)") {
    // A foreign writer may render a double-exact but NON-SHORTEST path
    // value: "0.10000000000000001" parses back to exactly 0.1, but its raw
    // BigDecimal is strictly greater than BigDecimal("0.1") — a decimal-
    // string comparison mis-orders at $gte/$lte/$eq and wrongly prunes
    // files whose every row satisfies the predicate.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType)))
    val file = AddFile("x=0.10000000000000001/p.parquet",
      Map("x" -> "0.10000000000000001"), 1L, 1L)
    def keeps(op: String, lit: JValue, f: AddFile = file): Boolean =
      DataSkipping.bind(MongoFilter.translate(
        JObject(List("x" -> JObject(List(op -> lit)))), schema), schema, Seq("x"))(f)
    assert(keeps("$eq", JDouble(0.1)))   // value IS 0.1 → keep
    assert(keeps("$lte", JDouble(0.1)))  // boundary: 0.1 <= 0.1
    assert(keeps("$gte", JDouble(0.1)))
    assert(!keeps("$lt", JDouble(0.1)))  // proven equal → no row matches
    assert(!keeps("$gt", JDouble(0.1)))
    assert(!keeps("$ne", JDouble(0.1)))  // definite equality excludes all rows
    assert(keeps("$in", JArray(List(JDouble(0.3), JDouble(0.1)))))
    // unparseable path stays a conservative keep
    val bad = AddFile("x=oops/p.parquet", Map("x" -> "oops"), 1L, 1L)
    assert(keeps("$lte", JDouble(0.1), bad))
    assert(keeps("$gt", JDouble(0.1), bad))
    assert(keeps("$gte", JDouble(0.1), bad))
    assert(keeps("$eq", JDouble(0.1), bad))
  }

  test("regexLiteralPrefix extracts only safe anchored prefixes") {
    assert(DataSkipping.regexLiteralPrefix("^abc") == Some("abc"))
    assert(DataSkipping.regexLiteralPrefix("^abc.*def") == Some("abc"))
    assert(DataSkipping.regexLiteralPrefix("^ab(c|d)") == Some("ab"))
    assert(DataSkipping.regexLiteralPrefix("^ab[0-9]+") == Some("ab"))
    assert(DataSkipping.regexLiteralPrefix("^ab\\d") == Some("ab"))
    // quantifier makes the last literal char optional
    assert(DataSkipping.regexLiteralPrefix("^abc?") == Some("ab"))
    assert(DataSkipping.regexLiteralPrefix("^abc*") == Some("ab"))
    assert(DataSkipping.regexLiteralPrefix("^abc{0,2}") == Some("ab"))
    assert(DataSkipping.regexLiteralPrefix("^abc+") == Some("abc"))
    // no pruning: unanchored, empty prefix, top-level alternation
    assert(DataSkipping.regexLiteralPrefix("abc") == None)
    assert(DataSkipping.regexLiteralPrefix("^.*abc") == None)
    assert(DataSkipping.regexLiteralPrefix("^a|b") == None)
    assert(DataSkipping.regexLiteralPrefix("^ab|cd") == None)
    assert(DataSkipping.regexLiteralPrefix("^a?") == None)
    assert(DataSkipping.regexLiteralPrefix("^") == None)
    // class/escape containing | or ) stays prunable
    assert(DataSkipping.regexLiteralPrefix("^ab[|)]c") == Some("ab"))
    assert(DataSkipping.regexLiteralPrefix("^ab\\|c") == Some("ab"))
  }

  test("prefix pruning ($startsWith) is sound on UTF-8 edge values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune-prefix").toString
    // values straddling prefix boundaries, incl. supplementary-plane and
    // private-use characters whose UTF-16 vs UTF-8 orderings DISAGREE
    val vals: Seq[Option[String]] = Seq(
      Some("aa"), Some("ab"), Some("abc"), Some("abcd"), Some("ab￿"),
      Some("abx"), Some("ab😀"), // U+E000 vs U+1F600
      Some("ac"), Some("b"), Some(""), None)
    vals.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("id", "s")
      .repartition(11) // ~one value per file → tight per-file ranges
      .write.format("graft-delta").save(dir)
    val snap = DeltaTable.forPath(spark, dir).snapshot()
    val rowsByFile: Map[String, Set[Int]] = snap.activeFiles.map { f =>
      f.path -> spark.read.parquet(
        new org.apache.hadoop.fs.Path(dir, f.path).toString)
        .select("id").as[Int].collect().toSet
    }.toMap
    var prunedSomething = false
    for (p <- Seq("", "a", "ab", "abc", "ab", "b", "zz")) {
      val expected = vals.zipWithIndex
        .collect { case (Some(s), i) if s.startsWith(p) => i }.toSet
      val kept = DataSkipping.prune(snap,
        org.apache.spark.sql.functions.col("s").startsWith(p)).map(_.path).toSet
      if (kept.size < rowsByFile.size) prunedSomething = true
      val lost = expected -- kept.flatMap(rowsByFile)
      assert(lost.isEmpty, s"prefix '$p' over-pruned: lost $lost")
    }
    assert(prunedSomething)
  }
}
