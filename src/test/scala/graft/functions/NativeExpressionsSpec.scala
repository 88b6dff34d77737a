package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class NativeExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("native dot product is bit-identical to the composed built-in version") {
    val r = new scala.util.Random(11)
    val df = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat), Array.fill(64)(r.nextGaussian().toFloat))
    }.toDF("id", "a", "b")
    val both = df.select(
      NativeExpressions.dotNative($"a", $"b").as("native"),
      graft.Tables.dotComposed($"a", $"b").as("composed"))
    assert(both.filter($"native" =!= $"composed").count() == 0)
    // and against mixed float/double (literal hyperplane)
    val plane = Array.fill(64)(r.nextGaussian())
    val mixed = df.select(
      NativeExpressions.dotNative($"a", typedlit(plane)).as("native"),
      graft.Tables.dotComposed($"a", typedlit(plane)).as("composed"))
    assert(mixed.filter($"native" =!= $"composed").count() == 0)
  }

  test("native dot participates in whole-stage codegen") {
    val df = spark.range(100).select(
      array($"id".cast("double"), ($"id" + 1).cast("double")).as("a"),
      array(($"id" + 2).cast("double"), ($"id" + 3).cast("double")).as("b"))
    val out = df.select(NativeExpressions.dotNative($"a", $"b").as("d"))
    assert(out.head().getDouble(0) == 3.0) // 0*2 + 1*3
    // '*' node prefix marks a WholeStageCodegen stage — the expression did
    // not force an interpreted fallback.
    val hasCodegenStage = out.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage)
  }

  test("native minhash signature is bit-identical to the HOF composition") {
    val r = new scala.util.Random(7)
    val df = (0 until 100).map { i =>
      // variable-length shingle-hash arrays, incl. one empty
      (i.toLong, Array.fill(if (i == 3) 0 else 1 + r.nextInt(40))(r.nextInt(Int.MaxValue).toLong))
    }.toDF("id", "h")
    val cmp = df.select(
      $"id",
      NativeExpressions.minhashNative($"h", 128, 42L).as("n"),
      Dedup.minhashFromHashesHof($"h", 128, 42L).as("c"))
    assert(cmp.filter(!($"n" <=> $"c")).count() == 0)
    // empty input → k nulls, like array_min over an empty transform
    val empties = cmp.filter($"id" === 3).select($"n").head().getSeq[Any](0)
    assert(empties.size == 128 && empties.forall(_ == null))
  }

  test("fused hyperplane signature is bit-identical to the composed version") {
    val r = new scala.util.Random(13)
    val df = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat))
    }.toDF("id", "e")
    val planes = Similarity.hyperplanes(64, 128, 42L)
    val both = df.select(
      Similarity.signature($"e", planes).as("native"),
      Similarity.signatureComposed($"e", planes).as("composed"))
    assert(both.filter(!($"native" <=> $"composed")).count() == 0)
    // double-element inputs too
    val dd = df.select($"e".cast("array<double>").as("e"))
    val both2 = dd.select(
      Similarity.signature($"e", planes).as("native"),
      Similarity.signatureComposed($"e", planes).as("composed"))
    assert(both2.filter(!($"native" <=> $"composed")).count() == 0)
  }

  test("fused centroid ranking matches the composed greatest/array_sort versions") {
    val r = new scala.util.Random(17)
    val df = (0 until 300).map { i =>
      (i.toLong, Array.fill(32)(r.nextGaussian().toFloat))
    }.toDF("id", "e").withColumn("n", sqrt(graft.Tables.dot($"e", $"e")))
    val cents = (0 until 64).map(c =>
      (c.toLong * 3, Array.fill(32)(r.nextGaussian()))) // non-contiguous ids
    val cell = df.select(
      Similarity.nearestCell($"e", $"n", cents).as("native"),
      Similarity.nearestCellComposed($"e", $"n", cents).as("composed"))
    assert(cell.filter($"native" =!= $"composed").count() == 0)
    // multi-probe: same SET of probed cells (composed emits ascending order)
    val probes = df.select(
      array_sort(Similarity.nearestCells($"e", $"n", cents, 3)).as("native"),
      array_sort(Similarity.nearestCellsComposed($"e", $"n", cents, 3)).as("composed"))
    assert(probes.filter(!($"native" <=> $"composed")).count() == 0)
  }

  test("native simhash64 is bit-identical to the HOF composition") {
    val r = new scala.util.Random(9)
    val df = (0 until 100).map { i =>
      (i.toLong, Seq.fill(1 + r.nextInt(30))(s"tok${r.nextInt(50)}"))
    }.toDF("id", "toks")
    val cmp = df.select(
      Dedup.simhash64($"toks").as("n"),
      Dedup.simhash64Hof($"toks").as("c"))
    assert(cmp.filter(!($"n" <=> $"c")).count() == 0)
  }

  test("candidatePairs first-shared-band emission equals distinct of all bucket pairs") {
    val r = new scala.util.Random(13)
    // small band-key space forces heavy multi-band collisions
    val df = (0 until 60).map { i =>
      (i.toLong, Seq.fill(8)(r.nextInt(4).toLong))
    }.toDF("id", "bands")
    val got = Dedup.candidatePairs(df, "id", "bands")
      .as[(Long, Long)].collect().toSeq
    val buckets = df.select($"id", posexplode($"bands")).toDF("id", "band", "bh")
    val expected = buckets.as("a").join(buckets.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.id" < $"b.id")
      .select($"a.id", $"b.id").distinct().as[(Long, Long)].collect().toSeq
    assert(got.size == got.distinct.size, "pairs must be emitted exactly once")
    assert(got.toSet == expected.toSet)
  }

  test("fused TokenStats agrees with every HOF-derived text feature") {
    val r = new scala.util.Random(21)
    val vocab = Seq("the", "der", "el", "le", "fox", "dog", "und", "est",
      "alpha", "beta", "x", "..", "A.B", "??!")
    val random = (0 until 120).map { _ =>
      Seq.fill(1 + r.nextInt(40))(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    // adversarial shapes: empty text, single token, all-identical, all-distinct,
    // punctuation/uppercase noise, CJK
    val edge = Seq("", "solo", "rep rep rep rep rep", "a b c d e f g",
      "The, QUICK; brown!? fox.", "中文文本")
    val df = (random ++ edge).toDF("text")

    val feats = TextFunctions.repetitionFeatures($"text")
    val featsHof = TextFunctions.repetitionFeaturesHof($"text")
    val q = TextFunctions.qualityFeatures($"text")
    val qHof = TextFunctions.qualityFeaturesHof($"text")
    val cmp = df.select(
      (feats.map { case (n, c) => c.as(s"k_$n") } ++
        featsHof.map { case (n, c) => c.as(s"h_$n") } ++
        q.map { case (n, c) => c.as(s"kq_$n") } ++
        qHof.map { case (n, c) => c.as(s"hq_$n") } :+
        TextFunctions.languageId($"text").as("k_lang") :+
        TextFunctions.languageIdHof($"text").as("h_lang")): _*)
    for (n <- feats.map(_._1))
      assert(cmp.filter(!(col(s"k_$n") <=> col(s"h_$n"))).count() == 0, s"repetition $n")
    for (n <- q.map(_._1))
      assert(cmp.filter(!(col(s"kq_$n") <=> col(s"hq_$n"))).count() == 0, s"quality $n")
    assert(cmp.filter(!($"k_lang" <=> $"h_lang")).count() == 0, "languageId")
  }

  test("TokenStats runs inside whole-stage codegen") {
    // spark.range keeps the projection out of constant folding so the plan
    // actually exercises the codegen path.
    val df = spark.range(100).select(
      org.apache.spark.sql.functions.split(
        concat(lit("tok"), ($"id" % 5).cast("string"), lit(" the a tok0")), " ").as("toks"))
    val out = df.select(TextFunctions.tokenStats($"toks").as("ts"))
      .select($"ts.n_tokens", $"ts.top_count", $"ts.distinct_count")
    assert(out.head().getLong(0) == 4L)
    val hasCodegenStage = out.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage)
  }

  test("cosineNative matches Tables.cosine") {
    val r = new scala.util.Random(5)
    val df = (0 until 50).map { i =>
      (Array.fill(16)(r.nextGaussian().toFloat), Array.fill(16)(r.nextGaussian().toFloat))
    }.toDF("a", "b")
    val cmp = df.select(
      NativeExpressions.cosineNative($"a", $"b").as("n"),
      graft.Tables.cosine($"a", $"b").as("c"))
    assert(cmp.filter($"n" =!= $"c").count() == 0)
  }

  /** Texts that exercise every split edge: empty pieces from leading,
    * trailing and double spaces, non-ASCII tokens, and repeated shingles. */
  private def shingleTexts: Seq[String] = {
    val r = new scala.util.Random(29)
    val words = Vector("a", "b", "the", "é", "日本", "naïve", "a b", "", "x")
    val random = (0 until 300).map { _ =>
      Seq.fill(r.nextInt(12))(words(r.nextInt(words.size))).mkString(" ")
    }
    Seq(null, "", " ", "  ", "a", " a", "a ", " a b ", "a  b", "a b a b a b",
      "日本 語 日本 語", "x\ty z") ++ random
  }

  private def withCodegenModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try body(mode) finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }

  test("ShingleSet equals array_distinct(ngrams(tokens(text), n)) element for element") {
    val df = shingleTexts.toDF("t")
    withCodegenModes { mode =>
      (1 to 4).foreach { n =>
        val rows = df.select($"t", NativeExpressions.shingleSet($"t", n).as("k"),
          Dedup.shingleSetHof($"t", n).as("h")).collect()
        rows.foreach { r =>
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"$mode n=$n text=[${r.getString(0)}]")
        }
      }
    }
  }

  test("HashPrefix equals slice(array_sort(...)) under the (xxhash64, value) order") {
    val sets = shingleTexts.toDF("t").select(Dedup.shingleSetHof($"t", 2).as("s"))
      .union(Seq(Seq("b", "a", "b", "a"), Seq("z", null, "y"), null).toDF("s"))
    withCodegenModes { mode =>
      Seq(0.0, 0.3, 0.5, 0.8, 1.0).foreach { t =>
        val rows = sets.select($"s", NativeExpressions.hashPrefix($"s", t).as("k"),
          Dedup.hashPrefixHof($"s", t).as("h")).collect()
        rows.foreach { r =>
          assert(Option(r.getSeq[String](1)) == Option(r.getSeq[String](2)),
            s"$mode t=$t set=${Option(r.getSeq[String](0))}")
        }
      }
    }
  }

  test("shingle and prefix kernels run inside whole-stage codegen") {
    val out = spark.range(50)
      .select(concat(lit("w"), ($"id" % 7).cast("string"), lit(" a b c d")).as("t"))
      .select(NativeExpressions.hashPrefix(NativeExpressions.shingleSet($"t", 2), 0.5).as("p"))
    assert(out.head().getSeq[String](0).size == 3) // 4 bigrams: 4 - ⌈0.5·4⌉ + 1
    assert(out.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
  }
}
