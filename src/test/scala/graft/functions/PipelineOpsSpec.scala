package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today zzz"), // near-dup of 1
    (3L, "completely different content about spark shuffles and partitions here"),
    (4L, "der hund und die katze und das haus ist ein traum"),
    (5L, "el perro que corre es una cosa como por los campos")
  ).toDF("id", "text")

  test("ngrams produce overlapping word windows; short arrays give empty") {
    val row = docs.filter($"id" === 1)
      .select(TextFunctions.ngrams(TextFunctions.tokens($"text"), 3).as("g"))
      .head().getSeq[String](0)
    assert(row.head == "the quick brown" && row.contains("lazy dog again"))
    val empty = Seq((1L, "one two")).toDF("id", "text")
      .select(TextFunctions.ngrams(TextFunctions.tokens($"text"), 3).as("g"))
      .head().getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("languageId picks marker language; und when nothing matches") {
    val preds = docs.select($"id", TextFunctions.languageId($"text").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en" && preds(4L) == "de" && preds(5L) == "es")
    val und = Seq((9L, "xyzzy blorp")).toDF("id", "text")
      .select(TextFunctions.languageId($"text")).head().getString(0)
    assert(und == "und")
  }

  test("minhash near-dups find the constructed pair and only it") {
    val pairs = Dedup.minhashNearDups(docs, "id", "text", shingleSize = 3,
        k = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhash and simhash near-dups release their caches") {
    spark.catalog.clearCache()
    val mh = Dedup.minhashNearDups(docs, "id", "text", shingleSize = 3,
        k = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(spark.sharedState.cacheManager.isEmpty, "minhashNearDups left a cached frame")
    assert(mh.toSeq == Seq((1L, 2L)))
    val sh = Dedup.simhashNearDups(docs, "id", "text", maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(spark.sharedState.cacheManager.isEmpty, "simhashNearDups left a cached frame")
    assert(sh.contains((1L, 2L)))
  }

  test("minhash signature is deterministic across evaluations") {
    val sig1 = docs.select(Dedup.minhashSignature(
      TextFunctions.ngrams(TextFunctions.tokens($"text"), 3)).as("s"))
      .collect().map(_.getSeq[Long](0))
    val sig2 = docs.select(Dedup.minhashSignature(
      TextFunctions.ngrams(TextFunctions.tokens($"text"), 3)).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sig1.toSeq == sig2.toSeq)
    assert(sig1.head.size == 128)
  }

  test("simhash: near-dup texts within small hamming distance, distinct texts far") {
    val sigs = docs.select($"id", Dedup.simhash64(TextFunctions.tokens($"text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) <= 8)
    assert(ham(sigs(1L), sigs(3L)) > 8)
    val pairs = Dedup.simhashNearDups(docs, "id", "text", maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("LSH embedding near-dups find perturbed copies") {
    val r = new scala.util.Random(7)
    val base = (0 until 50).map { i =>
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val perturbed = base.map { case (i, v) =>
      (i + 1000L, v.updated(0, v(0) + 0.05f))
    }
    val df = (base ++ perturbed).toDF("id", "emb")
    val pairs = Similarity.lshNearDupPairs(df, "id", "emb", dim = 16,
        threshold = 0.95, nBits = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every base vector pairs with its perturbed copy
    assert((0 until 50).forall(i => pairs.contains((i.toLong, i + 1000L))))
  }

  test("ANN bucketed top-k returns plausible neighbors") {
    val r = new scala.util.Random(3)
    val vecs = (0 until 100).map(i => (i.toLong, Array.fill(16)(r.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "emb")
    val res = Similarity.annTopK(df.filter($"id" < 3), df, "id", "emb", "id", "emb",
      dim = 16, k = 3, nBits = 8)
    assert(res.count() >= 0) // bucketed: recall depends on cell collisions
    val bf = Similarity.bruteForceTopK(df.filter($"id" < 3), df, "id", "emb", "id", "emb", 3)
    assert(bf.count() == 9)
  }

  test("IVF-Flat ANN: cell assignment is deterministic, multi-probe recovers brute-force top-1") {
    val r = new scala.util.Random(7)
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(16)(r.nextGaussian())))
    val df = vecs.toDF("id", "emb")
    val cents = vecs.filter(_._1 % 40 == 0).map { case (id, e) => (id, e) } // 5 cells
    val queries = df.filter($"id" < 5)
    val ivf = Similarity.ivfTopK(queries, df, "id", "emb", "id", "emb",
      cents, k = 3, probes = 3).collect()
    // k results per query at most, ranked 1..k, cos descending within query
    val byQ = ivf.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.size))
      val coss = sorted.map(_.getDouble(2)).toSeq
      assert(coss == coss.sorted.reverse)
    }
    // with 3 of 5 cells probed, the true top-1 is found for most queries —
    // and the result set is a subset of the brute-force ranking's pairs
    val bf = Similarity.bruteForceTopK(queries, df, "id", "emb", "id", "emb", 200)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1)) -> r0.getDouble(2)).toMap
    ivf.foreach { r0 =>
      val key = (r0.getLong(0), r0.getLong(1))
      assert(math.abs(bf(key) - r0.getDouble(2)) < 1e-12) // same cosine values
    }
    // determinism: second run identical
    val again = Similarity.ivfTopK(queries, df, "id", "emb", "id", "emb",
      cents, k = 3, probes = 3).collect()
    assert(ivf.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("multimodal records: schema, batched feature extraction, frame sampling") {
    val media = Multimodal.asMediaRecords(
      docs.withColumn("payload", encode($"text", "UTF-8")), "id", "payload", "image", "png")
    val metaType = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaType.fields.map(f => (f.name, f.dataType)).toSeq ==
      Multimodal.MediaMetadataType.fields.map(f => (f.name, f.dataType)).toSeq)
    val feats = Multimodal.extractFeatures(media, batchSize = 2)
    assert(feats.count() == 5)
    val row = feats.filter($"media_id" === 1).head()
    assert(row.getSeq[Float](1).size == 8)
    // deterministic: same payload → same features
    val again = Multimodal.extractFeatures(media, batchSize = 3)
      .filter($"media_id" === 1).head()
    assert(row.getSeq[Float](1) == again.getSeq[Float](1))
    val frames = Multimodal.sampleFrames(media, everyMs = 60000)
    assert(frames.count() >= 5)
    val resized = Multimodal.resize(media, 224, 224)
    assert(resized.select("meta.width").distinct().head().getInt(0) == 224)
    // plan audit: decode runs as Dataset.mapPartitions over Tungsten rows —
    // an object map inside the SQL plan, never an RDD scan boundary
    val plan = feats.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("ExistingRDD"), "decode must not drop to the RDD API")
    // decoder trait is a drop-in seam: a custom impl flows through unchanged
    val custom = new Multimodal.MediaDecoder {
      override def decode(p: Array[Byte]): Array[Double] =
        Array(if (p == null) 0.0 else p.length.toDouble)
    }
    val customFeats = Multimodal.extractFeatures(media, batchSize = 2, decoder = custom)
    assert(customFeats.filter($"media_id" === 1).head().getSeq[Double](1).head > 0)
  }

  test("minhash: 1k identical docs collapse to one LSH representative (no quadratic bucket)") {
    // Degenerate corpus: every doc identical. Pre-collapse must keep the
    // bucket join at ONE row; the C(1000,2) output pairs come from the
    // within-group expansion, each at jaccard 1.0.
    val many = (1 to 1000).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val pairs = Dedup.minhashNearDups(many, "id", "text", threshold = 0.8)
    assert(pairs.count() == 1000L * 999 / 2)
    assert(pairs.filter($"jaccard" =!= 1.0).isEmpty)
    // plus one near-dup outsider: cross-group expansion pairs it with EVERY member
    val withOutsider = many.unionByName(
      Seq((5000L, "the quick brown fox jumps over the lazy dog extra")).toDF("id", "text"))
    val crossed = Dedup.minhashNearDups(withOutsider, "id", "text", threshold = 0.5)
    assert(crossed.filter($"id_b" === 5000L).count() == 1000)
  }

  test("simhash: identical docs pair at distance 0 via signature pre-collapse") {
    val many = (1 to 200).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "text")
    val pairs = Dedup.simhashNearDups(many, "id", "text", maxDistance = 3)
    assert(pairs.count() == 200L * 199 / 2)
    assert(pairs.filter($"distance" =!= 0).isEmpty)
  }

  test("within-group expansion is salted into bounded cells, pairs stay exact") {
    // 500 identical docs collapse to one rep; the C(500,2) within-group
    // pairs must NOT be emitted by a single task keyed on the group id —
    // with withinBlock=32 the group splits into ceil(500/32)=16 blocks and
    // 136 (p,q) join cells, each bounded at ~32² pairs.
    val many = (1 to 500).map(i => (i.toLong, "omega psi chi phi upsilon tau"))
      .toDF("id", "text")
    val pairs = Dedup.simhashNearDups(many, "id", "text", maxDistance = 3,
      withinBlock = 32)
    assert(pairs.count() == 500L * 499 / 2)
    assert(pairs.select("id_a", "id_b").distinct().count() == 500L * 499 / 2)
    assert(pairs.filter($"distance" =!= 0).isEmpty)
    // same guarantee on the minhash path (non-divisible block size)
    val mh = Dedup.minhashNearDups(
      (1 to 300).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
        .toDF("id", "text"),
      "id", "text", threshold = 0.8, withinBlock = 7)
    assert(mh.count() == 300L * 299 / 2)
    assert(mh.select("id_a", "id_b").distinct().count() == 300L * 299 / 2)
    assert(mh.filter($"jaccard" =!= 1.0).isEmpty)
  }

  test("packSequences: offset packing fills fixed-budget bins per shard") {
    // one shard, chunks of 60 tokens, budget 100: starts 0,60,120,180,240 →
    // bins 0,0,1,1,2
    val chunks = (0 until 5).map(i => (0L, i, 60L)).toDF("shard", "ix", "n_tokens")
    val got = Packing.packSequences(chunks, "n_tokens", "shard", Seq("ix"), 100)
      .orderBy($"ix").select("bin").as[Long].collect().toSeq
    assert(got == Seq(0L, 0L, 1L, 1L, 2L))
    // shards pack independently: same layout in each
    val sharded = (0 until 4).flatMap(s => (0 until 3).map(i => (s.toLong, i, 50L)))
      .toDF("shard", "ix", "n_tokens")
    val bins = Packing.packSequences(sharded, "n_tokens", "shard", Seq("ix"), 100)
      .groupBy("shard").agg(org.apache.spark.sql.functions.max($"bin").as("mx"))
      .select("mx").as[Long].collect().toSeq
    assert(bins == Seq(1L, 1L, 1L, 1L))
  }

  test("redactPii masks emails/phones/IPs, piiCounts mirrors the chain") {
    val df = Seq(
      "mail a.b+c@test.org or x@y.io, dial 555-123-4567, host 192.168.0.1 end",
      "no pii here").toDF("text")
    val out = df.select(TextFunctions.redactPii($"text").as("r") +:
      TextFunctions.piiCounts($"text").map { case (n, c) => c.as(n) }: _*)
      .collect()
    assert(out(0).getString(0) ==
      "mail <EMAIL> or <EMAIL>, dial <PHONE>, host <IP> end")
    assert(out(0).getInt(1) == 2 && out(0).getInt(2) == 1 && out(0).getInt(3) == 1)
    assert(out(1).getString(0) == "no pii here")
    assert(out(1).getInt(1) == 0 && out(1).getInt(2) == 0 && out(1).getInt(3) == 0)
  }

  test("duplicateGroups: transitive clusters collapse to min-id representative") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 10L).toDF("id")
    // 1~2, 2~3 (transitive: 3 joins 1's cluster without a direct 1~3 pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateGroups(ids, pairs, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 10L -> 10L))
    // a 60-hop chain converges via path halving well inside maxIter —
    // smallGraphEdges = 0 forces the DISTRIBUTED propagation path
    val chainIds = (1L to 61L).toDF("id")
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val reps = Dedup.duplicateGroups(chainIds, chain, "id", smallGraphEdges = 0L)
      .select("rep").distinct().as[Long].collect().toSeq
    assert(reps == Seq(1L))
  }

  test("duplicateGroups: driver union-find and distributed propagation agree") {
    val r = new scala.util.Random(41)
    (1 to 3).foreach { trial =>
      val n = 30 + r.nextInt(40)
      val ids = (1L to n.toLong).toDF("id")
      val pairs = (0 until n).flatMap { _ =>
        val a = 1 + r.nextInt(n); val b = 1 + r.nextInt(n)
        if (a == b) Nil else Seq((a.toLong, b.toLong))
      }.toDF("id_a", "id_b")
      val small = Dedup.duplicateGroups(ids, pairs, "id")
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.duplicateGroups(ids, pairs, "id", smallGraphEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(small == dist, s"trial $trial: hybrid paths disagree")
    }
  }

  test("salted within-group pairs are exact across random group/block shapes") {
    val r = new scala.util.Random(31)
    (1 to 4).foreach { trial =>
      val nGroups = 1 + r.nextInt(4)
      val sizes = (0 until nGroups).map(_ => 1 + r.nextInt(25))
      val docs = sizes.zipWithIndex.flatMap { case (m, g) =>
        // texts made maximally distinct across groups so no cross-group
        // simhash matches muddy the expectation
        val text = (0 until 12).map(k => s"g${g}w$k").mkString(" ")
        (0 until m).map(i => ((g * 1000 + i).toLong, text))
      }.toDF("id", "text")
      val block = 1 + r.nextInt(8)
      val got = Dedup.simhashNearDups(docs, "id", "text", withinBlock = block)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      assert(got.size == got.toSet.size, s"trial $trial: duplicate pairs")
      val expected = sizes.zipWithIndex.flatMap { case (m, g) =>
        for (i <- 0 until m; j <- i + 1 until m)
          yield ((g * 1000 + i).toLong, (g * 1000 + j).toLong)
      }.toSet
      assert(got.toSet == expected,
        s"trial $trial (sizes=$sizes block=$block): got ${got.size}, expected ${expected.size}")
    }
  }

  test("two LSH dedup operators compose in one query (unique observation names)") {
    // A fixed observe() name would fail analysis with duplicate observed
    // metrics when two candidatePairs-based operators meet in one plan.
    val docs = (1 to 30).map(i => (i.toLong, s"alpha beta gamma token$i delta"))
      .toDF("id", "text")
    val both = Dedup.minhashNearDups(docs, "id", "text", threshold = 0.8)
      .select($"id_a", $"id_b")
      .unionByName(Dedup.simhashNearDups(docs, "id", "text").select($"id_a", $"id_b"))
    both.count() // must analyze and execute
  }

  test("candidatePairs caps oversized buckets (logged, not silent) and keeps small ones") {
    // 50 ids share band-0 hash (oversized); ids 1,2 also share band-1 hash.
    val rows = (1 to 50).map { i =>
      val b1 = if (i <= 2) 7L else 100L + i
      (i.toLong, Array(99L, b1))
    }.toDF("id", "bands")
    val capped = Dedup.candidatePairs(rows, "id", "bands", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 50-wide band-0 bucket is dropped; band-1 keeps NO pair because
    // (1,2)'s earliest shared band (0) was capped — documented behavior
    assert(capped.isEmpty)
    val uncapped = Dedup.candidatePairs(rows, "id", "bands", maxBucket = 100000)
    assert(uncapped.count() == 50L * 49 / 2)
  }

  test("kmeansUpdate: one Lloyd step moves centroids toward cluster means") {
    // two tight clusters around (1,0) and (0,1); centroids start at the
    // cluster seeds, one update lands on the per-dimension member means
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.0f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.1f, 0.9f)), (12L, Array(0.0f, 0.8f)))
      .toDF("id", "emb")
    val cents = Seq((0L, Array(1.0, 0.0)), (10L, Array(0.0, 1.0)))
    val out = Similarity.kmeansUpdate(pts, "emb", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(out((0L, 0))._2 == 3 && out((10L, 0))._2 == 3) // 3 members each
    assert(math.abs(out((0L, 0))._1 - (1.0f.toDouble + 0.9f.toDouble + 0.8f.toDouble) / 3) < 1e-9)
    assert(math.abs(out((10L, 1))._1 - (1.0f.toDouble + 0.9f.toDouble + 0.8f.toDouble) / 3) < 1e-9)
    // feeding the result back in converges (fixed point within quantization)
    val next = out.toSeq.groupBy(_._1._1).map { case (cid, vs) =>
      (cid, vs.sortBy(_._1._2).map(_._2._1).toArray)
    }.toSeq.sortBy(_._1)
    val out2 = Similarity.kmeansUpdate(pts, "emb", next)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    next.foreach { case (cid, e) =>
      e.zipWithIndex.foreach { case (v, i) =>
        assert(math.abs(out2((cid, i)) - v) < 1e-9)
      }
    }
  }

  test("repetition features flag degenerate documents") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "a perfectly normal sentence with mostly unique words here")).toDF("id", "text")
    val feats = TextFunctions.repetitionFeatures($"text")
    val out = df.select($"id" +: feats.map { case (n, c) => c.as(n) }
        :+ TextFunctions.isRepetitive($"text").as("rep"): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("top_token_ratio") == 1.0)
    assert(out(1L).getAs[Double]("dup_bigram_ratio") > 0.8)
    assert(out(1L).getAs[Boolean]("rep"))
    assert(out(2L).getAs[Double]("unique_token_ratio") > 0.9)
    assert(!out(2L).getAs[Boolean]("rep"))
  }

  test("chunkWindows: overlap, short docs, exact boundaries") {
    val df = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")), // 20 tokens → 2 chunks
      (2L, "a b c"),                                  // short → 1 chunk
      (3L, (1 to 16).map(i => s"w$i").mkString(" "))  // exactly chunkSize → 1
    ).toDF("id", "text")
    val out = df.select($"id",
        explode(TextFunctions.chunkWindows($"text", 16, 8)).as("c"))
      .select($"id", $"c.ix", $"c.text", $"c.n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.count(_._1 == 1L) == 2)
    assert(out.count(_._1 == 2L) == 1 && out.count(_._1 == 3L) == 1)
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(c1(0)._3.startsWith("w1 w2") && c1(0)._4 == 16)
    assert(c1(1)._3.startsWith("w9 w10")) // stride 8 → second window starts at token 9
    assert(c1(1)._4 == 12) // 20 - 8 = 12 remaining tokens
    assert(out.find(_._1 == 2L).get._4 == 3)
  }

  test("quality score stays in a sane band and is deterministic") {
    val q = docs.select(TextFunctions.qualityScore($"text").as("q"))
      .as[Double].collect()
    assert(q.forall(v => v >= -0.1 && v <= 1.0))
  }
}
