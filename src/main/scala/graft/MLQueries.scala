package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.functions.{Corpus, Dedup, Multimodal, Packing, Similarity, TextFunctions}

/**
 * Training-data pipeline operators on the oracle gate: text analysis,
 * fingerprint/minhash/simhash dedup, embedding similarity search, and
 * multimodal binary plumbing. Oracle SQL reproduces each heuristic exactly
 * in DuckDB (token filters, md5 fingerprints, n-gram jaccard, double-precision
 * cosine); LSH paths are verified by exact recomputation over the candidate
 * pairs, with band counts sized so recall failures are ~impossible.
 */
object MLQueries {

  private def docsUnion(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 100)
    // r16 widened this union for the md5-shingle/minhash kernels; the
    // driver contradicted the win (t4 0.77×, t5 0.69×, t22 0.51× at
    // local[32]) and a 32-core idle-host A/B this round confirmed it:
    // widen-off t4 1.88→1.56 s, t15 3.15→2.78, t22 3.01→1.92, t35
    // 3.75→2.38. The filter keeps ~100 docs, so the round-robin exchange
    // fans 32 tasks over a few hundred KB — pure fixed cost. The kernels
    // that NEED parallelism get it from the widen sites inside
    // Dedup/Similarity, whose inputs carry honest size stats. REVERTED
    // (r17, verdict item 1).
    d.select(col("doc_id").as("id"), col("text"))
      .unionByName(d.select((col("doc_id") + 1000).as("id"),
        concat(col("text"), lit(" zzz")).as("text")))
  }

  /** Deterministic FIXED-SIZE centroid sample: stride = ceil(n/64) caps the
    * collected set at ~64 rows no matter the corpus size (an earlier `% 100`
    * rule collected n/100 rows — unbounded at scale). 64 keeps the map-side
    * `greatest(per-centroid score structs)` expression small enough for
    * whole-stage codegen. */
  private def sampledCentroids(e: DataFrame): Seq[(Long, Array[Double])] = {
    // Single job: the corpus count rides in as a broadcast 1-row aggregate
    // (its subtree prunes to zero data columns), so the embedding column is
    // read exactly once — the earlier count()-then-collect() shape scanned
    // the corpus twice. Selection rule unchanged (oracle SQL reproduces it).
    val cnt = broadcast(e.groupBy().agg(count(lit(1)).as("__n")))
    e.crossJoin(cnt)
      .filter(col("vec_id") %
        greatest(lit(1L), floor((col("__n") + 63L) / 64L).cast("long")) === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
  }

  private def vecsUnion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val perturbed = e.select(
      (col("vec_id") + 10000).as("id"),
      concat(
        array((element_at(col("embedding"), 1).cast(DoubleType) + lit(0.1)).cast(FloatType)),
        slice(col("embedding"), 2, 63)).as("embedding"))
    // r16 widened this union for the hyperplane-LSH kernel; reverted for
    // the same driver-contradicted reason as docsUnion (t7 0.65×,
    // t22 0.51×, t35 0.69× on the driver; idle-host A/B this round:
    // widen-off t7 1.79→1.15 s, t22 3.01→1.92, t35 3.75→2.38).
    e.select(col("vec_id").as("id"), col("embedding")).unionByName(perturbed)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- language ID (stopword-marker heuristic, SQL-reproducible) ----
    "t1_langid" -> ((s, dir) => {
      graft.Tables.widen(t(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.languageId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- quality scoring features ----
    "t2_quality" -> ((s, dir) => {
      val d = graft.Tables.widen(t(s, dir, "documents"))
      val feats = TextFunctions.qualityFeatures(col("text"))
      d.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }
          :+ TextFunctions.qualityScore(col("text")).as("quality"): _*)
        .orderBy(col("doc_id"))
    }),

    // ---- md5 fingerprint + exact dedup over a doubled corpus ----
    "t3_fingerprint_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val doubled = d.select(col("doc_id"), col("text"))
        .unionByName(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      doubled
        .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
        .filter(col("n") > 1)
        .orderBy(col("fp"))
    }),

    // ---- MinHash+LSH near-dup with exact-Jaccard verification ----
    "t4_minhash_neardup" -> ((s, dir) => {
      Dedup.minhashNearDups(docsUnion(s, dir), "id", "text",
          shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- duplicate clustering: connected components over the minhash
    //      near-dup pairs — one representative per transitive cluster, the
    //      form a curation pipeline actually keeps ----
    "t15_dedup_groups" -> ((s, dir) => {
      val docs = docsUnion(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "id", "text",
        shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
      Dedup.duplicateGroups(docs.select(col("id")), pairs, "id")
        .orderBy(col("id"))
    }),

    // ---- cluster retention by QUALITY: t15 keeps each near-dup cluster's
    //      min-id member; real curation keeps the BEST member. Same
    //      minhash pairs + connected components, then one id-keyed join
    //      with the quality score and a rep-keyed (quality DESC, id) rank —
    //      arg-max is deterministic because quality is bit-exact across
    //      engines (t2 proves it) and id breaks exact ties ----
    "t30_cluster_retention" -> ((s, dir) => {
      val docs = docsUnion(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "id", "text",
        shingleSize = 3, k = 128, bands = 32, threshold = 0.8)
      val groups = Dedup.duplicateGroups(docs.select(col("id")), pairs, "id")
      val quality = docs.select(col("id"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val byRep = Window.partitionBy(col("rep"))
      groups.join(quality, "id")
        .withColumn("rn",
          row_number().over(byRep.orderBy(col("q").desc, col("id"))))
        .withColumn("n_members", count(lit(1)).over(byRep))
        .filter(col("rn") === 1)
        .select(col("rep"), col("id").as("kept_id"), col("n_members"),
          round(col("q"), 4).as("best_q"))
        .orderBy(col("rep"))
    }),

    // ---- PII redaction (C4/RefinedWeb-style): mask emails/phones/IPs with
    //      class tokens + per-class counts — pure regexp chain, map-side;
    //      synthetic PII is injected deterministically per doc so the oracle
    //      recomputes byte-identical redactions ----
    "t16_pii_redaction" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
            lit(" call 555-123-4567 from 10.0.0."),
            (col("doc_id") % 256).cast("string")).as("text"))
      val counts = TextFunctions.piiCounts(col("text"))
      withPii.select(
          col("doc_id") +:
            TextFunctions.redactPii(col("text")).as("redacted") +:
            counts.map { case (n, c) => c.cast("long").as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing (training prep): chunk docs into 64-token
    //      windows, shard deterministically, pack each shard's chunks into
    //      512-token bins via one windowed cumulative sum — shards pack in
    //      parallel, no global single-task window ----
    "t17_sequence_packing" -> ((s, dir) => {
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.chunkWindows(col("text"), 64, 0)).as("c"))
        .select(col("doc_id"), col("c.ix").as("chunk_ix"),
          col("c.n_tokens").as("n_tokens"))
        .withColumn("shard",
          TextFunctions.md5Prefix32(col("doc_id").cast("string")) % 8)
      Packing.packSequences(chunks, "n_tokens", "shard",
          Seq("doc_id", "chunk_ix"), budget = 512)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("shard"), col("bin"))
    }),

    // ---- exact n-gram Jaccard pairs via prefix filtering (no cartesian;
    //      identical answer to the all-pairs verifier, equi-joins only) ----
    "t5_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardNearDups(
          t(s, dir, "documents").filter(col("doc_id") < 50)
            .select(col("doc_id").as("id"), col("text")),
          "id", "text", n = 2, threshold = 0.05)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- SimHash near-dup (md5-based token hash → DuckDB-reproducible) ----
    "t6_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashNearDups(docsUnion(s, dir), "id", "text", maxDistance = 3,
          tokenHasher = Dedup.md5Hash64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- embedding near-dup via hyperplane LSH + exact cosine verify ----
    "t7_embedding_neardup" -> ((s, dir) => {
      Similarity.lshNearDupPairs(vecsUnion(s, dir), "id", "embedding",
          dim = 64, threshold = 0.95, nBits = 128, bands = 16)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- semantic dedup: LSH-banded candidates → exact-cosine verify →
    //      anti-join survivors (keep lowest id per near-dup pair) ----
    // RECALL BOUND at this gate: candidate generation is banded LSH
    // (16 bands × 8 bits), which misses a cos≈0.95 pair with
    // P ≈ (1−p^8)^16 ≈ 1.4e-4 (p = 1 − arccos(0.95)/π), while the DuckDB
    // oracle is exact all-pairs. The gate passes deterministically on the
    // generated testdata (near-identical constructed dups sit far above
    // the threshold); if a future testdata generation plants
    // borderline-similarity pairs and this gate alone mismatches by a few
    // rows, triage it as LSH recall — raise `bands` or lower bits-per-band
    // here — not as a correctness regression.
    "t22_semantic_dedup" -> ((s, dir) => {
      graft.functions.Similarity.semanticDedup(vecsUnion(s, dir),
          "id", "embedding", dim = 64, threshold = 0.95,
          nBits = 128, bands = 16)
        .select(col("id")).orderBy(col("id"))
    }),

    // ---- IVF-Flat ANN: sampled centroids, map-side cell assignment,
    //      multi-probe equality-join search (the 100 TB similarity path) ----
    "q16_ivf_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = sampledCentroids(e)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopK(queries,
          e.select(col("vec_id"), col("embedding")),
          "qid", "embedding", "vec_id", "embedding",
          cents, k = 5, probes = 2)
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- benchmark decontamination: flag corpus docs sharing 5-gram
    //      shingles with a (small, broadcast) probe set — the standard
    //      eval-set leak check; corpus side stays map-side + one broadcast
    //      join, never an all-pairs comparison ----
    "t13_decontamination" -> ((s, dir) => {
      // 16 KB/task: the 5-gram shingle explosion is ~10x a plain text
      // kernel per byte — full fan-out pays even on small inputs (r17 A/B)
      val d = graft.Tables.widen(t(s, dir, "documents"), bytesPerTask = 16L << 10)
      val probes = d.filter(col("doc_id") < 5)
        .select(explode(array_distinct(
          TextFunctions.ngrams(TextFunctions.tokens(col("text")), 5))).as("sh"))
        .distinct()
      val corpus = d.filter(col("doc_id") >= 5)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.ngrams(TextFunctions.tokens(col("text")), 5))).as("sh"))
      corpus.join(broadcast(probes), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // ---- duplicated-span census: share of each doc's trigram occurrences
    //      that repeat corpus-wide (exact-substring dedup signal) ----
    "t20_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpanStats(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "doc_id", "text", n = 3)
        .orderBy(col("doc"))
    }),

    // ---- corpus-self-trained bigram surprisal (perplexity-style quality
    //      filter; the corpus is its own LM, Laplace-smoothed) ----
    "t21_bigram_surprisal" -> ((s, dir) => {
      Corpus.bigramSurprisal(
          t(s, dir, "documents").filter(col("doc_id") < 150),
          "doc_id", "text")
        .orderBy(col("doc"))
    }),

    // ---- TF-IDF keyword extraction: corpus df + per-doc tf, smoothed idf,
    //      top-5 per document (retrieval/tagging prep) ----
    "t18_tfidf_topk" -> ((s, dir) => {
      Corpus.tfidfTopK(t(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", k = 5)
        .orderBy(col("doc"), col("rank"))
    }),

    // ---- inverted index: token → df + capped sorted posting list (the
    //      row_number cap bounds aggregation state per token) ----
    "t19_inverted_index" -> ((s, dir) => {
      Corpus.invertedIndex(t(s, dir, "documents").filter(col("doc_id") < 150),
          "doc_id", "text", maxPostings = 20)
        .orderBy(col("token"))
    }),

    // ---- stratified sampling (data mixing): per-language rates with a
    //      DETERMINISTIC md5-hash selector — reproducible across engines
    //      and runs, no RNG state, pure map-side ----
    "t14_stratified_sample" -> ((s, dir) => {
      val sel = TextFunctions.md5Prefix32(col("doc_id").cast("string")) % 100
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "de", 30).otherwise(10)
      t(s, dir, "documents")
        .filter(sel < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    }),

    // ---- document chunking: overlapping token windows (16 tokens, 8
    //      overlap) — the long-document prep for training corpora ----
    "t12_chunking" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode(TextFunctions.chunkWindows(col("text"), 16, 8)).as("c"))
        .select(col("doc_id"), col("c.ix").as("chunk_ix"),
          col("c.text").as("chunk_text"), col("c.n_tokens").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_ix"))
    }),

    // ---- repetition filtering (Gopher-style): top-token share, distinct
    //      share, duplicate bigrams — per-row exprs, no shuffle ----
    "t10_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val feats = TextFunctions.repetitionFeatures(col("text"))
      d.select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }
          :+ TextFunctions.isRepetitive(col("text")).as("repetitive"): _*)
        .orderBy(col("doc_id"))
    }),

    // ---- distributed k-means step: map-side assignment + one shuffle on
    //      (cell, dim) for the mean update — how IVF centroids get trained ----
    "q17_kmeans_update" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.kmeansUpdate(e, "embedding", sampledCentroids(e))
        .orderBy(col("cid"), col("dim"))
    }),

    // ---- IVF quality, composed end-to-end: 5 distributed Lloyd
    //      iterations (q17's step, iterated) train the q16 sampled init,
    //      then multi-probe IVF search must RECOVER PLANTED TRUE NEIGHBORS
    //      — each query is a perturbed copy of a corpus vector (+0.1 on
    //      dim 0, the t7/t22 construction), and its origin must appear in
    //      the IVF top-10. recall >= 0.9 is the gate. The testdata
    //      embeddings are otherwise near-random (measured top-1 cosine
    //      ≈ 0.37), so "recall@10 of arbitrary neighbors" would measure
    //      noise ordering, not quantizer quality: on random vectors ANY
    //      sublinear ANN's recall collapses to the scanned fraction
    //      (measured: 16/63 probed cells → 0.68). Recall of true near
    //      neighbors is the metric IVF exists for. MEASURED on the
    //      driver testdata (round 9): probes=2 → recall 1.0 at
    //      sf0.001/0.01/0.1; probes=1 → 0.983 at sf0.1. If a future
    //      generation flips recall_ok, raise `probes` — triage as ANN
    //      recall, not correctness. ----
    "q20_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansTrain(e.select(col("embedding")),
        "embedding", sampledCentroids(e), iters = 5)
      val queries = e.filter(col("vec_id") % 17 === 3)
        .select((col("vec_id") + 1000000).as("qid"),
          concat(
            array((element_at(col("embedding"), 1).cast(DoubleType) + lit(0.1))
              .cast(FloatType)),
            slice(col("embedding"), 2, 1000000)).as("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding"))
      Similarity.ivfTopK(queries, corpus, "qid", "embedding",
          "vec_id", "embedding", cents, k = 10, probes = 2)
        .groupBy()
        .agg(countDistinct(col("qid")).as("n_searched"),
          count(when(col("qid") - 1000000 === col("nid"), 1)).as("hits"))
        .select(col("n_searched"),
          (col("hits") >= ceil(col("n_searched") * 0.9)).as("recall_ok"))
    }),

    // ---- end-to-end corpus curation: exact dedup (keep lowest id) →
    //      language ID → quality score → repetition filter, composed as one
    //      declarative plan (one dedup shuffle; every other step map-side) ----
    "t11_curation_pipeline" -> ((s, dir) => {
      val d = graft.Tables.widen(t(s, dir, "documents"))
        .select(col("doc_id"), col("text"))
      val doubled = d.unionByName(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val deduped = doubled
        .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("text"), col("doc_id")).as("text"))
      // No cache barrier needed: the features derive from the fused one-pass
      // TokenStats kernel, so even when CollapseProject inlines them into
      // both the filter and the projection the cost is two tight passes over
      // the tokens — not two rounds of O(distinct·tokens) interpreted
      // lambdas, and no full-corpus materialization at scale.
      deduped.select(col("doc_id"),
          TextFunctions.languageId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.isRepetitive(col("text")).as("rep"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5 && !col("rep"))
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: binary payload + metadata plumbing ----
    "t8_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.asMediaRecords(
        t(s, dir, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload", "image", "png")
      media.select(
          col("media_id"),
          col("meta.size_bytes").as("size_bytes"),
          substring(hex(col("payload")), 1, 16).as("hex_prefix"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal feature extraction (deterministic stub decode, the
    //      byte-sum features are recomputed exactly by the DuckDB oracle) ----
    "t9_media_features" -> ((s, dir) => {
      val media = Multimodal.asMediaRecords(
        t(s, dir, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload", "image", "png")
      Multimodal.extractFeatures(media)
        .select(col("media_id"), size(col("features")).as("n_features"),
          round(element_at(col("features"), 1).cast(DoubleType), 4).as("f0"))
        .orderBy(col("media_id"))
    }),

    // ---- C4-style duplicate-line removal: corpus-wide line census →
    //      strike boilerplate lines from every doc (order preserved).
    //      The corpus injects two all-doc boilerplate lines, one
    //      per-group promo line, and one per-doc unique line, so the
    //      census sees every df regime ----
    "t23_line_dedup" -> ((s, dir) => {
      val cleaned = Corpus.lineDedup(linedDocs(s, dir), "doc_id", "text",
        minDocs = 3)
      cleaned.select(col("doc").as("doc_id"), col("n_lines"),
          col("kept_lines"), col("removed_lines"),
          when(col("kept_lines") === 0, lit(null).cast("string"))
            .otherwise(md5(col("clean_text"))).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-rule quality flags (Rae et al. 2021): integer-arithmetic
    //      restatement of every ratio rule, so the booleans are bit-exact
    //      across engines; the corpus perturbs docs by id class (bullets/
    //      ellipses, symbol spam, truncation) so every rule fires ----
    "t24_gopher_quality" -> ((s, dir) => {
      val perturbed = graft.Tables.widen(t(s, dir, "documents")).select(col("doc_id"),
        when(col("doc_id") % 4 === 1,
            concat(col("text"), lit("\n- item one\n- item two\n- item three...")))
          .when(col("doc_id") % 4 === 2,
            concat(col("text"), lit(" "), repeat(lit("# "), 20)))
          .when(col("doc_id") % 4 === 3, substring(col("text"), 1, 40))
          .otherwise(col("text")).as("text"))
      val flags = TextFunctions.gopherFlags(col("text"))
      perturbed.select(col("doc_id") +: flags.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic epoch shuffle + shard assignment: md5(seed:id)
    //      permutation key, map-side shard, per-shard rank — the scalable
    //      replacement for a global ORDER BY random() ----
    "t25_epoch_shards" -> ((s, dir) => {
      Packing.epochShards(t(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = "epoch1", hexDigits = 2)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // ---- DSIR importance weights (Xie et al. 2023): hashed-bigram
    //      log-likelihood ratio of the target domain (lang='en') vs the raw
    //      corpus — 128 buckets cap the shuffle key space per doc, both
    //      distributions come back as ONE broadcast 128-row table ----
    "t31_dsir_weights" -> ((s, dir) => {
      Corpus.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          targetFilter = col("lang") === "en")
        .orderBy(col("doc"))
    }),

    // ---- quality-classifier inference: hashed-bag-of-words linear model,
    //      σ(mean w(token)) — pure map-side (the weight table IS the hash;
    //      a trained model swaps in a broadcast bucket→weight lookup) ----
    "t32_classifier_score" -> ((s, dir) => {
      graft.Tables.widen(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextFunctions.classifierScore(col("text")).as("score"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- intra-class embedding outliers: bottom-5 cosine-to-centroid per
    //      label (the CLIP-score prune analog); centroids are one
    //      (label,dim)-keyed aggregation broadcast back to the corpus ----
    "t33_centroid_outliers" -> ((s, dir) => {
      Similarity.centroidOutliers(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("label"), col("rank"))
    }),

    // ---- temperature-flattened source mixture (α≈0.5): per-doc keep rate
    //      ∝ 1/⌊√n_source⌋ so sampled counts grow ∝ √n_source — smaller
    //      sources keep more, none is erased (the multilingual-mixing rule).
    //      Integer-exact: floor(sqrt) is IEEE-correctly-rounded, everything
    //      after is BIGINT; census + rates broadcast, gate map-side ----
    "t34_temperature_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val census = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
      val minw = broadcast(census.agg(min(col("w")).as("minw")))
      val rates = census.crossJoin(minw)
        .withColumn("rate", expr("minw * 1000000 div w"))
      val sel = TextFunctions.md5Prefix32(col("doc_id").cast("string")) % 1000000L
      d.join(broadcast(rates), "source")
        .filter(sel < col("rate"))
        .groupBy(col("source"))
        .agg(first(col("n_docs")).as("n_docs"), first(col("rate")).as("rate"),
          count(lit(1)).as("n_sampled"))
        .orderBy(col("source"))
    }),

    // ---- incremental dedup: classify a NEW batch against the EXISTING
    //      corpus (one map pass over the corpus probes the batch's
    //      fingerprints and hash-ordered PPJoin prefixes, exact-Jaccard
    //      verify) — the every-refresh step that avoids re-deduping the
    //      whole union from scratch ----
    "t35_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val existing = d.filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val batch = d.filter(col("doc_id") >= 200 && col("doc_id") < 300)
          .select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 1000).as("doc_id"),
            concat(col("text"), lit(" zzz zzz zzz")).as("text")))
        .unionByName(d.filter(col("doc_id") >= 40 && col("doc_id") < 70)
          .select((col("doc_id") + 2000).as("doc_id"), col("text")))
      Dedup.incrementalDedup(existing, batch, "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- cross-corpus novelty: share of each NEW doc's distinct trigrams
    //      unseen in the existing corpus (the memorization/duplication
    //      signal scored per incoming doc; t28 scores against a small probe
    //      set, this scores against the WHOLE corpus). The census join is
    //      gram-keyed on both sides; the planner broadcasts it at gate SF
    //      (tiny census) and falls back to a shuffle join when the census
    //      outgrows the threshold — a web corpus's distinct-shingle set is
    //      unbounded, so the equi-join keying is what matters ----
    "t36_novelty_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val seen = d.filter(col("doc_id") < 300)
        .select(explode(array_distinct(
          TextFunctions.ngrams(TextFunctions.tokens(col("text")), 3))).as("g"))
        .distinct()
        .withColumn("known", lit(1L))
      val fresh = d.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.ngrams(TextFunctions.tokens(col("text")), 3))).as("g"))
      fresh.join(seen, Seq("g"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("known").isNull, 1)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel") / col("n_grams"), 4))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus report card: per (source, lang) volume, token mass,
    //      fixed-point quality mass, and docs failing the Gopher rule —
    //      the summary every curation run ships with. One corpus pass:
    //      every metric is a map-side expression aggregated once ----
    "t37_corpus_report" -> ((s, dir) => {
      val gf = TextFunctions.gopherFlags(col("text")).toMap
      t(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("toks"),
          TextFunctions.qualityScore(col("text")).as("q"),
          gf("f_word_count").as("wc_ok"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          // quality mass in exact fixed-point (q·10⁴ as BIGINT): a rounded
          // AVG sits on half-way boundaries that the engines' round() can
          // break differently; the integer sum has no boundary at all
          sum((round(col("q"), 4).cast(DecimalType(8, 4)) * 10000)
            .cast("long")).as("sum_quality4"),
          count(when(!col("wc_ok"), 1)).as("n_flagged"))
        .orderBy(col("source"), col("lang"))
    }),

    // ---- high-df token census: the boilerplate/stopword report used to
    //      pick df-pruning thresholds (one (doc,token)-keyed shuffle, then
    //      a token rollup; corpus size broadcast as a scalar) ----
    "t29_high_df" -> ((s, dir) => {
      Corpus.highDfTokens(t(s, dir, "documents"), "doc_id", "text",
          minDocFrac = 0.2)
        .orderBy(col("token"))
    }),

    // ---- source balancing (corpus-derived mixture): downsample every
    //      source to the SMALLEST source's size with a deterministic
    //      integer hash gate — rates come from the corpus census, not
    //      fixed constants (t14's shape); census + target are broadcast,
    //      the gate is map-side, all-integer (bit-exact across engines) ----
    "t27_source_balance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val census = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val target = broadcast(census.agg(min(col("n_docs")).as("target")))
      val sel = TextFunctions.md5Prefix32(col("doc_id").cast("string"))
      d.join(broadcast(census), "source")
        .crossJoin(target)
        .filter(sel % col("n_docs") < col("target"))
        .groupBy(col("source"))
        .agg(first(col("n_docs")).as("n_docs"),
          count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("source"))
    }),

    // ---- contamination decision (t13 reports hit counts for flagged
    //      docs; this emits the standard fraction-threshold verdict for
    //      EVERY corpus doc): contaminated iff probe-shingle hits reach
    //      5% of the doc's distinct shingles — integer cross-multiplied,
    //      totals and hits counted in ONE corpus pass ----
    "t28_contamination_flag" -> ((s, dir) => {
      // 16 KB/task — same 5-gram explosion as t13 (r17 A/B)
      val d = graft.Tables.widen(t(s, dir, "documents"), bytesPerTask = 16L << 10)
      val probes = d.filter(col("doc_id") < 5)
        .select(explode(array_distinct(
          TextFunctions.ngrams(TextFunctions.tokens(col("text")), 5))).as("sh"))
        .distinct()
        .withColumn("hit", lit(1L))
      val corpus = d.filter(col("doc_id") >= 5)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.ngrams(TextFunctions.tokens(col("text")), 5))).as("sh"))
      corpus.join(broadcast(probes), Seq("sh"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(col("hit")).as("n_hits"))
        .withColumn("contaminated", col("n_hits") * 20 >= col("n_shingles"))
        .orderBy(col("doc_id"))
    }),

    // ---- exact duplicated-span removal (Lee et al. ExactSubstr): every
    //      fifth doc gains a shared 30-token paragraph; keep-first masks it
    //      everywhere but its lowest-(doc,pos) occurrence. t20 is the
    //      census; this is the dedup itself ----
    "t26_span_removal" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" " + SharedPara)))
          .otherwise(col("text")).as("text"))
      Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", k = 10)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("dup_tokens"),
          when(col("n_tokens") === col("dup_tokens"), lit(null).cast("string"))
            .otherwise(md5(col("clean_text"))).as("clean_fp"))
        .orderBy(col("doc_id"))
    }))

  /** t26's injected duplicate: a 30-token paragraph (> k = 10, so interior
    * grams duplicate across every fifth doc while boundary grams straddle
    * each doc's unique text). */
  private val SharedPara: String =
    "shared span alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "red green blue yellow"

  /** t23's corpus: every doc gains two corpus-wide boilerplate lines, a
    * promo line shared by its `doc_id % 10` group, and a unique signature
    * line — so with `minDocs = 3` the census must remove the first three
    * and keep the original text + signature. */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit("\nsubscribe to our newsletter today"),
        lit("\ncopyright example corp all rights reserved"),
        lit("\ngroup "), (col("doc_id") % 10).cast("string"), lit(" promo line"),
        lit("\ndoc "), col("doc_id").cast("string"), lit(" unique signature")
      ).as("text"))

  private val markerSql: Map[String, String] = TextFunctions.Markers.toMap.map {
    case (lang, words) => lang -> words.map(w => s"'$w'").mkString("[", ", ", "]")
  }

  /** Shared oracle fragments for the minhash-cluster family (t4, t15, t30):
    * the doubled corpus + distinct trigram shingle sets, and the recursive
    * connected-component walk over the ≥0.8-jaccard pair set. ONE
    * definition, so a corpus or threshold change cannot silently
    * desynchronize gates that must share semantics. */
  private val DupCorpusSetsSql: String =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 100
      |  UNION ALL
      |  SELECT doc_id + 1000, text || ' zzz' FROM documents WHERE doc_id < 100),
      |sets AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(len(string_split(text,' ')) - 2),
      |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3]
      |  )) AS sh FROM corpus)""".stripMargin

  private val CcWalkSql: String =
    """pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sets a, sets b
      |  WHERE a.id < b.id
      |    AND len(list_distinct(list_concat(a.sh, b.sh))) > 0
      |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.8),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |walk(id, r) AS (
      |  SELECT id, id FROM corpus
      |  UNION
      |  SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "t1_langid" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("de")}, t))) AS s_de,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("en")}, t))) AS s_en,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("es")}, t))) AS s_es,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("fr")}, t))) AS s_fr,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
         |    length(text) AS n
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN cjk * 2 > n THEN 'zh'
         |       WHEN greatest(s_de,s_en,s_es,s_fr) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
         |       WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
         |       WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
         |       ELSE 'fr' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin,

    "t2_quality" -> {
      val allMarkers = TextFunctions.Markers.flatMap(_._2).map(w => s"'$w'")
        .mkString("[", ", ", "]")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |    CAST(list_sum(list_transform(string_split(text,' '), t -> length(t))) AS DOUBLE)
         |      / CAST(len(string_split(text,' ')) AS DOUBLE) AS avg_token_len,
         |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
         |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS upper_count,
         |    CAST(len(list_filter(string_split(text,' '), t -> list_contains($allMarkers, t))) AS DOUBLE)
         |      / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens, avg_token_len, punct_count, upper_count,
         |  stopword_ratio,
         |  ((CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END
         |    + least(stopword_ratio * 2.0, 0.3)) + 0.2)
         |    - least(CAST(punct_count AS DOUBLE) / CAST(n_chars AS DOUBLE) * 5.0, 0.2) AS quality
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "t3_fingerprint_dedup" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |  COUNT(*) AS n, min(doc_id) AS first_id
        |FROM doubled GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin,

    "t4_minhash_neardup" ->
      s"""WITH $DupCorpusSetsSql,
         |pairs AS (
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |       ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END AS jaccard
         |FROM sets a, sets b
         |WHERE a.id < b.id)
         |SELECT * FROM pairs WHERE jaccard >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // Connected components recomputed from scratch: the t4 pair set (exact
    // all-pairs jaccard at this SF) symmetrized into an edge list, then a
    // recursive label walk — min reachable id per node = the cluster rep.
    "t15_dedup_groups" ->
      s"""WITH RECURSIVE $DupCorpusSetsSql,
         |$CcWalkSql
         |SELECT id, min(r) AS rep FROM walk GROUP BY id ORDER BY id""".stripMargin,

    // t15's recursive component walk + t2's quality arithmetic, arg-max by
    // (quality DESC, id) per representative.
    "t30_cluster_retention" -> {
      val allMarkers = TextFunctions.Markers.flatMap(_._2).map(w => s"'$w'")
        .mkString("[", ", ", "]")
      // quality expression = TextFunctions.qualityScore verbatim (t2's gate
      // pins the arithmetic cross-engine)
      s"""WITH RECURSIVE $DupCorpusSetsSql,
         |$CcWalkSql,
         |grp AS (SELECT id, min(r) AS rep FROM walk GROUP BY id),
         |q AS (
         |  SELECT id,
         |    ((CASE WHEN length(text) >= 100 AND length(text) <= 10000
         |        THEN 0.5 ELSE 0.0 END
         |      + least(CAST(len(list_filter(string_split(text,' '),
         |            t -> list_contains($allMarkers, t))) AS DOUBLE)
         |          / CAST(len(string_split(text,' ')) AS DOUBLE) * 2.0, 0.3))
         |      + 0.2)
         |      - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |          / CAST(length(text) AS DOUBLE) * 5.0, 0.2) AS q
         |  FROM corpus),
         |j AS (
         |  SELECT g.rep, g.id, q.q,
         |    row_number() OVER (PARTITION BY g.rep ORDER BY q.q DESC, g.id) AS rn,
         |    count(*) OVER (PARTITION BY g.rep) AS n_members
         |  FROM grp g JOIN q ON g.id = q.id)
         |SELECT rep, id AS kept_id, n_members, round(q, 4) AS best_q
         |FROM j WHERE rn = 1 ORDER BY rep""".stripMargin
    },

    "t16_pii_redaction" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
        |    ' call 555-123-4567 from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
        |  FROM documents WHERE doc_id < 200),
        |s1 AS (SELECT doc_id, text,
        |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r1
        |  FROM withpii),
        |s2 AS (SELECT *, regexp_replace(r1, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS r2 FROM s1),
        |s3 AS (SELECT *,
        |  regexp_replace(r2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS r3 FROM s2)
        |SELECT doc_id, r3 AS redacted,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(r1, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(r2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4
        |FROM s3 ORDER BY doc_id""".stripMargin,

    // Same chunking arithmetic as t12 at size 64 / overlap 0, the t14 md5
    // shard selector, and the windowed running offset — all reproducible.
    "t17_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    unnest(range(CASE WHEN n <= 64 THEN 1
        |                      ELSE (n - 64 + 63) // 64 + 1 END)) AS ix,
        |    n
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, CAST(ix AS INTEGER) AS chunk_ix,
        |    CAST(least(64, n - ix*64) AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8 AS BIGINT) AS shard
        |  FROM c),
        |p AS (
        |  SELECT shard, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_ix
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM ch)
        |SELECT shard, CAST(strt // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM p GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    "t5_ngram_jaccard" ->
      """WITH sets AS (
        |  SELECT doc_id AS id, list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 1),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
        |  )) AS sh FROM documents WHERE doc_id < 50),
        |pairs AS (
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |            CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END AS jaccard
        |FROM sets a, sets b
        |WHERE a.id < b.id)
        |SELECT * FROM pairs WHERE jaccard >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,

    "t7_embedding_neardup" ->
      """WITH corpus AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    CAST(list_concat(
        |      [CAST(CAST(CAST(embedding[1] AS DOUBLE) + 0.1 AS FLOAT) AS DOUBLE)],
        |      CAST(embedding[2:] AS DOUBLE[])) AS DOUBLE[])
        |  FROM embeddings),
        |pairs AS (
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos,
        |  list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS rawcos
        |FROM corpus a, corpus b
        |WHERE a.id < b.id)
        |SELECT id_a, id_b, cos FROM pairs WHERE rawcos >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,

    // Brute-force restatement of the greedy min-id rule: a row survives iff
    // no lower-id row reaches the cosine threshold. Same corpus as t7.
    "t22_semantic_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    CAST(list_concat(
        |      [CAST(CAST(CAST(embedding[1] AS DOUBLE) + 0.1 AS FLOAT) AS DOUBLE)],
        |      CAST(embedding[2:] AS DOUBLE[])) AS DOUBLE[])
        |  FROM embeddings),
        |dom AS (
        |  SELECT DISTINCT b.id FROM corpus a, corpus b
        |  WHERE a.id < b.id
        |    AND list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |      >= 0.95)
        |SELECT id FROM corpus WHERE id NOT IN (SELECT id FROM dom)
        |ORDER BY id""".stripMargin,

    // Full IVF recomputation: same centroid sample, same argmax assignment
    // (cos DESC, cid ASC tie-break), same 2-probe search, same norm-product
    // cosine arithmetic — bit-identical doubles end to end.
    "q16_ivf_ann" ->
      """WITH cent AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE vec_id % greatest(1, (SELECT (count(*) + 63) // 64 FROM embeddings)) = 0),
        |corpus AS (
        |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT c.nid, ct.cid,
        |    list_dot_product(c.e, ct.e) /
        |      (c.nrm * sqrt(list_dot_product(ct.e, ct.e))) AS cos
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT nid, cid FROM (
        |    SELECT nid, cid,
        |      row_number() OVER (PARTITION BY nid ORDER BY cos DESC, cid) AS rn
        |    FROM scored) a WHERE rn = 1),
        |qprobe AS (
        |  SELECT nid AS qid, cid FROM (
        |    SELECT nid, cid,
        |      row_number() OVER (PARTITION BY nid ORDER BY cos DESC, cid) AS rn
        |    FROM scored WHERE nid < 20) a WHERE rn <= 2),
        |pairs AS (
        |  SELECT q.qid, a.nid,
        |    list_dot_product(qc.e, cc.e) / (qc.nrm * cc.nrm) AS cos
        |  FROM qprobe q
        |  JOIN assign a ON a.cid = q.cid
        |  JOIN corpus qc ON qc.nid = q.qid
        |  JOIN corpus cc ON cc.nid = a.nid
        |  WHERE a.nid <> q.qid),
        |ranked AS (
        |  SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        |  FROM pairs)
        |SELECT qid, nid, cos, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // The doubled half always loses the min-id race to its original, but
    // ORGANIC fingerprint collisions (distinct docs equal after lowercase +
    // whitespace normalization — 7 exist at sf0.1) also collapse, so the
    // oracle reproduces the dedup itself; lang/quality/repetition formulas
    // are the t1/t2/t10 expressions inlined.
    "t11_curation_pipeline" -> {
      val allMarkers = TextFunctions.Markers.flatMap(_._2).map(w => s"'$w'")
        .mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
         |  FROM documents
         |  GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))),
         |scored AS (
         |  SELECT doc_id, text,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("de")}, t))) AS s_de,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("en")}, t))) AS s_en,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("es")}, t))) AS s_es,
         |    len(list_filter(string_split(text,' '), t -> list_contains(${markerSql("fr")}, t))) AS s_fr,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
         |    length(text) AS nc
         |  FROM base),
         |lang AS (
         |  SELECT doc_id, text,
         |    CASE WHEN cjk * 2 > nc THEN 'zh'
         |         WHEN greatest(s_de,s_en,s_es,s_fr) = 0 THEN 'und'
         |         WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
         |         WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
         |         WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
         |         ELSE 'fr' END AS lang_pred
         |  FROM scored),
         |q AS (
         |  SELECT doc_id, text, lang_pred,
         |    ((CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 0.5 ELSE 0.0 END
         |      + least(CAST(len(list_filter(string_split(text,' '),
         |          t -> list_contains($allMarkers, t))) AS DOUBLE)
         |        / CAST(len(string_split(text,' ')) AS DOUBLE) * 2.0, 0.3)) + 0.2)
         |      - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE) * 5.0, 0.2) AS quality
         |  FROM lang),
         |rep AS (
         |  SELECT doc_id, quality, lang_pred,
         |    string_split(text, ' ') AS toks,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM q),
         |flags AS (
         |  SELECT doc_id, quality, lang_pred,
         |    CAST(list_max(list_transform(list_distinct(toks),
         |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
         |      / CAST(n AS DOUBLE) AS topr,
         |    CASE WHEN n >= 2 THEN 1.0 -
         |      CAST(len(list_distinct(list_transform(range(n - 1),
         |        i -> toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE) / CAST(n - 1 AS DOUBLE)
         |      ELSE 0.0 END AS dupb
         |  FROM rep)
         |SELECT doc_id, quality FROM flags
         |WHERE lang_pred = 'en' AND quality >= 0.5
         |  AND NOT (topr > 0.2 OR dupb > 0.3)
         |ORDER BY doc_id""".stripMargin
    },

    "t13_decontamination" ->
      """WITH probes AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 4),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' ||
        |         string_split(text,' ')[i+3] || ' ' || string_split(text,' ')[i+4] || ' ' ||
        |         string_split(text,' ')[i+5]))) AS sh
        |  FROM documents WHERE doc_id < 5),
        |corpus AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 4),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' ||
        |         string_split(text,' ')[i+3] || ' ' || string_split(text,' ')[i+4] || ' ' ||
        |         string_split(text,' ')[i+5]))) AS sh
        |  FROM documents WHERE doc_id >= 5)
        |SELECT c.doc_id, COUNT(*) AS n_hits
        |FROM corpus c JOIN probes p ON c.sh = p.sh
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "t14_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_sampled FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100
        |      < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 30 ELSE 10 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t20_dup_spans" ->
      """WITH g AS (
        |  SELECT doc_id AS doc,
        |    tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk,
        |          unnest(range(len(string_split(text, ' ')) - 2)) AS i
        |        FROM documents WHERE doc_id < 200) u),
        |cnt AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram)
        |SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 4) AS dup_share
        |FROM g JOIN cnt USING (gram)
        |GROUP BY doc ORDER BY doc""".stripMargin,

    "t21_bigram_surprisal" ->
      """WITH tk AS (
        |  SELECT doc_id AS doc, string_split(text, ' ') AS t
        |  FROM documents WHERE doc_id < 150),
        |bg AS (
        |  SELECT doc, t[i+1] AS w1, t[i+2] AS w2
        |  FROM (SELECT doc, t, unnest(range(len(t) - 1)) AS i FROM tk) u),
        |agg AS (SELECT doc, w1, w2, COUNT(*) AS tf FROM bg GROUP BY doc, w1, w2),
        |cb AS (SELECT w1, w2, SUM(tf) AS cb FROM agg GROUP BY w1, w2),
        |cu AS (SELECT w1, SUM(cb) AS cu FROM cb GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v
        |      FROM (SELECT unnest(t) AS tok FROM tk) x)
        |SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  round(-SUM(tf * ln((cb.cb + 1.0) / (cu.cu + v.v))) / SUM(tf), 4)
        |    AS avg_surprisal
        |FROM agg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
        |GROUP BY doc ORDER BY doc""".stripMargin,

    "t18_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc, token, COUNT(*) AS tf FROM toks GROUP BY doc, token),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 100),
        |scored AS (
        |  SELECT tf.doc, tf.token, tf.tf, df.df,
        |    round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1), 4) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc, token, tf, df, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc ORDER BY score DESC, token) AS rank
        |  FROM scored) r
        |WHERE rank <= 5 ORDER BY doc, rank""".stripMargin,

    "t19_inverted_index" ->
      """WITH p AS (SELECT DISTINCT doc, token FROM (
        |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id < 150) u)
        |SELECT token, COUNT(*) AS n_docs,
        |  array_to_string(list_slice(list(doc ORDER BY doc), 1, 20), ',') AS postings
        |FROM p GROUP BY token ORDER BY token""".stripMargin,

    // stride = 16 - 8 = 8; chunk count = 1 for n <= 16 else
    // (n - 16 + 7) // 8 + 1; DuckDB list slices clamp like Spark's slice()
    "t12_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(CASE WHEN n <= 16 THEN 1
        |                      ELSE (n - 16 + 7) // 8 + 1 END)) AS ix
        |  FROM t)
        |SELECT doc_id, CAST(ix AS INTEGER) AS chunk_ix,
        |  array_to_string(toks[ix*8+1 : ix*8+16], ' ') AS chunk_text,
        |  CAST(least(16, n - ix*8) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_ix""".stripMargin,

    "t10_repetition" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n,
        |    list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS topc,
        |    len(list_distinct(toks)) AS uniq,
        |    CASE WHEN n >= 2 THEN list_transform(range(n - 1),
        |      i -> toks[i+1] || ' ' || toks[i+2]) ELSE [] END AS bi
        |  FROM f)
        |SELECT doc_id, n AS n_tokens,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(topc AS DOUBLE) / CAST(n AS DOUBLE) END AS top_token_ratio,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(uniq AS DOUBLE) / CAST(n AS DOUBLE) END AS unique_token_ratio,
        |  CASE WHEN len(bi) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / CAST(len(bi) AS DOUBLE)
        |       END AS dup_bigram_ratio,
        |  (CASE WHEN n = 0 THEN 0.0
        |        ELSE CAST(topc AS DOUBLE) / CAST(n AS DOUBLE) END) > 0.2
        |  OR (CASE WHEN len(bi) = 0 THEN 0.0
        |           ELSE 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / CAST(len(bi) AS DOUBLE)
        |           END) > 0.3 AS repetitive
        |FROM g ORDER BY doc_id""".stripMargin,

    // Same centroid sample + argmax assignment as q16, then the per-(cell,
    // dim) mean with a decimal-exact sum — parallel unnest zips each vector
    // with its dimension indexes.
    "q17_kmeans_update" ->
      """WITH cent AS (
        |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |  WHERE vec_id % greatest(1, (SELECT (count(*) + 63) // 64 FROM embeddings)) = 0),
        |corpus AS (
        |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT c.nid, ct.cid,
        |    list_dot_product(c.e, ct.e) /
        |      (c.nrm * sqrt(list_dot_product(ct.e, ct.e))) AS cos
        |  FROM corpus c CROSS JOIN cent ct),
        |assign AS (
        |  SELECT nid, cid FROM (
        |    SELECT nid, cid,
        |      row_number() OVER (PARTITION BY nid ORDER BY cos DESC, cid) AS rn
        |    FROM scored) a WHERE rn = 1),
        |vals AS (
        |  SELECT a.cid, unnest(c.e) AS v,
        |    unnest(range(len(c.e))) AS dim
        |  FROM assign a JOIN corpus c ON a.nid = c.nid)
        |SELECT cid, CAST(dim AS INTEGER) AS dim,
        |  CAST(CAST(SUM(CAST(round(v * 1e12) AS BIGINT)) AS DOUBLE)
        |       / (1e12 * COUNT(*)) AS DOUBLE) AS value,
        |  COUNT(*) AS n
        |FROM vals GROUP BY cid, dim ORDER BY cid, dim""".stripMargin,

    // DuckDB cannot re-run the k-means training, but the verdict row is
    // fully determined: every planted query must be searched, and the
    // documented recall bound must hold.
    "q20_ivf_trained" ->
      """SELECT COUNT(*) AS n_searched, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 17 = 3""".stripMargin,

    "t8_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
        |  substr(hex(encode(text)), 1, 16) AS hex_prefix
        |FROM documents ORDER BY media_id""".stripMargin,

    // SimHash recomputed from scratch in SQL: md5-based 64-bit token hashes,
    // per-bit majority vote, all-pairs Hamming ≤ 3. All-pairs is equivalent to
    // the engine's 4×16-bit banding: ≤3 differing bits leave ≥1 band intact
    // (pigeonhole), so banding loses no pair at this distance.
    "t6_simhash_neardup" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' zzz' FROM documents WHERE doc_id < 100),
        |toks AS (
        |  SELECT id, unnest(string_split(text, ' ')) AS tok FROM corpus),
        |h AS (
        |  SELECT id, (('0x'||substr(md5(tok),1,8))::UBIGINT * 4294967296::UBIGINT +
        |              ('0x'||substr(md5(tok),9,8))::UBIGINT) AS h64 FROM toks),
        |votes AS (
        |  SELECT id, bits.b AS b,
        |    SUM(CASE WHEN (h64 >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY id, bits.b),
        |sig AS (
        |  SELECT id, bit_or(CASE WHEN v > 0 THEN CAST(1::HUGEINT << b AS UBIGINT)
        |                         ELSE 0::UBIGINT END) AS s
        |  FROM votes GROUP BY id),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.s, b.s)) AS d
        |  FROM sig a, sig b WHERE a.id < b.id)
        |SELECT id_a, id_b, CAST(d AS INTEGER) AS distance
        |FROM pairs WHERE d <= 3 ORDER BY id_a, id_b""".stripMargin,

    // The stub features are exact integer byte sums over stride-8 positions,
    // divided once in double precision — recomputed here byte-for-byte from
    // the hex encoding.
    "t9_media_features" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |f AS (
        |  SELECT media_id,
        |    list_sum(list_transform(range(0, n, 8),
        |      i -> ('0x'||substr(h, 2*i+1, 2))::BIGINT)) AS s0,
        |    n
        |  FROM b)
        |SELECT media_id, 8 AS n_features,
        |  round(CAST(s0 AS DOUBLE) / (255.0 * greatest(1, n // 8)), 4) AS f0
        |FROM f ORDER BY media_id""".stripMargin,

    // Line dedup restated over the zipped (line, position) unnest; the
    // census counts DISTINCT docs per line hash, string_agg skips the
    // struck lines and orders by position — byte-identical reassembly.
    "t23_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text
        |    || chr(10) || 'subscribe to our newsletter today'
        |    || chr(10) || 'copyright example corp all rights reserved'
        |    || chr(10) || 'group ' || CAST(doc_id % 10 AS VARCHAR) || ' promo line'
        |    || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR) || ' unique signature'
        |    AS text
        |  FROM documents),
        |lns AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM corpus),
        |census AS (
        |  SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS line_df
        |  FROM lns GROUP BY 1),
        |flagged AS (
        |  SELECT l.doc_id, l.line, l.pos, (c.line_df >= 3) AS dup
        |  FROM lns l JOIN census c ON md5(l.line) = c.h)
        |SELECT doc_id,
        |  COUNT(*) AS n_lines,
        |  COUNT(CASE WHEN NOT dup THEN 1 END) AS kept_lines,
        |  COUNT(CASE WHEN dup THEN 1 END) AS removed_lines,
        |  md5(string_agg(CASE WHEN NOT dup THEN line END, chr(10) ORDER BY pos))
        |    AS clean_fp
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gopher rules restated with the same integer cross-multiplications;
    // the list lambdas mirror the Spark HOF filters exactly.
    "t24_gopher_quality" ->
      """WITH g AS (
        |  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 1 THEN text || chr(10) || '- item one' || chr(10)
        |      || '- item two' || chr(10) || '- item three...'
        |    WHEN 2 THEN text || ' ' || repeat('# ', 20)
        |    WHEN 3 THEN substr(text, 1, 40)
        |    ELSE text END AS text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    string_split(replace(text, chr(10), ' '), ' ') AS toks,
        |    string_split(text, chr(10)) AS lns
        |  FROM g),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS BIGINT) AS alpha_words,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lns, l -> substr(l, 1, 2) = '- '))
        |      AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lns, l -> right(l, 3) = '...'))
        |      AS BIGINT) AS ellipsis_lines,
        |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS hashes,
        |    CAST(len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS ellipses,
        |    CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n AS n_words,
        |  (n >= 50 AND n <= 100000) AS f_word_count,
        |  (sum_len >= n * 3 AND sum_len <= n * 10) AS f_mean_word_len,
        |  (hashes * 10 < n AND ellipses * 10 < n) AS f_symbol_ratio,
        |  (bullet_lines * 10 < n_lines * 9) AS f_bullet,
        |  (ellipsis_lines * 10 < n_lines * 3) AS f_ellipsis,
        |  (alpha_words * 5 >= n * 4) AS f_alpha,
        |  (stop_hits >= 2) AS f_stopwords,
        |  ((n >= 50 AND n <= 100000) AND (sum_len >= n * 3 AND sum_len <= n * 10)
        |    AND (hashes * 10 < n AND ellipses * 10 < n)
        |    AND (bullet_lines * 10 < n_lines * 9)
        |    AND (ellipsis_lines * 10 < n_lines * 3) AND (alpha_words * 5 >= n * 4)
        |    AND (stop_hits >= 2)) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // High-df census: distinct (doc, token) pairs → token df → fraction of
    // the corpus doc count, filtered on the ROUNDED fraction like the engine.
    "t29_high_df" ->
      """WITH tf AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT token, df, round(df / n_docs, 4) AS doc_frac
        |FROM df CROSS JOIN n
        |WHERE round(df / n_docs, 4) >= 0.2
        |ORDER BY token""".stripMargin,

    // Source balancing: same census → min target → integer md5 gate.
    "t27_source_balance" ->
      """WITH census AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |tgt AS (SELECT min(n_docs) AS target FROM census),
        |sel AS (
        |  SELECT d.doc_id, d.source, c.n_docs, t.target,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |      AS BIGINT) AS h
        |  FROM documents d JOIN census c USING (source) CROSS JOIN tgt t)
        |SELECT source, any_value(n_docs) AS n_docs, COUNT(*) AS n_sampled,
        |  min(doc_id) AS first_id
        |FROM sel WHERE h % n_docs < target
        |GROUP BY source ORDER BY source""".stripMargin,

    // Contamination verdict: t13's shingle construction, left join so every
    // corpus doc reports, 5% threshold integer cross-multiplied.
    "t28_contamination_flag" ->
      """WITH probes AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 4),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' ||
        |         string_split(text,' ')[i+3] || ' ' || string_split(text,' ')[i+4] || ' ' ||
        |         string_split(text,' ')[i+5]))) AS sh
        |  FROM documents WHERE doc_id < 5),
        |corpus AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 4),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' ||
        |         string_split(text,' ')[i+3] || ' ' || string_split(text,' ')[i+4] || ' ' ||
        |         string_split(text,' ')[i+5]))) AS sh
        |  FROM documents WHERE doc_id >= 5)
        |SELECT c.doc_id, COUNT(*) AS n_shingles,
        |  COUNT(p.sh) AS n_hits,
        |  (COUNT(p.sh) * 20 >= COUNT(*)) AS contaminated
        |FROM corpus c LEFT JOIN probes p ON c.sh = p.sh
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // Span removal restated: zipped token/gram unnests, keep-first via
    // row_number over the gram hash, coverage via the same running-max
    // window over (tokens ∪ masked starts).
    "t26_span_removal" ->
      ("""WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' """ + SharedPara + """'
        |    ELSE text END AS text
        |  FROM documents),
        |tl AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
        |tok AS (
        |  SELECT doc_id, unnest(l) AS tok, unnest(range(0, len(l))) AS pos
        |  FROM tl),
        |gr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(l) - 9),
        |      i -> array_to_string(l[i+1:i+10], ' '))) AS gram,
        |    unnest(range(0, len(l) - 9)) AS pos
        |  FROM tl WHERE len(l) >= 10),
        |rnk AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY md5(gram) ORDER BY doc_id, pos) AS rn
        |  FROM gr),
        |u AS (
        |  SELECT doc_id, pos, tok, 1 AS kind, CAST(NULL AS BIGINT) AS strt
        |  FROM tok
        |  UNION ALL
        |  SELECT doc_id, pos, NULL, 0, pos FROM rnk WHERE rn >= 2),
        |c AS (
        |  SELECT doc_id, pos, tok, kind,
        |    max(strt) OVER (PARTITION BY doc_id ORDER BY pos, kind
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS laststart
        |  FROM u),
        |tt AS (
        |  SELECT doc_id, pos, tok,
        |    (laststart IS NOT NULL AND laststart >= pos - 9) AS covered
        |  FROM c WHERE kind = 1)
        |SELECT doc_id,
        |  COUNT(*) AS n_tokens,
        |  COUNT(CASE WHEN covered THEN 1 END) AS dup_tokens,
        |  CASE WHEN COUNT(*) = COUNT(CASE WHEN covered THEN 1 END) THEN NULL
        |    ELSE md5(string_agg(CASE WHEN NOT covered THEN tok END, ' '
        |      ORDER BY pos)) END AS clean_fp
        |FROM tt GROUP BY doc_id ORDER BY doc_id""").stripMargin,

    // Epoch sharding: identical md5 permutation key, hex-prefix shard, and
    // per-shard rank.
    "t25_epoch_shards" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, key,
        |    CAST(('0x' || substr(key, 1, 2))::UBIGINT AS BIGINT) AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
        |    AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    // DSIR: identical hashed-bigram bucketing (md5 prefix % 128), Laplace
    // log-ratio, per-doc mean rounded to 4.
    "t31_dsir_weights" ->
      """WITH bg AS (
        |  SELECT doc_id AS doc, lang = 'en' AS is_target,
        |    t[i+1] || ' ' || t[i+2] AS gram
        |  FROM (SELECT doc_id, lang, string_split(text,' ') AS t,
        |          unnest(range(len(string_split(text,' ')) - 1)) AS i
        |        FROM documents) u),
        |bk AS (
        |  SELECT doc, is_target,
        |    CAST(('0x' || substr(md5(gram),1,8))::UBIGINT AS BIGINT) % 128 AS b,
        |    COUNT(*) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |dist AS (
        |  SELECT b, SUM(c) AS c_raw,
        |    COALESCE(SUM(CASE WHEN is_target THEN c END), 0) AS c_tgt
        |  FROM bk GROUP BY b),
        |tot AS (
        |  SELECT SUM(c) AS n_raw,
        |    COALESCE(SUM(CASE WHEN is_target THEN c END), 0) AS n_tgt FROM bk)
        |SELECT doc, CAST(SUM(c) AS BIGINT) AS n_grams,
        |  round(SUM(c * (ln((d.c_tgt + 1) / (t.n_tgt + 128))
        |               - ln((d.c_raw + 1) / (t.n_raw + 128)))) / SUM(c), 4)
        |    AS avg_logweight
        |FROM bk JOIN dist d USING (b) CROSS JOIN tot t
        |GROUP BY doc ORDER BY doc""".stripMargin,

    // Classifier inference: same md5-derived weight per token, mean, sigmoid,
    // keep decided on the ROUNDED score (matches the Spark column order).
    "t32_classifier_score" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    (CAST(('0x' || substr(md5(tok),1,8))::UBIGINT AS BIGINT) % 2001
        |      - 1000) / 1000.0 AS wt
        |  FROM (SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS tok
        |        FROM documents) u)
        |SELECT doc_id, score, score >= 0.5 AS keep FROM (
        |  SELECT doc_id,
        |    round(1.0 / (1.0 + exp(-(SUM(wt) / COUNT(*)))), 4) AS score
        |  FROM w GROUP BY doc_id) s
        |ORDER BY doc_id""".stripMargin,

    // Centroid outliers: element-wise label sums, cosine against the
    // un-normalized centroid (scale-invariant), rank on the rounded value.
    "t33_centroid_outliers" ->
      """WITH el AS (
        |  SELECT vec_id, label, i AS pos, CAST(embedding[i+1] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label, embedding,
        |          unnest(range(len(embedding))) AS i FROM embeddings) u),
        |c AS (SELECT label, pos, SUM(x) AS sx FROM el GROUP BY label, pos),
        |d AS (
        |  SELECT el.vec_id, el.label,
        |    SUM(el.x * c.sx) AS dp, SUM(el.x * el.x) AS nv,
        |    SUM(c.sx * c.sx) AS nc
        |  FROM el JOIN c ON el.label = c.label AND el.pos = c.pos
        |  GROUP BY el.vec_id, el.label),
        |s AS (SELECT vec_id, label,
        |        round(dp / (sqrt(nv) * sqrt(nc)), 4) AS cos_centroid FROM d)
        |SELECT label, vec_id, cos_centroid, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY cos_centroid, vec_id) AS rank FROM s) r
        |WHERE rank <= 5 ORDER BY label, rank""".stripMargin,

    // Temperature mixing: floor(sqrt) weights (IEEE-exact), BIGINT rate
    // division, md5 gate — bit-exact across engines end to end.
    "t34_temperature_mix" ->
      """WITH census AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |wt AS (SELECT source, n_docs,
        |         CAST(floor(sqrt(n_docs)) AS BIGINT) AS w FROM census),
        |mw AS (SELECT min(w) AS minw FROM wt),
        |rates AS (SELECT source, n_docs, (mw.minw * 1000000) // w AS rate
        |          FROM wt CROSS JOIN mw),
        |sel AS (
        |  SELECT d.doc_id, d.source, r.n_docs, r.rate,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,8))::UBIGINT
        |      AS BIGINT) % 1000000 AS h
        |  FROM documents d JOIN rates r USING (source))
        |SELECT source, any_value(n_docs) AS n_docs, any_value(rate) AS rate,
        |  COUNT(*) AS n_sampled
        |FROM sel WHERE h < rate GROUP BY source ORDER BY source""".stripMargin,

    // Novelty: distinct batch trigrams left-joined against the corpus's
    // distinct trigram set; unseen share rounded to 4.
    "t36_novelty_score" ->
      """WITH seen AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 2),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
        |         || ' ' || string_split(text,' ')[i+3]))) AS g
        |  FROM documents WHERE doc_id < 300),
        |fresh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 2),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
        |         || ' ' || string_split(text,' ')[i+3]))) AS g
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 400)
        |SELECT f.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN s.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(SUM(CASE WHEN s.g IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
        |    AS novelty
        |FROM fresh f LEFT JOIN seen s USING (g)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    // Report card: t2's quality arithmetic verbatim, Gopher word-count rule
    // in integer form, per-(source, lang) rollup with the quality mass in
    // exact fixed-point (q·10⁴ BIGINT).
    "t37_corpus_report" -> {
      val allMarkers = TextFunctions.Markers.flatMap(_._2).map(w => s"'$w'")
        .mkString("[", ", ", "]")
      s"""WITH f AS (
         |  SELECT source, lang,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS toks,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
         |    CAST(len(list_filter(string_split(text,' '), t -> list_contains($allMarkers, t))) AS DOUBLE)
         |      / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio,
         |    len(string_split(regexp_replace(text, '\n', ' ', 'g'), ' ')) AS wc
         |  FROM documents),
         |q AS (
         |  SELECT source, lang, toks,
         |    round(((CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END
         |      + least(stopword_ratio * 2.0, 0.3)) + 0.2)
         |      - least(CAST(punct_count AS DOUBLE) / CAST(n_chars AS DOUBLE) * 5.0, 0.2), 4) AS q,
         |    (wc >= 50 AND wc <= 100000) AS wc_ok
         |  FROM f)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CAST(CAST(q AS DECIMAL(8,4)) * 10000 AS BIGINT)) AS BIGINT)
         |    AS sum_quality4,
         |  CAST(SUM(CASE WHEN NOT wc_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM q GROUP BY source, lang ORDER BY source, lang""".stripMargin
    },

    // Incremental dedup, brute-forced: exact = fingerprint membership in the
    // existing corpus; near = ANY existing doc with trigram Jaccard >= 0.5
    // (all-pairs — safe at gate size); exact wins when both apply.
    "t35_incremental_dedup" ->
      """WITH ex AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' zzz zzz zzz' FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 2000, text FROM documents WHERE doc_id >= 40 AND doc_id < 70),
        |exfp AS (
        |  SELECT DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM ex),
        |bfp AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM batch),
        |esh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 2),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
        |         || ' ' || string_split(text,' ')[i+3])) AS sh FROM ex),
        |bsh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(len(string_split(text,' ')) - 2),
        |    i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
        |         || ' ' || string_split(text,' ')[i+3])) AS sh FROM batch),
        |near AS (
        |  SELECT DISTINCT b.doc_id FROM bsh b JOIN esh e
        |  ON len(list_distinct(list_concat(b.sh, e.sh))) > 0
        |     AND CAST(len(list_intersect(b.sh, e.sh)) AS DOUBLE) /
        |         CAST(len(list_distinct(list_concat(b.sh, e.sh))) AS DOUBLE) >= 0.5)
        |SELECT b.doc_id,
        |  CASE WHEN f.fp IN (SELECT fp FROM exfp) THEN 'exact_dup'
        |       WHEN b.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
        |       ELSE 'kept' END AS status
        |FROM batch b JOIN bfp f USING (doc_id)
        |ORDER BY doc_id""".stripMargin)
}
