package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Near-duplicate detection for training-data pipelines, designed around the
 * shuffle structure that survives 100 TB:
 *
 *  - exact dedup: hash group-by (one shuffle on the fingerprint);
 *  - MinHash+LSH: shingle → k minhashes → b bands; candidate pairs come from
 *    a shuffle on (band index, band hash) — never an all-pairs join — then
 *    exact Jaccard verifies candidates;
 *  - SimHash: 64-bit signatures, banded the same way for candidate pairs;
 *  - n-gram Jaccard: exact set similarity used as the verifier (and directly
 *    for small candidate sets); a corpus self-join prunes candidates with
 *    AllPairs prefixes under a rare-first df order;
 *  - incremental dedup of a batch against a corpus: prefixes under a FIXED
 *    hash order need no census, so the batch's fingerprints, prefix keys and
 *    shingle sets are hash-joined by one streaming pass over the corpus —
 *    broadcast while the batch side is within the broadcast threshold,
 *    the same joins shuffled above it.
 *
 * All signature computation is per-row Column expressions (map-side, no
 * shuffle, codegen'd); only candidate generation shuffles, on keys whose
 * cardinality grows with corpus size (bands), so buckets stay small.
 */
object Dedup {

  /** One listener per session that surfaces capped-bucket counts from the
    * guard's `observe` metric — logging with NO dedicated census job. The
    * observed node sits inside a self-join, so the metric may be reported by
    * either (or, without exchange reuse, both) plan copies; for a log line
    * that is harmless. */
  private object SkewLog {
    private val Prefix = "graft.lsh.skew."
    private val counter = new java.util.concurrent.atomic.AtomicLong(0)
    private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    /** Unique per candidatePairs call — a fixed name would make any query
      * composing TWO LSH dedup operators fail analysis with a duplicate
      * observed-metrics name. */
    def nextObservationName(): String = Prefix + counter.incrementAndGet()
    def ensureListener(spark: org.apache.spark.sql.SparkSession, maxBucket: Int): Unit =
      if (registered.add(System.identityHashCode(spark))) {
        spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith(Prefix)) {
                val i = row.fieldIndex("rows_in_capped_buckets")
                val dropped = if (row.isNullAt(i)) 0L else row.getLong(i)
                if (dropped > 0) {
                  val j = row.fieldIndex("largest_bucket")
                  val worst = if (row.isNullAt(j)) 0L else row.getLong(j)
                  graft.delta.Logging.logger.warn(
                    s"[graft.Dedup] dropped $dropped (id,band) entries in oversized " +
                      s"LSH buckets (largest: $worst ids); pairs whose earliest " +
                      "shared band fell in a capped bucket are lost")
                }
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
        })
      }
  }

  private val Prime = 2147483647L // 2^31-1, classic Carter-Wegman modulus

  /** Deterministic (a,b) parameters in [1, Prime) for k permutations — small
    * enough that `reduced_hash * a + b` never overflows a long (ANSI mode
    * errors on overflow rather than wrapping). */
  private def perms(k: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(k)((1L + r.nextInt(Int.MaxValue - 1).toLong, r.nextInt(Int.MaxValue).toLong))
  }

  /** k-element MinHash signature of a string-array column (shingles).
    *
    * The permutation parameters ride as ONE literal array-of-structs and the
    * signature is a single nested `transform` — building k separate
    * `array_min` expressions instead would copy the whole shingle-hash
    * subtree k times (observed: ~100 MB codegen task binaries at k=128).
    * Prefer [[minhashFromHashes]] over a MATERIALIZED hash column when the
    * shingle expression is non-trivial (see note in [[minhashNearDups]]). */
  def minhashSignature(shingles: Column, k: Int = 128, seed: Long = 42L): Column =
    // Reduce 64-bit hashes below the modulus first: (h mod P) * a + b stays
    // under 2^62 for a,b < 2^31, so the expression is ANSI-safe.
    minhashFromHashes(transform(shingles, s => pmod(xxhash64(s), lit(Prime))), k, seed)

  /** Signature over pre-reduced shingle hashes (values in [0, Prime)).
    * Codegen'd fused kernel; [[minhashFromHashesHof]] is the reference
    * composition it must stay bit-identical to (NativeExpressionsSpec). */
  def minhashFromHashes(hashes: Column, k: Int, seed: Long): Column =
    NativeExpressions.minhashNative(hashes, k, seed)

  /** HOF composition of the signature (interpreted; kept as the semantic
    * reference for the native kernel). Uses the same (a,b) sequence. */
  def minhashFromHashesHof(hashes: Column, k: Int, seed: Long): Column = {
    val ab = typedlit(perms(k, seed))
    transform(ab, p =>
      array_min(transform(hashes,
        h => pmod(h * p.getField("_1") + p.getField("_2"), lit(Prime)))))
  }

  /** Band hashes over a signature: b bands of r rows (k = b*r).
    *
    * Built as ONE `transform` over the band indexes so the (expensive)
    * signature subtree appears exactly once in the expression — an
    * `array(hash(slice(sig,…)), …)` of b entries would inline the signature
    * b times after projection collapse and multiply evaluation cost by b
    * (observed: 6 min instead of ~2 s for the minhash gate query). */
  def lshBands(signature: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      j => hash(slice(signature, j * r + 1, lit(r)), j))

  /**
   * Candidate pairs from banded signatures: explode bands, shuffle on
   * (band index, band hash), pair ids within buckets. `df` must carry
   * `idCol` and `bandsCol`.
   *
   * Pairs sharing several bands are emitted exactly once — from their FIRST
   * shared band (both sides carry their band arrays, and a pair is kept only
   * when no earlier band matches). This replaces a `distinct()` over the
   * full candidate stream: at scale that distinct is a second shuffle of the
   * largest intermediate in the job, while the first-band filter is a
   * per-row check on two short arrays.
   */
  def candidatePairs(df: DataFrame, idCol: String, bandsCol: String,
                     maxBucket: Int = 100000): DataFrame = {
    val buckets = df.select(col(idCol).as("__id"),
        col(bandsCol).cast("array<bigint>").as("__bs"),
        posexplode(col(bandsCol).cast("array<bigint>")))
      .toDF("__id", "__bs", "__band", "__bh")
    // Skew guard: a degenerate bucket of m near-identical docs yields m²/2
    // candidate pairs in ONE task — the classic LSH failure mode at scale.
    // The bucket census is a window count over (__band, __bh), which
    // partitions EXACTLY like the self-join keys below — so on healthy data
    // the guard rides the join's own shuffle and costs zero extra jobs (an
    // earlier design ran an eager census job before every call). Oversized
    // buckets are dropped whole and LOGGED through an `observe` metric + a
    // one-time QueryExecutionListener — capping is never silent. Exact
    // duplicates never reach here (callers pre-collapse them), so a capped
    // bucket means >maxBucket distinct near-identical docs in one band.
    val guarded = if (maxBucket == Int.MaxValue) buckets else {
      SkewLog.ensureListener(df.sparkSession, maxBucket)
      val w = Window.partitionBy(col("__band"), col("__bh"))
      buckets
        .withColumn("__n", count(lit(1)).over(w))
        .observe(SkewLog.nextObservationName(),
          sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("rows_in_capped_buckets"),
          max(col("__n")).as("largest_bucket"))
        .filter(col("__n") <= maxBucket)
        .drop("__n")
    }
    guarded.as("a").join(guarded.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bh") === col("b.__bh") &&
          col("a.__id") < col("b.__id"))
      .filter(!NativeExpressions.sharesEarlierBand(
        col("a.__bs"), col("b.__bs"), col("a.__band")))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
  }

  /**
   * All unordered id pairs within each `__rid` group, with the self-join
   * salted into bounded cells: members are blocked into runs of `block` ids
   * (row_number within the group) and every (block p, block q) pair becomes
   * its OWN join key, so an m-duplicate group emits its C(m,2) pairs across
   * ~(m/block)²/2 join cells instead of ONE task keyed only by `__rid` — the
   * quadratic-skew failure the LSH bucket guard prevents upstream must not
   * be reintroduced downstream. Output volume is inherently quadratic; the
   * per-cell share is capped at ~block². Input replication is ~m/block per
   * side (the square root of the output), and block indexes are monotone in
   * id, so pair (x, y) with x < y is produced exactly once, in cell
   * (block(x), block(y)). Payload columns (anything beyond __rid/__id) are
   * carried from the A side.
   */
  private def withinGroupPairs(members: DataFrame, block: Int): DataFrame = {
    require(block > 0, "block must be positive")
    val payload = members.columns.filterNot(c => c == "__rid" || c == "__id").toSeq
    val idx = members
      .withColumn("__ix",
        row_number().over(Window.partitionBy(col("__rid")).orderBy(col("__id"))) - 1)
      .withColumn("__nb",
        ceil(count(lit(1)).over(Window.partitionBy(col("__rid"))) / lit(block)).cast("int"))
      .withColumn("__bk", (col("__ix") / block).cast("int"))
    val aSide = idx.select(
      Seq(col("__rid"), col("__id").as("id_a"), col("__bk").as("__p"),
        explode(sequence(col("__bk"), col("__nb") - 1)).as("__q")) ++
        payload.map(col): _*)
    val bSide = idx.select(col("__rid"), col("__id").as("id_b"),
      explode(sequence(lit(0), col("__bk"))).as("__p"), col("__bk").as("__q"))
    aSide.join(bSide, Seq("__rid", "__p", "__q"))
      .filter(col("id_a") < col("id_b"))
      .select(Seq(col("id_a"), col("id_b")) ++ payload.map(col): _*)
  }

  /**
   * Duplicated-span census (the exact-substring duplication signal from
   * "Deduplicating Training Data Makes Language Models Better", Lee et al.
   * 2022 — suffix-array substring dedup approximated at n-gram
   * granularity): for each document, the share of its token n-gram
   * OCCURRENCES whose n-gram appears more than once corpus-wide (including
   * within the same document). High shares mark boilerplate and
   * template-generated text that document-level near-dup misses.
   *
   * Returns (doc, n_ngrams, n_dup, dup_share); documents shorter than `n`
   * tokens emit no n-grams and are absent from the output.
   *
   * Scale shape: occurrences aggregate to (doc, gram, tf) first (map-side
   * combine, one shuffle), then the corpus count is a sum window over the
   * gram partition of those aggregated rows — the window input is bounded
   * by distinct (doc, gram) pairs, not raw occurrences, so a gram repeated
   * 1000× inside one template document costs one row, not a thousand. The
   * final per-doc rollup reuses the doc-keyed shuffle.
   */
  def duplicatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, roundDigits: Int = 4): DataFrame = {
    val grams = graft.Tables.widen(docs).select(col(idCol).as("doc"),
        explode(TextFunctions.ngrams(TextFunctions.tokens(col(textCol)), n))
          .as("gram"))
      .groupBy(col("doc"), col("gram"))
      .agg(count(lit(1)).as("tf"))
    val corpusN = sum(col("tf")).over(Window.partitionBy(col("gram")))
    grams.withColumn("corpus_n", corpusN)
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_ngrams"),
        sum(when(col("corpus_n") > 1, col("tf")).otherwise(lit(0L))).as("n_dup"))
      .withColumn("dup_share",
        round(col("n_dup") / col("n_ngrams"), roundDigits))
  }

  /**
   * Exact duplicated-span REMOVAL (the dedup step Lee et al. 2022's
   * ExactSubstr performs; [[duplicatedSpanStats]] is the read-only census):
   * every occurrence of a corpus-duplicated token `k`-gram EXCEPT the first
   * (lowest `(doc, pos)` in corpus order) is masked, and a token is dropped
   * when any masked gram covers it — so a duplicated span of length L ≥ k
   * survives at its first occurrence and disappears everywhere else, while
   * the first/last k−1 boundary tokens around it stay (their grams straddle
   * unique context).
   *
   * Returns (doc, n_tokens, dup_tokens, clean_text); `clean_text` is the
   * surviving tokens re-joined (empty when the whole document is a copy).
   *
   * Scale shape:
   *  - grams shuffle ONCE on their md5 hash; the keep-first rule is a
   *    `row_number` over that same gram-keyed exchange (no census + join
   *    back, which would shuffle the occurrence stream twice). A
   *    boilerplate gram with millions of occurrences costs one window
   *    partition's sort — the same hot-key profile its census would have,
   *    with rank replacing count.
   *  - coverage is ONE doc-keyed window over (tokens ∪ masked-gram starts)
   *    ordered by position: a running `max(start)` decides each token's
   *    fate in O(1) — never a token⋈span range join, whose candidate set
   *    explodes exactly where dedup matters (heavily templated corpora).
   *  - reassembly reuses the doc partitioning; dropped tokens are nulled
   *    out before `collect_list`, so buffers hold survivors only.
   */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    require(k >= 2, "span gram size k must be at least 2")
    val base = graft.Tables.widen(docs).select(col(idCol).as("doc"),
      TextFunctions.tokens(col(textCol)).as("__toks"))
    val tokRows = base.select(col("doc"),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
      .select(col("doc"), col("pos"), col("tok"),
        lit(1).as("kind"), lit(null).cast("int").as("start"))
    // gram i starts at token position i (TextFunctions.ngrams slices from
    // offset i); rank in (doc, pos) corpus order — rank 1 is the kept copy
    val maskedStarts = base.select(col("doc"),
        posexplode(TextFunctions.ngrams(col("__toks"), k)).as(Seq("pos", "gram")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("gram"))).orderBy(col("doc"), col("pos"))))
      .filter(col("rn") >= 2)
      .select(col("doc"), col("pos"), lit(null).cast("string").as("tok"),
        lit(0).as("kind"), col("pos").as("start"))
    // kind orders gram starts before the token at the same position, so a
    // masked gram covers its own first token
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val covered = tokRows.unionByName(maskedStarts)
      .withColumn("laststart", max(col("start")).over(w))
      .filter(col("kind") === 1)
      .withColumn("covered",
        col("laststart").isNotNull && col("laststart") >= col("pos") - (k - 1))
    covered.groupBy(col("doc")).agg(
      count(lit(1)).as("n_tokens"),
      count(when(col("covered"), lit(1))).as("dup_tokens"),
      array_join(
        transform(
          array_sort(collect_list(when(!col("covered"),
            struct(col("pos"), col("tok"))))),
          s => s.getField("tok")),
        " ").as("clean_text"))
  }

  /** Exact Jaccard similarity of two array columns (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /**
   * MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
   * `docs` must have (idCol, textCol). Returns (id_a, id_b, jaccard) for
   * verified pairs at or above `threshold`, materialized before returning,
   * so the shingle and signature caches are released here instead of
   * leaking two cached frames per call.
   */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, k: Int = 128, bands: Int = 32,
                      threshold: Double = 0.8, seed: Long = 42L,
                      maxBucket: Int = 100000, withinBlock: Int = 4096): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    // Cache the shingle sets + their hashes: without this barrier projection
    // collapse inlines the tokenize/ngram subtree into the signature's inner
    // transform, re-evaluating it once per shingle per permutation —
    // O(k·shingles·tokens) interpreted work per row (observed 450 s for 200
    // docs). With the barrier the signature reads a stored array: O(k·shingles).
    //
    // Exact-duplicate pre-collapse: identical shingle-hash arrays form a
    // group (window min(id) over the structural fingerprint — one shuffle,
    // no join); LSH sees ONE representative per group, so a million exact
    // copies cost the bucket join a single row instead of a quadratic
    // bucket. Verified rep pairs are expanded back to member pairs below.
    val withGroups = docs.select(
      col(idCol).as("__id"),
      TextFunctions.ngrams(TextFunctions.tokens(col(textCol)), shingleSize).as("__sh"))
      .withColumn("__h", transform(col("__sh"), s => pmod(xxhash64(s), lit(Prime))))
      .withColumn("__fp", xxhash64(col("__h")))
      .withColumn("__rid", min(col("__id")).over(Window.partitionBy(col("__fp"))))
      .cache()
    val reps = withGroups.filter(col("__id") === col("__rid"))
    // Cache the banded signature stream: the bucket self-join consumes it on
    // BOTH sides (plus the guard's window), so without this barrier the
    // minhash kernel — the most expensive subtree after the cached shingle
    // hashes — evaluates 2-3× per call. Only (__id, __bands) is retained.
    val signed = reps
      .withColumn("__sig", minhashFromHashes(col("__h"), k, seed))
      .withColumn("__bands", lshBands(col("__sig"), bands, r))
      .select(col("__id"), col("__bands"))
      .cache()
    try {
      val cands = candidatePairs(signed, "__id", "__bands", maxBucket)
      val sets = reps.select(col("__id"), col("__sh"))
      val repPairs = cands
        .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sa")), "id_a")
        .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sb")), "id_b")
        .withColumn("jaccard", jaccard(array_distinct(col("__sa")), array_distinct(col("__sb"))))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      // Cross-group expansion: every member pair across two near-dup groups
      // shares the groups' jaccard (identical sets per group).
      val members = withGroups.select(col("__id").as("__mid"), col("__rid"))
      val cross = repPairs
        .join(members.select(col("__mid").as("__ma"), col("__rid").as("id_a")), "id_a")
        .join(members.select(col("__mid").as("__mb"), col("__rid").as("id_b")), "id_b")
        .select(least(col("__ma"), col("__mb")).as("id_a"),
          greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
      // Within-group pairs: identical non-empty sets are jaccard 1.0 (empty
      // sets are 0.0 by the same convention as [[jaccard]]); salted so a huge
      // duplicate group never funnels its quadratic output through one task.
      val wg = withGroups.select(col("__rid"), col("__id"), (size(col("__sh")) > 0).as("__ne"))
      val within = withinGroupPairs(wg, withinBlock)
        .withColumn("jaccard", when(col("__ne"), lit(1.0)).otherwise(lit(0.0)))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      cross.unionByName(within).localCheckpoint(true)
    } finally {
      signed.unpersist(false)
      withGroups.unpersist(false)
    }
  }

  /**
   * Connected components over a near-duplicate pair set: every id is labeled
   * with the SMALLEST id reachable through the pairs — the standard
   * "one representative per duplicate cluster" output a curation pipeline
   * keeps (drop every row whose rep differs from its id). Pairs are
   * transitive evidence: a~b and b~c put a, b, c in one cluster even when
   * a~c was never emitted.
   *
   * Hybrid by edge count, the same threshold pattern the Delta side uses
   * for snapshots/checkpoints/vacuum:
   *
   *  - at or below `smallGraphEdges` (default 2^20 ≈ 16 MB of id pairs),
   *    the symmetrized edge set collects to the driver and a union-find
   *    with path compression resolves components in one pass — near-dup
   *    graphs are usually a tiny fraction of the corpus, and the iterative
   *    path's per-round fixed cost (several jobs + an eager checkpoint)
   *    dwarfs the actual work at this size. Representative selection
   *    (min id per component) runs as ONE tiny Spark window job so id
   *    ordering stays generic (any orderable Catalyst type).
   *  - above the threshold: distributed min-label propagation WITH
   *    path-halving — each round (a) takes the minimum label across the
   *    edge set and (b) shortcuts every node to its representative's
   *    representative, so convergence is O(log diameter) rounds, not
   *    O(diameter) (a 2^25-long chain fits the default `maxIter`). Each
   *    round is a bounded number of shuffles plus a convergence census
   *    riding the checkpoint job. No driver materialization of ids or
   *    edges.
   *
   * @param ids   one column `idCol` — every node, paired or not
   * @param pairs two columns `id_a`, `id_b`
   * @param smallGraphEdges driver union-find at or below this many
   *        (symmetrized, distinct) edges; `0` forces the distributed path
   * @return (idCol, rep) — rep = min id of the component
   */
  def duplicateGroups(ids: DataFrame, pairs: DataFrame, idCol: String = "id",
                      maxIter: Int = 25,
                      smallGraphEdges: Long = 1L << 20): DataFrame = {
    val tInit = System.nanoTime()
    val edges = pairs.select(col("id_a").as("__src"), col("id_b").as("__dst"))
      .unionByName(pairs.select(col("id_b").as("__src"), col("id_a").as("__dst")))
      .distinct()
      .cache()
    // Only nodes that appear in an edge can ever change label — iterate over
    // those alone (usually a small fraction of the corpus) and union the
    // isolated nodes back as their own representatives at the end.
    val connected = edges.select(col("__src").as("__id")).distinct()
    // This count fills the edge cache (the first checkpoint job paid that
    // cost before) and decides the strategy.
    val edgeCount = edges.count()
    if (edgeCount <= smallGraphEdges) {
      val rows = edges.collect()
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      val rank = scala.collection.mutable.HashMap.empty[Any, Int]
      def find(x: Any): Any = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      rows.foreach { e =>
        Seq(e.get(0), e.get(1)).foreach { n =>
          if (!parent.contains(n)) { parent(n) = n; rank(n) = 0 }
        }
        val (ra, rb) = (find(e.get(0)), find(e.get(1)))
        if (ra != rb) {
          if (rank(ra) < rank(rb)) parent(ra) = rb
          else if (rank(ra) > rank(rb)) parent(rb) = ra
          else { parent(rb) = ra; rank(ra) = rank(ra) + 1 }
        }
      }
      val idType = edges.schema.head.dataType
      val spark = ids.sparkSession
      val comp = spark.createDataFrame(
        java.util.Arrays.asList(parent.keys.toSeq.map(n =>
          org.apache.spark.sql.Row(n, find(n))): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__id", idType),
          org.apache.spark.sql.types.StructField("__root", idType))))
      // min id per component via one tiny window job — keeps the rep rule
      // generic over any orderable id type instead of ordering on the driver
      val labeled = comp
        .withColumn("rep", min(col("__id")).over(Window.partitionBy(col("__root"))))
        .select(col("__id"), col("rep"))
      edges.unpersist(false)
      graft.delta.Logging.logger.info(
        f"[graft] duplicateGroups driver-uf edges=$edgeCount " +
          f"sec=${(System.nanoTime() - tInit) / 1e9}%.3f")
      // Isolated nodes: anti-join against the LOCAL component table (comp
      // holds exactly the edge-touched nodes), broadcast. The earlier
      // anti-join against `connected` re-evaluated the whole pair-generation
      // subtree AFTER the edge cache was dropped — that recomputation was
      // ~half of t15's wall time at sf0.1.
      return labeled.select(col("__id").as(idCol), col("rep"))
        .unionByName(ids.select(col(idCol))
          .join(broadcast(comp.select(col("__id").as(idCol))), Seq(idCol), "left_anti")
          .select(col(idCol), col(idCol).as("rep")))
    }
    // localCheckpoint each round: the propagate + path-halving step references
    // the previous labels THREE times, so without lineage truncation the
    // logical plan grows ~4× per iteration and the driver OOMs assembling it.
    var labels = connected.select(col("__id"), col("__id").as("rep"))
      .localCheckpoint(true)
    // Init forensics: this first checkpoint job materializes the whole
    // upstream pair generation (plus the edge cache fill) — when t15-style
    // totals move, this line says whether pair gen or the rounds moved.
    graft.delta.Logging.logger.info(
      f"[graft] duplicateGroups init sec=${(System.nanoTime() - tInit) / 1e9}%.3f")
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val t0 = System.nanoTime()
      val nbrMin = edges
        .join(labels.select(col("__id").as("__src"), col("rep").as("__srcRep")), "__src")
        .groupBy(col("__dst")).agg(min(col("__srcRep")).as("__nbrRep"))
      val afterProp = labels
        .join(nbrMin, labels("__id") === nbrMin("__dst"), "left_outer")
        .select(col("__id"), col("rep").as("__old"),
          least(col("rep"), coalesce(col("__nbrRep"), col("rep"))).as("rep"))
      // Path halving TWICE per round: rep := rep.rep.rep. Each shortcut is
      // a cheap self-join on the (small) label set, while every ROUND costs
      // a fixed job + checkpoint — so collapsing chains 4× per checkpoint
      // instead of 2× trades the cheap thing for fewer of the expensive
      // thing. Convergence stays exact (stop only at changed == 0).
      val half1 = {
        val r = afterProp.select(col("__id").as("__rid2"), col("rep").as("__rr"))
        afterProp.join(r, afterProp("rep") === r("__rid2"), "left_outer")
          .select(col("__id"), col("__old"),
            least(col("rep"), coalesce(col("__rr"), col("rep"))).as("rep"))
      }
      // The convergence census rides the SAME job that materializes the
      // checkpoint (an Observation over the changed-row count) — the old
      // separate join+count action doubled the jobs per iteration.
      val obs = org.apache.spark.sql.Observation()
      val repOfRep = half1
        .select(col("__id").as("__rid3"), col("rep").as("__rr2"))
      val next = half1
        .join(repOfRep, half1("rep") === repOfRep("__rid3"), "left_outer")
        .select(col("__id"), col("__old"),
          least(col("rep"), coalesce(col("__rr2"), col("rep"))).as("rep"))
        .observe(obs, sum(when(col("rep") =!= col("__old"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("__id"), col("rep"))
        .localCheckpoint(true)
      labels = next
      val changed = obs.get("changed").asInstanceOf[Long]
      converged = changed == 0L
      it += 1
      // Per-iteration attribution (bench-regression forensics): one stderr
      // line per round — round count × per-round cost explains total cost.
      graft.delta.Logging.logger.info(
        f"[graft] duplicateGroups iter=$it changed=$changed " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    edges.unpersist(false)
    // Anti-join against the CHECKPOINTED labels (same node set as
    // `connected`, already materialized) — going through `connected` here
    // would re-evaluate the pair-generation subtree now that the edge
    // cache is gone.
    labels.select(col("__id").as(idCol), col("rep"))
      .unionByName(ids.select(col(idCol))
        .join(labels.select(col("__id").as(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), col(idCol).as("rep")))
  }

  /** Exact all-pairs n-gram Jaccard — VERIFIER ONLY. The self-join has no
    * equality key (O(n²) through a nested-loop join), so it is only safe on
    * small, already-banded candidate sets. For a whole corpus use
    * [[ngramJaccardNearDups]], which returns the identical answer through
    * equi-joins. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.1): DataFrame = {
    val sets = docs.select(col(idCol).as("__id"),
      NativeExpressions.shingleSet(col(textCol), n).as("__sh"))
    sets.as("a").join(sets.as("b"), col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        jaccard(col("a.__sh"), col("b.__sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs WITHOUT a cartesian: AllPairs /
    * PPJoin-style prefix filtering (Bayardo et al. WWW'07; Xiao et al.
    * WWW'08). Shingles get a global canonical order (document frequency
    * ascending, then value), each document indexes only its first
    * `|s| − ⌈t·|s|⌉ + 1` shingles, and candidate pairs are documents sharing
    * an indexed shingle — a plain equi-join on the shingle key. The prefix
    * lemma guarantees every pair with Jaccard ≥ t shares a prefix shingle,
    * so recall is exactly 1.0 and the exact-Jaccard verification join makes
    * the result identical to [[ngramJaccardPairs]]. Rare-first ordering
    * keeps high-frequency shingles OUT of prefixes, which is what bounds
    * the candidate blow-up (and the skew) of a corpus SELF-join; a batch
    * probing a corpus needs no census ([[incrementalDedup]]). Every shuffle
    * is keyed (shingle or id) — no CartesianProduct / BroadcastNestedLoopJoin
    * node anywhere in the plan.
    *
    * The verified pairs are materialized before returning, so the shingle-set
    * cache is released here instead of leaking one cached frame per call. */
  def ngramJaccardNearDups(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.1): DataFrame = {
    // Cache barrier for the same reason as minhashNearDups: the shingle
    // sets feed the census, the prefix index AND both sides of the verify
    // join. Widened to 16 KB/task so a gate-sized input still spreads its
    // shingling, census and verify join over every core.
    val sets = graft.Tables.widen(docs, bytesPerTask = 16L << 10)
      .select(col(idCol).as("__id"), NativeExpressions.shingleSet(col(textCol), n).as("__sh"))
      .withColumn("__sz", size(col("__sh")))
      .filter(col("__sz") > 0)
      .cache()
    try {
      val tok = sets.select(col("__id"), col("__sz"), explode(col("__sh")).as("__g"))
      val dfreq = tok.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      val prefix = tok.join(dfreq, Seq("__g"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__id")).orderBy(col("__df"), col("__g"))))
        .filter(col("__rk") <= prefixLength(col("__sz"), threshold))
        .select(col("__g"), col("__id"))
      val cand = prefix.as("pa").join(prefix.as("pb"),
          col("pa.__g") === col("pb.__g") && col("pa.__id") < col("pb.__id"))
        .select(col("pa.__id").as("id_a"), col("pb.__id").as("id_b"))
        .distinct()
      cand
        .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
        .join(sets.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          jaccard(col("__sha"), col("__shb")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally sets.unpersist(false)
  }

  /** HOF composition (interpreted) the shingle kernel
    * [[NativeExpressions.shingleSet]] — the single shingle expression of the
    * PPJoin operators — must agree with. */
  def shingleSetHof(text: Column, n: Int): Column =
    array_distinct(TextFunctions.ngrams(TextFunctions.tokens(text), n))

  /** AllPairs prefix length `|s| − ⌈t·|s|⌉ + 1` of a set of `size` elements;
    * [[HashPrefix.length]] is the same arithmetic inside the kernel. */
  private[functions] def prefixLength(size: Column, threshold: Double): Column =
    size - ceil(lit(threshold) * size) + 1

  /** HOF composition (interpreted) the prefix kernel
    * [[NativeExpressions.hashPrefix]] must agree with. */
  def hashPrefixHof(set: Column, threshold: Double): Column =
    transform(
      slice(array_sort(transform(set, g => struct(xxhash64(g).as("h"), g.as("g")))),
        lit(1), prefixLength(size(set), threshold).cast("int")),
      e => e.getField("g"))

  // ---- SimHash -------------------------------------------------------------

  /** Oracle-reproducible 64-bit token hash: the first 8 bytes of md5, as two
    * 32-bit hex halves — any engine with md5 recomputes it exactly (DuckDB:
    * `(('0x'||substr(md5(t),1,8))::UBIGINT << 32) | ('0x'||substr(md5(t),9,8))::UBIGINT`).
    * Slower than xxhash64; use it where cross-engine verification matters. */
  def md5Hash64(c: Column): Column =
    shiftleft(TextFunctions.md5Prefix32(c), 32)
      .bitwiseOR(conv(substring(md5(c), 9, 8), 16, 10).cast("long"))

  /** 64-bit SimHash of a token array: per-bit vote of token hashes.
    * Codegen'd fused kernel; [[simhash64Hof]] is the semantic reference.
    * `tokenHasher` defaults to xxhash64 (fastest); pass [[md5Hash64]] for an
    * oracle-reproducible signature. */
  def simhash64(toks: Column,
                tokenHasher: Column => Column = xxhash64(_)): Column =
    NativeExpressions.simhashNative(transform(toks, t => tokenHasher(t)))

  /** HOF composition (interpreted) the native kernel must agree with. */
  def simhash64Hof(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    val bits = (0 until 64).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64 bits into 4×16-bit keys (any pair
    * within distance ~3 shares a band w.h.p.), bucket-join, verify Hamming.
    * The pairs are materialized before returning, so the signature cache is
    * released here. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDistance: Int = 3,
                      tokenHasher: Column => Column = xxhash64(_),
                      maxBucket: Int = 100000, withinBlock: Int = 4096): DataFrame = {
    // Cache: the signature is referenced by both sides of the bucket
    // self-join and its 64 per-bit votes re-evaluate the token expression.
    //
    // Distance-0 pre-collapse: the verification metric is purely
    // signature-based, so docs sharing a signature are grouped behind one
    // representative (window min(id) over __sig — one shuffle) before the
    // bucket join; member pairs are re-expanded afterwards. A degenerate
    // corpus of identical docs costs the LSH join one row, not a quadratic
    // bucket.
    val signed = graft.Tables.widen(docs).select(col(idCol).as("__id"),
      simhash64(TextFunctions.tokens(col(textCol)), tokenHasher).as("__sig"))
      .withColumn("__rid", min(col("__id")).over(Window.partitionBy(col("__sig"))))
      .cache()
    try {
      val reps = signed.filter(col("__id") === col("__rid"))
      val banded = reps.withColumn("__bands",
        transform(sequence(lit(0), lit(3)), j =>
          call_function("shiftright", col("__sig"), (j * 16).cast("int"))
            .bitwiseAND(lit(0xffffL))))
      val cands = candidatePairs(banded, "__id", "__bands", maxBucket)
      val repPairs = cands
        .join(reps.select(col("__id").as("id_a"), col("__sig").as("__siga")), "id_a")
        .join(reps.select(col("__id").as("id_b"), col("__sig").as("__sigb")), "id_b")
        .withColumn("distance", hamming64(col("__siga"), col("__sigb")))
        .filter(col("distance") <= maxDistance)
        .select(col("id_a"), col("id_b"), col("distance"))
      val members = signed.select(col("__id").as("__mid"), col("__rid"))
      val cross = repPairs
        .join(members.select(col("__mid").as("__ma"), col("__rid").as("id_a")), "id_a")
        .join(members.select(col("__mid").as("__mb"), col("__rid").as("id_b")), "id_b")
        .select(least(col("__ma"), col("__mb")).as("id_a"),
          greatest(col("__ma"), col("__mb")).as("id_b"), col("distance"))
      // Same signature → distance 0 by definition (no self-XOR expression);
      // salted like the minhash within-group expansion.
      val within = withinGroupPairs(signed.select(col("__rid"), col("__id")), withinBlock)
        .withColumn("distance", lit(0))
      cross.unionByName(within).localCheckpoint(true)
    } finally signed.unpersist(false)
  }

  // ---- incremental (cross-corpus) dedup ------------------------------------

  /**
   * Incremental dedup: classify every document of a NEW batch against an
   * EXISTING corpus — the "dedupe this crawl against everything already
   * ingested" step that runs on every refresh of a training corpus, where
   * re-deduping the full union from scratch would redo all prior work.
   *
   * Returns one row per distinct batch `doc_id`: `(doc_id, status)` with
   * status `exact_dup` (normalized fingerprint already in the corpus),
   * `near_dup` (n-gram Jaccard ≥ `threshold` against some corpus doc), or
   * `kept`. Exact wins over near when both apply; batch rows sharing an id
   * share the most severe status among them. The verdicts are materialized
   * before returning, so they stay those of the corpus as it was at the call.
   *
   * Scale shape — the corpus is read in ONE streaming map pass; nothing
   * corpus-sized is shuffled, cached or ranked:
   *  - batch side, O(batch), evaluated once: per row its fingerprint, its
   *    shingle set and its AllPairs prefix under the FIXED order
   *    `(xxhash64(g), g)` ([[HashPrefix]]). The prefix lemma holds under any
   *    fixed order, so a pair with Jaccard ≥ t shares a prefix shingle
   *    without a df census tying the batch to the corpus;
   *  - corpus side, per row: the same fingerprint, shingle set and prefix;
   *    its probe keys (fingerprint, then prefix shingles) hash-join the
   *    batch's keys, then the batch's sets for the exact-Jaccard check;
   *    recall is exactly 1.0 (prefix lemma), so the result matches brute
   *    force;
   *  - only verified (batch id, verdict) rows, plus the batch's own ids,
   *    reach the final small aggregate.
   * While the batch side's estimated size is within
   * `spark.sql.autoBroadcastJoinThreshold`, both joins are broadcast hash
   * joins and the corpus never leaves its scan tasks; above it, the planner
   * runs the same joins as shuffle joins, with the same verdicts. No
   * broadcast is forced: the batch is unbounded.
   */
  def incrementalDedup(existing: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Probe keys of one document: its fingerprint (`__exact`), then its
    // prefix shingles — one explode, so one pass yields both joins' keys.
    def probeKeys(df: DataFrame, keep: String, set: String): DataFrame =
      df.select(col(keep), posexplode(concat(array(col("__fp")),
          NativeExpressions.hashPrefix(col(set), threshold))).as(Seq("__pos", "__k")))
        .select(col(keep), (col("__pos") === 0).as("__exact"), col("__k"))
    val side = batch.select(col(idCol).as("__bid"),
        TextFunctions.fingerprint(col(textCol)).as("__fp"),
        NativeExpressions.shingleSet(col(textCol), n).as("__bsh"))
      .localCheckpoint(true)
    val keys = probeKeys(side, "__bid", "__bsh")
    val sets = side.select(col("__bid"), col("__bsh"))
    val corpus = existing.select(TextFunctions.fingerprint(col(textCol)).as("__fp"),
      NativeExpressions.shingleSet(col(textCol), n).as("__sh"))
    val verified = probeKeys(corpus, "__sh", "__sh")
      .join(keys, Seq("__exact", "__k"))
      .join(sets, Seq("__bid"))
      .filter(col("__exact") || jaccard(col("__sh"), col("__bsh")) >= threshold)
      .select(col("__bid"), when(col("__exact"), 2).otherwise(1).as("__v"))
    side.select(col("__bid"), lit(0).as("__v"))
      .unionByName(verified)
      .groupBy(col("__bid"))
      .agg(max(col("__v")).as("__v"))
      .select(col("__bid").as("doc_id"),
        when(col("__v") === 2, "exact_dup")
          .when(col("__v") === 1, "near_dup")
          .otherwise("kept").as("status"))
      .localCheckpoint(true)
  }
}
