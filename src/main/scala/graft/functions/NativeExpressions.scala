package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for hot numeric kernels.
 *
 * Higher-order functions (`zip_with` + `aggregate`) are interpreted — fine
 * for occasional lambdas, but a 64-dim dot product inside an LSH signature
 * runs millions of lambda invocations per task. This expression generates a
 * tight Java loop instead (whole-stage codegen), with EXACTLY the same
 * arithmetic as the composed version in [[graft.Tables.dot]]: elements
 * widened to double, products accumulated sequentially in array order — so
 * results are bit-identical and oracle parity is preserved.
 */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  private def okElem(dt: DataType): Boolean = dt == FloatType || dt == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if okElem(lt) && okElem(rt) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double> inputs, got ${l.simpleString}, ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double)$a.$lGet($i) * (double)$b.$rGet($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/**
 * Codegen'd k-permutation MinHash signature over an array of pre-reduced
 * shingle hashes (values in [0, 2^31-1)). Arithmetic is EXACTLY the HOF
 * composition in [[Dedup.minhashFromHashes]] — `min over h of (h*a+b) mod P`
 * with the same (a,b) sequence — so signatures are bit-identical; only the
 * evaluation strategy changes (one tight fused loop instead of k interpreted
 * `transform`/`array_min` lambdas per row).
 */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
  extends UnaryExpression {

  private val Prime = 2147483647L

  @transient private lazy val (permA, permB) = {
    val r = new scala.util.Random(seed)
    val ab = Array.fill(k)((1L + r.nextInt(Int.MaxValue - 1).toLong, r.nextInt(Int.MaxValue).toLong))
    (ab.map(_._1), ab.map(_._2))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<bigint>, got ${other.simpleString}")
  }

  // Empty shingle set → array_min(empty)=null per slot, like the HOF version.
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * permA(j) + permB(j)) % Prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", permA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", permB, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val h = ctx.freshName("h")
      val v = ctx.freshName("v"); val mins = ctx.freshName("mins")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h = $c.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = ($h * $aRef[$j] + $bRef[$j]) % ${Prime}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/**
 * Codegen'd 64-bit SimHash over an array of token hashes: per-bit majority
 * vote, bit set when the vote is strictly positive — identical to the HOF
 * composition in [[Dedup.simhash64]].
 */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val h = ctx.freshName("h")
      val votes = ctx.freshName("votes"); val sig = ctx.freshName("sig")
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/**
 * True when two band arrays agree at any index below `band` — the dedup
 * predicate for first-shared-band candidate emission in LSH: a pair found in
 * bucket `band` is kept only if this is false (no earlier bucket already
 * produced it). Codegen'd so the check costs a short loop per candidate, not
 * interpreted `slice`/`zip_with`/`exists` allocations.
 */
case class SharesEarlierBand(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"shares_earlier_band expects (array<bigint>, array<bigint>, int), " +
          s"got ${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def dataType: DataType = BooleanType

  override def nullSafeEval(a: Any, b: Any, band: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = band.asInstanceOf[Int]
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, band) => {
      val i = ctx.freshName("i")
      val found = ctx.freshName("found")
      s"""
         |boolean $found = false;
         |for (int $i = 0; $i < $band; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { $found = true; break; }
         |}
         |${ev.value} = $found;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SharesEarlierBand =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/**
 * Fused random-hyperplane LSH signature: nBits dot products against the
 * plane matrix packed into sign bits of `ceil(nBits/64)` long words — one
 * tight loop instead of nBits separate `DotProduct` expressions OR-ed
 * together. The unfused composition generated a projection method beyond
 * HotSpot's JIT size limit, so it ran as INTERPRETED bytecode (~60× slower);
 * the arithmetic here is term-for-term identical (elements widened to
 * double, accumulated in array order, bit set when the dot is >= 0), so
 * signatures are bit-identical to [[Similarity.signatureComposed]].
 */
case class HyperplaneSignature(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_signature expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Called from generated code; public for codegen access. */
  def sign(arr: ArrayData): UnsafeArrayData = {
    val nBits = planes.length
    val words = new Array[Long]((nBits + 63) / 64)
    val isFloat = elemIsFloat
    var b = 0
    while (b < nBits) {
      val p = planes(b)
      val n = math.min(arr.numElements(), p.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        s += v * p(i)
        i += 1
      }
      if (s >= 0) words(b / 64) |= (1L << (b % 64))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  override def nullSafeEval(input: Any): Any =
    sign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperSig", this, classOf[HyperplaneSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sign($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}

/**
 * Fused nearest-centroid ranking: cosine of the input embedding against the
 * whole centroid matrix, returning the top-`k` centroid ids ordered by
 * (cosine DESC, id ASC). Replaces a `greatest(...)`/`array_sort(...)` over
 * per-centroid score structs whose generated method exceeded HotSpot's JIT
 * size limit (interpreted fallback). Arithmetic is term-for-term the
 * composed version's: `dot(emb, cent) / (norm * centNorm)` in doubles, dot
 * accumulated in array order — scores are bit-identical, so the argmax and
 * tie-breaks agree exactly ([[Similarity.nearestCellComposed]] is the
 * reference).
 */
case class TopCentroids(left: Expression, right: Expression,
    cids: Array[Long], cents: Array[Array[Double]], cNorms: Array[Double], k: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"top_centroids expects (array<float|double>, double), got " +
          s"${l.simpleString}, ${r.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Called from generated code; public for codegen access. */
  def rank(arr: ArrayData, norm: Double): UnsafeArrayData = {
    val isFloat = elemIsFloat
    val m = cids.length
    val kk = math.min(k, m)
    // top-k by (cos desc, cid asc) via insertion into small arrays
    val topCos = new Array[Double](kk)
    val topCid = new Array[Long](kk)
    var filled = 0
    var c = 0
    while (c < m) {
      val p = cents(c)
      val n = math.min(arr.numElements(), p.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        s += v * p(i)
        i += 1
      }
      val cos = s / (norm * cNorms(c))
      val cid = cids(c)
      // NaN scores (zero-norm embedding or centroid) are SKIPPED: a
      // zero-norm vector has no defined cosine to anything, so it ranks
      // nowhere. Note this intentionally diverges from the composed
      // reference for that degenerate input — Spark's `greatest`/
      // `array_sort` order NaN as the LARGEST double, which would rank an
      // undefined score first. Bit-identity with the composed version holds
      // for all finite scores.
      if (!java.lang.Double.isNaN(cos)) {
        // find insertion point among current top entries
        var pos = filled
        while (pos > 0 && (cos > topCos(pos - 1) ||
          (cos == topCos(pos - 1) && cid < topCid(pos - 1)))) pos -= 1
        if (pos < kk) {
          val lastIdx = math.min(filled, kk - 1)
          var j = lastIdx
          while (j > pos) { topCos(j) = topCos(j - 1); topCid(j) = topCid(j - 1); j -= 1 }
          topCos(pos) = cos; topCid(pos) = cid
          if (filled < kk) filled += 1
        }
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(topCid, filled))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    rank(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCentroids", this, classOf[TopCentroids].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.rank($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopCentroids =
    copy(left = newLeft, right = newRight)
}

/**
 * Fused one-pass token statistics for the text-analysis operators: token
 * count, summed token length, top-token frequency, distinct-token count,
 * bigram counts, and per-marker-list hit counts — everything the language-ID
 * / quality / repetition formulas need, in ONE pass over the token array
 * with two hash maps, instead of the interpreted HOF composition whose
 * `transform(array_distinct(toks), t -> size(filter(toks, _ == t)))` term is
 * O(distinct·tokens) lambda invocations per ROW and never enters codegen.
 *
 * Field semantics are term-for-term the HOF reference composition in
 * [[TextFunctions]] (kept as `*Hof` for the equivalence spec):
 *  - `n_tokens`       = size(toks)
 *  - `sum_token_len`  = aggregate(toks, 0L, (a,t) -> a + length(t))
 *  - `top_count`      = array_max(transform(array_distinct(toks),
 *                         t -> size(filter(toks, x -> x == t)))) — 0 when empty
 *  - `distinct_count` = size(array_distinct(toks))
 *  - `n_bigrams`      = size(ngrams(toks, 2))
 *  - `distinct_bigrams` = size(array_distinct(ngrams(toks, 2))) — bigram
 *    identity is the adjacent PAIR, which equals the reference's
 *    space-joined-string identity because tokens come from split(text, " ")
 *    and cannot contain the separator
 *  - `marker_hits[i]` = size(filter(toks, t -> t.isin(markerLists(i))))
 * Null tokens (never produced by split) are counted in `n_tokens` and
 * ignored elsewhere.
 */
case class TokenStats(child: Expression, markerLists: Array[Array[String]])
  extends UnaryExpression {

  import org.apache.spark.unsafe.types.UTF8String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_stats expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_token_len", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("distinct_count", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("distinct_bigrams", LongType, nullable = false),
    StructField("marker_hits", ArrayType(LongType, containsNull = false), nullable = false)))

  @transient private lazy val markerSets: Array[java.util.HashSet[UTF8String]] =
    markerLists.map { ws =>
      val s = new java.util.HashSet[UTF8String](ws.length * 2)
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }

  /** Called from generated code; public for codegen access. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val nLists = markerLists.length
    val hits = new Array[Long](nLists)
    val counts = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val biPairs = new java.util.HashSet[(UTF8String, UTF8String)]()
    var sumLen = 0L
    var nBi = 0L
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        sumLen += t.numChars()
        val c = counts.get(t)
        counts.put(t, if (c == null) 1 else c + 1)
        var j = 0
        while (j < nLists) {
          if (markerSets(j).contains(t)) hits(j) += 1
          j += 1
        }
        if (prev != null) { nBi += 1; biPairs.add((prev, t)) }
        prev = t
      } else prev = null
      i += 1
    }
    var top = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val v = it.next().intValue(); if (v > top) top = v }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      n.toLong, sumLen, top, counts.size.toLong, nBi, biPairs.size.toLong,
      UnsafeArrayData.fromPrimitiveArray(hits)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenStats", this, classOf[TokenStats].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/**
 * Distinct word n-gram shingles of a text, in first-occurrence order — one
 * pass over the text's bytes instead of the interpreted composition
 * `array_distinct(ngrams(tokens(text), n))` ([[Dedup.shingleSetHof]], the
 * semantic reference). Tokens are the pieces between single spaces exactly
 * as `split(text, " ")` yields them (empty pieces included), so a shingle —
 * `n` consecutive tokens joined by one space — is the text's own byte range
 * from the first token's start to the last token's end, copied once. A null
 * text, like one of fewer than `n` tokens, yields the empty array, as the
 * composition does.
 */
case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {

  import org.apache.spark.unsafe.types.UTF8String

  require(n >= 1, "shingle size n must be at least 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects string, got ${other.simpleString}")
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  /** Called from generated code; public for codegen access. */
  def shingles(text: UTF8String): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    // a private copy: the shingles are views into it, and `getBytes` may
    // hand back the input's own (possibly reused) buffer
    val bytes = text.copy().getBytes
    // token j spans [starts(j), starts(j + 1) - 1); the text ends one byte
    // after a virtual separator at bytes.length
    val builder = new scala.collection.mutable.ArrayBuilder.ofInt
    builder += 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') builder += i + 1; i += 1 }
    builder += bytes.length + 1
    val starts = builder.result()
    val nTok = starts.length - 1
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](2 * (nTok - n + 1))
    var j = 0
    while (j <= nTok - n) {
      val from = starts(j)
      seen.add(UTF8String.fromBytes(bytes, from, starts(j + n) - 1 - from))
      j += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    shingles(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("shingleSet", this, classOf[ShingleSet].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        ${classOf[ArrayData].getName} ${ev.value} = $ref.shingles(${c.isNull} ? null : ${c.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/**
 * AllPairs/PPJoin prefix of a shingle set under the FIXED global order
 * `(xxhash64(g), g)`: the first [[HashPrefix.length]] elements. The prefix
 * lemma holds under any fixed order, so two sets with Jaccard ≥ t share a
 * prefix element whichever documents, batches or corpora they come from —
 * no census ties one side's prefix to the other's. Term-for-term
 * `slice(array_sort(transform(s, g -> struct(xxhash64(g), g))), 1, len).g`
 * ([[Dedup.hashPrefixHof]], the semantic reference): Spark's seed-42
 * xxhash64 of the string's bytes (42 for a null element), signed ascending,
 * ties broken by the binary string order with nulls first.
 */
case class HashPrefix(child: Expression, threshold: Double) extends UnaryExpression {

  import org.apache.spark.unsafe.types.UTF8String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash_prefix expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType

  /** Called from generated code; public for codegen access. */
  def prefix(set: ArrayData): ArrayData = {
    val m = set.numElements()
    val k = math.max(0, math.min(m, HashPrefix.length(m, threshold)))
    val elems = new Array[UTF8String](m)
    val hashes = new Array[Long](m)
    val order = new Array[Integer](m)
    var i = 0
    while (i < m) {
      if (!set.isNullAt(i)) {
        val g = set.getUTF8String(i)
        elems(i) = g
        hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          g.getBaseObject, g.getBaseOffset, g.numBytes(), HashPrefix.Seed)
      } else hashes(i) = HashPrefix.Seed
      order(i) = i
      i += 1
    }
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val c = java.lang.Long.compare(hashes(a), hashes(b))
      if (c != 0) c
      else if (elems(a) == null) (if (elems(b) == null) 0 else -1)
      else if (elems(b) == null) 1
      else elems(a).binaryCompare(elems(b))
    })
    new GenericArrayData(Array.tabulate[Any](k)(j => elems(order(j))))
  }

  override def nullSafeEval(input: Any): Any = prefix(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashPrefix", this, classOf[HashPrefix].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.prefix($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashPrefix =
    copy(child = newChild)
}

object HashPrefix {
  /** Spark's `xxhash64` seed. */
  val Seed = 42L

  /** The AllPairs prefix length `|s| − ⌈t·|s|⌉ + 1` of a set of `size`
    * elements — the same double arithmetic as [[Dedup.prefixLength]]. */
  def length(size: Int, threshold: Double): Int =
    size - math.ceil(threshold * size).toInt + 1
}

object NativeExpressions {

  /** Codegen'd dot product of two float/double array columns. */
  def dotNative(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Cosine similarity built on the native dot product. */
  def cosineNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))
  }

  /** Top-k centroid ids by (cosine desc, id asc) — fused kernel. */
  def topCentroids(emb: Column, norm: Column,
                   cents: Seq[(Long, Array[Double])], k: Int): Column = {
    val cNorms = cents.map { case (_, e) =>
      var s = 0.0; var i = 0
      while (i < e.length) { s += e(i) * e(i); i += 1 }
      math.sqrt(s)
    }
    ColumnShim.column(TopCentroids(
      ColumnShim.expression(emb), ColumnShim.expression(norm),
      cents.map(_._1).toArray, cents.map(_._2).toArray, cNorms.toArray, k))
  }

  /** Fused hyperplane-LSH sign-bit signature (array of 64-bit words). */
  def hyperplaneSignature(emb: Column, planes: Seq[Seq[Double]]): Column =
    ColumnShim.column(HyperplaneSignature(
      ColumnShim.expression(emb), planes.map(_.toArray).toArray))

  /** Codegen'd MinHash signature over pre-reduced shingle hashes. */
  def minhashNative(hashes: Column, k: Int, seed: Long): Column =
    ColumnShim.column(MinHashSignature(ColumnShim.expression(hashes), k, seed))

  /** Codegen'd 64-bit SimHash over token hashes. */
  def simhashNative(tokenHashes: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(tokenHashes)))

  /** Fused one-pass token statistics (see [[TokenStats]]). */
  def tokenStats(toks: Column, markerLists: Seq[Seq[String]]): Column =
    ColumnShim.column(TokenStats(
      ColumnShim.expression(toks), markerLists.map(_.toArray).toArray))

  /** Distinct word n-gram shingles of a text (see [[ShingleSet]]). */
  def shingleSet(text: Column, n: Int): Column =
    ColumnShim.column(ShingleSet(ColumnShim.expression(text), n))

  /** Prefix of a shingle set under the fixed hash order (see [[HashPrefix]]). */
  def hashPrefix(set: Column, threshold: Double): Column =
    ColumnShim.column(HashPrefix(ColumnShim.expression(set), threshold))

  /** True when the two band arrays agree at any index below `band`. */
  def sharesEarlierBand(a: Column, b: Column, band: Column): Column =
    ColumnShim.column(SharesEarlierBand(
      ColumnShim.expression(a), ColumnShim.expression(b), ColumnShim.expression(band)))
}
