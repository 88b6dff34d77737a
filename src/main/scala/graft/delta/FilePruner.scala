package graft.delta

import org.apache.spark.sql.types._
import org.json4s._

/**
 * Driver-side file skipping from the transaction log, before the DataFrame
 * is even constructed — Catalyst can't prune our file list for us because the
 * active set comes from the log, not a catalog.
 *
 * Two phases, mirroring the reference:
 *  - partition pruning on `$eq`/`$in` (and bare literals), conservatively
 *    keeping files for any other operator
 *    (reference: src/delta/table.ts:1624-1687);
 *  - zone-map skipping of data files whose add-action min/max stats prove the
 *    predicate false (reference: canSkipZoneMap, src/parquet/index.ts:160-250 —
 *    latent there, wired in here).
 *
 * Only top-level conjunctive predicates prune; `$or`/`$not`/`$nor` etc. are
 * never used for skipping (conservative = correct).
 */
object FilePruner {

  def prune(snap: Snapshot, filter: JValue): Seq[AddFile] = {
    val keep = compile(filter, snap.partitionColumns.toSet, snap.schema)
    snap.activeFiles.filter(keep)
  }

  /** Compile `filter` into a per-file keep predicate. The returned closure
    * captures only serializable state (the conjunct list, partition-column
    * set and schema), so [[DistributedSnapshot]] can ship it to executors
    * and prune a billion-file checkpoint without ever materializing the
    * add actions on the driver — bit-identical semantics to [[prune]],
    * which now routes through it. */
  def compile(filter: JValue, partCols: Set[String],
              schema: StructType): AddFile => Boolean = filter match {
    case JObject(entries) =>
      // Conjunctive top-level entries; flatten top-level $and. A `$or`
      // conjunct prunes DISJUNCTIVELY: keep the file if any branch's
      // compiled predicate keeps it — sound because each branch predicate
      // is itself a may-contain over-approximation. Branches are compiled
      // once here, not per file.
      val conj: Seq[(String, JValue)] = entries.flatMap {
        case ("$and", JArray(subs)) => subs.collect { case JObject(fs) => fs }.flatten
        case other => Seq(other)
      }
      val keeps: Seq[AddFile => Boolean] = conj.map {
        case ("$or", JArray(branches)) if branches.nonEmpty =>
          val bs = branches.map {
            case b: JObject => compile(b, partCols, schema)
            case _ => (_: AddFile) => true
          }
          f => bs.exists(_(f))
        case (field, cond) if !field.startsWith("$") =>
          if (partCols.contains(field))
            f => partitionKeeps(f, field, cond, schema)
          else
            f => statsKeep(f, field, cond, schema)
        case _ => _ => true // $nor/$not/empty-$or etc: conservative keep
      }
      f => keeps.forall(_(f))
    case _ => _ => true
  }

  // ---- partition pruning ---------------------------------------------------

  private def partitionKeeps(f: AddFile, field: String, cond: JValue,
                             schema: StructType): Boolean = {
    val actual = f.partitionValues.get(field) match {
      case Some(v) if v != PartitionPaths.NullMarker => Some(v)
      case Some(_) => None // hive null marker
      case None => return true // unknown partition value: keep
    }
    // Typed comparison against the file's SINGLE partition value (every
    // row in the file shares it): render the path string in the same
    // JValue form the zone-map comparator takes for the column's type,
    // then ranges and negations prune exactly — `WHERE event_date >=
    // DATE '…'` on a date-partitioned table drops every out-of-range
    // partition at plan time. The reference keeps only equality here
    // (table.ts:1624-1657); ranges are the canonical partition-filter
    // shape at scale, so we deliberately exceed it. Incomparable forms
    // (parse failure, unsupported type) stay conservative keeps.
    def cmpActual(v: JValue): Option[Int] = actual.flatMap { s =>
      val dt = schema.fields.find(_.name == field).map(_.dataType)
        .getOrElse(return None)
      val statForm: Option[JValue] = dt match {
        // Float/Double path values parse UNDER THE COLUMN TYPE then widen —
        // the same widening the filter literal and footer stats take
        // (JDouble(f.toDouble)) — so path "0.1" compares equal to the
        // widened 0.1f literal instead of BigDecimal("0.1") vs
        // 0.10000000149011612 pruning every file. Doubles take the same
        // route (round 16): a foreign writer's double-exact but
        // non-shortest rendering ("0.10000000000000001" for 0.1) parses
        // back to the identical double, while BigDecimal of the raw string
        // would mis-order against the literal at $gte/$lte boundaries.
        // Non-finite parses ("NaN"/"Infinity") fall out in num() → keep.
        case FloatType =>
          scala.util.Try(JDouble(s.toFloat.toDouble)).toOption
        case DoubleType =>
          scala.util.Try(JDouble(s.toDouble)).toOption
        case _: NumericType =>
          scala.util.Try(JDecimal(BigDecimal(s))).toOption
        case StringType => Some(JString(s))
        case DateType | TimestampType | TimestampNTZType => Some(JString(s))
        case _ => None
      }
      statForm.flatMap(compare(_, v, dt))
    }
    // Equality must agree with the range comparators on typed columns: the
    // filter literal arrives in canonical ISO form ('2026-01-03T03:00:00.000000')
    // while the partition path value is Cast-rendered ('2026-01-03 03:00:00'),
    // so raw string equality would prune EVERY file and silently return zero
    // rows. Route date/timestamp through the same typed comparator the ranges
    // use; an incomparable pair (None) keeps the file — conservative = correct.
    // FloatType routes through the typed comparator for the same reason:
    // the literal arrives widened (JDouble(0.1f.toDouble) =
    // 0.10000000149011612) while the path renders the shortest decimal
    // ("0.1"), so matchesPartition's `s.toDouble == x` would prune every
    // file of an equality every row satisfies. DoubleType likewise: a
    // foreign non-shortest path rendering must parse-then-compare as a
    // double, and it keeps equality consistent with the range comparators.
    val typedField = schema.fields.find(_.name == field).map(_.dataType).exists {
      case DateType | TimestampType | TimestampNTZType | FloatType |
           DoubleType => true
      case _ => false
    }
    def eqKeeps(v: JValue): Boolean = (actual, v) match {
      case (None, JNull) => true
      case (None, _) | (_, JNull) => false
      case _ if typedField => cmpActual(v).forall(_ == 0)
      case _ => matchesPartition(actual, v)
    }
    cond match {
      case JObject(ops) if ops.nonEmpty && ops.forall(_._1.startsWith("$")) =>
        ops.forall {
          case ("$eq", v) => eqKeeps(v)
          case ("$in", JArray(items)) => items.exists(eqKeeps)
          case ("$gt", v) => cmpActual(v).forall(_ > 0)
          case ("$gte", v) => cmpActual(v).forall(_ >= 0)
          case ("$lt", v) => cmpActual(v).forall(_ < 0)
          case ("$lte", v) => cmpActual(v).forall(_ <= 0)
          // $ne/$nin drop a file only on a DEFINITE equality: all rows
          // share the value, so a proven match excludes every row. A
          // null partition (actual None) keeps for non-null literals —
          // Mongo $ne matches null — but `$ne null` (IS NOT NULL) drops
          // it, and `$nin [...null...]` drops it too.
          case ("$ne", JNull) => actual.nonEmpty
          case ("$ne", v) => actual.isEmpty || !cmpActual(v).contains(0)
          case ("$nin", JArray(items)) =>
            if (actual.isEmpty) !items.contains(JNull)
            else !items.exists(i => cmpActual(i).contains(0))
          // prefix predicate (LIKE 'p%'): every row shares the partition
          // value, so keep iff it carries the prefix; null never matches
          case ("$startsWith", JString(p)) => actual.exists(_.startsWith(p))
          // anchored regex ('^abc...') prunes on its literal prefix — an
          // over-approximation (the tail of the pattern may demand more),
          // which is exactly what may-keep needs. Flags ('$options', e.g.
          // 'i'/'m') change what ^ and the prefix mean → no pruning.
          case ("$regex", JString(p)) if !ops.exists(_._1 == "$options") =>
            regexLiteralPrefix(p) match {
              case Some(pre) => actual.exists(_.startsWith(pre))
              case None => true
            }
          case _ => true // other operators: conservative keep
        }
      case literal => eqKeeps(literal)
    }
  }

  /** Partition values live as path strings; compare against the literal's
    * canonical string form (Spark writes numbers/booleans in plain form). */
  private def matchesPartition(actual: Option[String], v: JValue): Boolean = (actual, v) match {
    case (None, JNull) => true
    case (None, _) | (_, JNull) => false
    case (Some(s), JString(x)) => s == x
    case (Some(s), JInt(x)) => scala.util.Try(BigDecimal(s) == BigDecimal(x)).getOrElse(false)
    case (Some(s), JLong(x)) => scala.util.Try(BigDecimal(s) == BigDecimal(x)).getOrElse(false)
    case (Some(s), JDouble(x)) => scala.util.Try(s.toDouble == x).getOrElse(false)
    case (Some(s), JBool(x)) => scala.util.Try(s.toBoolean == x).getOrElse(false)
    case _ => true
  }

  // ---- zone-map (stats) skipping --------------------------------------------

  private def statsKeep(f: AddFile, field: String, cond: JValue, schema: StructType): Boolean = {
    val stats = f.parsedStats.getOrElse(return true)
    val hasOptions = cond match {
      case JObject(ops) => ops.exists(_._1 == "$options")
      case _ => false
    }
    val dt = schema.fields.find(_.name == field).map(_.dataType).getOrElse(return true)
    val lo = stats.minValues.get(field)
    val hi = stats.maxValues.get(field)
    val nullsOpt = stats.nullCount.get(field)
    val nulls = nullsOpt.getOrElse(0L)
    val allNull = stats.numRecords > 0 && nulls == stats.numRecords

    def keepOp(op: String, v: JValue): Boolean = op match {
      case "$eq" => mayContain(lo, hi, v, dt, allNull, nullsOpt)
      case "$gt" => cmpHi(hi, v, dt).forall(_ > 0) && !allNull
      case "$gte" => cmpHi(hi, v, dt).forall(_ >= 0) && !allNull
      case "$lt" => cmpLo(lo, v, dt).forall(_ < 0) && !allNull
      case "$lte" => cmpLo(lo, v, dt).forall(_ <= 0) && !allNull
      case "$in" => v match {
        case JArray(items) => items.exists(i => mayContain(lo, hi, i, dt, allNull, nullsOpt))
        case _ => true
      }
      // $ne/$nin drop only when EVERY row provably matches the excluded
      // value: all-null for `null`, or a constant column (zero nulls,
      // min == max == literal) for a non-null literal.
      case "$ne" => !provenAllEqual(v)
      case "$nin" => v match {
        case JArray(items) => !items.exists(provenAllEqual)
        case _ => true
      }
      // prefix (LIKE 'p%'): some x in [lo, hi] can start with p iff
      // hi >= p and (lo <= p or lo itself carries the prefix) in UTF-8
      // byte order — exact because our string stats are never truncated
      // (long strings are omitted, FooterStats policy). Missing bound or
      // non-string stat form → keep.
      case "$startsWith" => (dt, v) match {
        case (StringType, JString(p)) => prefixKeep(p)
        case _ => true
      }
      case "$regex" => (dt, v) match {
        // see partitionKeeps: the anchored pattern's literal prefix bounds
        // the zone map exactly like $startsWith; flag-carrying or
        // unanchored patterns prune nothing
        case (StringType, JString(p)) if !hasOptions =>
          regexLiteralPrefix(p).forall(prefixKeep)
        case _ => true
      }
      case _ => true
    }

    def prefixKeep(p: String): Boolean =
      !allNull &&
        hi.forall { case JString(h) => utf8Compare(h, p) >= 0; case _ => true } &&
        lo.forall { case JString(l) =>
          utf8Compare(l, p) <= 0 || l.startsWith(p); case _ => true }

    def provenAllEqual(v: JValue): Boolean = v match {
      case JNull => allNull
      case _ =>
        // a KNOWN-zero null count is required: a missing nullCount stat
        // can't prove the file has no null rows (which $ne/$nin match)
        stats.numRecords > 0 && nullsOpt.contains(0L) &&
          cmpLo(lo, v, dt).contains(0) && cmpHi(hi, v, dt).contains(0)
    }

    cond match {
      case JObject(ops) if ops.nonEmpty && ops.forall(_._1.startsWith("$")) =>
        ops.forall { case (op, v) => keepOp(op, v) }
      case JNull => true
      case literal => keepOp("$eq", literal)
    }
  }

  private def mayContain(lo: Option[JValue], hi: Option[JValue], v: JValue,
                         dt: DataType, allNull: Boolean,
                         nullsOpt: Option[Long]): Boolean = v match {
    // null-eq matches null ROWS, not all-null FILES: any file with a nonzero
    // null count may contain matches; only a known-zero null count prunes.
    case JNull => nullsOpt.forall(_ > 0)
    case _ =>
      if (allNull) return false
      cmpLo(lo, v, dt).forall(_ <= 0) && cmpHi(hi, v, dt).forall(_ >= 0)
  }

  /** compare(min, literal): None when incomparable (keep file). */
  private def cmpLo(lo: Option[JValue], v: JValue, dt: DataType): Option[Int] =
    lo.flatMap(compare(_, v, dt))
  private def cmpHi(hi: Option[JValue], v: JValue, dt: DataType): Option[Int] =
    hi.flatMap(compare(_, v, dt))

  private def num(j: JValue): Option[BigDecimal] = j match {
    case JInt(n) => Some(BigDecimal(n))
    case JLong(n) => Some(BigDecimal(n))
    // NaN/Infinity have no decimal form (BigDecimal(d) would THROW, failing
    // the whole scan on a pushed non-finite literal): incomparable → keep.
    case JDouble(d) => if (java.lang.Double.isFinite(d)) Some(BigDecimal(d)) else None
    case JDecimal(d) => Some(d)
    case _ => None
  }

  private[delta] def compare(statVal: JValue, lit: JValue, dt: DataType): Option[Int] = dt match {
    case _: NumericType =>
      for (a <- num(statVal); b <- num(lit)) yield a.compare(b)
    case StringType => (statVal, lit) match {
      // UTF-8 unsigned byte order — the ordering Spark's UTF8String filters
      // use AND the ordering the min/max stats were computed under (both the
      // aggregation and parquet-footer paths). Java's String.compareTo is
      // UTF-16 code-unit order, which disagrees for supplementary-plane vs
      // U+E000..U+FFFF characters and could misprune files.
      case (JString(a), JString(b)) => Some(utf8Compare(a, b).sign)
      case _ => None
    }
    case TimestampType | TimestampNTZType => (statVal, lit) match {
      // Canonicalize BOTH sides to fixed-precision UTC before comparing:
      // older stats came from LocalDateTime.toString (which drops trailing
      // ':00' seconds, so '…T12:00' < '…T12:00:00' lexicographically even
      // though they're equal instants) and filter literals may carry 'Z' or
      // space separators. Parse failure → None → keep the file.
      case (JString(a), JString(b)) =>
        for (x <- canonTs(a); y <- canonTs(b)) yield x.compareTo(y).sign
      case _ => None
    }
    case DateType => (statVal, lit) match {
      case (JString(a), JString(b)) =>
        (for (x <- parseDate(a); y <- parseDate(b)) yield x.compareTo(y).sign)
      case _ => None
    }
    case _ => None
  }

  /** Fixed-precision (micros) ISO-8601 at UTC — the canonical stat/literal
    * timestamp form. Mirrors MongoFilter's literal parse rules. */
  private[graft] val CanonFormat =
    java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")

  private[delta] def canonTs(s: String): Option[String] = {
    val ldt: Option[java.time.LocalDateTime] =
      (try Some(java.time.LocalDateTime.ofInstant(
        java.time.Instant.parse(s), java.time.ZoneOffset.UTC))
      catch { case _: java.time.format.DateTimeParseException => None })
        .orElse(try {
          if (s.contains("T") || s.contains(" "))
            Some(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
          else Some(java.time.LocalDate.parse(s).atStartOfDay())
        } catch { case _: java.time.format.DateTimeParseException => None })
    ldt.map(CanonFormat.format)
  }

  private def parseDate(s: String): Option[java.time.LocalDate] =
    try Some(java.time.LocalDate.parse(s.take(10)))
    catch { case _: java.time.format.DateTimeParseException => None }

  /** Literal prefix of a start-anchored regex ('^abc.*' → "abc"): the
    * chars after '^' up to the first metacharacter or escape. None when
    * unanchored or the prefix is empty — then the pattern says nothing
    * about where matches sit in the string order. A character FOLLOWED BY
    * a quantifier ('^ab?') is optional, so the prefix stops one short. */
  private[delta] def regexLiteralPrefix(pattern: String): Option[String] = {
    if (!pattern.startsWith("^")) return None
    val meta = ".*+?()[]{}|\\$".toSet
    val body = pattern.drop(1)
    val lit = body.takeWhile(!meta.contains(_))
    // a quantifier right after the literal run makes its LAST char optional
    val safe =
      if (body.length > lit.length && "*?{".contains(body(lit.length)) && lit.nonEmpty)
        lit.init
      else lit
    if (safe.isEmpty) return None
    // a TOP-LEVEL alternation voids the anchor: '^a|b' also matches
    // strings that merely contain 'b'. Scan the tail (the literal run
    // itself holds no metacharacters) tracking escapes/classes/groups.
    val rest = body.drop(lit.length)
    var depth = 0; var i = 0; var esc = false; var cls = false
    while (i < rest.length) {
      val c = rest(i)
      if (esc) esc = false
      else c match {
        case '\\' => esc = true
        case '[' => cls = true
        case ']' => cls = false
        case '(' if !cls => depth += 1
        case ')' if !cls => depth -= 1
        case '|' if !cls && depth == 0 => return None
        case _ => ()
      }
      i += 1
    }
    Some(safe)
  }

  private[delta] def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
}
