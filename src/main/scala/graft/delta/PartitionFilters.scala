package graft.delta

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/**
 * EXACT (tri-state) evaluation of pushed `sources.Filter`s against a
 * file's partition values — the basis for CLAIMING a filter in DSv2
 * pushdown instead of leaving it as a post-scan residual.
 *
 * Contrast with [[FilePruner]], which is a may-keep over-approximation
 * (sound to skip files with, never to claim a filter): here every atom
 * must decide, for EVERY row of the file, whether the predicate is
 * TRUE / FALSE / NULL — possible exactly when the atom references only
 * partition columns (all rows share the value) and the path string parses
 * under the column's type. Anything else is `None` (undecidable) and the
 * filter stays a residual.
 *
 * Claiming pays twice at scale: Spark stops re-evaluating the predicate
 * per row, and — because aggregate pushdown requires an empty post-scan
 * filter set — `SELECT count(*) FROM t WHERE date = X` on a partitioned
 * table becomes a metadata fold instead of a 100-TB scan.
 */
object PartitionFilters {

  /** SQL three-valued logic outcome, constant across a file's rows. */
  sealed trait TV
  case object True extends TV
  case object False extends TV
  case object Unknown extends TV // SQL NULL: row is NOT selected

  /** Syntactic pre-check (no snapshot needed): shape and references could
    * be claimable. Value-level decidability still needs [[eval]]. */
  def shapeClaimable(f: Filter, partCols: Set[String]): Boolean =
    f.references.nonEmpty && f.references.forall(partCols.contains) &&
      shapeOk(f)

  private def shapeOk(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan |
         _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual |
         _: In | _: IsNull | _: IsNotNull | _: StringStartsWith => true
    case And(l, r) => shapeOk(l) && shapeOk(r)
    case Or(l, r) => shapeOk(l) && shapeOk(r)
    case Not(c) => shapeOk(c)
    case _: AlwaysTrue | _: AlwaysFalse => true
    case _ => false
  }

  /** Per-file truth value of `filter`, or None when not provable. */
  def eval(f: AddFile, filter: Filter, partCols: Set[String],
           schema: StructType): Option[TV] =
    evalPv(f.partitionValues, filter, partCols, schema)

  /** [[eval]] on the bare partitionValues map — the distributed
    * claimability check ([[DistributedSnapshot.claimDecided]]) projects
    * ONLY this field out of the checkpoint's add JSON (codegen'd
    * from_json), never constructing an [[AddFile]] per row. */
  def evalPv(f: Map[String, String], filter: Filter, partCols: Set[String],
             schema: StructType): Option[TV] = filter match {
    case And(l, r) => (evalPv(f, l, partCols, schema), evalPv(f, r, partCols, schema)) match {
      case (Some(False), _) | (_, Some(False)) => Some(False)
      case (Some(True), x) => x
      case (x, Some(True)) => x
      case (Some(Unknown), Some(Unknown)) => Some(Unknown)
      case _ => None
    }
    case Or(l, r) => (evalPv(f, l, partCols, schema), evalPv(f, r, partCols, schema)) match {
      case (Some(True), _) | (_, Some(True)) => Some(True)
      case (Some(False), x) => x
      case (x, Some(False)) => x
      case (Some(Unknown), Some(Unknown)) => Some(Unknown)
      case _ => None
    }
    case Not(c) => evalPv(f, c, partCols, schema).map {
      case True => False
      case False => True
      case Unknown => Unknown
    }
    case _: AlwaysTrue => Some(True)
    case _: AlwaysFalse => Some(False)
    case EqualTo(a, v) => partVal(f, a, partCols) match {
      case None => None
      case Some(None) => Some(Unknown) // null = v → NULL
      case Some(Some(s)) =>
        if (v == null) Some(Unknown)
        else cmpTyped(s, v, dtOf(a, schema)).map(c => if (c == 0) True else False)
    }
    case EqualNullSafe(a, v) => partVal(f, a, partCols) match {
      case None => None
      case Some(None) => Some(if (v == null) True else False)
      case Some(Some(s)) =>
        if (v == null) Some(False)
        else cmpTyped(s, v, dtOf(a, schema)).map(c => if (c == 0) True else False)
    }
    case GreaterThan(a, v) => ordered(f, a, v, partCols, schema)(_ > 0)
    case GreaterThanOrEqual(a, v) => ordered(f, a, v, partCols, schema)(_ >= 0)
    case LessThan(a, v) => ordered(f, a, v, partCols, schema)(_ < 0)
    case LessThanOrEqual(a, v) => ordered(f, a, v, partCols, schema)(_ <= 0)
    case In(a, vs) => partVal(f, a, partCols) match {
      case None => None
      case Some(None) =>
        // null IN (...) is NULL (never TRUE); an empty list is FALSE
        Some(if (vs.isEmpty) False else Unknown)
      case Some(Some(s)) =>
        val dt = dtOf(a, schema)
        var sawNull = false
        var undecided = false
        var hit = false
        vs.foreach { v =>
          if (v == null) sawNull = true
          else cmpTyped(s, v, dt) match {
            case Some(0) => hit = true
            case Some(_) => ()
            case None => undecided = true
          }
        }
        if (hit) Some(True)
        else if (undecided) None
        else if (sawNull) Some(Unknown)
        else Some(False)
    }
    case IsNull(a) => partVal(f, a, partCols).map {
      case None => True
      case Some(_) => False
    }
    case IsNotNull(a) => partVal(f, a, partCols).map {
      case None => False
      case Some(_) => True
    }
    case StringStartsWith(a, p) => (dtOf(a, schema), partVal(f, a, partCols)) match {
      case (StringType, Some(None)) => Some(Unknown)
      case (StringType, Some(Some(s))) => Some(if (s.startsWith(p)) True else False)
      case _ => None
    }
    case _ => None
  }

  /** ONE-PASS claim over a pinned snapshot: evaluate every candidate on
    * every file once; a candidate is claimable iff it decides everywhere,
    * and the kept set is the files where EVERY claimable filter is True.
    * Returns (claimable filters, kept file paths) — the path set is the
    * memoized claim decision the scan and aggregate paths reuse, so the
    * tri-state evaluation runs once per query, not once per consumer. */
  def claim(files: Seq[AddFile], candidates: Seq[Filter],
            partCols: Set[String], schema: StructType): (Seq[Filter], Set[String]) = {
    val perFilter: Seq[(Filter, IndexedSeq[Option[TV]])] = candidates.map { f =>
      f -> files.map(af => eval(af, f, partCols, schema)).toIndexedSeq
    }
    val claimable = perFilter.collect {
      case (f, evs) if evs.forall(_.isDefined) => (f, evs)
    }
    if (claimable.isEmpty) return (Nil, Set.empty)
    val keep = files.iterator.zipWithIndex.collect {
      case (af, i) if claimable.forall(_._2(i).contains(True)) => af.path
    }.toSet
    (claimable.map(_._1), keep)
  }

  // ---- helpers ---------------------------------------------------------------

  /** None = value unknowable (missing key / not a partition column);
    * Some(None) = null partition; Some(Some(s)) = the raw path value.
    * A JSON-null VALUE (a foreign writer's null partition, which
    * Actions.strMap drops but from_json keeps as a null map value) is
    * unknowable too — identical tri-state semantics on both parse paths. */
  private def partVal(f: Map[String, String], a: String,
                      partCols: Set[String]): Option[Option[String]] =
    if (!partCols.contains(a)) None
    else f.get(a) match {
      case None | Some(null) => None
      case Some(PartitionPaths.NullMarker) => Some(None)
      case Some(s) => Some(Some(s))
    }

  private def dtOf(a: String, schema: StructType): DataType =
    schema.fields.find(_.name == a).map(_.dataType).getOrElse(NullType)

  private def ordered(f: Map[String, String], a: String, v: Any, partCols: Set[String],
                      schema: StructType)(sel: Int => Boolean): Option[TV] =
    partVal(f, a, partCols) match {
      case None => None
      case Some(None) => Some(Unknown)
      case Some(Some(s)) =>
        if (v == null) Some(Unknown)
        else cmpTyped(s, v, dtOf(a, schema)).map(c => if (sel(c)) True else False)
    }

  private def numOf(v: Any): Option[BigDecimal] = v match {
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case s: Short => Some(BigDecimal(s.toInt))
    case b: Byte => Some(BigDecimal(b.toInt))
    // Double/Float literals go through their shortest decimal rendering —
    // the SAME string Spark's Cast writes into the partition path — so the
    // decimal compare is exact. (`BigDecimal(f.toDouble)` would compare the
    // path's BigDecimal("0.1") against 0.10000000149011612 and silently
    // decide False for a filter every row satisfies; scala.BigDecimal(d:
    // Double) is already Double.toString-based.) Non-finite values have no
    // decimal form → None → the filter stays a residual.
    case d: Double if java.lang.Double.isFinite(d) => Some(BigDecimal(d))
    case f: Float if java.lang.Float.isFinite(f) => Some(BigDecimal(f.toString))
    case _: Double | _: Float => None
    case d: BigDecimal => Some(d)
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case _ => None
  }

  private def tsLocal(v: Any): Option[java.time.LocalDateTime] = v match {
    case t: java.sql.Timestamp =>
      Some(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case i: java.time.Instant =>
      Some(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
    case l: java.time.LocalDateTime => Some(l)
    case _ => None
  }

  /** Typed compare of a partition-path string against a pushed-filter
    * literal under the column's type; None when unparseable/mismatched. */
  private[delta] def cmpTyped(actual: String, lit: Any, dt: DataType): Option[Int] = dt match {
    // Float/Double parse the PATH under the column type first (then widen)
    // instead of comparing decimal strings: a foreign writer may render a
    // float-exact but non-shortest value ("0.100000001490116" for 0.1f),
    // which the read side casts back to the same float — a decimal-string
    // compare would decide False on an equality every row satisfies, and a
    // CLAIMED False is silent row loss. Same treatment FilePruner's
    // partition comparator takes. Non-finite parses/literals refuse (no
    // decimal identity; the filter stays a residual). IEEE `==` handles
    // -0.0 = 0.0 before the total-order compare.
    case FloatType | DoubleType =>
      val a: Option[Double] = dt match {
        case FloatType => scala.util.Try(actual.toFloat).toOption
          .filter(java.lang.Float.isFinite(_)).map(_.toDouble)
        case _ => scala.util.Try(actual.toDouble).toOption
          .filter(java.lang.Double.isFinite(_))
      }
      val b: Option[Double] = lit match {
        case f: java.lang.Float if java.lang.Float.isFinite(f) => Some(f.toDouble)
        case d: java.lang.Double if java.lang.Double.isFinite(d) => Some(d.toDouble)
        case _ => None
      }
      for (x <- a; y <- b)
        yield if (x == y) 0 else java.lang.Double.compare(x, y)
    case _: NumericType =>
      for (a <- scala.util.Try(BigDecimal(actual)).toOption; b <- numOf(lit))
        yield a.compare(b)
    case StringType => lit match {
      case s: String => Some(FilePruner.utf8Compare(actual, s).sign)
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(FilePruner.utf8Compare(actual, u.toString).sign)
      case _ => None
    }
    case BooleanType => (scala.util.Try(actual.toBoolean).toOption, lit) match {
      case (Some(a), b: java.lang.Boolean) => Some(a.compareTo(b))
      case _ => None
    }
    case DateType =>
      val litDate: Option[java.time.LocalDate] = lit match {
        case d: java.sql.Date => Some(d.toLocalDate)
        case d: java.time.LocalDate => Some(d)
        case _ => None
      }
      for {
        a <- scala.util.Try(java.time.LocalDate.parse(actual.take(10))).toOption
        b <- litDate
      } yield a.compareTo(b).sign
    // Zoned-timestamp path values are UTC wall-clock BY CONSTRUCTION: every
    // write renders them with Cast(..., Some("UTC")) regardless of the
    // session time zone (the task writer's partition rendering,
    // TaskWriter.dirOf), and the scan parses them back at UTC
    // (GraftBatchScan.partitionValueRow). Rendering the literal's instant at
    // UTC is therefore exact — not a session-TZ assumption.
    case TimestampType | TimestampNTZType =>
      for {
        a <- FilePruner.canonTs(actual)
        bl <- tsLocal(lit)
        b <- Some(FilePruner.CanonFormat.format(bl))
      } yield a.compareTo(b).sign
    case _ => None
  }
}
