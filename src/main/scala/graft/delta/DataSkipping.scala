package graft.delta

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{logical => lp}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._

import scala.collection.mutable
import scala.util.control.NonFatal

/**
 * File skipping from the transaction log, before Spark plans the scan:
 * Catalyst cannot prune our file list because the active set comes from
 * the log, not a catalog. Every caller — the scan, its runtime filters
 * and claims, SQL DML, replaceWhere, `DeltaTable.query` — hands its
 * predicate here as a `Column`.
 *
 * The predicate is resolved and bound once, on the driver, then rewritten
 * into a MAY-KEEP expression over a per-file stats row: `numRecords`, and
 * the min, max and null count of each referenced data column, decoded into
 * the column type's internal value by [[statValue]], so comparisons use
 * Spark's own ordering. A conjunct or OR branch that reads only partition
 * columns, with a rule for every node, is evaluated exactly over the
 * file's decoded partition values ([[PartitionFilters]]' rules): the file
 * drops on FALSE or NULL, and an undecidable value keeps it. `NOT` is
 * pushed down; any shape without a rule keeps the file, and so does a
 * NULL at the top — a missing stat only ever keeps files. The bound
 * predicate is serializable, so [[DistributedSnapshot]] evaluates the same
 * expression on executors.
 */
object DataSkipping {

  /** Resolve-and-bind for `schema`: a condition that is resolved once its
    * column names bind (SQL DML's, or a runtime filter's `IN` list) skips
    * the analyzer; anything else is analyzed as a filter over an empty
    * relation of `schema`. The result reads `schema`'s ordinals; None when
    * the condition does not resolve. */
  def resolver(schema: StructType): Expression => Option[Expression] = {
    lazy val empty = lp.LocalRelation(DataTypeUtils.toAttributes(schema))
    e => {
      try byName(e, schema).filter(_.resolved).orElse {
        if (e.resolved) None
        else Shims.analyzeFilter(SparkSession.active, e, empty) match {
          case lp.Filter(cond, child) =>
            Some(BindReferences.bindReference(cond, child.output))
          case _ => None
        }
      } catch { case NonFatal(_) => None }
    }
  }

  /** `e` with the columns it names exactly bound to `schema`'s ordinals;
    * None when a resolved column is missing or of another type. */
  private def byName(e: Expression, schema: StructType): Option[Expression] =
    Some(e.transform {
      case a: AttributeReference =>
        val i = schema.fields.indexWhere(_.name == a.name)
        if (i < 0 || schema(i).dataType != a.dataType) return None
        BoundReference(i, a.dataType, a.nullable)
      case u: UnresolvedAttribute if u.nameParts.size == 1 &&
          schema.fieldNames.contains(u.nameParts.head) =>
        val i = schema.fieldIndex(u.nameParts.head)
        BoundReference(i, schema(i).dataType, schema(i).nullable)
    })

  /** Strings in the default (UTF-8 byte order) collation: the order the
    * stats were computed in. */
  private def binaryString(dt: DataType): Boolean = dt match {
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** The files of `snap` that may hold a row satisfying `predicate`. */
  def prune(snap: Snapshot, predicate: Column): Seq[AddFile] = {
    val p = bind(predicate, snap.schema, snap.partitionColumns)
    if (p.prunes) snap.activeFiles.filter(p) else snap.activeFiles
  }

  /** `predicate`'s skipping predicate over files of a table with `schema`
    * and `partitionColumns`. When the whole predicate does not resolve,
    * its top-level conjuncts resolve one by one: one that does not only
    * loses its own pruning. */
  def bind(predicate: Column, schema: StructType,
           partitionColumns: Seq[String]): Predicate = {
    val resolve = resolver(schema)
    val e = Shims.expression(predicate)
    val resolved = resolve(e).orElse {
      val parts = conjuncts(e)
      if (parts.size > 1) parts.flatMap(resolve(_)).reduceOption(And) else None
    }
    resolved.filter(_ != Literal.TrueLiteral)
      .fold(KeepAll)(new Rewrite(schema, partitionColumns.toSet).predicate)
  }

  val KeepAll: Predicate = new Predicate(Literal.TrueLiteral, 1, Array.empty, Nil)

  /** The top-level conjuncts of `e`, resolved or not (the Column API's
    * `&&` is an unresolved `and` function until analysis). */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case f: UnresolvedFunction if f.nameParts == Seq("and") && f.arguments.size == 2 =>
      f.arguments.flatMap(conjuncts)
    case _ => Seq(e)
  }

  /** One slot of the per-file stats row. */
  private sealed trait Slot extends Serializable
  private final case class StatSlot(at: Int, name: String, dt: DataType,
                                    kind: Char) extends Slot
  private final case class PartSlot(known: Int, value: PartitionFilters.PartValue)
    extends Slot

  /** The columns of a table of decoded file rows ([[DistributedSnapshot]]'s
    * cached checkpoint rows), by the stats-row slot each one fills. */
  trait FileColumns {
    /** The file's `numRecords`. */
    def numRecords: Expression

    /** The decoded min (`kind` 'l'), max ('h') or null count ('n') of
      * column `name`, as [[statValue]] decodes it for type `dt`; None when
      * the rows do not carry it. */
    def stat(name: String, dt: DataType, kind: Char): Option[Expression]

    /** The decode state and value of partition column `name` of type
      * `dt` ([[PartitionFilters.decode]]); None when the rows do not carry
      * it. */
    def partition(name: String, dt: DataType): Option[(Expression, Expression)]
  }

  /** A bound skipping predicate: keeps a file unless its stats row proves
    * the predicate FALSE or NULL for every row. `points` are the
    * predicate's equality point sets ([[pointSets]]) by column name, for
    * the bloom-sidecar pass. */
  final class Predicate private[DataSkipping] (
      keep: Expression, width: Int, slots: Array[Slot],
      val points: Seq[(String, Seq[Any])])
    extends (AddFile => Boolean) with Serializable {

    /** False when the predicate keeps every file. */
    val prunes: Boolean = keep != Literal.TrueLiteral

    private val stats = slots.collect { case s: StatSlot => s }
    private val parts = slots.collect { case p: PartSlot => p }
    private val isStat = {
      val a = new Array[Boolean](width)
      a(0) = true
      stats.foreach(s => a(s.at) = true)
      a
    }

    def apply(f: AddFile): Boolean = {
      if (!prunes) return true
      val row = new FileRow(f)
      parts.foreach(p => row.setBoolean(p.known, p.value.fill(row, f.partitionValues)))
      try keep.eval(row) != false catch { case NonFatal(_) => true }
    }

    /** The same test as one Catalyst expression over rows that carry the
      * decoded stats and partition values in `cols`: a file is kept unless
      * it evaluates FALSE (a NULL or an evaluation error keeps it, as in
      * [[apply]]). None when a slot the predicate reads has no column. */
    def overColumns(cols: FileColumns): Option[Expression] = {
      if (!prunes) return Some(Literal.TrueLiteral)
      val bySlot = new Array[Expression](width)
      bySlot(0) = cols.numRecords
      slots.foreach {
        case StatSlot(at, name, dt, kind) =>
          bySlot(at) = cols.stat(name, dt, kind).getOrElse(return None)
        case PartSlot(known, v) =>
          val (state, value) = cols.partition(v.name, v.dt).getOrElse(return None)
          val (k, x) = v.overColumns(state, value)
          bySlot(known) = k
          bySlot(v.ordinal) = x
      }
      val onColumns = keep.transformUp { case b: BoundReference => bySlot(b.ordinal) }
      Some(Coalesce(Seq(TryEval(onColumns), Literal.TrueLiteral)))
    }

    /** One file's stats row. The stats JSON parses on the first read of a
      * stats slot, so a file its partition values already drop is never
      * parsed. */
    private final class FileRow(f: AddFile) extends GenericInternalRow(width) {
      private var parsed = false

      override protected def genericGet(i: Int): Any = {
        if (!parsed && isStat(i)) parse()
        super.genericGet(i)
      }

      override def isNullAt(i: Int): Boolean = genericGet(i) == null

      private def parse(): Unit = {
        parsed = true
        f.parsedStats.foreach { st =>
          update(0, st.numRecords)
          stats.foreach { case StatSlot(at, name, dt, kind) =>
            update(at, kind match {
              case 'n' => st.nullCount.get(name).fold(null: Any)(n => n)
              case 'l' => st.minValues.get(name).map(statValue(_, dt)).orNull
              case _ => st.maxValues.get(name).map(statValue(_, dt)).orNull
            })
          }
        }
      }
    }
  }

  /** The one stats-value decoder: a log JSON stat → the internal value of
    * `dt`, or null when the stat form cannot be trusted for the type (then
    * every comparison with it is NULL and the file is kept). Dates and
    * timestamps — canonical, legacy `…T12:00`, space-separated or
    * `Z`-suffixed — decode through [[PartitionPaths.decoder]]'s UTC ANSI
    * cast. Decimal and boolean stats stay undecoded. */
  def statValue(j: JValue, dt: DataType): Any = {
    def integral: Option[BigInt] = j match {
      case JInt(n) => Some(n)
      case JLong(n) => Some(BigInt(n))
      case _ => None
    }
    def fractional: Option[Double] = j match {
      case JDouble(d) => Some(d)
      case JDecimal(d) => Some(d.toDouble)
      case _ => integral.map(_.toDouble)
    }
    try dt match {
      case ByteType => integral.filter(_.isValidByte).map(_.toByte: Any).orNull
      case ShortType => integral.filter(_.isValidShort).map(_.toShort: Any).orNull
      case IntegerType => integral.filter(_.isValidInt).map(_.toInt: Any).orNull
      case LongType => integral.filter(_.isValidLong).map(_.toLong: Any).orNull
      case FloatType => fractional.map(_.toFloat: Any).orNull
      case DoubleType => fractional.map(d => d: Any).orNull
      case _: StringType if binaryString(dt) => j match {
        case JString(v) => UTF8String.fromString(v)
        case _ => null
      }
      case DateType | TimestampType | TimestampNTZType => j match {
        case JString(v) => PartitionPaths.decoder(dt)(v)
        case _ => null
      }
      case _ => null
    } catch { case NonFatal(_) => null }
  }

  /** Whether [[statValue]] decodes min and max stats of type `dt` (it
    * leaves every other type's null). */
  def decodesBounds(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case DateType | TimestampType | TimestampNTZType => true
    case _ => binaryString(dt)
  }

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

  /** `LIKE 'p%'` with a plain prefix pattern (no other wildcard, no
    * escape) → p. */
  private def likePrefix(pattern: String): Option[String] =
    if (pattern.nonEmpty && pattern.last == '%' &&
        !pattern.init.exists(c => c == '%' || c == '_' || c == '\\'))
      Some(pattern.init)
    else None

  // ---- shapes ----------------------------------------------------------------

  /** A leaf the rewrite has a rule for. `ref` is a column reference under
    * zero or more order-preserving widening casts; values are literals of
    * `ref`'s type. */
  private sealed trait Shape { def ref: Expression }
  /** `ref op v`, op one of < <= = >= >. */
  private final case class Cmp(ref: Expression, op: String, v: Literal) extends Shape
  /** `ref IN (vs)`; `=`, non-null `<=>` and `InSet` take this form too. */
  private final case class AnyOf(ref: Expression, vs: Seq[Literal]) extends Shape
  /** `ref IS NULL` (or `IS NOT NULL` when `negated`). */
  private final case class NullTest(ref: Expression, negated: Boolean) extends Shape
  private final case class Prefix(ref: Expression, p: UTF8String) extends Shape
  /** `NOT (ref = v)` / `NOT (ref IN vs)`, or `NOT (ref <=> v)` when
    * `nullSafe` (null rows then match too). */
  private final case class NoneOf(ref: Expression, vs: Seq[Literal],
                                  nullSafe: Boolean) extends Shape

  private val flip = Map("<" -> ">", "<=" -> ">=", "=" -> "=", ">=" -> "<=", ">" -> "<")

  private def rank(dt: DataType): Int = dt match {
    case ByteType => 1; case ShortType => 2; case IntegerType => 3
    case LongType => 4; case FloatType => 5; case DoubleType => 6
    case _ => 0
  }

  /** A column under widening numeric casts: every such cast is monotone,
    * so it maps a file's [min, max] onto the bounds of its cast values. */
  private def ref(e: Expression): Option[Expression] = e match {
    case _: BoundReference => Some(e)
    case c: Cast if rank(c.child.dataType) > 0 && rank(c.dataType) >= rank(c.child.dataType) =>
      ref(c.child).map(_ => c)
    case _ => None
  }

  private def column(r: Expression): BoundReference =
    r.collectFirst { case b: BoundReference => b }.get

  private def value(e: Expression): Option[Literal] =
    if (!e.foldable) None
    else try Some(Literal(e.eval(), e.dataType))
    catch { case NonFatal(_) => None }

  private def cmp(l: Expression, r: Expression, op: String): Option[Shape] =
    (ref(l), value(r)) match {
      case (Some(a), Some(v)) => Some(Cmp(a, op, v))
      case _ => for (a <- ref(r); v <- value(l)) yield Cmp(a, flip(op), v)
    }

  private def strRef(e: Expression): Option[Expression] = e match {
    case b: BoundReference if binaryString(b.dataType) => Some(b)
    case _ => None
  }

  private def shape(e: Expression): Option[Shape] = e match {
    case EqualTo(l, r) => cmp(l, r, "=")
    case LessThan(l, r) => cmp(l, r, "<")
    case LessThanOrEqual(l, r) => cmp(l, r, "<=")
    case GreaterThan(l, r) => cmp(l, r, ">")
    case GreaterThanOrEqual(l, r) => cmp(l, r, ">=")
    case EqualNullSafe(l, r) => cmp(l, r, "=").map {
      case Cmp(a, _, v) if v.value == null => NullTest(a, negated = false)
      case c => c
    }
    case In(a, list) =>
      for (r <- ref(a); vs <- values(list)) yield AnyOf(r, vs)
    case InSet(a, set) =>
      ref(a).map(r => AnyOf(r, set.toSeq.map(Literal(_, a.dataType))))
    case IsNull(a) => ref(a).map(NullTest(_, negated = false))
    case IsNotNull(a) => ref(a).map(NullTest(_, negated = true))
    case StartsWith(a, Literal(p: UTF8String, _)) => strRef(a).map(Prefix(_, p))
    case Like(a, Literal(p: UTF8String, _), '\\') =>
      for (r <- strRef(a); pre <- likePrefix(p.toString))
        yield Prefix(r, UTF8String.fromString(pre))
    case RLike(a, Literal(p: UTF8String, _)) =>
      for (r <- strRef(a); pre <- regexLiteralPrefix(p.toString))
        yield Prefix(r, UTF8String.fromString(pre))
    case Not(EqualTo(l, r)) => cmp(l, r, "=").collect {
      case Cmp(a, _, v) => NoneOf(a, Seq(v), nullSafe = false)
    }
    case Not(EqualNullSafe(l, r)) => cmp(l, r, "=").collect {
      case Cmp(a, _, v) if v.value == null => NullTest(a, negated = true)
      case Cmp(a, _, v) => NoneOf(a, Seq(v), nullSafe = true)
    }
    case Not(x @ (_: In | _: InSet)) => shape(x).collect {
      case AnyOf(a, vs) => NoneOf(a, vs, nullSafe = false)
    }
    case _ => None
  }

  private def values(list: Seq[Expression]): Option[Seq[Literal]] = {
    val vs = list.map(value)
    if (vs.forall(_.isDefined)) Some(vs.flatten) else None
  }

  /** `NOT e` in an equivalent NOT-free form at the root, when one exists
    * (three-valued logic holds for each). */
  private def pushNot(e: Expression): Option[Expression] = e match {
    case Not(x) => Some(x)
    case And(l, r) => Some(Or(Not(l), Not(r)))
    case Or(l, r) => Some(And(Not(l), Not(r)))
    case LessThan(l, r) => Some(GreaterThanOrEqual(l, r))
    case LessThanOrEqual(l, r) => Some(GreaterThan(l, r))
    case GreaterThan(l, r) => Some(LessThanOrEqual(l, r))
    case GreaterThanOrEqual(l, r) => Some(LessThan(l, r))
    case IsNull(a) => Some(IsNotNull(a))
    case IsNotNull(a) => Some(IsNull(a))
    case Literal(b: Boolean, BooleanType) => Some(Literal(!b))
    case _ => None
  }

  /** Every node of `e` has a rule: only such partition-only subtrees are
    * decided exactly; any other shape keeps the file. */
  private def covered(e: Expression): Boolean = e match {
    case And(l, r) => covered(l) && covered(r)
    case Or(l, r) => covered(l) && covered(r)
    case Not(x) => covered(x) || shape(e).isDefined
    case Literal(_, BooleanType) => true
    case _ => shape(e).isDefined
  }

  private def balanced(xs: Seq[Expression], op: (Expression, Expression) => Expression,
                       empty: Expression): Expression = xs match {
    case Seq() => empty
    case Seq(x) => x
    case _ =>
      val (l, r) = xs.splitAt(xs.size / 2)
      op(balanced(l, op, empty), balanced(r, op, empty))
  }

  private def and(lr: (Expression, Expression)): Expression = lr match {
    case (Literal.TrueLiteral, x) => x
    case (x, Literal.TrueLiteral) => x
    case (l, r) => And(l, r)
  }

  private def or(lr: (Expression, Expression)): Expression = lr match {
    case (Literal.TrueLiteral, _) | (_, Literal.TrueLiteral) => Literal.TrueLiteral
    case (l, r) => Or(l, r)
  }

  /** One rewrite of a bound predicate over `schema`'s ordinals: allocates
    * the stats-row slots as rules ask for them. Slot 0 is numRecords. */
  private final class Rewrite(schema: StructType, partCols: Set[String]) {
    private val slots = mutable.LinkedHashMap.empty[(Int, Char), Slot]
    private var width = 1
    private val valueRead = mutable.Set.empty[Int]
    private val statOrdinals = mutable.Set(0)
    private val numRecords = BoundReference(0, LongType, nullable = true)

    private def isPart(ordinal: Int) = partCols.contains(schema(ordinal).name)

    private def next(): Int = { width += 1; width - 1 }

    private def stat(b: BoundReference, kind: Char): BoundReference = {
      val dt = if (kind == 'n') LongType else b.dataType
      val s = slots.getOrElseUpdate((b.ordinal, kind),
        StatSlot(next(), schema(b.ordinal).name, dt, kind)).asInstanceOf[StatSlot]
      statOrdinals += s.at
      BoundReference(s.at, dt, nullable = true)
    }

    /** `r` with its column replaced by the column's min (or max) slot. */
    private def bound(r: Expression, kind: Char): Expression =
      r.transform { case b: BoundReference => stat(b, kind) }

    private def part(b: BoundReference): (BoundReference, BoundReference) = {
      val s = slots.getOrElseUpdate((b.ordinal, 'p'), {
        val known = next()
        PartSlot(known, PartitionFilters.PartValue(next(), schema(b.ordinal).name,
          b.dataType, valueRead = false))
      }).asInstanceOf[PartSlot]
      (BoundReference(s.value.ordinal, b.dataType, nullable = true),
        BoundReference(s.known, BooleanType, nullable = false))
    }

    def predicate(e: Expression): Predicate = {
      val keep = rewrite(e)
      // valueRead holds schema ordinals: the slot key, not the row slot
      val out = slots.map {
        case ((ordinal, _), p @ PartSlot(_, v)) if valueRead(ordinal) =>
          p.copy(value = v.copy(valueRead = true))
        case (_, s) => s
      }
      new Predicate(keep, width, out.toArray,
        pointSets(e).map { case (i, vs) => schema(i).name -> vs })
    }

    private def rewrite(e: Expression): Expression = {
      val cols = e.collect { case b: BoundReference => b.ordinal }
      if (cols.forall(isPart) && covered(e)) exact(e)
      else e match {
        case And(l, r) => and(cheapFirst(rewrite(l), rewrite(r)))
        case Or(l, r) => or(cheapFirst(rewrite(l), rewrite(r)))
        case Not(x) => pushNot(x) match {
          case Some(p) => rewrite(p)
          case None => shape(e).fold(Literal.TrueLiteral: Expression)(stats)
        }
        case _ => shape(e).fold(Literal.TrueLiteral: Expression)(stats)
      }
    }

    /** The operands of a commutative AND/OR, the side that reads no stats
      * first: it decides many files without parsing their stats. */
    private def cheapFirst(l: Expression, r: Expression): (Expression, Expression) = {
      def readsStats(x: Expression) = x.exists {
        case b: BoundReference => statOrdinals(b.ordinal)
        case _ => false
      }
      if (readsStats(l) && !readsStats(r)) (r, l) else (l, r)
    }

    /** A partition-only subtree, decided exactly over the decoded values:
      * keep unless it is FALSE or NULL; an undecidable value keeps. */
    private def exact(e: Expression): Expression = {
      e.transformDown {
        case IsNull(_: BoundReference) | IsNotNull(_: BoundReference) => Literal(true)
      }.foreach { case b: BoundReference => valueRead += b.ordinal; case _ => () }
      val known = mutable.ArrayBuffer.empty[Expression]
      val onRow = e.transform { case b: BoundReference =>
        val (v, k) = part(b)
        known += k
        v
      }
      If(balanced(known.distinct.toSeq, And(_, _), Literal.TrueLiteral),
        Coalesce(Seq(onRow, Literal.FalseLiteral)), Literal.TrueLiteral)
    }

    /** The may-keep rule of one data-column shape. */
    private def stats(s: Shape): Expression = {
      val b = column(s.ref)
      lazy val lo = bound(s.ref, 'l')
      lazy val hi = bound(s.ref, 'h')
      lazy val nulls = stat(b, 'n')
      lazy val notAllNull =
        Not(And(GreaterThan(numRecords, Literal(0L)), EqualTo(nulls, numRecords)))
      def mayEqual(v: Literal) = And(LessThanOrEqual(lo, v), GreaterThanOrEqual(hi, v))
      def allEqual(v: Literal) = And(EqualTo(lo, v), EqualTo(hi, v))
      s match {
        case Cmp(_, "=", v) => And(notAllNull, mayEqual(v))
        case Cmp(_, "<", v) => And(notAllNull, LessThan(lo, v))
        case Cmp(_, "<=", v) => And(notAllNull, LessThanOrEqual(lo, v))
        case Cmp(_, ">", v) => And(notAllNull, GreaterThan(hi, v))
        case Cmp(_, _, v) => And(notAllNull, GreaterThanOrEqual(hi, v))
        case AnyOf(_, vs) =>
          And(notAllNull, balanced(vs.map(mayEqual), Or(_, _), Literal.FalseLiteral))
        case NullTest(_, false) => GreaterThan(nulls, Literal(0L))
        case NullTest(_, true) => notAllNull
        // some x in [lo, hi] can start with p iff hi >= p and lo either
        // sorts at or before p or carries the prefix itself
        case Prefix(_, p) =>
          val pl = Literal(p, StringType)
          And(notAllNull, And(GreaterThanOrEqual(hi, pl),
            Or(LessThanOrEqual(lo, pl), StartsWith(lo, pl))))
        // a file drops only when every row provably equals an excluded
        // value: min == max == v, with a KNOWN-zero null count when null
        // rows match too
        case NoneOf(_, vs, nullSafe) => balanced(vs.map { v =>
          val proven =
            if (!nullSafe) allEqual(v)
            else And(And(EqualTo(nulls, Literal(0L)),
              GreaterThan(numRecords, Literal(0L))), allEqual(v))
          Not(proven): Expression
        }, And(_, _), Literal.TrueLiteral)
      }
    }
  }

  /** The equality point sets among `e`'s top-level conjuncts: for each
    * conjunct that is `=`, `<=>`, `IN`, `InSet` or an OR of them over ONE
    * column with non-null values, that column's ordinal and the values
    * (internal form) a matching row must hold. */
  private def pointSets(e: Expression): Seq[(Int, Seq[Any])] = {
    def points(x: Expression): Option[(Int, Seq[Any])] = x match {
      case Or(l, r) => for {
        (a, u) <- points(l); (b, w) <- points(r) if a == b
      } yield (a, u ++ w)
      case _ => shape(x).collect {
        case Cmp(b: BoundReference, "=", v) if v.value != null => (b.ordinal, Seq(v.value))
        case AnyOf(b: BoundReference, vs) if vs.forall(_.value != null) =>
          (b.ordinal, vs.map(_.value))
      }
    }
    conjuncts(e).flatMap(points)
  }
}
