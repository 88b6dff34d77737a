package graft.delta

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.{expressions => cx}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/**
 * EXACT (tri-state) evaluation of pushed `sources.Filter`s against a
 * file's partition values — the basis for CLAIMING a filter in DSv2
 * pushdown instead of leaving it as a post-scan residual.
 *
 * Contrast with [[DataSkipping]], a may-keep over-approximation (sound to
 * skip files with, never to claim a filter): here every atom
 * must decide, for EVERY row of the file, whether the predicate is
 * TRUE / FALSE / NULL — possible exactly when the atom references only
 * partition columns (all rows share the value). Anything else is `None`
 * (undecidable) and the filter stays a residual.
 *
 * The decision is Spark's own: each candidate is translated with
 * [[graft.sources.DeltaRelation.toColumn]], resolved and bound once on the
 * driver against the partition columns, and evaluated by Catalyst over
 * the row [[PartitionPaths.decoder]] decodes — the same values the scan
 * materializes, so a claimed filter agrees with the residual it replaces.
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

  /** How a file's partition value decodes ([[decode]]): absent (missing
    * or JSON-null in the log), the null marker, a value of the column's
    * type, or a string the type's ANSI cast rejects. */
  val Absent: Byte = 0
  val NullValue: Byte = 1
  val Decoded: Byte = 2
  val Uncastable: Byte = 3

  /** The file's value of a partition column of type `dt` through
    * [[PartitionPaths.decoder]]: how it decoded ([[Absent]], [[NullValue]],
    * [[Decoded]] or [[Uncastable]]) and the internal value (null unless
    * [[Decoded]]). */
  def decode(value: Option[String], dt: DataType): (Byte, Any) = value match {
    case None | Some(null) => (Absent, null)
    case Some(PartitionPaths.NullMarker) => (NullValue, null)
    case Some(s) =>
      try (Decoded, PartitionPaths.decoder(dt)(s))
      catch { case NonFatal(_) => (Uncastable, null) }
  }

  /** One partition column a bound predicate reads: its ordinal in the row
    * [[fill]] writes, and whether the predicate reads its value or only
    * tests it for NULL. */
  final case class PartValue(ordinal: Int, name: String, dt: DataType,
                             valueRead: Boolean) {

    /** Decode the file's value into `row`. False when undecidable: the
      * value is missing or JSON-null in the log, or its ANSI cast throws. A
      * value that does not cast is still known non-null (only the marker
      * decodes to NULL), so a column the predicate only tests for NULL
      * still decides. */
    def fill(row: InternalRow, pv: Map[String, String]): Boolean =
      decode(pv.get(name), dt) match {
        case (Absent, _) => false
        case (NullValue, _) => row.setNullAt(ordinal); true
        case (Decoded, v) => row.update(ordinal, v); true
        case _ if !valueRead => row.update(ordinal, Literal.default(dt).value); true
        case _ => false
      }

    /** [[fill]] as two expressions over a file's [[decode]]d `state` and
      * `value` columns: whether the value is known, and the value the row
      * holds. */
    def overColumns(state: Expression, value: Expression): (Expression, Expression) =
      if (valueRead)
        (cx.In(state, Seq(Literal(NullValue), Literal(Decoded))), value)
      else
        (cx.Not(cx.EqualTo(state, Literal(Absent))),
          cx.If(cx.EqualTo(state, Literal(Uncastable)), Literal.default(dt), value))
  }

  /** A filter resolved and bound once, on the driver, against the
    * partition columns. Serializable: the distributed claim ships it to
    * executors, which only evaluate it. */
  final class Bound private[PartitionFilters] (
      val filter: Filter, predicate: Expression, width: Int, cols: Array[PartValue])
    extends Serializable {

    /** The file's verdict from its partition values; None when a value it
      * reads is undecidable ([[PartValue.fill]]). */
    def eval(pv: Map[String, String]): Option[TV] = {
      val row = new GenericInternalRow(width)
      if (!cols.forall(_.fill(row, pv))) return None
      try predicate.eval(row) match {
        case null => Some(Unknown)
        case b: Boolean => Some(if (b) True else False)
      } catch { case NonFatal(_) => None }
    }
  }

  /** Resolve and bind each filter against the partition columns of
    * `schema`; None where it references a data column or does not
    * translate or resolve (it stays a residual). */
  def bind(filters: Seq[Filter], partCols: Set[String],
           schema: StructType): Seq[Option[Bound]] = {
    val fields = schema.fields.filter(f => partCols.contains(f.name))
    val resolve = DataSkipping.resolver(StructType(fields))
    filters.map { f =>
      if (f.references.isEmpty || !f.references.forall(partCols.contains)) None
      else graft.sources.DeltaRelation.toColumn(f)
        .flatMap(c => resolve(org.apache.spark.sql.graft.Shims.expression(c)))
        .map(boundOf(f, _, fields))
    }
  }

  private def boundOf(f: Filter, predicate: Expression,
                      fields: Array[StructField]): Bound = {
    val read = predicate.transformDown {
      case cx.IsNull(_: BoundReference) | cx.IsNotNull(_: BoundReference) =>
        Literal(true)
    }.collect { case b: BoundReference => b.ordinal }.toSet
    val cols = predicate.collect { case b: BoundReference => b.ordinal }
      .distinct.map(i =>
        PartValue(i, fields(i).name, fields(i).dataType, read.contains(i)))
    new Bound(f, predicate, fields.length, cols.toArray)
  }

  /** Per-file truth value of one filter, or None when not provable — a
    * one-off: it binds `filter` on every call, so loops use [[bind]]. */
  def eval(f: AddFile, filter: Filter, partCols: Set[String],
           schema: StructType): Option[TV] =
    bind(Seq(filter), partCols, schema).head.flatMap(_.eval(f.partitionValues))

  /** The partition-value predicate that keeps a file iff every CLAIMED
    * filter decides True on it. Claimed filters bound when they were
    * claimed, so one that no longer binds is a broken invariant. */
  def selects(claimed: Seq[Filter], partCols: Set[String],
              schema: StructType): Map[String, String] => Boolean = {
    val bound = bind(claimed, partCols, schema).zip(claimed).map {
      case (b, f) => b.getOrElse(throw new IllegalStateException(
        s"claimed filter $f does not bind against the partition columns"))
    }
    pv => bound.forall(_.eval(pv).contains(True))
  }

  /** ONE-PASS claim over a pinned snapshot: evaluate every candidate on
    * every file once; a candidate is claimable iff it decides everywhere,
    * and the kept set is the files where EVERY claimable filter is True.
    * Returns (claimable filters, kept file paths) — the path set is the
    * memoized claim decision the scan and aggregate paths reuse, so the
    * tri-state evaluation runs once per query, not once per consumer. */
  def claim(files: Seq[AddFile], candidates: Seq[Filter],
            partCols: Set[String], schema: StructType): (Seq[Filter], Set[String]) = {
    val perFilter = bind(candidates, partCols, schema).flatten.map { b =>
      b -> files.map(af => b.eval(af.partitionValues)).toIndexedSeq
    }
    val claimable = perFilter.filter(_._2.forall(_.isDefined))
    if (claimable.isEmpty) return (Nil, Set.empty)
    val keep = files.iterator.zipWithIndex.collect {
      case (af, i) if claimable.forall(_._2(i).contains(True)) => af.path
    }.toSet
    (claimable.map(_._1.filter), keep)
  }
}
