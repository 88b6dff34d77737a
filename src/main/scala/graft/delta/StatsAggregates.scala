package graft.delta

import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.json4s._

import scala.util.control.NonFatal

/**
 * Metadata-only aggregate evaluation from the transaction log's per-file
 * stats: `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)`, globally or
 * `GROUP BY` partition columns, answered without touching a single data
 * file.
 *
 * At 100 TB this is structural, not incremental: `SELECT COUNT(*) FROM t`
 * otherwise schedules a scan over every file (Spark's parquet count still
 * opens each footer), while the log already carries exact `numRecords` per
 * file.
 *
 * One algebra serves every route. [[bind]] resolves the group columns and
 * aggregates against the schema once on the driver and returns a
 * serializable [[Fold]]: a per-file `contribute`, an associative `merge`
 * and a `finish` that yields the rows. Below the distributed-snapshot
 * threshold the driver folds the claimed files locally; above it
 * [[DistributedSnapshot.foldAggregates]] folds each RDD partition on an
 * executor and merges the partials on the driver, so the file list never
 * materializes.
 *
 * Conservative by construction — `None` (refuse, fall back to the scan)
 * unless EXACTNESS is provable:
 *  - every file must carry parseable stats with `numRecords`, and a DV
 *    must carry a parseable `cardinality` (its surviving rows are
 *    `numRecords` − cardinality);
 *  - `COUNT(col)` / `MIN` / `MAX` of a data column refuse when any file of
 *    the group has a DV (deleted rows could hold the extremum / be the
 *    non-null rows);
 *  - `MIN`/`MAX` refuse float/double data columns (file stats exclude NaN,
 *    but Spark's `max` orders NaN above every value — a NaN row would make
 *    the stats answer wrong), and need min+max present for every file that
 *    is not provably all-null for the column (so dropped stats — long
 *    strings, decimals, renamed-away columns in old files — refuse);
 *  - partition columns carry no min/max stats but their values live in
 *    `partitionValues`, one per file — and since EVERY row of a file
 *    shares that value, partition-column `COUNT(col)`/`MIN`/`MAX` stay
 *    exact even under DVs (any file with a surviving row still exhibits
 *    its value). Values decode through [[PartitionPaths.decoder]] (the
 *    scan's own decoder) and order by Spark's ordering for the type;
 *    integral, date and string partition columns fold, anything else
 *    refuses;
 *  - `GROUP BY` only over such partition columns. A group with no
 *    surviving row vanishes (SQL emits no empty groups) without its
 *    aggregates being checked; any other group that cannot be answered
 *    refuses the whole query.
 *
 * The reference engine has no metadata-only aggregate path (every query
 * plans a scan, src/delta/table.ts:694); this is a Spark-side scale
 * feature layered on the same stats the reference writes
 * (src/delta/table.ts:1110-1147).
 */
object StatsAggregates {

  /** One pushed aggregate, in output order. */
  sealed trait StatAgg
  case object CountStar extends StatAgg
  final case class CountCol(name: String) extends StatAgg
  final case class MinCol(name: String, dataType: DataType) extends StatAgg
  final case class MaxCol(name: String, dataType: DataType) extends StatAgg

  /** Test/inspection hook: how many aggregations were answered from
    * metadata alone since JVM start (incremented once per answered query,
    * not per aggregate). */
  val answered = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test/inspection hook: distributed folds since JVM start — the
    * never-materializing path's run counter. */
  val distributedFolds = new java.util.concurrent.atomic.AtomicLong(0)

  private def dvCardinality(f: AddFile): Option[Long] =
    f.deletionVector.fold(Option(0L))(DeletionVectors.descriptorCardinality)

  /** Partition types whose decoded values fold into MIN/MAX results and
    * GROUP BY keys. Float and double do not fold: -0.0 and 0.0 are
    * distinct path values that Spark orders and groups as equal. */
  private def foldablePartition(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | StringType => true
    case _ => false
  }

  /** The fold of `aggs` grouped by `groupCols` (empty: one global row),
    * or None when the query is refused before any file is read: a group
    * column that is not a foldable partition column, an aggregate over a
    * missing column, a data-column MIN/MAX over float/double, a partition
    * MIN/MAX of a type that does not fold. */
  def bind(schema: StructType, partCols: Set[String], groupCols: Seq[String],
           aggs: Seq[StatAgg]): Option[Fold] = {
    def field(n: String): Option[StructField] = schema.fields.find(_.name == n)
    def extremum(agg: StatAgg, n: String): Option[Bound] =
      field(n).filter { f =>
        if (partCols(n)) foldablePartition(f.dataType)
        else f.dataType != FloatType && f.dataType != DoubleType
      }.map(Bound(agg, _, partCols(n)))
    val groupFields = groupCols.map(n => field(n)
      .filter(f => partCols(n) && foldablePartition(f.dataType))
      .getOrElse(return None))
    val bound = aggs.map {
      case CountStar => Bound(CountStar, null, part = false)
      case a @ CountCol(n) => field(n).map(Bound(a, _, partCols(n))).getOrElse(return None)
      case a @ MinCol(n, _) => extremum(a, n).getOrElse(return None)
      case a @ MaxCol(n, _) => extremum(a, n).getOrElse(return None)
    }
    Some(new Fold(groupFields.toIndexedSeq, bound.toIndexedSeq))
  }

  /** One aggregate bound to its column (`field` is null for COUNT(*));
    * `part` tells whether the column is a partition column. */
  private final case class Bound(agg: StatAgg, field: StructField, part: Boolean) {
    @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(field.dataType)
    private val isCount = agg match {
      case CountStar | _: CountCol => true
      case _ => false
    }
    private val wantMax = agg.isInstanceOf[MaxCol]

    /** Reads data-column stats, which still count the rows a DV deleted. */
    def readsDataStats: Boolean = agg != CountStar && !part

    def identity: Any = if (isCount) 0L else null

    /** One file's contribution: a count, or the file's best decoded value
      * (null: none). None refuses. */
    def of(f: AddFile, st: FileStats, survivors: Long): Option[Any] = agg match {
      case CountStar => Some(survivors)
      case CountCol(n) if part => f.partitionValues.get(n)
        .map(v => if (v == PartitionPaths.NullMarker) 0L else survivors)
      case CountCol(n) => st.nullCount.get(n).map(st.numRecords - _)
      case _ if part => if (survivors <= 0) Some(null) else partValue(f, field)
      case _ => statBound(st, field.name, field.dataType, wantMax)
    }

    def combine(a: Any, b: Any): Any =
      if (isCount) a.asInstanceOf[Long] + b.asInstanceOf[Long]
      else if (a == null) b
      else if (b == null) a
      else if ((ordering.compare(a, b) > 0) == wantMax) a
      else b

    /** The external value Spark's row conversion expects. */
    def result(v: Any): Any = if (isCount) v else convertToScala(v, field.dataType)
  }

  /** One group's state: its surviving rows, whether one of its files
    * refused an aggregate (which refuses the query only if the group
    * survives), and one slot per aggregate. */
  final case class Group(survivors: Long, refused: Boolean, slots: IndexedSeq[Any])

  /** A fold's state: the groups by decoded key, or None once a file
    * refused the whole query — no parseable stats, a DV without a
    * readable cardinality, a group key that is missing or does not
    * decode. Refusal is absorbing. */
  type State = Option[Map[Seq[Any], Group]]

  /** A bound aggregate query (see [[bind]]). Serializable: the distributed
    * route ships it to the executors. */
  final class Fold private[StatsAggregates] (groupFields: IndexedSeq[StructField],
                                             aggs: IndexedSeq[Bound]) extends Serializable {
    private val dvRefuses = aggs.exists(_.readsDataStats)

    /** The state of an empty file set: the identity of [[merge]]. */
    def zero: State = Some(Map.empty)

    def contribute(f: AddFile): State = {
      val st = f.parsedStats.getOrElse(return None)
      val survivors = st.numRecords - dvCardinality(f).getOrElse(return None)
      val key = groupFields.map(partValue(f, _).getOrElse(return None))
      var refused = dvRefuses && f.deletionVector.nonEmpty
      val slots = aggs.map(b => b.of(f, st, survivors).getOrElse {
        refused = true
        b.identity
      })
      Some(Map(key -> Group(survivors, refused, slots)))
    }

    /** Associative and commutative up to [[finish]]'s output. */
    def merge(a: State, b: State): State =
      for (x <- a; y <- b) yield y.foldLeft(x) { case (acc, (k, g)) =>
        acc.updated(k, acc.get(k).fold(g)(h => Group(h.survivors + g.survivors,
          h.refused || g.refused,
          aggs.indices.map(i => aggs(i).combine(h.slots(i), g.slots(i))))))
      }

    /** `files` folded in order, stopping at the first refusal. */
    def over(files: IterableOnce[AddFile]): State = {
      val it = files.iterator
      var s = zero
      while (s.isDefined && it.hasNext) s = merge(s, contribute(it.next()))
      s
    }

    /** The rows, group columns first, sorted by key; None refuses. A
      * global fold emits exactly one row, even over no surviving rows
      * (COUNT 0, MIN/MAX NULL); a grouped fold emits one row per group
      * with a surviving row. */
    def finish(s: State): Option[Seq[Seq[Any]]] = s.flatMap { groups =>
      val live =
        if (groupFields.isEmpty)
          Seq(Nil -> groups.getOrElse(Nil, Group(0L, refused = false, aggs.map(_.identity))))
        else groups.toSeq.filter(_._2.survivors != 0)
      if (live.exists(_._2.refused)) None
      else Some(live.map { case (key, g) =>
        key.lazyZip(groupFields).map((k, fld) => convertToScala(k, fld.dataType)) ++
          aggs.lazyZip(g.slots).map(_.result(_))
      }.sortBy(_.take(groupFields.length)
        .map(k => if (k == null) "\u0000" else k.toString).mkString("\u0001")))
    }
  }

  private lazy val rowCount = bind(new StructType, Set.empty, Nil, Seq(CountStar)).get

  /** Metadata fold of a snapshot's active files into planner dimensions:
    * (onDiskBytes, exactRowCount). Bytes is always exact — `add.size` is
    * mandatory in the log. Rows is the fold's `COUNT(*)`, None when it
    * refuses (estimates must not claim exactness they don't have; the
    * caller reports "unknown" instead). O(active files) driver arithmetic —
    * the same order as the file list scan planning enumerates anyway. */
  def dimensions(snap: Snapshot): (Long, Option[Long]) =
    (snap.activeFiles.iterator.map(_.size).sum,
      rowCount.finish(rowCount.over(snap.activeFiles)).map(_.head.head.asInstanceOf[Long]))

  /**
   * TOP-N file cover: the subset of `files` that can contain the first
   * `limit` rows of `ORDER BY field (asc/desc, nulls first/last)`, or
   * None when exactness is unprovable — any DV (deleted rows could be
   * anywhere in the order), a missing stat, a float/double key (NaN is
   * invisible to stats but sorts above every value), or a partition
   * column (no min/max stats). Superset contract: enough null rows and
   * every non-null row at-or-inside the computed bound are kept, so a
   * Sort+Limit running on top of the kept files produces a correct
   * answer. At 100 TB this is the "latest k events" pattern: the zone
   * maps pick the handful of files whose ranges reach the extremum.
   *
   * Bound construction (ASC case; DESC mirrors with lo/hi swapped): sort
   * stat-bearing files by `max(field)`, accumulate non-null counts until
   * they cover the non-null demand, take the last accumulated `max` as
   * the bound B — at least `need` non-null rows are ≤ B, so every true
   * top row is ≤ B, so every file with `min > B` is droppable.
   */
  def topNPrefix(files: Seq[AddFile], field: StructField, partCols: Set[String],
                 asc: Boolean, nullsFirst: Boolean,
                 limit: Int): Option[Seq[AddFile]] = {
    if (partCols.contains(field.name)) return None
    field.dataType match {
      case FloatType | DoubleType => return None
      case _ => ()
    }
    if (files.exists(_.deletionVector.nonEmpty)) return None
    final case class Info(f: AddFile, nonNull: Long, nulls: Long,
                          lo: Option[Any], hi: Option[Any])
    def decoded(j: Option[JValue]): Option[Any] =
      j.map(v => Option(DataSkipping.statValue(v, field.dataType)).getOrElse(return None))
    val infos = files.map { f =>
      val st = f.parsedStats.getOrElse(return None)
      val nulls = st.nullCount.getOrElse(field.name, return None)
      val nonNull = st.numRecords - nulls
      val lo = decoded(st.minValues.get(field.name))
      val hi = decoded(st.maxValues.get(field.name))
      if (nonNull > 0 && (lo.isEmpty || hi.isEmpty)) return None
      Info(f, nonNull, nulls, lo, hi)
    }
    val nullsTotal = infos.iterator.map(_.nulls).sum
    val nonNullTotal = infos.iterator.map(_.nonNull).sum
    val ordering = TypeUtils.getInterpretedOrdering(field.dataType)
    def cmp(a: Any, b: Any): Int = ordering.compare(a, b)
    val needNonNull =
      if (nullsFirst) math.max(0L, limit.toLong - nullsTotal)
      else math.min(limit.toLong, nonNullTotal)
    val needNulls =
      if (nullsFirst) math.min(limit.toLong, nullsTotal)
      else math.max(0L, limit.toLong - nonNullTotal)
    val keep = scala.collection.mutable.LinkedHashSet.empty[String]
    if (needNulls > 0) {
      // any `needNulls` null rows are a correct LIMIT prefix among
      // themselves — a log-order cover suffices
      var acc = 0L
      infos.iterator.filter(_.nulls > 0).foreach { i =>
        if (acc < needNulls) { keep += i.f.path; acc += i.nulls }
      }
    }
    if (needNonNull > 0) {
      val sortable = infos.filter(_.nonNull > 0)
      val sorted =
        if (asc) sortable.sortWith((x, y) => cmp(x.hi.get, y.hi.get) < 0)
        else sortable.sortWith((x, y) => cmp(x.lo.get, y.lo.get) > 0)
      var acc = 0L
      var bound: Option[Any] = None
      val it = sorted.iterator
      while (acc < needNonNull && it.hasNext) {
        val i = it.next()
        acc += i.nonNull
        bound = Some(if (asc) i.hi.get else i.lo.get)
      }
      if (acc < needNonNull) sortable.foreach(i => keep += i.f.path)
      else {
        val b = bound.get
        sortable.foreach { i =>
          if (if (asc) cmp(i.lo.get, b) <= 0 else cmp(i.hi.get, b) >= 0)
            keep += i.f.path
        }
      }
    }
    Some(files.filter(f => keep.contains(f.path)))
  }

  /** A file's decoded partition value for `f`, a column of a foldable
    * type — Some(null) for a NULL partition; None refuses: the value is
    * missing or its decode throws. */
  private def partValue(file: AddFile, f: StructField): Option[Any] =
    file.partitionValues.get(f.name) match {
      case None | Some(null) => None // foreign writer omitted the value
      case Some(PartitionPaths.NullMarker) => Some(null)
      case Some(v) =>
        try Some(PartitionPaths.decoder(f.dataType)(v))
        catch { case NonFatal(_) => None }
    }

  /** A file's data-column MIN (or MAX) stat, decoded: Some(null) when the
    * file is PROVABLY all-null for the column (it contributes nothing);
    * None refuses — the bound is missing on a file with non-null rows, or
    * its form does not decode for the type. */
  private def statBound(st: FileStats, name: String, dt: DataType,
                        wantMax: Boolean): Option[Any] =
    (if (wantMax) st.maxValues else st.minValues).get(name) match {
      case Some(j) => Option(DataSkipping.statValue(j, dt))
      case None =>
        if (st.nullCount.get(name).contains(st.numRecords)) Some(null) else None
    }

}
