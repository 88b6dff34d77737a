package graft.delta

import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.json4s._

import scala.util.control.NonFatal

/**
 * Metadata-only aggregate evaluation from the transaction log's per-file
 * stats: `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` over a whole
 * table answered without touching a single data file.
 *
 * At 100 TB this is structural, not incremental: `SELECT COUNT(*) FROM t`
 * otherwise schedules a scan over every file (Spark's parquet count still
 * opens each footer), while the log already carries exact `numRecords` per
 * file. The fold here is O(active files) on the driver — the same order of
 * work as planning the scan it replaces (Spark's own FileIndex enumerates
 * the file list on the driver too).
 *
 * Conservative by construction — `None` (refuse, fall back to the scan)
 * unless EXACTNESS is provable:
 *  - every active file must carry parseable stats with `numRecords`;
 *  - `COUNT(*)` under deletion vectors subtracts the DV's exact
 *    `cardinality`; a DV without a parseable cardinality refuses;
 *  - `COUNT(col)` / `MIN` / `MAX` refuse when ANY file has a DV (deleted
 *    rows could hold the extremum / be the non-null rows);
 *  - `MIN`/`MAX` refuse float/double columns (file stats exclude NaN, but
 *    Spark's `max` orders NaN above every value — a NaN row would make the
 *    stats answer wrong), and need min+max present for every file that is
 *    not provably all-null for the column (so dropped stats — long
 *    strings, decimals, renamed-away columns in old files — refuse);
 *  - partition columns carry no min/max stats but their values live in
 *    `partitionValues`, one per file — and since EVERY row of a file
 *    shares that value, partition-column `COUNT(col)`/`MIN`/`MAX` stay
 *    exact even under DVs (any file with a surviving row still exhibits
 *    its value; counts subtract DV cardinalities). Values decode through
 *    [[PartitionPaths.decoder]] (the scan's own decoder) and order by
 *    Spark's ordering for the type; integral, date and string partition
 *    columns fold, anything else refuses.
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

  private def dvCardinality(f: AddFile): Option[Long] = f.deletionVector match {
    case None => Some(0L)
    case Some(dv) => dv.obj.toMap.get("cardinality").collect {
      case JInt(n) => n.toLong
      case JLong(n) => n
    }
  }

  /** Stats must exist for every file — one statless file (foreign writer,
    * pre-stats history) poisons exactness for every aggregate kind. */
  private def parseAll(files: Seq[AddFile]): Option[Seq[(AddFile, FileStats)]] =
    Some(files.map { f =>
      f.parsedStats match {
        case Some(st) => (f, st)
        case None => return None
      }
    })

  /** External-type result values for `aggs` over the snapshot's active
    * files, or None when any aggregate cannot be answered exactly.
    * Values use Spark's external row types (java.sql.Timestamp /
    * java.sql.Date / LocalDateTime), matching what a V1 relation's
    * Row-encoder conversion expects. */
  def answer(snap: Snapshot, schema: StructType,
             aggs: Seq[StatAgg]): Option[Seq[Any]] =
    answerFiles(snap.activeFiles, snap.partitionColumns.toSet, schema, aggs)

  /** [[answer]] over an explicit file subset — the claimed-partition-filter
    * path: `SELECT count(*) WHERE <exact partition predicate>` folds the
    * matching files' stats without a scan. */
  def answerFiles(files: Seq[AddFile], partCols: Set[String],
                  schema: StructType, aggs: Seq[StatAgg]): Option[Seq[Any]] = {
    val stats = parseAll(files).getOrElse(return None)
    val out = fold(stats, partCols, schema, aggs)
    if (out.isDefined) answered.incrementAndGet()
    out
  }

  /** GROUP BY over PARTITION columns, answered per partition-value group:
    * one output row per group with a surviving row (SQL emits no empty
    * groups — a fully-DV-deleted partition must disappear), values
    * `groupCols ++ aggs` in order. Same exactness contract as [[answer]],
    * applied per group; any unprovable group refuses the whole query. */
  def answerGrouped(snap: Snapshot, schema: StructType, groupCols: Seq[String],
                    aggs: Seq[StatAgg]): Option[Seq[Seq[Any]]] =
    answerGroupedFiles(snap.activeFiles, snap.partitionColumns.toSet,
      schema, groupCols, aggs)

  /** [[answerGrouped]] over an explicit file subset (claimed filters). */
  def answerGroupedFiles(files: Seq[AddFile], partCols: Set[String],
                         schema: StructType, groupCols: Seq[String],
                         aggs: Seq[StatAgg]): Option[Seq[Seq[Any]]] = {
    if (groupCols.isEmpty || !groupCols.forall(partCols.contains)) return None
    val gFields = groupCols.map(n =>
      schema.fields.find(_.name == n).getOrElse(return None))
    val stats = parseAll(files).getOrElse(return None)
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.Buffer[(AddFile, FileStats)]]
    stats.foreach { case (f, st) =>
      val key = gFields.map(fld => partValue(f, fld).getOrElse(return None))
      grouped.getOrElseUpdate(key,
        scala.collection.mutable.Buffer.empty[(AddFile, FileStats)]) += ((f, st))
    }
    val rows = grouped.toSeq.flatMap { case (key, fs) =>
      var survivors = 0L
      fs.foreach { case (f, st) =>
        survivors += st.numRecords - dvCardinality(f).getOrElse(return None)
      }
      if (survivors == 0) None
      else {
        val keyVals = key.zip(gFields)
          .map { case (k, fld) => convertToScala(k, fld.dataType) }
        val aggVals = fold(fs.toSeq, partCols, schema, aggs).getOrElse(return None)
        Some(keyVals ++ aggVals)
      }
    }
    answered.incrementAndGet()
    Some(rows)
  }

  /** The exact-fold core over one file subset; see [[answer]] for the
    * refusal rules. */
  private def fold(stats: Seq[(AddFile, FileStats)], partCols: Set[String],
                   schema: StructType, aggs: Seq[StatAgg]): Option[Seq[Any]] = {
    val anyDv = stats.exists(_._1.deletionVector.nonEmpty)

    def schemaField(name: String): Option[StructField] =
      schema.fields.find(_.name == name)

    def field(name: String): Option[StructField] =
      schemaField(name).filterNot(f => partCols.contains(f.name))

    def countStar(): Option[Any] = {
      var total = 0L
      stats.foreach { case (f, st) =>
        dvCardinality(f) match {
          case Some(c) => total += st.numRecords - c
          case None => return None
        }
      }
      Some(total)
    }

    def countCol(name: String): Option[Any] = {
      if (partCols.contains(name)) return partCount(name)
      if (anyDv || field(name).isEmpty) return None
      var total = 0L
      stats.foreach { case (_, st) =>
        st.nullCount.get(name) match {
          case Some(nc) => total += st.numRecords - nc
          case None => return None
        }
      }
      Some(total)
    }

    // ---- partition-column aggregates (exact even under DVs) ----------------

    def partCount(name: String): Option[Any] = {
      if (schemaField(name).isEmpty) return None
      var total = 0L
      stats.foreach { case (f, st) =>
        f.partitionValues.get(name) match {
          case None => return None // foreign writer omitted the value
          case Some(PartitionPaths.NullMarker) => ()
          case Some(_) => dvCardinality(f) match {
            case Some(c) => total += st.numRecords - c
            case None => return None
          }
        }
      }
      Some(total)
    }

    def partExtremum(name: String, wantMax: Boolean): Option[Any] = {
      val f = schemaField(name).getOrElse(return None)
      var best: Any = null // null: zero non-null rows table-wide, SQL NULL
      stats.foreach { case (file, st) =>
        val surviving = dvCardinality(file) match {
          case Some(c) => st.numRecords - c
          case None => return None
        }
        if (surviving > 0) partValue(file, f) match {
          case None => return None
          case Some(null) => ()
          case Some(v) =>
            best = if (best == null) v else pick(v, best, f.dataType, wantMax)
        }
      }
      Some(convertToScala(best, f.dataType))
    }

    def extremum(name: String, wantMax: Boolean): Option[Any] = {
      if (partCols.contains(name)) return partExtremum(name, wantMax)
      if (anyDv) return None
      val f = field(name).getOrElse(return None)
      f.dataType match {
        case FloatType | DoubleType => return None // NaN ordering
        case _ => ()
      }
      var best: Option[JValue] = None
      stats.foreach { case (_, st) =>
        val bound = (if (wantMax) st.maxValues else st.minValues).get(name)
        bound match {
          case Some(v) =>
            best = best match {
              case None => Some(v)
              case Some(b) => FilePruner.compare(v, b, f.dataType) match {
                case Some(c) => if ((wantMax && c > 0) || (!wantMax && c < 0)) Some(v) else Some(b)
                case None => return None // incomparable stat forms
              }
            }
          case None =>
            // acceptable only when the file is PROVABLY all-null for the
            // column (contributes nothing to min/max)
            val allNull = st.nullCount.get(name).contains(st.numRecords)
            if (!allNull) return None
        }
      }
      best match {
        case None => Some(null) // zero non-null rows table-wide: SQL NULL
        case Some(j) => decode(j, f.dataType) // None = undecodable, refuse
      }
    }

    Some(aggs.map {
      case CountStar => countStar().getOrElse(return None)
      case CountCol(n) => countCol(n).getOrElse(return None)
      case MinCol(n, _) => extremum(n, wantMax = false).getOrElse(return None)
      case MaxCol(n, _) => extremum(n, wantMax = true).getOrElse(return None)
    })
  }

  /** Metadata fold of a snapshot's active files into planner dimensions:
    * (onDiskBytes, exactRowCount). Bytes is always exact — `add.size` is
    * mandatory in the log. Rows is None when any file lacks parseable
    * `numRecords` or carries a DV without a parseable `cardinality`
    * (estimates must not claim exactness they don't have; the caller
    * reports "unknown" instead). O(active files) driver arithmetic — the
    * same order as the file list scan planning enumerates anyway. */
  def dimensions(snap: Snapshot): (Long, Option[Long]) = {
    var bytes = 0L
    var rows = 0L
    var exact = true
    snap.activeFiles.foreach { f =>
      bytes += f.size
      if (exact) f.parsedStats match {
        case Some(st) =>
          f.deletionVector.flatMap(_.obj.toMap.get("cardinality")) match {
            case Some(JInt(n)) => rows += st.numRecords - n.toLong
            case Some(JLong(n)) => rows += st.numRecords - n
            case Some(_) => exact = false // DV present, cardinality unreadable
            case None =>
              if (f.deletionVector.isEmpty) rows += st.numRecords
              else exact = false // DV object without a cardinality field
          }
        case None => exact = false
      }
    }
    (bytes, if (exact) Some(rows) else None)
  }

  private object Refuse extends scala.util.control.ControlThrowable

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
                          lo: Option[JValue], hi: Option[JValue])
    val infos = files.map { f =>
      val st = f.parsedStats.getOrElse(return None)
      val nulls = st.nullCount.getOrElse(field.name, return None)
      val nonNull = st.numRecords - nulls
      val lo = st.minValues.get(field.name)
      val hi = st.maxValues.get(field.name)
      if (nonNull > 0 && (lo.isEmpty || hi.isEmpty)) return None
      Info(f, nonNull, nulls, lo, hi)
    }
    val nullsTotal = infos.iterator.map(_.nulls).sum
    val nonNullTotal = infos.iterator.map(_.nonNull).sum
    def cmp(a: JValue, b: JValue): Int =
      FilePruner.compare(a, b, field.dataType).getOrElse(throw Refuse)
    try {
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
        var bound: Option[JValue] = None
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
    } catch { case Refuse => None }
  }

  /** A file's decoded partition value for `f` — Some(null) for a NULL
    * partition; None refuses: the value is missing, the type does not
    * fold, or the decode throws. Float and double do not fold: -0.0 and
    * 0.0 are distinct path values that Spark orders and groups as equal.
    * Shared by the driver fold and the distributed combine, so both paths
    * decide identically. */
  private def partValue(file: AddFile, f: StructField): Option[Any] =
    file.partitionValues.get(f.name) match {
      case None | Some(null) => None // foreign writer omitted the value
      case Some(PartitionPaths.NullMarker) => Some(null)
      case Some(v) => f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             StringType =>
          try Some(PartitionPaths.decoder(f.dataType)(v))
          catch { case NonFatal(_) => None }
        case _ => None
      }
    }

  /** The MIN (or MAX) of two decoded values under Spark's ordering. */
  private def pick(a: Any, b: Any, dt: DataType, wantMax: Boolean): Any =
    if ((TypeUtils.getInterpretedOrdering(dt).compare(a, b) > 0) == wantMax) a
    else b

  // ---- distributed combine form (round 16) ---------------------------------
  //
  // The same exactness contract as [[fold]], restructured as per-file
  // contribution + ASSOCIATIVE merge + driver finish, so the claimed
  // metadata fold on a 10⁷-file table runs as one narrow executor job whose
  // driver traffic is ONE Partial per RDD partition (a few JValues) — the
  // claimed file list never materializes anywhere.
  // StatsAggregatesCombineSpec property-checks bit-equivalence with [[fold]]
  // over random file sets and arbitrary groupings.

  /** Per-aggregate partial state. Refusal is absorbing. */
  sealed trait AggPartial extends Serializable
  case object RefusedP extends AggPartial
  final case class CountP(n: Long) extends AggPartial
  /** Data-column extremum: best stat bound seen (None = no contribution). */
  final case class ExtP(best: Option[JValue]) extends AggPartial
  /** Partition-column extremum: best decoded value among files with
    * surviving rows. */
  final case class PartExtP(best: Option[Any]) extends AggPartial

  /** Subset-level state: `anyDv` poisons data-column COUNT(col)/MIN/MAX at
    * finish time (deleted rows could hold the extremum / be the non-null
    * rows) exactly as [[fold]]'s subset-wide check does. */
  final case class Partial(anyDv: Boolean, aggs: IndexedSeq[AggPartial])
    extends Serializable

  /** Merge identity: the Partial of an EMPTY file subset. `ExtP(None)` is
    * the universal extremum identity — merge resolves it to whichever
    * concrete kind (data or partition extremum) the other side carries. */
  def identityPartial(aggs: Seq[StatAgg]): Partial =
    Partial(anyDv = false, aggs.toIndexedSeq.map {
      case CountStar | _: CountCol => CountP(0L)
      case _: MinCol | _: MaxCol => ExtP(None)
    })

  /** Schema-only refusals, decidable before any file is read: a missing
    * column, a float/double data-column extremum (NaN ordering), an
    * unfoldable partition type. One statically-refused aggregate refuses
    * the whole query — same contract as [[fold]]. */
  def staticallyRefused(agg: StatAgg, partCols: Set[String],
                        schema: StructType): Boolean = {
    def fieldOf(n: String) = schema.fields.find(_.name == n)
    def extRefused(n: String): Boolean = fieldOf(n) match {
      case None => true
      case Some(f) if !partCols.contains(n) =>
        f.dataType == FloatType || f.dataType == DoubleType
      case Some(_) => false
    }
    agg match {
      case CountStar => false
      case CountCol(n) => fieldOf(n).isEmpty
      case MinCol(n, _) => extRefused(n)
      case MaxCol(n, _) => extRefused(n)
    }
  }

  /** One file's contribution — branch-for-branch the per-file body of
    * [[fold]]. A file without parseable stats refuses every aggregate
    * (the parseAll gate). */
  def contribute(f: AddFile, partCols: Set[String], schema: StructType,
                 aggs: IndexedSeq[StatAgg]): Partial = {
    val anyDv = f.deletionVector.nonEmpty
    val st = f.parsedStats.getOrElse(
      return Partial(anyDv, aggs.map(_ => RefusedP)))
    val dvc = dvCardinality(f)
    def perAgg(agg: StatAgg): AggPartial = agg match {
      case CountStar => dvc match {
        case Some(c) => CountP(st.numRecords - c)
        case None => RefusedP
      }
      case CountCol(name) if partCols.contains(name) =>
        f.partitionValues.get(name) match {
          case None => RefusedP
          case Some(PartitionPaths.NullMarker) => CountP(0L)
          case Some(_) => dvc match {
            case Some(c) => CountP(st.numRecords - c)
            case None => RefusedP
          }
        }
      case CountCol(name) =>
        st.nullCount.get(name) match {
          case Some(nc) => CountP(st.numRecords - nc)
          case None => RefusedP
        }
      case MinCol(n, _) if partCols.contains(n) => partExt(n)
      case MaxCol(n, _) if partCols.contains(n) => partExt(n)
      case MinCol(n, _) => dataExt(n, st.minValues.get(n))
      case MaxCol(n, _) => dataExt(n, st.maxValues.get(n))
    }
    def partExt(name: String): AggPartial = dvc match {
      case None => RefusedP
      case Some(c) =>
        if (st.numRecords - c <= 0) PartExtP(None)
        else schema.fields.find(_.name == name).flatMap(partValue(f, _)) match {
          case None => RefusedP
          case Some(v) => PartExtP(Option(v))
        }
    }
    def dataExt(name: String, bound: Option[JValue]): AggPartial = bound match {
      case Some(v) => ExtP(Some(v))
      case None =>
        if (st.nullCount.get(name).contains(st.numRecords)) ExtP(None)
        else RefusedP
    }
    Partial(anyDv, aggs.map(perAgg))
  }

  /** Associative merge. Needs the agg list for extremum direction/type. */
  def merge(a: Partial, b: Partial, aggs: IndexedSeq[StatAgg],
            schema: StructType): Partial = {
    def dtOf(n: String): DataType =
      schema.fields.find(_.name == n).map(_.dataType).getOrElse(NullType)
    def one(x: AggPartial, y: AggPartial, agg: StatAgg): AggPartial = (x, y) match {
      case (RefusedP, _) | (_, RefusedP) => RefusedP
      case (CountP(m), CountP(n)) => CountP(m + n)
      case (ExtP(None), e) => e
      case (e, ExtP(None)) => e
      case (ExtP(Some(v)), ExtP(Some(w))) =>
        val (dt, wantMax) = agg match {
          case MinCol(n, _) => (dtOf(n), false)
          case MaxCol(n, _) => (dtOf(n), true)
          case _ => return RefusedP
        }
        FilePruner.compare(v, w, dt) match {
          case Some(c) =>
            ExtP(Some(if ((wantMax && c > 0) || (!wantMax && c < 0)) v else w))
          case None => RefusedP
        }
      case (PartExtP(None), e) => e
      case (e, PartExtP(None)) => e
      case (PartExtP(Some(v)), PartExtP(Some(w))) =>
        val (dt, wantMax) = agg match {
          case MinCol(n, _) => (dtOf(n), false)
          case MaxCol(n, _) => (dtOf(n), true)
          case _ => return RefusedP
        }
        PartExtP(Some(pick(v, w, dt, wantMax)))
      case _ => RefusedP // mixed kinds: impossible by construction
    }
    Partial(a.anyDv || b.anyDv,
      a.aggs.lazyZip(b.aggs).lazyZip(aggs).map(one))
  }

  /** Driver finish: apply the subset-wide DV refusal and decode — the
    * final steps of [[fold]]. None refuses (caller falls back or errors
    * exactly as the driver path would). */
  def finish(p: Partial, partCols: Set[String], schema: StructType,
             aggs: IndexedSeq[StatAgg]): Option[Seq[Any]] = {
    def dtOf(n: String): DataType =
      schema.fields.find(_.name == n).map(_.dataType).getOrElse(NullType)
    Some(aggs.zip(p.aggs).map {
      case (_, RefusedP) => return None
      case (CountStar, CountP(n)) => n
      case (CountCol(nm), CountP(n)) =>
        if (!partCols.contains(nm) && p.anyDv) return None else n
      case (MinCol(nm, _), ExtP(best)) =>
        if (p.anyDv) return None
        best.fold(null: Any)(j => decode(j, dtOf(nm)).getOrElse(return None))
      case (MaxCol(nm, _), ExtP(best)) =>
        if (p.anyDv) return None
        best.fold(null: Any)(j => decode(j, dtOf(nm)).getOrElse(return None))
      case (MinCol(nm, _), PartExtP(best)) => convertToScala(best.orNull, dtOf(nm))
      case (MaxCol(nm, _), PartExtP(best)) => convertToScala(best.orNull, dtOf(nm))
      case _ => return None
    })
  }

  /** Test/inspection hook: distributed (combine-form) folds since JVM
    * start — the never-materializing path's run counter. */
  val distributedFolds = new java.util.concurrent.atomic.AtomicLong(0)

  // ---- grouped combine form -------------------------------------------------
  //
  // GROUP BY partition columns in the same shape: per-group Partials keyed
  // by the decoded-later group key, merged associatively. Driver traffic is
  // O(groups) per RDD partition — the partition-value cardinality, orders
  // of magnitude below the file count this path exists for.

  /** Per-group state: the agg Partial plus the group's surviving-row count
    * (SQL emits no empty groups — a fully-DV-deleted partition must
    * disappear, [[answerGroupedFiles]]'s survivors gate). */
  final case class GroupState(survivors: Long, partial: Partial)
    extends Serializable

  /** `refused` is query-wide and absorbing: a file with a missing group
    * value or an unreadable DV cardinality poisons the whole query, exactly
    * as [[answerGroupedFiles]]'s early returns do. */
  final case class GroupedPartial(
      refused: Boolean,
      groups: Map[Seq[Any], GroupState]) extends Serializable

  def identityGrouped: GroupedPartial = GroupedPartial(refused = false, Map.empty)

  /** One file's contribution to its group — mirrors the per-file body of
    * [[answerGroupedFiles]]. */
  def contributeGrouped(f: AddFile, groupCols: Seq[String],
                        partCols: Set[String], schema: StructType,
                        aggs: IndexedSeq[StatAgg]): GroupedPartial = {
    val refusedAll = GroupedPartial(refused = true, Map.empty)
    val st = f.parsedStats.getOrElse(return refusedAll)
    val dvc = dvCardinality(f).getOrElse(return refusedAll)
    val key = groupCols.map { c =>
      schema.fields.find(_.name == c).flatMap(partValue(f, _))
        .getOrElse(return refusedAll)
    }
    GroupedPartial(refused = false, Map(key -> GroupState(
      st.numRecords - dvc, contribute(f, partCols, schema, aggs))))
  }

  def mergeGrouped(a: GroupedPartial, b: GroupedPartial,
                   aggs: IndexedSeq[StatAgg],
                   schema: StructType): GroupedPartial =
    if (a.refused || b.refused) GroupedPartial(refused = true, Map.empty)
    else GroupedPartial(refused = false,
      b.groups.foldLeft(a.groups) { case (acc, (k, gs)) =>
        acc.get(k) match {
          case Some(prev) => acc.updated(k, GroupState(
            prev.survivors + gs.survivors,
            merge(prev.partial, gs.partial, aggs, schema)))
          case None => acc.updated(k, gs)
        }
      })

  /** Driver finish: drop empty groups, decode keys, finish each group's
    * Partial. Group order is canonicalized (sorted key strings) — the
    * driver fold's file-insertion order is not reconstructible from a
    * distributed merge, and every SQL consumer orders explicitly. */
  def finishGrouped(p: GroupedPartial, partCols: Set[String],
                    schema: StructType, groupCols: Seq[String],
                    aggs: IndexedSeq[StatAgg]): Option[Seq[Seq[Any]]] = {
    if (p.refused) return None
    if (groupCols.isEmpty || !groupCols.forall(partCols.contains)) return None
    val gFields = groupCols.map(n =>
      schema.fields.find(_.name == n).getOrElse(return None))
    val rows = p.groups.toSeq.flatMap { case (key, gs) =>
      if (gs.survivors == 0) None
      else {
        val keyVals = key.zip(gFields)
          .map { case (k, fld) => convertToScala(k, fld.dataType) }
        val aggVals = finish(gs.partial, partCols, schema, aggs)
          .getOrElse(return None)
        Some(keyVals ++ aggVals)
      }
    }
    Some(rows.sortBy(_.take(gFields.length)
      .map(k => if (k == null) "\u0000" else k.toString).mkString("\u0001")))
  }

  /** Log-canonical stat JSON → Spark EXTERNAL value for `dt`; None refuses
    * (wrong stat form for the type). Forms must mirror
    * `DeltaTable.statJValue` / `FooterStats.toJValue` exactly. */
  private[delta] def decode(j: JValue, dt: DataType): Option[Any] = (dt, j) match {
    case (ByteType, JInt(n)) => Some(n.toByte)
    case (ShortType, JInt(n)) => Some(n.toShort)
    case (IntegerType, JInt(n)) => Some(n.toInt)
    case (LongType, JInt(n)) => Some(n.toLong)
    case (StringType, JString(s)) => Some(s)
    case (BooleanType, JBool(b)) => Some(b)
    case (DateType, JString(s)) =>
      scala.util.Try(java.sql.Date.valueOf(java.time.LocalDate.parse(s))).toOption
    case (TimestampNTZType, JString(s)) =>
      FilePruner.canonTs(s).map(java.time.LocalDateTime.parse(_, FilePruner.CanonFormat))
    case (TimestampType, JString(s)) =>
      FilePruner.canonTs(s).map { c =>
        val ldt = java.time.LocalDateTime.parse(c, FilePruner.CanonFormat)
        java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
      }
    case _ => None
  }
}
