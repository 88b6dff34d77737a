package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Cast, EqualTo, Expression, SubqueryExpression, And => CAnd}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Shims

import graft.delta.{DeltaTable, Merge, ValidationException}
import graft.sources.GraftTable

/**
 * Planner strategy that lowers SQL DML over [[graft.sources.GraftCatalog]]
 * tables onto the existing transactional machinery:
 *
 *  - `DELETE FROM t WHERE c`        → [[DeltaTable.delete(condition:*]]
 *    (or the DV path under `spark.graft.sql.dml.mor=true`)
 *  - `UPDATE t SET a=e WHERE c`     → [[DeltaTable.update(condition:*]]
 *  - `MERGE INTO t USING s ON cond` → [[Merge.executeClauses]], paired
 *    by [[Merge.Keys]] (key-equality `ON`) or [[Merge.Theta]] (any other)
 *
 * Every DML statement that lowers onto the merge core passes
 * `spark.graft.sql.dml.mor` as its materialization: rewrite the touched
 * files (default) or mask the affected rows with deletion vectors.
 *
 * Spark itself plans none of these for plain DSv2 tables (it requires the
 * row-level-operations API); `experimental.extraStrategies` run BEFORE the
 * built-in strategies, so this intercepts the commands Spark would
 * otherwise reject — the same interception point, one layer later, that
 * Delta-style engines use via session-extension rules. Register with
 * [[GraftSql.ensure]] (runtime) or [[GraftSparkSessionExtension]]
 * (`spark.sql.extensions`).
 *
 * Supported MERGE shapes on the key-equality path (keys need not share
 * names across the two sides): any number of conditional `WHEN MATCHED
 * THEN UPDATE SET * / SET c=e / DELETE` clauses (first-true-wins), any
 * number of conditional `WHEN NOT MATCHED THEN INSERT` clauses
 * (`INSERT *` or expression column lists; omitted columns NULL),
 * `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE`, and `WITH SCHEMA
 * EVOLUTION` (via the AUTOMATIC_SCHEMA_EVOLUTION capability). DELETE and
 * UPDATE accept ARBITRARY subqueries in their WHERE clause. The common
 * shapes take specialized key-join lowerings: an `IN` / `NOT IN`
 * (uncorrelated) or `EXISTS` / `NOT EXISTS` (equality-correlated)
 * conjunct, an uncorrelated scalar (folded to a literal), or an
 * equality-correlated scalar (lowered to a clause-chain merge on the
 * correlation keys with a zero-tuple substitution for unmatched rows) —
 * all running the merge core. Every OTHER shape (multiple
 * subquery conjuncts, subqueries under OR, correlated [NOT] IN,
 * non-equality correlation, aggregates under HAVING — in the WHERE *or*
 * in UPDATE assignment values) routes through the general fallback
 * ([[runGeneralFallback]]): Spark's own subquery planner evaluates the
 * whole predicate (and any assignment values) in one pre-state pass and
 * the admitted rows drive the merge core by full-row matching. The
 * theta MERGE path carries one unconditional matched clause. The one
 * remaining refusal, with a clear error: the full-row fallback over a
 * map-typed column (maps cannot be join keys). Zero-match DELETE/UPDATE
 * is a SQL no-op, not the programmatic API's error.
 */
final class GraftDmlStrategy(spark: SparkSession) extends SparkStrategy {

  /** `spark.graft.sql.dml.mor=true` routes SQL DELETE/UPDATE through the
    * deletion-vector (merge-on-read) paths — zero data files rewritten,
    * the right mode when a trickle of DML lands on huge files. Default is
    * copy-on-write, which reclaims storage (Delta's own guidance). */
  private def morMode: Boolean =
    spark.conf.getOption("spark.graft.sql.dml.mor").exists(_.toBoolean)

  /** The DML cores throw on zero matched rows (reference-API parity, the
    * d-gates pin it); SQL semantics say 0 affected rows is a SUCCESS —
    * absorb exactly that TYPED error here (matching on message text would
    * let a reworded message silently re-enable error-on-zero-match). */
  private def noopOnNoMatch(body: => Unit): Unit =
    try body catch { case _: graft.delta.NoMatchedRowsException => () }

  /** Replace every uncorrelated scalar subquery in `e` with the literal it
    * evaluates to — SQL scalar semantics: zero rows → NULL, more than one
    * row → error. A scalar is the one subquery shape whose VALUE (not its
    * row set) is the operand, so one driver-side evaluation per statement
    * turns `SET x = (SELECT max(...))` / `WHERE p > (SELECT avg(...))`
    * into constant-folded expressions the join-free DML cores (and the
    * file pruner) handle natively. Correlated scalars take the
    * clause-chain merge route in [[correlatedScalarLowering]] instead. */
  private def substituteScalars(e: Expression): Expression = e.transform {
    case sq: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
        if sq.outerAttrs.isEmpty =>
      val rows = Shims.ofRows(spark, sq.plan).take(2)
      if (rows.length > 1) throw new ValidationException(
        "scalar subquery in a DML statement returned more than one row")
      val v = rows.headOption.map(_.get(0)).orNull
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, sq.dataType)
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeleteFromTable(rel @ GraftRelation(t, out), rawCondition) =>
      exec(plan.nodeName) {
        val condition = substituteScalars(rawCondition)
        // Lowering (pure analysis) is separated from execution so a
        // specialized-path REFUSAL can re-route to the general fallback
        // without any risk of double-applying a partially-run statement.
        val run: () => Unit =
          try correlatedScalarLowering(Seq(condition), out) match {
            case Some(cs) =>
              // `DELETE FROM t WHERE p > (SELECT agg(...) WHERE sub.k=t.k)`:
              // a clause-chain merge on the correlation keys. Matched rows
              // see the subquery VALUE through the source side; unmatched
              // rows see the SQL-mandated NULL (so e.g. `> NULL` deletes
              // nothing but `(SELECT ...) IS NULL` deletes exactly them).
              () => runCorrelatedDml(t, cs,
                _ => Merge.MergeAction.Delete, Some(condition))
            case None => subqueryLowering(condition, out) match {
              case Some(sq) =>
                // `DELETE FROM t WHERE k IN (SELECT ...)` (and EXISTS / NOT
                // IN / NOT EXISTS) = a single-clause merge against the
                // materialized subquery side — the same join-shaped pruned
                // core as MERGE, never a collected IN-list.
                () => runSubqueryDml(t, out, sq, Merge.MergeAction.Delete)
              case None =>
                val cond = targetColumn(condition, out)
                () => noopOnNoMatch {
                  if (morMode) t.deleteWithDV(cond) else t.delete(cond); () }
            }
          } catch {
            case _: ValidationException if hasSubquery(condition) =>
              () => generalSubqueryDml(t, rel, condition, Merge.MergeAction.Delete)
          }
        run()
      }
    case UpdateTable(rel @ GraftRelation(t, out), assignments, rawCondition) =>
      exec(plan.nodeName) {
        val condition = rawCondition.map(substituteScalars)
        val assigns = assignments.map { a =>
          val name = a.key match {
            case ar: AttributeReference => ar.name
            case other => throw new ValidationException(
              s"UPDATE of a non-column target is not supported: $other")
          }
          name -> substituteScalars(a.value)
        }
        // The fallback evaluates WHERE and assignment VALUES alike with
        // Spark's own subquery machinery in one pre-state pass, so ANY
        // subquery shape on either side can re-route to it.
        val canFallback = condition.exists(hasSubquery) ||
          assigns.exists(a => hasSubquery(a._2))
        val run: () => Unit =
          try correlatedScalarLowering(condition.toSeq ++ assigns.map(_._2), out) match {
            case Some(cs) =>
              // `UPDATE t SET x = (SELECT agg(...) WHERE sub.k=t.k)`: the
              // matched clause assigns the per-key subquery value, the
              // not-matched-by-source clause assigns its NULL substitution —
              // together they cover every target row the WHERE admits, which
              // is exactly SQL's row-at-a-time scalar-subquery semantics.
              () => runCorrelatedDml(t, cs,
                sub => Merge.MergeAction.UpdateSet(
                  assigns.map { case (n, v) => n -> sub(v) }.toMap),
                condition)
            case None =>
              val set = assigns.map { case (n, v) => n -> targetColumn(v, out) }
              condition.flatMap(subqueryLowering(_, out)) match {
                case Some(sq) =>
                  () => runSubqueryDml(t, out, sq, Merge.MergeAction.UpdateSet(set.toMap))
                case None =>
                  val cond = condition.map(targetColumn(_, out))
                    .getOrElse(org.apache.spark.sql.functions.lit(true))
                  () => noopOnNoMatch {
                    if (morMode) t.updateWithDV(cond, set) else t.update(cond, set); () }
              }
          } catch {
            case _: ValidationException if canFallback =>
              () => generalSubqueryUpdate(t, rel, condition, assigns)
          }
        run()
      }
    case m @ MergeIntoTable(GraftRelation(t, targetOut), source, cond,
        matchedActions, notMatchedActions, notMatchedBySourceActions, _) =>
      exec(plan.nodeName) {
        runMerge(t, targetOut, source, cond, matchedActions,
          notMatchedActions, notMatchedBySourceActions, m.withSchemaEvolution)
      }
    // Eligible appends / truncate-overwrites carry a GraftDirectWrite
    // (built by Spark's V2Writes rule through GraftWriteBuilder). The
    // table keeps V1_BATCH_WRITE for the table-API fallback, which makes
    // Spark's built-in strategy DEMAND a V1Write — so the direct write is
    // planned here, before the built-ins, onto Spark's own V2 write execs
    // (task-side parquet into the final layout, commit-coordinated tasks,
    // one driver metadata commit).
    case AppendData(r: DataSourceV2Relation, query, _, _,
        Some(w: graft.streaming.GraftDirectWrite), _) =>
      Seq(org.apache.spark.sql.execution.datasources.v2.AppendDataExec(
        planLater(query), () => Shims.recacheByPlan(spark, r), w))
    case OverwriteByExpression(r: DataSourceV2Relation, _, query, _, _,
        Some(w: graft.streaming.GraftDirectWrite), _) =>
      Seq(org.apache.spark.sql.execution.datasources.v2
        .OverwriteByExpressionExec(
          planLater(query), () => Shims.recacheByPlan(spark, r), w))
    // Dynamic partition overwrite: when V2Writes built a DIRECT write
    // (round-12 — GraftDirectWrite.DynamicOverwrite), Spark's own exec
    // drives the task-side writers and our commit derives the replaced
    // partitions from the written files.
    case OverwritePartitionsDynamic(r: DataSourceV2Relation, query, _, _,
        Some(w: graft.streaming.GraftDirectWrite)) =>
      Seq(org.apache.spark.sql.execution.datasources.v2
        .OverwritePartitionsDynamicExec(
          planLater(query), () => Shims.recacheByPlan(spark, r), w))
    // Table-API fallback (identity tables, shapes the direct write
    // refuses): NO V1 fallback exec exists in Spark, so the logical plan is planned here directly
    // onto the one-commit table primitive. `V2Writes` has already
    // validated the builder (GraftWriteBuilder declares
    // SupportsDynamicOverwrite); this strategy runs before the built-ins.
    case OverwritePartitionsDynamic(GraftRelation(t, _), query, _, _, _) =>
      exec(plan.nodeName) {
        t.overwritePartitionsDynamic(Shims.ofRows(spark, query)); ()
      }
    case GraftMaintenanceNode(name, out, run) =>
      Seq(GraftMaintenanceExec(name, out, spark, run))
    case GraftDdlCommandNode(name, run) => exec(name) { run() }
    case _ => Nil
  }

  private def exec(name: String)(body: => Unit): Seq[SparkPlan] =
    Seq(GraftDmlExec(name, spark, () => body))

  /** Rebind resolved target attributes to plain names so the Column
    * resolves against the table's own scan inside the DML machinery. */
  private def targetColumn(e: Expression, out: AttributeSet): Column = {
    refuseSubqueries(e)
    Shims.column(e.transform {
      case a: AttributeReference if out.contains(a) =>
        UnresolvedAttribute.quoted(a.name)
    })
  }

  private def refuseSubqueries(e: Expression): Unit =
    if (hasSubquery(e))
      throw new ValidationException(
        "subqueries in DML conditions are not supported")

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** Last-resort lowering for ANY subquery shape in a DML condition that
    * the specialized key-join paths refuse — multiple subquery conjuncts,
    * subqueries under OR, correlated [NOT] IN, non-equality correlation,
    * aggregates under HAVING. The whole predicate is evaluated by Spark's
    * own subquery machinery (`Filter(cond, relation)` plans through the
    * standard decorrelation/rewrite rules, so its cost and plan shape are
    * exactly what the same predicate costs in a SELECT), and the DISTINCT
    * full-row tuples it admits drive the same pruned merge core as every
    * other DML shape, matched by null-safe equality on EVERY column. A
    * tuple matches exactly the rows that satisfied the predicate:
    * duplicate rows agree on a deterministic predicate, so all-or-none of
    * them match — SQL's multiset DELETE/UPDATE semantics. Versus the
    * specialized paths this pays one extra pass over the target (the
    * predicate evaluation) plus a full-width instead of key-width shuffle
    * of the affected rows — the price of total generality, so the
    * key-join lowerings stay the fast path and this never runs for the
    * shapes they cover. Map-typed columns cannot be compared as join
    * keys directly, so the match key substitutes a canonical JSON
    * rendering (sorted keys) for each map column — value-equal maps
    * match regardless of internal ordering (gate s38). */
  private def generalSubqueryDml(t: DeltaTable, relation: LogicalPlan,
                                 cond: Expression,
                                 action: Merge.MergeAction): Unit =
    runGeneralFallback(t, relation, Some(cond), Nil, _ => action)

  /** UPDATE twin of [[generalSubqueryDml]] that ALSO admits subqueries in
    * the assignment VALUES: the new values are computed in the SAME
    * pre-state pass as the predicate (a Project over the Filter — SQL
    * evaluates both against the table's state before the statement), ride
    * the source struct through the merge, and are assigned to matched
    * rows. SQL's "scalar subquery returned more than one row" arises from
    * Spark's own runtime check while the affected set is computed —
    * before any mutation. */
  private def generalSubqueryUpdate(t: DeltaTable, relation: LogicalPlan,
                                    cond: Option[Expression],
                                    assigns: Seq[(String, Expression)]): Unit =
    runGeneralFallback(t, relation, cond, assigns.map(_._2), valueCols =>
      Merge.MergeAction.UpdateSet(
        assigns.map(_._1).zip(valueCols).toMap))

  private def runGeneralFallback(t: DeltaTable, relation: LogicalPlan,
                                 cond: Option[Expression],
                                 values: Seq[Expression],
                                 action: Seq[Column] => Merge.MergeAction): Unit = {
    def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
      case _ => false
    }
    val rowNames = relation.output.indices.map(i => s"__gq$i")
    val valNames = values.indices.map(i => s"__gv$i")
    val filtered = cond.map(Filter(_, relation)).getOrElse(relation)
    val projected = Project(
      (relation.output ++ values.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.catalyst.expressions.Alias(v, s"__gv$i")()
      }).toIndexedSeq, filtered)
    // By strategy time the condition's subqueries are in PULLED-UP form
    // (joinCond populated, correlation columns appended to the subquery
    // output) — a shape the ANALYZER rejects if re-submitted directly.
    // Running the optimizer first rewrites every subquery into joins
    // (RewritePredicateSubquery / RewriteCorrelatedScalarSubquery expect
    // exactly this form), after which the plan is subquery-free and
    // re-analyzes cleanly; the optimizer preserves output order, so the
    // positional rename below stays valid.
    val optimized = spark.sessionState.optimizer.execute(projected)
    val renamed = Shims.ofRows(spark, optimized)
      .toDF((rowNames ++ valNames): _*)
    // Map-typed KEY columns cannot join (maps have no ordering/equality in
    // Spark joins, and DISTINCT refuses them): the source side carries
    // their CANONICAL JSON (maps recursively replaced by key-sorted entry
    // arrays — insertion order no longer matters) and the target side
    // keys on the same encoding via the merge's target-key override.
    val mapIdx = relation.output.indices
      .filter(i => containsMap(relation.output(i).dataType))
    val encoded = mapIdx.foldLeft(renamed) { (df, i) =>
      df.withColumn(rowNames(i),
        canonicalKey(org.apache.spark.sql.functions.col(rowNames(i)),
          relation.output(i).dataType))
    }
    // A map-typed assignment VALUE blocks DISTINCT too; the merge's own
    // key-dedup makes DISTINCT an optimization, not a correctness need
    // (duplicate rows agree on a deterministic predicate and values).
    // When there are NO assignment values (DELETE shapes, e.g. s38) the
    // DISTINCT here is EXACTLY the merge's own dropDuplicates(srcKeys) —
    // same full-width key set — so running it would pay the same
    // full-width dedup shuffle twice back-to-back (r17, verdict item 6).
    // It only earns its keep when extra value columns would otherwise
    // widen the merge's dedup (values.nonEmpty).
    val valuesHaveMap = values.exists(v => containsMap(v.dataType))
    val affected =
      if (valuesHaveMap || values.isEmpty) encoded else encoded.distinct()
    val pairs = relation.output.map(_.name).zip(rowNames)
    val tgtKeyExpr: Map[String, org.apache.spark.sql.Column] =
      mapIdx.map { i =>
        val a = relation.output(i)
        a.name -> canonicalKey(
          org.apache.spark.sql.functions.col(
            s"`${a.name.replace("`", "``")}`"), a.dataType)
      }.toMap
    val valueCols = valNames.map(n =>
      Shims.column(UnresolvedAttribute(Seq("__src", n))))
    val clause = Merge.MergeClause(None, action(valueCols))
    Merge.executeClauses(t, affected, Merge.Keys(pairs, tgtKeyExpr), Seq(clause),
      Nil, mask = morMode)
    ()
  }

  /** Deterministic join-key encoding of a (possibly nested) map-bearing
    * value: every map, at any depth, becomes its entry array sorted by key
    * (recursively canonicalized first), and the whole value renders as ONE
    * JSON string — so two maps equal as functions encode identically
    * regardless of insertion order, and the string is an ordinary
    * hash-joinable key. NULL encodes as NULL (the merge joins keys
    * null-safely). */
  private def canonicalKey(c: org.apache.spark.sql.Column,
                           dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array_sort, map_entries, struct, to_json, transform}
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    def canon(col: org.apache.spark.sql.Column,
              t: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = t match {
      case m: MapType =>
        array_sort(transform(map_entries(col), e =>
          struct(canon(e.getField("key"), m.keyType).as("key"),
            canon(e.getField("value"), m.valueType).as("value"))))
      case s: StructType =>
        struct(s.fields.toSeq.map(f =>
          canon(col.getField(f.name), f.dataType).as(f.name)): _*)
      case a: ArrayType => transform(col, e => canon(e, a.elementType))
      case _ => col
    }
    to_json(struct(canon(c, dt).as("k")))
  }

  /** A lowered subquery-predicate DML shape (see [[subqueryLowering]]). */
  private sealed trait SubqueryPlan
  /** The predicate is statically FALSE for every row (NOT IN over a
    * subquery that yields a NULL) — the whole statement is a no-op. */
  private case object SubqueryNoop extends SubqueryPlan
  /** Join-shaped lowering: `anti = false` applies the DML action to target
    * rows WITH a key match in `subDf` (IN / EXISTS); `anti = true` to rows
    * WITHOUT one (NOT EXISTS / NOT IN, via the not-matched-by-source
    * clause). `keyNotNullGuard` adds `key IS NOT NULL` to the action's
    * condition — NOT IN is never TRUE for a NULL probe value, which the
    * anti-join alone cannot express. */
  private final case class SubqueryJoin(subDf: org.apache.spark.sql.DataFrame,
                                        pairs: Seq[(String, String)],
                                        residual: Option[Expression],
                                        anti: Boolean,
                                        keyNotNullGuard: Boolean) extends SubqueryPlan

  /** Lower `cond` when it is a conjunction containing EXACTLY ONE subquery
    * conjunct of a join-expressible shape, plus any subquery-free residual
    * conjuncts. Supported shapes:
    *
    *  - `(cols) IN (SELECT …)` (uncorrelated): the subquery side is
    *    de-duplicated and null-DROPPED (a NULL in an IN list never makes
    *    the predicate TRUE), then a plain-equality matched join reproduces
    *    IN's ternary logic exactly;
    *  - `(cols) NOT IN (SELECT …)`: if the subquery yields any NULL the
    *    statement is a no-op (`x <> NULL` is never TRUE → the NOT IN is
    *    never TRUE); otherwise an anti join with a `key IS NOT NULL`
    *    guard (a NULL probe is likewise never TRUE);
    *  - `EXISTS (SELECT … WHERE sub.k = t.k [AND …])`: the analyzer pulls
    *    the correlated equalities into the Exists' joinCond — those become
    *    the key pairs, the subquery's residual predicates stay inside its
    *    plan, and the match is a matched join;
    *  - `NOT EXISTS (…)`: same, as an anti join (NULL-key target rows have
    *    no match, so they DO satisfy NOT EXISTS — plain `=` join gives
    *    exactly that).
    *
    * Refused with the shape in the message: correlated IN, non-equality
    * correlation, subqueries under OR, more than one subquery conjunct. */
  private def subqueryLowering(cond: Expression, out: AttributeSet)
      : Option[SubqueryPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ListQuery, Not}
    def split(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    val (withSub, plain) =
      split(cond).partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    val residual = plain.reduceOption(CAnd)

    /** (cols) IN/NOT IN probe attrs: plain target columns only. */
    def probeAttrs(values: Seq[Expression]): Seq[AttributeReference] = values.map {
      case a: AttributeReference if out.contains(a) => a
      case other => throw new ValidationException(
        "only plain target columns are supported on the left of " +
          s"IN (subquery) in DML conditions: $other")
    }
    def freshNames(n: Int): Seq[String] = (0 until n).map(i => s"__sq$i")
    /** Correlated-EXISTS joinCond conjuncts → (targetAttr, subAttr). */
    def existsPairs(joinCond: Seq[Expression], sub: LogicalPlan)
        : Seq[(AttributeReference, Attribute)] = joinCond.map { c =>
      (c match {
        case EqualTo(l, r) => Some((stripCast(l), stripCast(r)))
        case _ => None
      }) match {
        case Some((a: AttributeReference, b: AttributeReference))
            if out.contains(a) && sub.outputSet.contains(b) => (a, b)
        case Some((b: AttributeReference, a: AttributeReference))
            if out.contains(a) && sub.outputSet.contains(b) => (a, b)
        case _ => throw new ValidationException(
          "only equality correlation (sub.col = target.col) is supported " +
            s"in EXISTS/IN predicates of DML conditions: $c")
      }
    }
    def existsJoin(e: Exists, anti: Boolean): SubqueryPlan = {
      if (e.joinCond.isEmpty) throw new ValidationException(
        "uncorrelated EXISTS in DML conditions is not supported")
      val pairs = existsPairs(e.joinCond, e.plan)
      val names = freshNames(pairs.size)
      val projected = Shims.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.Project(
          pairs.map(_._2.asInstanceOf[Attribute]).toIndexedSeq, e.plan))
        .toDF(names: _*).na.drop().distinct()
      SubqueryJoin(projected, pairs.map(_._1.name).zip(names), residual,
        anti = anti, keyNotNullGuard = false)
    }

    withSub match {
      case Seq() => None
      case Seq(InSubquery(values, lq: ListQuery)) =>
        // Uncorrelated AND equality-correlated IN share one lowering: the
        // correlation equalities (pulled into joinCond, their columns
        // appended after the `values.size` probe columns of the
        // decorrelated plan's output) simply join alongside the probe
        // pairs. A NULL probe or NULL list value never makes IN TRUE, so
        // dropping nulls + plain-equality matching is exact either way.
        val attrs = probeAttrs(values)
        val corr = existsPairs(lq.joinCond, lq.plan)
        val allTargets = (attrs ++ corr.map(_._1)).map(_.name)
        val allSub = lq.plan.output.take(values.size) ++ corr.map(_._2)
        val names = freshNames(allSub.size)
        val raw = Shims.ofRows(spark,
          org.apache.spark.sql.catalyst.plans.logical.Project(
            allSub.toIndexedSeq, lq.plan))
          .toDF(names: _*)
        // `t.c IN (SELECT s.a …) AND s.b = t.c` yields TWO pairs on t.c;
        // the merge needs one join pair per target column, so equate the
        // extra sub columns on the (small) subquery side and keep one.
        val seen = scala.collection.mutable.LinkedHashMap[String, String]()
        var consolidated = raw
        allTargets.zip(names).foreach { case (tn, sn) =>
          seen.get(tn) match {
            case None => seen.update(tn, sn)
            case Some(first) =>
              consolidated = consolidated.filter(col(first) === col(sn))
          }
        }
        val kept = seen.toSeq
        val subDf = consolidated.select(kept.map(p => col(p._2)): _*)
          .na.drop().distinct()
        Some(SubqueryJoin(subDf, kept, residual,
          anti = false, keyNotNullGuard = false))
      case Seq(Not(InSubquery(values, lq: ListQuery))) if lq.outerAttrs.isEmpty =>
        val attrs = probeAttrs(values)
        val names = freshNames(attrs.size)
        val raw = Shims.ofRows(spark, lq.plan).toDF(names: _*)
        // any NULL in the list ⇒ `x <> NULL` is unknown for every probe ⇒
        // the NOT IN is never TRUE ⇒ statement-wide no-op. One short job.
        val hasNull = raw.filter(names.map(col(_).isNull).reduce(_ || _))
          .head(1).nonEmpty
        if (hasNull) Some(SubqueryNoop)
        else Some(SubqueryJoin(raw.distinct(), attrs.map(_.name).zip(names),
          residual, anti = true, keyNotNullGuard = true))
      case Seq(e: Exists) => Some(existsJoin(e, anti = false))
      case Seq(Not(e: Exists)) => Some(existsJoin(e, anti = true))
      case other => throw new ValidationException(
        "only a single IN/NOT IN (uncorrelated) or EXISTS/NOT EXISTS " +
          "(equality-correlated) subquery conjunct is supported in DML " +
          s"conditions; got: ${other.mkString(" AND ")}")
    }
  }

  /** Run a subquery-predicate DELETE/UPDATE as a single-clause merge
    * against the subquery side — the matched clause for IN/EXISTS, the
    * not-matched-by-source clause for NOT IN/NOT EXISTS (CoW, or the DV
    * mask under `spark.graft.sql.dml.mor=true`). Zero matches is a SQL
    * no-op by construction — merge does not raise on an empty set. */
  private def runSubqueryDml(t: DeltaTable, out: AttributeSet,
                             sq: SubqueryPlan, action: Merge.MergeAction): Unit =
    sq match {
      case SubqueryNoop => ()
      case SubqueryJoin(subDf, pairs, residual, anti, guard) =>
        val residCol = residual.map(targetColumn(_, out))
        val guardCol =
          if (!guard) None
          else Some(pairs.map(p => col(p._1).isNotNull).reduce(_ && _))
        val condCol = (guardCol, residCol) match {
          case (Some(g), Some(r)) => Some(g && r)
          case (g, r) => g.orElse(r)
        }
        val clause = Merge.MergeClause(condCol, action)
        val (clauses, nms) =
          if (anti) (Nil, Seq(clause)) else (Seq(clause), Nil)
        Merge.executeClauses(t, subDf, Merge.Keys(pairs), clauses, Nil, nms,
          sqlSemantics = true, mask = morMode)
        ()
    }

  /** A lowered equality-correlated scalar subquery. `subDf` is the
    * decorrelated subquery side (`__sqval` + one `__sqN` per correlation
    * key), `pairs` the (targetCol, subCol) equality keys, and the two
    * environments rewrite any statement expression containing the subquery
    * into a merge-clause Column: `matched` routes the subquery VALUE
    * through the source struct, `unmatched` substitutes the NULL a scalar
    * subquery yields over an empty correlated set. */
  private final case class CorrelatedScalar(
      subDf: org.apache.spark.sql.DataFrame,
      pairs: Seq[(String, String)],
      matched: Expression => Column,
      unmatched: Expression => Column)

  /** Lower the single equality-correlated scalar subquery occurring in
    * `exprs` (a DML statement's condition and/or assignment values), or
    * None when there is none. By strategy time the optimizer has pulled
    * the correlation into `joinCond` and appended the correlation columns
    * to the subquery plan's output (its VALUE stays `output.head` — the
    * invariant Spark's own correlated-scalar rewrite relies on), so the
    * subquery side plans as an ordinary standalone DataFrame. Refused with
    * the shape in the message: more than one distinct correlated scalar,
    * non-equality correlation, and aggregate shapes whose zero-tuple value
    * cannot be computed statically (see [[zeroTupleValue]]). */
  private def correlatedScalarLowering(exprs: Seq[Expression],
                                       out: AttributeSet)
      : Option[CorrelatedScalar] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, OuterReference, ScalarSubquery}
    val subs = exprs.flatMap(_.collect {
      case s: ScalarSubquery if s.outerAttrs.nonEmpty => s
    })
    if (subs.isEmpty) return None
    if (subs.map(_.exprId).distinct.size > 1) throw new ValidationException(
      "at most one correlated scalar subquery is supported per DML statement")
    val sq = subs.head
    if (sq.joinCond.isEmpty || sq.plan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[OuterReference]))))
      throw new ValidationException(
        "only equality-correlated scalar subqueries are supported in DML " +
          "statements")
    val pairs = sq.joinCond.map { c =>
      (c match {
        case EqualTo(l, r) => Some((stripCast(l), stripCast(r)))
        case _ => None
      }) match {
        case Some((a: AttributeReference, b: AttributeReference))
            if out.contains(a) && sq.plan.outputSet.contains(b) => (a, b)
        case Some((b: AttributeReference, a: AttributeReference))
            if out.contains(a) && sq.plan.outputSet.contains(b) => (a, b)
        case _ => throw new ValidationException(
          "only equality correlation (sub.col = target.col) is supported " +
            s"in scalar subqueries of DML statements: $c")
      }
    }
    val names = pairs.indices.map(i => s"__sq$i")
    // NULL correlation keys never equality-match a target row, so they are
    // dead weight on the join — drop them on the (small) subquery side.
    val subDf = Shims.ofRows(spark, Project(
      (sq.plan.output.head +: pairs.map(_._2.asInstanceOf[Attribute]))
        .toIndexedSeq, sq.plan))
      .toDF(("__sqval" +: names): _*)
      .na.drop("any", names)
    def build(e: Expression, value: Expression): Column = {
      val substituted = e.transform {
        case s: ScalarSubquery if s.exprId == sq.exprId => value
      }
      refuseSubqueries(substituted)
      Shims.column(substituted.transform {
        case a: AttributeReference if out.contains(a) =>
          UnresolvedAttribute.quoted(a.name)
      })
    }
    // Eager: the zero-tuple computation REFUSES aggregate pipelines it
    // cannot evaluate statically, and that refusal must surface during
    // LOWERING (so the general fallback can take over), not at run time.
    val zeroTuple = Literal.create(zeroTupleValue(sq.plan), sq.dataType)
    Some(CorrelatedScalar(subDf, pairs.map(_._1.name).zip(names),
      matched = build(_, UnresolvedAttribute(Seq("__src", "__sqval"))),
      unmatched = build(_, zeroTuple)))
  }

  /** What a correlated scalar subquery evaluates to for a target row with
    * NO correlated match — the value driving the not-matched-by-source
    * clause. A non-aggregate subquery yields no row → NULL. An aggregate
    * yields the aggregate OVER ZERO TUPLES (NULL for max/min/avg/sum but
    * 0 for COUNT — the classic count bug NULL substitution would get
    * wrong), computed the way Spark's own correlated-scalar rewrite does:
    * run the value expression over an empty relation, one driver-local
    * job over zero rows. Decorrelation turned the scalar aggregate into a
    * group-by over the correlation keys, so the recognized shape is a
    * topmost Aggregate (modulo aliases) with no second aggregate below
    * it; a HAVING between them (Filter over Aggregate) or a nested
    * aggregate pipeline would need Spark's full zero-tuple interpreter
    * and is refused instead. */
  private def zeroTupleValue(plan: LogicalPlan): Any = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    strip(plan) match {
      case agg: Aggregate if !agg.child.exists(_.isInstanceOf[Aggregate]) =>
        try Shims.ofRows(spark, Aggregate(Nil,
            Seq(agg.aggregateExpressions.head), LocalRelation(agg.child.output)))
          .head().get(0)
        catch {
          case scala.util.control.NonFatal(_) => throw new ValidationException(
            "cannot compute the zero-tuple value of this correlated scalar " +
              "subquery's aggregate; rewrite the DML as a MERGE")
        }
      case p if !p.exists(_.isInstanceOf[Aggregate]) => null
      case _ => throw new ValidationException(
        "correlated scalar subqueries with aggregates under HAVING or " +
          "nested aggregate pipelines are not supported in DML statements")
    }
  }

  /** Run a correlated-scalar DELETE/UPDATE as a two-clause merge on the
    * correlation keys: the matched clause acts with the subquery value in
    * scope, the not-matched-by-source clause with its NULL substitution.
    * `sqlSemantics = true` keeps duplicate correlation keys an error for
    * matched rows — exactly SQL's "scalar subquery returned more than one
    * row", raised only when some target row would actually observe it. */
  private def runCorrelatedDml(t: DeltaTable, cs: CorrelatedScalar,
                               action: (Expression => Column) => Merge.MergeAction,
                               condition: Option[Expression]): Unit = {
    val m = Merge.MergeClause(condition.map(cs.matched), action(cs.matched))
    val n = Merge.MergeClause(condition.map(cs.unmatched), action(cs.unmatched))
    Merge.executeClauses(t, cs.subDf, Merge.Keys(cs.pairs), Seq(m), Nil, Seq(n),
      sqlSemantics = true, mask = morMode)
    ()
  }

  // ---- MERGE lowering ------------------------------------------------------

  private def runMerge(t: DeltaTable, targetOut: AttributeSet,
                       source: LogicalPlan, cond: Expression,
                       matchedActions: Seq[MergeAction],
                       notMatchedActions: Seq[MergeAction],
                       notMatchedBySourceActions: Seq[MergeAction],
                       schemaEvolution: Boolean = false): Unit = {
    refuseSubqueries(cond)
    val sourceOut = source.outputSet
    val srcDf = Shims.ofRows(spark, source)

    // `WITH SCHEMA EVOLUTION`: widen the table ADDITIVELY with the
    // source-only columns (nullable, metadata-only commit through the
    // write path's schema merge — old files read the new columns as null)
    // before the merge snapshots. Existing column types are never touched:
    // the table keeps the wider type and the source casts at write (Delta
    // semantics — deliberately NOT Spark's AUTOMATIC_SCHEMA_EVOLUTION
    // capability contract, which would retype columns to match the
    // source). Star actions then cover the evolved columns, because the
    // merge core resolves UpdateAll/INSERT * against the POST-widening
    // snapshot while starLike-detection compares against the pre-widening
    // resolved target.
    if (schemaEvolution) {
      val targetNames = targetOut.map(_.name).toSet
      val extras = srcDf.schema.fields.toSeq
        .filterNot(f => targetNames.contains(f.name))
      if (extras.nonEmpty) {
        val extended = org.apache.spark.sql.types.StructType(
          t.metaSnapshot().schema.fields.toSeq ++ extras.map(_.copy(nullable = true)))
        t.write(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], extended), "append")
      }
    }

    /** NOT-MATCHED condition environment: plain source column names. */
    def sourceColumn(e: Expression): Column = {
      refuseSubqueries(e)
      Shims.column(e.transform {
        case a: AttributeReference if sourceOut.contains(a) =>
          UnresolvedAttribute.quoted(a.name)
      })
    }
    def assignName(a: Assignment): String = a.key match {
      case ar: AttributeReference => ar.name
      case other => throw new ValidationException(
        s"assignment to a non-column target is not supported: $other")
    }
    /** Every assignment is `t.c := s.c` (same name, source attr). */
    def nameAligned(assigns: Seq[Assignment]): Boolean = assigns.forall { a =>
      (a.key, stripCast(a.value)) match {
        case (k: AttributeReference, v: AttributeReference) =>
          k.name == v.name && sourceOut.contains(v)
        case _ => false
      }
    }
    val targetNames = targetOut.map(_.name).toSet
    // INSERT side: any number of (optionally conditional) clauses, tried
    // first-true-wins like the matched side. An explicit column list
    // lowers to a per-target-column value map — target columns OMITTED
    // from the list come out NULL (SQL semantics), which the map encodes
    // by absence. INSERT * (or a name-aligned full-coverage list) lowers
    // to the cheaper star form.
    val inserts: Seq[Merge.InsertClause] = notMatchedActions.map {
      case InsertStarAction(c) => Merge.InsertClause(c.map(sourceColumn), None)
      case InsertAction(c, assigns)
          if nameAligned(assigns) && assigns.map(assignName).toSet == targetNames =>
        Merge.InsertClause(c.map(sourceColumn), None)
      case InsertAction(c, assigns) =>
        Merge.InsertClause(c.map(sourceColumn),
          Some(assigns.map(a => assignName(a) -> sourceColumn(a.value)).toMap))
      case other => throw new ValidationException(
        s"unsupported NOT MATCHED action: $other")
    }

    // MATCHED side → MergeAction.
    def updateSet(assigns: Seq[Assignment]): Merge.MergeAction = {
      // UPDATE SET * resolves to one assignment per target column, each
      // `t.c := s.c` — but ONLY a list covering EVERY target column is
      // star-shaped. Spark aligns assignments to full target width solely
      // for SupportsRowLevelOperations tables, which this is not, so a
      // partial `SET n = src.n` arrives partial and must stay UpdateSet —
      // promoting it would silently overwrite every same-named unassigned
      // column with source values.
      val starLike = assigns.nonEmpty && nameAligned(assigns) &&
        assigns.map(assignName).toSet == targetNames
      if (starLike) Merge.MergeAction.UpdateAll
      else Merge.MergeAction.UpdateSet(assigns.map { a =>
        assignName(a) -> mergeValueColumn(a.value, targetOut, sourceOut)
      }.toMap)
    }
    // MATCHED side: any number of (optionally conditional) clauses, tried
    // in order, first-true-wins — SQL MERGE semantics, carried by
    // [[Merge.executeClauses]]. Clause conditions live in the matched-row
    // env (target cols + __src struct), same as UPDATE SET values.
    def mergeCond(e: Expression): Column = mergeValueColumn(e, targetOut, sourceOut)
    val clauses: Seq[Merge.MergeClause] = matchedActions.map {
      case DeleteAction(c) =>
        Merge.MergeClause(c.map(mergeCond), Merge.MergeAction.Delete)
      case UpdateStarAction(c) =>
        Merge.MergeClause(c.map(mergeCond), Merge.MergeAction.UpdateAll)
      case UpdateAction(c, assigns, _) =>
        Merge.MergeClause(c.map(mergeCond), updateSet(assigns))
      case other => throw new ValidationException(
        s"unsupported MATCHED action: $other")
    }

    // NOT MATCHED BY SOURCE: target-side clauses (DELETE / UPDATE SET with
    // target-only expressions), carried on the same executeClauses chain.
    val nmsClauses: Seq[Merge.MergeClause] = notMatchedBySourceActions.map {
      case DeleteAction(c) =>
        Merge.MergeClause(c.map(mergeCond), Merge.MergeAction.Delete)
      case UpdateAction(c, assigns, _) =>
        Merge.MergeClause(c.map(mergeCond), updateSet(assigns))
      case other => throw new ValidationException(
        s"unsupported NOT MATCHED BY SOURCE action: $other")
    }

    val keys = equiKeys(cond, targetOut, sourceOut)
    if (nmsClauses.nonEmpty && keys.isEmpty) throw new ValidationException(
      "NOT MATCHED BY SOURCE requires an equality ON condition")
    if (clauses.isEmpty && nmsClauses.isEmpty && inserts.isEmpty)
      throw new ValidationException("MERGE with no actions is a no-op; refusing")
    // Key path: the full clause algebra under SQL semantics (cardinality
    // violation on ambiguous matches, plain `=` key nulls, duplicate
    // unmatched rows all insert). Theta path: one unconditional matched
    // clause and at most a star insert, resolved first-match.
    val on = keys match {
      case Some(ks) => Merge.Keys(ks)
      case None => (clauses, inserts) match {
        case (Seq(Merge.MergeClause(None, _)),
              Seq() | Seq(Merge.InsertClause(None, None))) =>
          Merge.Theta(aliasedCondition(cond, targetOut, sourceOut))
        case _ => throw new ValidationException(
          "conditional/multiple clauses require an equality ON condition")
      }
    }
    Merge.executeClauses(t, srcDf, on, clauses, inserts, nmsClauses,
      sqlSemantics = true, mask = morMode)
    ()
  }

  private def stripCast(e: Expression): Expression = e match {
    case Cast(inner, _, _, _) => stripCast(inner)
    case _ => e
  }

  /** `ON` conditions that are pure conjunctions of target-column =
    * source-column equalities → (targetName, sourceName) key pairs for the
    * key-join merge path — the two sides need NOT share names
    * (`ON t.o_orderkey = s.src_key` is an ordinary equi-join merge);
    * anything else → None (theta path). */
  private def equiKeys(cond: Expression, targetOut: AttributeSet,
                       sourceOut: AttributeSet): Option[Seq[(String, String)]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    // The analyzer wraps type-coerced keys in casts (BIGINT target vs INT
    // source literal) — strip them: our key join re-coerces identically.
    val keys = split(cond).map(e => (e match {
      case EqualTo(l, r) => Some((stripCast(l), stripCast(r)))
      case _ => None
    }) match {
      case Some((a: AttributeReference, b: AttributeReference))
          if targetOut.contains(a) && sourceOut.contains(b) =>
        Some((a.name, b.name))
      case Some((b: AttributeReference, a: AttributeReference))
          if targetOut.contains(a) && sourceOut.contains(b) =>
        Some((a.name, b.name))
      case _ => None
    })
    if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.flatten.distinct)
    else None
  }

  /** Rebind a theta `ON` condition to the `t`/`s` aliases
    * [[Merge.Theta]] joins under. */
  private def aliasedCondition(e: Expression, targetOut: AttributeSet,
                               sourceOut: AttributeSet): Column =
    Shims.column(e.transform {
      case a: AttributeReference if targetOut.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sourceOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    })

  /** Rebind a matched-UPDATE assignment value for
    * the merge core's matched-row environment: target columns by plain name,
    * source columns through the carried `__src` struct. */
  private def mergeValueColumn(e: Expression, targetOut: AttributeSet,
                               sourceOut: AttributeSet): Column = {
    refuseSubqueries(e)
    Shims.column(e.transform {
      case a: AttributeReference if sourceOut.contains(a) =>
        UnresolvedAttribute(Seq("__src", a.name))
      case a: AttributeReference if targetOut.contains(a) =>
        UnresolvedAttribute.quoted(a.name)
    })
  }
}

/** Extractor: the DSv2 relation (bare or scan-wrapped) over a graft table. */
private object GraftRelation {
  def unapply(plan: LogicalPlan): Option[(DeltaTable, AttributeSet)] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case g: GraftTable => Some((g.delta, r.outputSet))
      case _ => None
    }
    case s: DataSourceV2ScanRelation => s.relation.table match {
      case g: GraftTable => Some((g.delta, s.outputSet))
      case _ => None
    }
    case SubqueryAlias(_, child) => unapply(child)
    case _ => None
  }
}

/** Resolved logical leaf for a maintenance TVF (`graft_vacuum` /
  * `graft_compact`): carries the side effect as a thunk so RESOLUTION is
  * free — `EXPLAIN SELECT * FROM graft_vacuum('t')` plans this node
  * without vacuuming; the verb runs only when the query executes
  * ([[GraftMaintenanceExec]]). */
final case class GraftMaintenanceNode(opName: String,
    override val output: Seq[Attribute],
    @transient run: () => Seq[InternalRow])
  extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = 64)
  override def simpleString(maxFields: Int): String = s"GraftMaintenance($opName)"
}

/** Resolved leaf COMMAND for a DDL verb the analyzer would otherwise
  * refuse ([[GraftAlterNotNullRule]]): unlike [[GraftMaintenanceNode]]
  * (a TVF scan, lazy until collected) this carries the `Command` marker,
  * so `spark.sql("ALTER ...")` executes it EAGERLY — native DDL
  * semantics, empty result. */
final case class GraftDdlCommandNode(opName: String,
    @transient run: () => Unit)
  extends org.apache.spark.sql.catalyst.plans.logical.LeafNode
  with org.apache.spark.sql.catalyst.plans.logical.Command {
  override def output: Seq[Attribute] = Nil
  override def simpleString(maxFields: Int): String = s"GraftDdlCommand($opName)"
}

/** Physical twin of [[GraftMaintenanceNode]]: the thunk runs at most once,
  * at EXECUTION time (first `executeCollect`/`doExecute`), and its one-row
  * metrics are the scan output. */
final case class GraftMaintenanceExec(opName: String,
                                      override val output: Seq[Attribute],
                                      @transient spark: SparkSession,
                                      @transient run: () => Seq[InternalRow])
  extends LeafExecNode {
  @transient private lazy val result: Array[InternalRow] = {
    // downstream operators require UnsafeRow (SparkPlan.getByteArrayRdd
    // casts) — project the generic metric rows once
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(output.map(_.dataType).toArray)
    run().map(r => proj(r).copy(): InternalRow).toArray
  }
  override def executeCollect(): Array[InternalRow] = result
  override protected def doExecute(): RDD[InternalRow] =
    spark.sparkContext.parallelize(result.toIndexedSeq, 1)
  override def simpleString(maxFields: Int): String = s"GraftMaintenanceExec($opName)"
}

/** Leaf node that runs the side effect once (eager command execution calls
  * `executeCollect`); models Spark's own V2CommandExec. */
final case class GraftDmlExec(opName: String,
                              @transient spark: SparkSession,
                              @transient body: () => Unit)
  extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  @transient private lazy val result: Array[InternalRow] = {
    body()
    Array.empty
  }

  override def executeCollect(): Array[InternalRow] = result

  override protected def doExecute(): RDD[InternalRow] =
    spark.sparkContext.parallelize(result.toIndexedSeq, 1)

  override def simpleString(maxFields: Int): String = s"GraftDmlExec($opName)"
}

/**
 * Session wiring for the SQL surface. Two routes:
 *  - at session BUILD time: `spark.sql.extensions=graft.plans.GraftSparkSessionExtension`
 *  - on a LIVE session: [[GraftSql.ensure]] (idempotent) — registers the
 *    `graft` catalog over a process-lifetime warehouse and injects the DML
 *    strategy via `experimental.extraStrategies`.
 */
object GraftSql {
  val CatalogName = "graft"

  /** The session's registered warehouse dir, if [[ensure]] has run. */
  def warehousePath(spark: SparkSession): Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$CatalogName.warehouse")

  /** `'ns.tbl'` or `'graft.ns.tbl'` (warehouse-relative; a leading
    * catalog-name segment is accepted and stripped, so the SAME
    * identifier works in a query and a TVF) or a raw `/path` /
    * `scheme://path`. */
  private def resolveTableRef(spark: SparkSession, ref: String): String =
    if (ref.contains("/")) ref
    else warehousePath(spark) match {
      case Some(wh) =>
        val parts = ref.split('.').toSeq
        val rel = if (parts.length > 2 && parts.head == CatalogName)
          parts.tail else parts
        (wh +: rel).mkString("/")
      case None => throw new graft.delta.ValidationException(
        s"no graft warehouse registered; pass a path instead of '$ref'")
    }

  private def litString(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
      v.toString
    case other => throw new graft.delta.ValidationException(
      s"$what must be a literal, got $other")
  }

  private def litLong(e: org.apache.spark.sql.catalyst.expressions.Expression,
                      what: String): Long =
    try litString(e, what).toLong
    catch {
      case _: NumberFormatException =>
        throw new graft.delta.ValidationException(s"$what must be an integer")
    }

  /** SQL table functions over the change feed and the commit history —
    * Delta's `table_changes(...)` / `DESCRIBE HISTORY` equivalents:
    * {{{
    *   SELECT * FROM graft_table_changes('ns.tbl', 2, 3)
    *   SELECT * FROM graft_history('ns.tbl')
    * }}}
    * Registered by [[ensure]]; table refs resolve against the session's
    * warehouse (or pass an absolute path). */
  /** The text/dedup function family as SQL SCALAR functions, so a
    * SQL-only user can run the curation pipeline in pure SQL text
    * (`SELECT graft_fingerprint(text), graft_lang_id(text) ...`). Each
    * call EXPANDS to the same Catalyst expression tree the programmatic
    * Column API builds (graft.functions.TextFunctions / Dedup) — one
    * code path, codegen'd, optimizer-visible; no UDF boundary. Array
    * functions compose: `graft_simhash(split(text, ' '))`,
    * `graft_minhash(graft_shingles(text, 3), 128)`. */
  private def registerScalarFunctions(spark: SparkSession): Unit = {
    import graft.functions.{Dedup, TextFunctions}
    val S = org.apache.spark.sql.graft.Shims
    def c(e: Expression): Column = S.column(e)
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
      case other => throw new ValidationException(
        s"$what must be an integer literal, got $other")
    }
    def arity(args: Seq[Expression], n: Int, sig: String): Unit =
      if (args.size != n) throw new ValidationException(s"expected $sig")
    def reg(name: String, usage: String)(b: Seq[Expression] => Column): Unit =
      S.registerScalarFunction(spark, name, usage)(args => S.expression(b(args)))

    reg("graft_token_count", "graft_token_count(text) - whitespace token count") { a =>
      arity(a, 1, "graft_token_count(text)")
      TextFunctions.tokenCount(c(a.head))
    }
    reg("graft_token_count_bpe",
      "graft_token_count_bpe(text) - BPE-ish subword count estimate") { a =>
      arity(a, 1, "graft_token_count_bpe(text)")
      TextFunctions.tokenCountBpeish(c(a.head))
    }
    reg("graft_fingerprint",
      "graft_fingerprint(text) - md5 of whitespace-normalized lowercase text") { a =>
      arity(a, 1, "graft_fingerprint(text)")
      TextFunctions.fingerprint(c(a.head))
    }
    reg("graft_fingerprint64",
      "graft_fingerprint64(text) - 64-bit rolling content hash") { a =>
      arity(a, 1, "graft_fingerprint64(text)")
      TextFunctions.fingerprint64(c(a.head))
    }
    reg("graft_lang_id",
      "graft_lang_id(text) - marker-stopword language id (en/de/es/fr/zh/und)") { a =>
      arity(a, 1, "graft_lang_id(text)")
      TextFunctions.languageId(c(a.head))
    }
    reg("graft_quality_score",
      "graft_quality_score(text) - composite [0,1] quality score") { a =>
      arity(a, 1, "graft_quality_score(text)")
      TextFunctions.qualityScore(c(a.head))
    }
    reg("graft_shingles",
      "graft_shingles(text, n) - word n-gram shingles of the text") { a =>
      arity(a, 2, "graft_shingles(text, n)")
      TextFunctions.ngrams(TextFunctions.tokens(c(a.head)), intLit(a(1), "n"))
    }
    reg("graft_minhash",
      "graft_minhash(shingles, k[, seed]) - k-element MinHash signature") { a =>
      if (a.size < 2 || a.size > 3) throw new ValidationException(
        "expected graft_minhash(shingles, k[, seed])")
      val seed = if (a.size == 3) intLit(a(2), "seed").toLong else 42L
      Dedup.minhashSignature(c(a.head), intLit(a(1), "k"), seed)
    }
    reg("graft_simhash",
      "graft_simhash(tokens) - 64-bit SimHash of a token array") { a =>
      arity(a, 1, "graft_simhash(tokens)")
      Dedup.simhash64(c(a.head))
    }
    reg("graft_hamming",
      "graft_hamming(a, b) - Hamming distance between 64-bit signatures") { a =>
      arity(a, 2, "graft_hamming(a, b)")
      Dedup.hamming64(c(a.head), c(a(1)))
    }
  }

  private def registerTableFunctions(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_table_changes",
      "graft_table_changes(table, startVersion, endVersion) - change feed rows") { args =>
      if (args.size != 3) throw new graft.delta.ValidationException(
        "graft_table_changes(table, startVersion, endVersion)")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val t = DeltaTable.forPath(spark, path)
      t.changes(litLong(args(1), "startVersion"), litLong(args(2), "endVersion"))
        .queryExecution.analyzed
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_history", "graft_history(table) - commit history") { args =>
      if (args.size != 1) throw new graft.delta.ValidationException(
        "graft_history(table)")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val t = DeltaTable.forPath(spark, path)
      import spark.implicits._
      t.describeHistory().map { case (v, ts, op, params) => (v, ts, op, params) }
        .toDF("version", "timestamp_ms", "operation", "parameters")
        .queryExecution.analyzed
    }
    // DESCRIBE DETAIL analog: one row of table-level facts from the LOG
    // (snapshot metadata + file census) — never touches data files, so
    // it is O(log) at any table size.
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_detail", "graft_detail(table) - table facts (DESCRIBE DETAIL)") { args =>
      if (args.size != 1) throw new graft.delta.ValidationException(
        "graft_detail(table)")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val t = DeltaTable.forPath(spark, path)
      val snap = t.snapshot()
      val m = snap.metadata
      import spark.implicits._
      Seq((
        m.map(_.id).getOrElse(""),
        path,
        snap.version,
        snap.partitionColumns.mkString(","),
        snap.configuration.getOrElse("graft.clusterBy", ""),
        snap.activeFiles.size.toLong,
        snap.activeFiles.map(_.size).sum,
        m.map(_.createdTime).getOrElse(0L),
        snap.configuration.map { case (k, v) => s"$k=$v" }.toSeq.sorted
          .mkString(";"),
        // round-12 column facts: declared write-time semantics
        graft.delta.GeneratedColumns.exprs(snap.schema)
          .map { case (n, e) => s"$n=$e" }.mkString(";"),
        graft.delta.IdentityColumns.specs(snap.schema)
          .map(s => s"${s.name}(start=${s.start},step=${s.step}," +
            s"hwm=${s.highWaterMark.map(_.toString).getOrElse("-")})")
          .mkString(";")))
        .toDF("id", "location", "version", "partition_columns",
          "cluster_by", "num_files", "size_in_bytes", "created_at_ms",
          "properties", "generated_columns", "identity_columns")
        .queryExecution.analyzed
    }
    // Maintenance verbs for SQL-only users — the TVF analog of Delta's
    // VACUUM / OPTIMIZE statements (which need a parser extension Spark
    // only applies at session build; a table function works on any
    // session). The side effect is DEFERRED to query execution via
    // [[GraftMaintenanceNode]] — EXPLAIN (or a resolved-but-never-run
    // query) does NOT vacuum/compact; only args validate at resolution.
    def longAttrs(names: String*): Seq[Attribute] = names.map(n =>
      AttributeReference(n, org.apache.spark.sql.types.LongType, nullable = false)())
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_vacuum",
      "graft_vacuum(table[, retentionHours]) - reclaim unreferenced files") { args =>
      if (args.isEmpty || args.size > 2) throw new graft.delta.ValidationException(
        "graft_vacuum(table[, retentionHours])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val retention = args.lift(1).map(litString(_, "retentionHours").toDouble)
        .getOrElse(168.0)
      GraftMaintenanceNode("graft_vacuum",
        longAttrs("files_deleted", "bytes_freed"), () => {
          val r = graft.delta.Maintenance.vacuum(
            DeltaTable.forPath(spark, path), retention)
          Seq(InternalRow(r.filesDeleted.toLong, r.bytesFreed))
        })
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_compact", "graft_compact(table[, partition_predicate]) - " +
        "bin-pack small files, optionally only in matching partitions") { args =>
      if (args.isEmpty || args.size > 2)
        throw new graft.delta.ValidationException(
          "graft_compact(table[, partition_predicate])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      // OPTIMIZE ... WHERE: scope the rewrite to the partitions a SQL
      // predicate admits (the daily-reload pattern — compact today's
      // partitions, never touch the 100 TB history).
      val predicate = args.lift(1).map(litString(_, "partition_predicate"))
      GraftMaintenanceNode("graft_compact",
        longAttrs("files_compacted", "files_created"), () => {
          val r = graft.delta.Maintenance.compact(
            DeltaTable.forPath(spark, path),
            graft.delta.Maintenance.CompactionConfig(
              minFilesToCompact = 2, partitionFilter = predicate))
          Seq(InternalRow(r.filesCompacted.toLong, r.filesCreated.toLong))
        })
    }
    // COPY INTO analog: idempotent file-level ingest — each run loads
    // ONLY the source files the table has not ingested before, in atomic
    // chunks (data + loaded-file identities in one commit each), so
    // retries and schedulers can re-offer a directory safely.
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_ingest",
      "graft_ingest(table, sourceDir[, format]) - idempotent file-level load") { args =>
      if (args.size < 2 || args.size > 3)
        throw new graft.delta.ValidationException(
          "graft_ingest(table, sourceDir[, format])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val src = litString(args(1), "sourceDir")
      val fmt = args.lift(2).map(litString(_, "format")).getOrElse("parquet")
      GraftMaintenanceNode("graft_ingest",
        longAttrs("files_ingested", "rows_ingested", "files_skipped", "version"),
        () => {
          val r = graft.delta.Ingest.run(spark,
            DeltaTable.forPath(spark, path), src, fmt)
          Seq(InternalRow(r.filesIngested, r.rowsIngested,
            r.filesSkipped, r.version))
        })
    }
    // State-changing verbs under the same deferred contract — the SQL
    // analogs of Delta's RESTORE / OPTIMIZE ZORDER BY / dedup recipes /
    // SHALLOW CLONE statements, so a SQL-only user can run every
    // maintenance verb the programmatic API exposes.
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_restore",
      "graft_restore(table, version) - roll the table back to a version") { args =>
      if (args.size != 2) throw new graft.delta.ValidationException(
        "graft_restore(table, version)")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val version = litLong(args(1), "version")
      GraftMaintenanceNode("graft_restore",
        longAttrs("rows_affected", "files_rewritten", "version"), () => {
          val r = DeltaTable.forPath(spark, path).restore(version)
          Seq(InternalRow(r.rowsAffected, r.filesRewritten, r.version))
        })
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_zorder",
      "graft_zorder(table[, col ...]) - rewrite clustered by Z-order; " +
        "with no columns, uses the table's CLUSTER BY spec") { args =>
      if (args.isEmpty) throw new graft.delta.ValidationException(
        "graft_zorder(table[, col ...])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val explicit = args.tail.map(litString(_, "column"))
      GraftMaintenanceNode("graft_zorder",
        longAttrs("files_before", "files_after", "version"), () => {
          val dt = DeltaTable.forPath(spark, path)
          // No column list → the table's CLUSTER BY spec (the liquid-
          // clustering maintenance shape: layout intent on the table,
          // one idempotent verb re-clusters).
          val cols =
            if (explicit.nonEmpty) explicit
            else dt.metaSnapshot().configuration.get("graft.clusterBy")
              .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
              .getOrElse(throw new graft.delta.ValidationException(
                "graft_zorder(table) requires the table to declare " +
                  "CLUSTER BY columns; pass them explicitly otherwise"))
          val r = graft.delta.Maintenance.zOrderCluster(dt, cols)
          Seq(InternalRow(r.filesBefore, r.filesAfter, r.version))
        })
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_dedup",
      "graft_dedup(table[, key ...]) - drop exact (or by-key) duplicate rows") { args =>
      if (args.isEmpty) throw new graft.delta.ValidationException(
        "graft_dedup(table[, key ...])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val keys = args.tail.map(litString(_, "key"))
      val strategy: graft.delta.Maintenance.DedupStrategy =
        if (keys.isEmpty) graft.delta.Maintenance.DedupStrategy.Exact
        else graft.delta.Maintenance.DedupStrategy.ByKey(keys)
      GraftMaintenanceNode("graft_dedup",
        longAttrs("rows_before", "rows_after", "version"), () => {
          val r = graft.delta.Maintenance.deduplicate(
            DeltaTable.forPath(spark, path), strategy)
          Seq(InternalRow(r.rowsBefore, r.rowsAfter, r.version))
        })
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_sync_identity",
      "graft_sync_identity(table) - recompute identity high-water marks " +
        "from the data (Delta's ALTER TABLE ... SYNC IDENTITY)") { args =>
      if (args.size != 1) throw new graft.delta.ValidationException(
        "graft_sync_identity(table)")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      GraftMaintenanceNode("graft_sync_identity",
        Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "column", org.apache.spark.sql.types.StringType)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "high_water_mark", org.apache.spark.sql.types.LongType)()), () => {
          val marks = DeltaTable.forPath(spark, path).syncIdentity()
          marks.toSeq.sortBy(_._1).map { case (c, m) =>
            InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(c), m)
          }
        })
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_set_not_null",
      "graft_set_not_null(table, column[, nullable]) - tighten (or, with " +
        "nullable=true, relax) a column's NOT NULL declaration with " +
        "write-side enforcement") { args =>
      // Spark's own analyzer refuses `ALTER COLUMN ... SET NOT NULL` on V2
      // tables (nullable→non-nullable is "unsupported"), so tightening has
      // no native SQL verb — this TVF closes the pure-SQL gap over
      // DeltaTable.setColumnNullability (which proves no existing NULLs,
      // then commits nullable=false plus the enforcing CHECK constraint in
      // one commit). DROP NOT NULL works natively; the optional third arg
      // keeps the relax direction reachable here too for symmetry.
      if (args.size < 2 || args.size > 3) throw new graft.delta.ValidationException(
        "graft_set_not_null(table, column[, nullable])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val column = litString(args(1), "column")
      val nullable = args.lift(2).exists(litString(_, "nullable").toBoolean)
      GraftMaintenanceNode("graft_set_not_null",
        Seq(org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "column", org.apache.spark.sql.types.StringType)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "nullable", org.apache.spark.sql.types.BooleanType)(),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "version", org.apache.spark.sql.types.LongType)()), () => {
          val v = DeltaTable.forPath(spark, path)
            .setColumnNullability(column, nullable)
          Seq(InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(column),
            nullable, v))
        })
    }
    org.apache.spark.sql.graft.Shims.registerTableFunction(spark,
      "graft_clone",
      "graft_clone(table, targetPath[, deep]) - zero-copy (or deep) clone") { args =>
      if (args.size < 2 || args.size > 3) throw new graft.delta.ValidationException(
        "graft_clone(table, targetPath[, deep])")
      val path = resolveTableRef(spark, litString(args.head, "table"))
      val target = litString(args(1), "targetPath")
      val deep = args.lift(2).exists(litString(_, "deep").toBoolean)
      GraftMaintenanceNode("graft_clone",
        longAttrs("source_version", "target_version"), () => {
          val src = DeltaTable.forPath(spark, path)
          val cloned = src.cloneTo(target, deep)
          Seq(InternalRow(src.version, cloned.version))
        })
    }
  }

  /** Idempotently enable the catalog + SQL DML on a live session; returns
    * the catalog name. `warehouse` overrides the default temp-dir
    * warehouse (first caller wins for the session). Also turns
    * [[graft.SessionEnv.ArtifactIsolation]] off unless the key is set. */
  def ensure(spark: SparkSession, warehouse: Option[String] = None): String =
    synchronized {
      if (!spark.conf.getAll.contains(graft.SessionEnv.ArtifactIsolation))
        spark.conf.set(graft.SessionEnv.ArtifactIsolation, "false")
      val key = s"spark.sql.catalog.$CatalogName"
      if (spark.conf.getOption(key).isEmpty) {
        val wh = warehouse.getOrElse {
          val d = java.nio.file.Files
            .createTempDirectory("graft-sql-warehouse").toString
          graft.TempDirs.deleteOnExit(d)
          d
        }
        spark.conf.set(key, classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"$key.warehouse", wh)
      }
      if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[GraftDmlStrategy])) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ new GraftDmlStrategy(spark)
        registerTableFunctions(spark)
        registerScalarFunctions(spark)
      }
      CatalogName
    }
}

/** Native SQL `ALTER TABLE t ALTER COLUMN c SET NOT NULL` on graft tables.
  *
  * Spark's `CheckAnalysis.checkAlterTableCommand` (CheckAnalysis.scala:1094
  * in 4.1.2) unconditionally refuses nullable→non-nullable for V2 tables —
  * no catalog capability reaches it, so the verb cannot arrive as a
  * `TableChange.UpdateColumnNullability` however willing the catalog is
  * ([[graft.sources.GraftCatalog.alterTable]] handles the relax direction
  * natively). This RESOLUTION rule runs before that check: an
  * [[AlterColumns]] whose child resolved to a [[GraftTable]] and whose
  * every spec is a PURE top-level nullability TIGHTEN is rewritten to a
  * [[GraftDdlCommandNode]] over [[DeltaTable.setColumnNullability]] (the
  * no-existing-NULLs census proof, then one commit carrying
  * nullable=false plus the enforcing CHECK constraint). Anything else —
  * mixed type/comment/position specs, nested fields, relaxes (`DROP NOT
  * NULL` already works natively) — falls through to Spark untouched.
  *
  * Build-time route only (analyzer rules are fixed at session
  * construction); on a LIVE session the `graft_set_not_null` TVF remains
  * the SQL surface for tightening.
  */
case class GraftAlterNotNullRule(session: SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{ResolvedFieldName, ResolvedTable}

  private def pureTopLevelTighten(s: AlterColumnSpec): Boolean =
    s.newNullability.contains(false) && s.newDataType.isEmpty &&
      s.newComment.isEmpty && s.newPosition.isEmpty &&
      s.newDefaultExpression.isEmpty && !s.dropDefault &&
      (s.column match {
        case f: ResolvedFieldName => f.path.isEmpty
        case _                    => false
      })

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case AlterColumns(r: ResolvedTable, specs)
        if r.table.isInstanceOf[GraftTable] && specs.nonEmpty &&
          specs.forall(pureTopLevelTighten) =>
      val delta = r.table.asInstanceOf[GraftTable].delta
      val cols = specs.map(_.column.asInstanceOf[ResolvedFieldName].field.name)
      GraftDdlCommandNode("alter_set_not_null", () =>
        cols.foreach(c => delta.setColumnNullability(c, nullable = false)))
  }
}

/** `spark.sql.extensions` entry point (build-time route). */
class GraftSparkSessionExtension
  extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(session => new GraftDmlStrategy(session))
    ext.injectPlannerStrategy(session => GlobalRowNumberStrategy(session))
    ext.injectResolutionRule(session => GraftAlterNotNullRule(session))
  }
}
