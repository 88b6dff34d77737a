package graft.delta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods

/**
 * Write-side generated columns and legacy column invariants (Delta's
 * `delta.generationExpression` / `delta.invariants` field metadata;
 * north-star — the reference reads generated columns' materialized values
 * but never writes such tables, tests/conformance/dat-runner.test.ts).
 *
 * Semantics (Delta parity):
 *  - a write that OMITS a generated column gets it computed from the
 *    generation expression over the written row ([[WritePlan]]);
 *  - a write that PROVIDES one is validated row-by-row — provided value
 *    must null-safe-equal the expression, or the whole write refuses
 *    (Delta's GeneratedColumn invariant check);
 *  - UPDATE/MERGE recompute generated columns over the post-image rows
 *    ([[regenerate]]), and refuse assignments that SET one explicitly —
 *    generated columns are computed, never assigned;
 *  - column invariants (`delta.invariants`) are enforced on every written
 *    row; unlike CHECK constraints, a NULL result VIOLATES an invariant
 *    (Delta's legacy-invariant strictness, which predates SQL CHECK).
 *
 * Expressions are evaluated with Spark's own analyzer (`expr`), so a
 * generation expression referencing functions this engine cannot evaluate
 * fails analysis with Spark's error — the only remaining refusal class.
 */
object GeneratedColumns {

  /** Delta's persisted field-metadata key. */
  val MetadataKey = "delta.generationExpression"

  /** Spark's DDL-side key (CREATE TABLE ... GENERATED ALWAYS AS). */
  val SparkDdlKey = "GENERATION_EXPRESSION"

  /** Delta's legacy column-invariant key. */
  val InvariantKey = "delta.invariants"

  /** (column, generation SQL) pairs declared by the schema, in field order. */
  def exprs(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(MetadataKey) =>
        f.name -> f.metadata.getString(MetadataKey)
    }

  def hasAny(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(MetadataKey))

  def names(schema: StructType): Set[String] = exprs(schema).map(_._1).toSet

  /** (column, invariant SQL) pairs. The persisted value is Delta's JSON
    * envelope `{"expression":{"expression":"<sql>"}}`; a bare SQL string
    * is accepted too (defensive — some writers persist it unwrapped). */
  def invariants(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(InvariantKey) =>
        val raw = f.metadata.getString(InvariantKey)
        val sql = scala.util.Try(JsonMethods.parse(raw)).toOption.flatMap {
          case JObject(fs) => fs.collectFirst {
            case ("expression", JObject(inner)) => inner.collectFirst {
              case ("expression", JString(s)) => s
            }
          }.flatten
          case _ => None
        }.getOrElse(raw)
        f.name -> sql
    }

  /** Recompute every generated column over `df` (post-image rows: the
    * referenced columns carry their NEW values). `gate` limits the
    * recompute to rows satisfying it — rows outside keep their current
    * value (CoW rewrites carry untouched rows through unchanged). */
  def regenerate(df: DataFrame, schema: StructType,
                 gate: Option[Column] = None): DataFrame =
    exprs(schema).foldLeft(df) { case (acc, (n, e)) =>
      val computed = expr(e).cast(schema(n).dataType)
      acc.withColumn(n,
        gate.fold(computed)(g =>
        when(g, computed).otherwise(col(s"`${n.replace("`", "``")}`"))))
    }

  /** Compute the generated columns NOT in `provided` over `df` (which must
    * carry the referenced columns) — insert-image builders use this so a
    * source that omits a generated column gets it computed, while one that
    * provides it keeps the value (validated at write). */
  def computeMissing(df: DataFrame, schema: StructType,
                     provided: Set[String]): DataFrame =
    exprs(schema).filterNot { case (n, _) => provided(n) }
      .foldLeft(df) { case (acc, (n, e)) =>
        acc.withColumn(n, expr(e).cast(schema(n).dataType))
      }

  /** Refuse DML assignments that SET a generated column explicitly. */
  def refuseAssignments(schema: StructType, assigned: Iterable[String],
                        op: String): Unit = {
    val gens = names(schema)
    assigned.find(gens).foreach(n =>
      throw new ValidationException(
        s"$op cannot SET generated column '$n' " +
          s"(${schema(n).metadata.getString(MetadataKey)}): generated " +
          "columns are computed from their expression, never assigned"))
  }
}
