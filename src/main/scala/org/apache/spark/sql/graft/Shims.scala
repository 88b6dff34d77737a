package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, ExpressionUtils}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Bridge to two `private[sql]` seams every Spark connector needs (Delta
  * Lake and Iceberg ship the same shim): Catalyst `Expression` ⇄ public
  * `Column` (Spark 4 moved Column onto ColumnNode, so there is no public
  * constructor) and `LogicalPlan` → `DataFrame` (to hand a resolved MERGE
  * source subtree back to the public API). This file lives under
  * `org.apache.spark.sql` ONLY to satisfy the access qualifier; it
  * contains no Spark code. */
object Shims {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly CONVERT (not wrap): `ExpressionUtils.expression` returns a
    * lazy `ColumnNodeExpression`; prune-translation pattern matches need
    * the real Catalyst tree. */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** `condition` analyzed as a filter over `child` — the analysis a
    * DataFrame `filter` runs, without building a DataFrame or its row
    * encoder (the analyzer is `private[sql]`). */
  def analyzeFilter(spark: SparkSession, condition: Expression,
                    child: LogicalPlan): LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .analyzer.executeAndCheck(
        org.apache.spark.sql.catalyst.plans.logical.Filter(condition, child),
        new org.apache.spark.sql.catalyst.QueryPlanningTracker)

  /** `schema` with every field, at every nesting level, nullable —
    * metadata kept (`asNullable` is `private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame of `schema` over rows already in Catalyst's internal form
    * (`internalCreateDataFrame` is `private[sql]`). */
  def ofInternalRows(spark: SparkSession,
                     rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** Re-cache any cached plans that read `plan` after a write commits
    * (what Spark's own DSv2 write planning does via its `refreshCache`
    * callback). `CacheManager` is `private[sql]`, hence the shim. */
  def recacheByPlan(spark: SparkSession, plan: LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.recacheByPlan(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Unload every loaded streaming state-store provider and stop the
    * background maintenance thread; both restart lazily when the next
    * stateful query starts. Finished queries otherwise leave their
    * providers loaded and under periodic maintenance for the session's
    * lifetime. `private[sql]` in Spark, hence the shim. */
  def unloadStreamingState(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Register a SQL scalar function on a LIVE session: the builder maps
    * the call's argument expressions to ONE Catalyst expression tree, so
    * the function expands inline (codegen'd, optimizable) exactly like a
    * Spark built-in — no UDF boundary, no per-row interpretation. */
  def registerScalarFunction(spark: SparkSession, name: String, usage: String)(
      builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft", name, usage),
        builder)
    ()
  }

  /** Register a SQL table-valued function on a LIVE session — the runtime
    * twin of `SparkSessionExtensions.injectTableFunction` (which only works
    * at session build time). */
  def registerTableFunction(spark: SparkSession, name: String, usage: String)(
      builder: Seq[Expression] => LogicalPlan): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft", name, usage),
        builder)
    ()
  }
}
