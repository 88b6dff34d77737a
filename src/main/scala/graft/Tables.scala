package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for reading the testdata corpus and writing oracle-stable
  * (bit-deterministic, DuckDB-matchable) expressions. */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Widen a narrow input to the session's default parallelism before
    * per-row CPU-heavy kernels (md5 shingles, minhash permutations, regex
    * chains). A parquet scan parallelizes at ROW-GROUP granularity — a
    * small corpus packed into one row group is irreducibly one task, and a
    * 128-permutation minhash over it runs on one core while the rest idle.
    * At cluster scale a table scan yields far more splits than cores, so
    * this is a structural NO-OP (returns the plan unchanged — no shuffle
    * is ever added to a big scan); only the small-input regime pays one
    * sub-MB round-robin exchange to buy full-core parallelism.
    *
    * Inputs whose plan already contains a shuffle-inducing or
    * stage-materializing operator (join, aggregate, window, sort,
    * repartition, groupByKey-family, global limit) are returned unchanged
    * WITHOUT inspecting partitions: they are already spread across
    * `spark.sql.shuffle.partitions`, and materializing an RDD off such a
    * plan under AQE would eagerly execute its shuffle stages at
    * plan-construction time. widen is intended for scan/filter/project/
    * union-shaped inputs only; anything else passes through untouched.
    *
    * Split counting uses `queryExecution.toRdd` on the ALREADY-PLANNED
    * physical plan — `df.rdd` would build a second QueryExecution (a full
    * re-analysis/re-plan of the subtree) just to ask for the partition
    * count. For the scan shapes that reach this branch, `toRdd` computes
    * partitions from the file index without running a job. */
  def widen(df: DataFrame, bytesPerTask: Long = 128L << 10): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffled = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort |
           _: RepartitionOperation | _: Distinct | _: Deduplicate |
           _: MapGroups | _: CoGroup | _: FlatMapGroupsWithState |
           _: GlobalLimit => true
      case _ => false
    }
    if (shuffled) df
    else {
      // Scale-adaptive target (r17): fan out only as far as the input's
      // BYTES justify — every widened task costs a fixed scheduling/launch
      // overhead, and a 32-way round-robin exchange over a few hundred KB
      // is pure tax (the r16 driver measured exactly that on the union
      // feeds). Target = ceil(bytes / bytesPerTask) clamped to the
      // session's parallelism: tiny inputs stay nearly unwidened, a
      // row-group-bound multi-MB input still reaches every core, and at
      // cluster scale the split count already exceeds the clamp so widen
      // remains a structural no-op. `bytesPerTask` encodes the CALLER's
      // per-byte kernel cost — the 128 KB default fits ordinary text
      // kernels; the n-gram-exploding sites (decontamination, DSIR
      // bigrams, minhash shingles) pass 16 KB because their per-byte
      // compute is ~10× heavier, so even small inputs repay full fan-out.
      // Both constants were calibrated by 32-core A/B at sf0.1
      // (OPTIMIZATION_r17.md).
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes = (bytes + bytesPerTask - 1) / bytesPerTask
      val target = byBytes
        .min(BigInt(df.sparkSession.sparkContext.defaultParallelism))
        .max(BigInt(1)).toInt
      if (df.queryExecution.toRdd.getNumPartitions < target)
        df.repartition(target)
      else df
    }
  }

  /** `events.ts` varies across testdata generations: TIMESTAMP(NANOS)
    * parquet surfaces as a nanosecond long
    * (spark.sql.legacy.parquet.nanosAsLong=true — set in every session we
    * build; integer division because ns magnitudes exceed double's 53-bit
    * mantissa), TIMESTAMP(MICROS, isAdjustedToUTC=false) as TIMESTAMP_NTZ,
    * and an adjusted-to-UTC file as tz-aware TIMESTAMP. Normalize all three
    * to microsecond TIMESTAMP_NTZ — the session TZ is UTC, so the LTZ→NTZ
    * cast is value-preserving and matches DuckDB's naive read. */
  def tsNtz(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
    case TimestampType => df.withColumn("ts", col("ts").cast(TimestampNTZType))
    case _ => df
  }

  /** Same normalization, but to tz-aware TimestampType — for streaming
    * event-time columns (watermarks/windows); UTC session makes the
    * NTZ→LTZ cast value-preserving. */
  def tsLtz(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    tsNtz(t(spark, dir, "events"))

  /** Cast to a fixed-point decimal so sums are exact and engine-independent.
    * Summing doubles is order-dependent (Spark partial aggregation vs DuckDB
    * sequential); summing decimals is exact, and casting the exact result back
    * to double is bit-identical in both engines. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent, DuckDB-bit-identical sum of a 2-decimal double column. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact average: exact decimal sum cast to double, divided by count. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** DuckDB SQL fragment equivalent of [[dsum]]. */
  def sqlDsum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"

  def sqlDavg(expr: String): String = s"${sqlDsum(expr)} / COUNT(*)"

  /** Deterministic dot product of two float/double-array columns, computed in
    * double in array order (matches DuckDB's list_dot_product over DOUBLE[]).
    * Backed by a codegen'd Catalyst expression — bit-identical to
    * [[dotComposed]] but ~100× cheaper than the interpreted lambda version. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.dotNative(a, b)

  /** Reference implementation from built-ins (kept for equivalence tests). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
