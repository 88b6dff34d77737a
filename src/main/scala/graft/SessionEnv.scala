package graft

import org.apache.spark.sql.SparkSession

/**
 * Session set-up shared by the driver-contract mains (Verify/Bench) and
 * the inspection tools (Explain, GateProfile), so all of them plan and
 * run queries the same way. Master selection:
 * `SPARK_GRAFT_MASTER` overrides the default `local[cpus]` — the round-15
 * multi-process validation axis runs the same sweeps under
 * `local-cluster[w,c,mb]`, where executors are SEPARATE JVMs and every
 * task closure, broadcast, and reader factory must actually serialize
 * (a shared local[] JVM hides capture bugs).
 *
 * For a local-cluster master the executor JVMs are raw `java` launches,
 * so they inherit NOTHING from build.sbt's javaOptions: the forked
 * driver's classpath, the JDK-17 --add-opens set, and the UTC timezone
 * pin are propagated explicitly.
 */
object SessionEnv {

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** Off unless the user set it: under Spark's default artifact isolation
    * each streaming query runs on a cloned session whose tasks get their
    * own class loader, and generated code is cached per (class loader,
    * code), so every query compiled its classes again (~50 per streaming
    * MERGE). A graft session adds no artifacts; one that does can set the
    * key back to `true`. Set here at build time and on a live session by
    * [[graft.plans.GraftSql.ensure]]. */
  val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Apply master + (when multi-process) executor wiring to a builder. */
  def withMaster(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // AQE on cached plans (off by default): the engine persists operator
    // intermediates (merge sources, LSH signatures, CC edge sets), and
    // without this every consumer of a cached frame replays the cached
    // subtree's full `spark.sql.shuffle.partitions` fan-out — AQE never
    // coalesces it. Purely a physical-planning knob: results are identical,
    // and at every scale the cached exchange sizes to the DATA, not to the
    // static partition count (guide §2.2).
    val b0 = b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config(ArtifactIsolation, sys.props.getOrElse(ArtifactIsolation, "false"))
    val b1 = b0.master(master)
    if (!master.startsWith("local-cluster")) b1
    else b1
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        (jdk17AddOpens :+ "-Duser.timezone=UTC").mkString(" "))
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
  }

  /** The engine session every main runs on: `cpus` task slots and
    * shuffle partitions, the graft extension (native DDL verbs such as
    * ALTER COLUMN SET NOT NULL need its analyzer rule), UTC, µs-unit
    * output timestamps (not INT96, so DuckDB/pyarrow read back the same
    * logical values the oracle computes) and nanosecond parquet
    * timestamps read as longs (events.ts — see Tables.events). */
  def session(cpus: String): SparkSession =
    withMaster(SparkSession.builder(), cpus)
      .withExtensions(new graft.plans.GraftSparkSessionExtension)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
