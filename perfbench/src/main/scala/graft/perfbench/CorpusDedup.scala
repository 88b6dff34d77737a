package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.functions.{Dedup, TextFunctions}

/** The curation kernels: incremental dedup of document batches against a
  * growing Delta corpus.
  *
  * Set-up writes a seeded base corpus of unique documents to a Delta table
  * and pre-generates the batches as Parquet. In every batch, by `doc_id`
  * mod 20: classes 0-1 are exact copies of a base document, 2-3 are near
  * copies (a base document plus one token), 4 is repetitive junk, and the
  * rest are unique. An op runs the batch through a token-statistics
  * quality filter, `Dedup.incrementalDedup` against the whole table, and
  * appends the survivors. Work items are documents. */
final class CorpusDedup(spark: SparkSession, cfg: Main.Config) extends Main.Workload {
  import CorpusDedup._

  val cycle: Int = 1
  private val nBase = math.max(200L, (2000 * cfg.scale).toLong)
  private val batchDocs = math.max(20L, (200 * cfg.scale).toLong)

  private var ns = ""
  private var table: DeltaTable = _
  private var removed = 0L
  private var writeBytes = 0L

  private def batchesDir = cfg.work.resolve("batches").toString

  def setup(nsName: String): Unit = {
    ns = nsName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    val seed = cfg.seed
    table = DeltaTable.forPath(spark, s"${graft.plans.GraftSql.warehousePath(spark).get}/$ns/corpus")
    table.write(spark.range(nBase).select(col("id").as("doc_id"), lang(col("id")),
      Gen.text(seed, col("id")).as("text")))
    // The batches are the same for every set-up of one run: the first
    // writes them, the later ones reuse them.
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(batchesDir))) {
      val id = col("id")
      val cls = id % 20
      val source = Gen.pick(seed, id, 41, nBase)
      spark.range(nBase, nBase + MaxBatches * batchDocs).select(
        id.as("doc_id"), lang(id),
        when(cls < 2, Gen.text(seed, source))
          .when(cls < 4, concat(Gen.text(seed, source), lit(" nearmark")))
          .when(cls === 4, concat_ws(" ", array_repeat(concat(lit("w"), pmod(id, lit(5000L))), 60)))
          .otherwise(Gen.text(seed, id)).as("text"),
        ((id - nBase) / batchDocs).cast("int").as("batch"))
        .repartition(col("batch")).write.partitionBy("batch").parquet(batchesDir)
    }
    next = 0
  }

  def warmUp(): Unit = require(op(-1, traced = false).check())

  private var next = 0

  private def lang(id: org.apache.spark.sql.Column) =
    element_at(typedlit(Seq("en", "de", "fr", "es", "zh")), (pmod(id, lit(5L)) + 1).cast("int"))
      .as("lang")

  def op(i: Int, traced: Boolean): Main.Op = {
    require(next < MaxBatches, "pre-generated batches exhausted")
    val b = next
    next += 1
    val filtered = Trace.span("functions.quality") {
      spark.read.parquet(s"$batchesDir/batch=$b")
        .filter(!TextFunctions.isRepetitive(col("text"))).localCheckpoint(true)
    }
    val existing = Trace.span("delta.snapshot")(table.toDF())
    val statuses = Trace.span("functions.dedup") {
      Dedup.incrementalDedup(existing, filtered, "doc_id", "text")
    }
    val kept = filtered.join(statuses.where(col("status") === "kept"), Seq("doc_id"), "left_semi")
    Trace.span("delta.write")(table.write(kept))
    Main.Op("batch", batchDocs, () => check(b, filtered, statuses, traced))
  }

  /** Every exact copy removed, near-copy recall at least
    * [[NearRecallFloor]], junk filtered, and no unique document removed. */
  private def check(b: Int, filtered: DataFrame, statuses: DataFrame, traced: Boolean): Boolean = {
    val status = statuses.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = (nBase + b * batchDocs) until (nBase + (b + 1) * batchDocs)
    def cls(id: Long) = (id % 20).toInt
    val near = ids.filter(id => cls(id) == 2 || cls(id) == 3)
    val nearFound = near.count(id => status.get(id).contains("near_dup"))
    val ok = ids.forall { id =>
      cls(id) match {
        case 0 | 1 => status.get(id).contains("exact_dup")
        case 2 | 3 => status.get(id).forall(_ != "kept")
        case 4 => !status.contains(id)
        case _ => status.get(id).contains("kept")
      }
    } && nearFound >= NearRecallFloor * near.size
    if (traced) {
      removed += status.count(_._2 != "kept")
      writeBytes += table.log.readCommit(table.version)
        .collect { case a: graft.delta.AddFile => a.size }.sum
    }
    if (!ok) System.err.println(s"[perfbench] corpus_dedup batch $b check failed")
    ok
  }

  def finalCheck(): Boolean = true

  def counters(tracedOps: Int): Map[String, Double] = {
    val n = math.max(1, tracedOps).toDouble
    Map("functions.dedup.removed" -> removed / n, "delta.write.bytes" -> writeBytes / n)
  }
}

object CorpusDedup {
  /** Many times the handful of batches a run on a 4-core host consumes, so
    * a much faster engine does not run out. */
  val MaxBatches = 100
  /** Every planted near copy differs from its source by one appended token,
    * so its 3-shingle Jaccard similarity is far above the 0.5 threshold. */
  val NearRecallFloor = 0.9
}
