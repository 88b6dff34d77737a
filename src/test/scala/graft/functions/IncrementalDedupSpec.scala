package graft.functions

import graft.SparkTestBase
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{QueryExecution, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Cross-corpus incremental dedup: exact/near/kept classification of a new
  * batch against an existing corpus, and the plan properties that keep it
  * equi-join-only at corpus scale. */
class IncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def existing = Seq(
    (1L, "a b c d e f"),
    (2L, "x y z w q v")).toDF("doc_id", "text")

  private def batch = Seq(
    (10L, "a b c d e f"),              // exact dup of 1
    (11L, "a b c d e f g"),            // near dup of 1 (trigram J = 4/5)
    (12L, "totally different tokens here now friend"), // new
    (13L, "p q r s t u"),              // new, near-dups doc 14 but NOT existing
    (14L, "p q r s t u w")).toDF("doc_id", "text")

  private def statuses =
    Dedup.incrementalDedup(existing, batch, "doc_id", "text",
        n = 3, threshold = 0.5)
      .as[(Long, String)].collect().toMap

  test("classifies exact, near, and kept batch docs against the corpus") {
    assert(statuses == Map(
      10L -> "exact_dup",
      11L -> "near_dup",
      12L -> "kept",
      13L -> "kept",
      14L -> "kept"))
  }

  test("within-batch near-dups are NOT flagged (only the corpus counts)") {
    // 13 and 14 are near-dups of each other, but incremental dedup only
    // compares against the existing corpus — both survive
    assert(statuses(13L) == "kept" && statuses(14L) == "kept")
  }

  test("exact beats near when both apply") {
    assert(statuses(10L) == "exact_dup")
  }

  test("normalization: whitespace/case variants are exact dups") {
    val b = Seq((20L, "A  B C D E F")).toDF("doc_id", "text")
    val st = Dedup.incrementalDedup(existing, b, "doc_id", "text")
      .as[(Long, String)].head()
    assert(st == ((20L, "exact_dup")))
  }

  test("sub-shingle batch docs fall through to the exact pass only") {
    val b = Seq((30L, "a b"), (31L, "x y z w q v")).toDF("doc_id", "text")
    val st = Dedup.incrementalDedup(existing, b, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(st(30L) == "kept")      // too short for trigrams, not in corpus
    assert(st(31L) == "exact_dup") // identical to doc 2
  }

  /** The final physical plans of every query run by `body` (AQE stages
    * unwrapped). The listener bus is async: poll until the set is quiet. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      body
      var (last, stable) = (-1, 0)
      val deadline = System.currentTimeMillis() + 30000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val n = plans.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Every node of a plan, through AQE wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** A corpus the planner can tell apart from the batch: a `Range` leaf,
    * larger than the batch so the batch is the build side. */
  private def rangeCorpus = spark.range(60).select($"id".as("doc_id"),
    concat_ws(" ", lit("a b c d e f"), $"id".cast("string")).as("text"))

  // The plan that runs inside the call, not the returned frame's: the
  // verdicts come back materialized, so their own plan is an RDD scan.
  // A small batch is broadcast, the corpus streams, and no cache is left.
  test("plan: equi-joins only — no cartesian or nested-loop anywhere") {
    spark.catalog.clearCache()
    val plans = executedPlans {
      val st = Dedup.incrementalDedup(rangeCorpus, batch, "doc_id", "text",
          n = 3, threshold = 0.5)
        .as[(Long, String)].collect().toMap
      assert(st == Map(10L -> "near_dup", 11L -> "near_dup", 12L -> "kept",
        13L -> "kept", 14L -> "kept"))
    }
    assert(spark.sharedState.cacheManager.isEmpty, "incrementalDedup left a cached frame")
    val all = plans.flatMap(nodes)
    val shown = plans.mkString("\n")
    assert(all.exists(_.isInstanceOf[RangeExec]), s"corpus pass not captured:\n$shown")
    assert(!all.exists(p => p.isInstanceOf[CartesianProductExec] ||
      p.isInstanceOf[BroadcastNestedLoopJoinExec]), shown)
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]), shown)
    // the one shuffle allowed sits above an aggregate of verified batch ids
    def streamsCorpus(p: SparkPlan): Boolean = p match {
      case _: RangeExec => true
      case _: BaseAggregateExec => false
      case a: AdaptiveSparkPlanExec => streamsCorpus(a.executedPlan)
      case q: QueryStageExec => streamsCorpus(q.plan)
      case other => other.children.exists(streamsCorpus)
    }
    val overCorpus = all.collect { case e: Exchange if streamsCorpus(e.child) => e }
    assert(overCorpus.isEmpty, s"corpus rows cross an exchange:\n$shown")
  }

  test("shuffle route: above the broadcast threshold the same joins shuffle, same verdicts") {
    val broadcastRoute = Dedup.incrementalDedup(rangeCorpus, batch, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plans = executedPlans {
        val st = Dedup.incrementalDedup(rangeCorpus, batch, "doc_id", "text")
          .as[(Long, String)].collect().toMap
        assert(st == broadcastRoute)
      }
      val all = plans.flatMap(nodes)
      assert(!all.exists(_.isInstanceOf[BroadcastHashJoinExec]), plans.mkString("\n"))
      assert(all.exists(_.isInstanceOf[SortMergeJoinExec]), plans.mkString("\n"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ngramJaccardNearDups releases its shingle-set cache and matches the verifier") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e f"), (3L, "q r s t"),
      (4L, "q r s t u v w x"), (5L, "a b c d e")).toDF("id", "text")
    spark.catalog.clearCache()
    val got = Dedup.ngramJaccardNearDups(docs, "id", "text", n = 2, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(spark.sharedState.cacheManager.isEmpty, "ngramJaccardNearDups left a cached frame")
    val want = Dedup.ngramJaccardPairs(docs, "id", "text", n = 2, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
  }
}
