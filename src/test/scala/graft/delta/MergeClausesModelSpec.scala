package graft.delta

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Model-based property check for [[Merge.executeClauses]]: random clause
 * chains (conditional DELETE / two UPDATE SET shapes, in random order),
 * random conditional inserts, and random not-matched-by-source clauses
 * run against a driver-side first-true-wins model after every merge —
 * each step under both materializations (rewrite and deletion-vector
 * mask, on two tables fed the same steps), checking the table contents
 * and the merge's updated/deleted/inserted counts.
 * This is the adversarial companion to the behavioral SqlDmlSpec cases:
 * clause ordering, fall-through rows, condition overlap, and the
 * matched/NMS gating all get shuffled.
 */
class MergeClausesModelSpec extends SparkTestBase {
  import spark.implicits._

  // target row: id -> (k, n)
  private case class Clause(cond: ((Int, Long)) => Boolean, condCol: Column,
                            action: String) // "delete" | "bump" | "set"

  private def genClause(rng: Random): Clause = {
    val k = rng.nextInt(4)
    val (condF, condC): (((Int, Long)) => Boolean, Column) = rng.nextInt(3) match {
      case 0 => (r => r._1 == k, col("k") === k)
      case 1 => (r => r._2 > k * 10, col("n") > k * 10)
      case 2 => (_ => true, lit(true))
    }
    Clause(condF, condC, Seq("delete", "bump", "set")(rng.nextInt(3)))
  }

  test("random clause chains match a first-true-wins model") {
    val rng = new Random(4242)
    (1 to 4).foreach { trial =>
      // target: ids 1..30, k = id % 4, n = id
      var model: Map[Int, (Int, Long)] =
        (1 to 30).map(id => id -> ((id % 4, id.toLong))).toMap
      // one table per materialization: mask = false rewrites, true masks
      val tables = Seq(false, true).map { mask =>
        val t = DeltaTable.forPath(spark,
          Files.createTempDirectory(s"graft-clauses$trial-$mask").toString)
        t.write(model.toSeq.map { case (id, (k, n)) => (id, k, n) }
          .toDF("id", "k", "n"))
        mask -> t
      }

      (1 to 4).foreach { step =>
        val pre = model // state at merge start
        // source: random subset of 1..40 (ids > 30 are fresh); the payload
        // column shares the target's name `n` (matched clauses read it via
        // the __src struct; inserts land it directly, k nulls)
        val src = (1 to 40).filter(_ => rng.nextBoolean())
          .map(id => (id, (id * 7 + step).toLong))
        val srcDf = src.toDF("id", "n")
        val srcMap = src.toMap

        val clauses = Seq.fill(1 + rng.nextInt(3))(genClause(rng))
        val insertCond = rng.nextInt(3) match {
          case 0 => None // no NOT MATCHED action
          case 1 => Some(None) // unconditional INSERT
          case 2 => Some(Some(col("n") % 2 === 0))
        }
        val useNms = rng.nextBoolean()

        val mergeClauses = clauses.map { c =>
          val action = c.action match {
            case "delete" => Merge.MergeAction.Delete
            case "bump" => Merge.MergeAction.UpdateSet(
              Map("n" -> (col("n") + col("__src.n"))))
            case "set" => Merge.MergeAction.UpdateSet(
              Map("n" -> col("__src.n"), "k" -> lit(9)))
          }
          Merge.MergeClause(Some(c.condCol), action)
        }
        val nms =
          if (!useNms) Nil
          else Seq(Merge.MergeClause(Some(col("k") === 0), Merge.MergeAction.Delete))

        val results = tables.map { case (mask, t) =>
          mask -> Merge.executeClauses(t, srcDf, Merge.Keys(Seq("id" -> "id")),
            mergeClauses, insertCond.toSeq.map(c => Merge.InsertClause(c)), nms,
            mask = mask)
        }

        // ---- model: matched rows take their first-true clause ----
        var (updated, deleted, inserted) = (0L, 0L, 0L)
        model = pre.flatMap { case (id, (k, n)) =>
          srcMap.get(id) match {
            case Some(sn) =>
              clauses.find(_.cond((k, n))) match {
                case Some(c) => c.action match {
                  case "delete" => deleted += 1; None
                  case "bump" => updated += 1; Some(id -> ((k, n + sn)))
                  case "set" => updated += 1; Some(id -> ((9, sn)))
                }
                case None => Some(id -> ((k, n))) // fell through every clause
              }
            case None => // not matched by source
              if (useNms && k == 0) { deleted += 1; None } else Some(id -> ((k, n)))
          }
        }
        // inserts: source ids absent from the PRE-merge target, cond-gated;
        // the source lacks `k`, so it lands NULL (modeled as Int.MinValue
        // through the coalesce in the read-back below)
        if (insertCond.isDefined) {
          val pass: Long => Boolean = insertCond.flatten match {
            case Some(_) => sn => sn % 2 == 0
            case None => _ => true
          }
          srcMap.foreach { case (id, sn) =>
            if (!pre.contains(id) && pass(sn)) {
              model += id -> ((Int.MinValue, sn))
              inserted += 1
            }
          }
        }

        tables.zip(results).foreach { case ((mask, t), (_, r)) =>
          val got = t.toDF()
            .select(col("id"),
              coalesce(col("k"), lit(Int.MinValue)).as("k"), col("n"))
            .as[(Int, Int, Long)]
            .collect().map(r => r._1 -> ((r._2, r._3))).toMap
          assert(got == model, s"trial $trial step $step mask=$mask diverged")
          assert((r.updated, r.deleted, r.inserted) == ((updated, deleted, inserted)),
            s"trial $trial step $step mask=$mask counts")
        }
      }
    }
  }
}
