package graft.functions

import graft.SparkTestBase
import java.util.Locale
import scala.util.Random

/**
 * Per-document statuses of [[Dedup.incrementalDedup]] against a brute-force
 * oracle — every batch row compared with every corpus row — on both join
 * routes: broadcast (the default for a small batch) and shuffle
 * (`spark.sql.autoBroadcastJoinThreshold = -1`).
 *
 * The corpora are seeded and draw from a vocabulary of 20 words, so common
 * shingles land in the hash-ordered prefixes and candidates pile up; every
 * batch plants exact copies (also as whitespace and case variants) and near
 * copies of corpus documents, null, empty and fewer-than-`n`-token texts,
 * and repeated doc ids.
 */
class IncrementalDedupPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Vector("the", "a", "of", "and", "to", "in", "is", "it",
    "data", "lake", "spark", "delta", "log", "file", "row", "scan", "join",
    "key", "set", "map")

  private def randomDoc(rng: Random): String =
    Seq.fill(rng.nextInt(14))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  /** A near copy: one token replaced (0), inserted (1) or appended (2). */
  private def mutate(rng: Random, t: String, how: Int): String = {
    val toks = t.split(" ", -1).toVector
    val w = vocab(rng.nextInt(vocab.size))
    val i = rng.nextInt(toks.size)
    (how match {
      case 0 => toks.updated(i, w)
      case 1 => toks.patch(i, Seq(w), 0)
      case _ => toks :+ w
    }).mkString(" ")
  }

  /** Whitespace and case variant: same normalized fingerprint. */
  private def variant(rng: Random, t: String): String =
    t.split(" ", -1).map(w => if (rng.nextBoolean()) w.toUpperCase(Locale.ROOT) else w)
      .mkString(if (rng.nextBoolean()) "  " else " \t")

  // ---- oracle: the operator's definitions, spelled out in Scala ----------

  private def shingles(t: String, n: Int): Set[String] =
    if (t == null) Set.empty
    else {
      val toks = t.split(" ", -1)
      if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
    }

  private def fingerprint(t: String): Option[String] =
    Option(t).map(_.replaceAll("\\s+", " ").toLowerCase(Locale.ROOT))

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val u = (a ++ b).size
    if (u == 0) 0.0 else (a & b).size.toDouble / u
  }

  private def oracle(corpus: Seq[String], batch: Seq[(Long, String)],
                     n: Int, t: Double): Map[Long, String] = {
    val fps = corpus.flatMap(fingerprint).toSet
    val sets = corpus.map(shingles(_, n))
    def rank(text: String): Int =
      if (fingerprint(text).exists(fps)) 2
      else {
        val s = shingles(text, n)
        if (s.nonEmpty && sets.exists(c => jaccard(s, c) >= t)) 1 else 0
      }
    batch.groupBy(_._1).map { case (id, rows) =>
      id -> Vector("kept", "near_dup", "exact_dup")(rows.map(r => rank(r._2)).max)
    }
  }

  private def trial(seed: Long): (Seq[String], Seq[(Long, String)]) = {
    val rng = new Random(seed)
    // random docs, long docs (12-15 tokens, so an appended token keeps even
    // 3-shingle Jaccard above 0.8), then edge texts
    val long = Seq.fill(3)(
      Seq.fill(12 + rng.nextInt(4))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val corpus = Seq.fill(12 + rng.nextInt(10))(randomDoc(rng)) ++ long ++
      Seq(null, "", "the", "spark delta", " a of ")
    def pick() = corpus(rng.nextInt(corpus.size - 5))
    val rows = Seq.fill(6 + rng.nextInt(6))(randomDoc(rng)) ++
      Seq.fill(3)(pick()) ++
      Seq.fill(2)(variant(rng, pick())) ++
      Seq.fill(4)(mutate(rng, pick(), rng.nextInt(3))) ++
      long.map(mutate(rng, _, 2)) ++
      Seq(null, "", "key", "set map", " the ", "the  a", "THE A")
    val batch = rows.zipWithIndex.map { case (t, i) => (100L + i, t) }
    // repeated ids: a kept-looking row and a copy under one id, twice over
    (corpus, batch ++ Seq((100L, pick()), (101L, randomDoc(rng)), (102L, null)))
  }

  private def check(route: String): Unit =
    for (n <- Seq(1, 2, 3); t <- Seq(0.3, 0.5, 0.8)) {
      val seed = n * 100 + (t * 10).toLong
      val (corpus, batch) = trial(seed)
      val got = Dedup.incrementalDedup(
          corpus.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("doc_id", "text"),
          batch.toDF("doc_id", "text"), "doc_id", "text", n = n, threshold = t)
        .as[(Long, String)].collect()
      val want = oracle(corpus, batch, n, t)
      assert(got.length == want.size, s"$route n=$n t=$t: one row per distinct doc_id")
      assert(got.toMap == want, s"$route n=$n t=$t seed=$seed")
    }

  test("statuses equal the brute-force oracle on the broadcast route") {
    check("broadcast")
  }

  test("statuses equal the brute-force oracle on the shuffle route") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try check("shuffle")
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the planted copies make every status arise for every (n, t)") {
    val all = for (n <- Seq(1, 2, 3); t <- Seq(0.3, 0.5, 0.8)) yield {
      val (corpus, batch) = trial(n * 100 + (t * 10).toLong)
      oracle(corpus, batch, n, t).values.toSet
    }
    assert(all.forall(_ == Set("kept", "near_dup", "exact_dup")), all)
  }
}
