package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Table data has one reader: the DSv2 scan (`GraftBatchScan`), which plans
  * from the log's add actions. A Parquet file-source read (`.parquet(` on a
  * reader) in engine code would re-list the store and skip deletion
  * vectors, column mapping and the UTC partition decoding, so it may appear
  * only where the files read are not table data files as the log describes
  * them. Writes (`.write....parquet(`) are not reads. */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")

  /** File → the methods in it that may read Parquet directly. */
  private val allowedMethods: Map[Path, Set[String]] = Map(
    "delta/Checkpoints.scala" -> Set("readStateDf"), // checkpoint parts
    "delta/Cdc.scala" -> Set("readFiles"), // change-data files
    "delta/BloomIndex.scala" -> Set("buildSidecars"), // physical columns, by design
    "functions/Corpus.scala" -> Set("dsirWeights"), // its own spill directory
    "streaming/Streams.scala" -> Set("eventStream") // a raw event directory
  ).map { case (f, ms) => main.resolve(f) -> ms }

  /** Mains and their helpers that load raw (non-table) inputs. */
  private def rawInputLoader(p: Path): Boolean =
    Set("Tables.scala", "NorthStarQueries.scala", "functions/CorpusSoak.scala")
      .map(main.resolve).contains(p) || p.startsWith(main.resolve("tools"))

  private val MethodDef =
    """^  (?:(?:private|protected|override|final)(?:\[\w+\])? )*def (\w+).*""".r

  /** (line number, enclosing method) of every Parquet read in `p`: a line
    * with `.parquet(` whose call chain (it plus the continuation lines
    * above it) has no `.write`. */
  private def parquetReads(p: Path): Seq[(Int, String)] = {
    val lines = Files.readAllLines(p).asScala.toIndexedSeq
    lines.indices.filter(i => lines(i).contains(".parquet(")).flatMap { i =>
      var head = i
      while (head > 0 && lines(head).trim.startsWith(".")) head -= 1
      val chain = lines.slice(head, i + 1).mkString(" ")
      if (chain.contains(".write")) None
      else {
        val method = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
          case MethodDef(name) => name
        }.getOrElse("")
        Some((i + 1, method))
      }
    }
  }

  test("a Parquet file-source read appears in src/main only in the allow-list") {
    assert(Files.isDirectory(main), s"run from the repository root: $main missing")
    val walk = Files.walk(main)
    val reads =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap(p => parquetReads(p).map { case (n, m) => (p, n, m) })
      finally walk.close()
    // the allow-list is live: each entry still reads Parquet
    allowedMethods.foreach { case (p, ms) =>
      ms.foreach(m => assert(reads.exists(r => r._1 == p && r._3 == m), s"$p $m reads no Parquet"))
    }
    val offenders = reads.filterNot { case (p, _, m) =>
      rawInputLoader(p) || allowedMethods.get(p).exists(_.contains(m))
    }
    assert(offenders.isEmpty, offenders.map { case (p, n, m) => s"$p:$n (in $m)" }
      .mkString("Parquet file-source reads outside the table scan:\n", "\n", ""))
  }
}
