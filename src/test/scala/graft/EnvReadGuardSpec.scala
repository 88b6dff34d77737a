package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine code takes no settings from the process environment: options
  * live in table properties and Spark confs, so a run is a function of
  * its inputs. Only the entry points that set up a process (the
  * driver-contract mains, the session builder and the `tools` mains) may
  * read `sys.env`. */
class EnvReadGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")
  private val allowed = Set("Bench.scala", "Verify.scala", "Explain.scala", "SessionEnv.scala")
    .map(main.resolve)

  private def allowedFile(p: Path): Boolean =
    allowed.contains(p) || p.startsWith(main.resolve("tools"))

  test("sys.env appears in src/main only in the entry files") {
    assert(Files.isDirectory(main), s"run from the repository root: $main missing")
    val walk = Files.walk(Paths.get("src/main"))
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !allowedFile(p))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("sys.env") => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("environment reads in engine code:\n", "\n", ""))
  }
}
