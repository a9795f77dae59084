package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one way to memoize: every derived artifact goes through
  * `graft.core.Artifacts`, so no other main source may build its own
  * `TrieMap` registry or its own `applicationId` key. The one
  * exception is `SimilarityQueries.dynamicOracle`, which records the
  * oracle SQL a query produced — bookkeeping, not a memo. */
class SingleRegistrySpec extends AnyFunSuite {

  private val registry = Paths.get("graft", "core", "Artifacts.scala")

  test("TrieMap and applicationId appear only in the artifact registry") {
    val root = Paths.get("src", "main")
    val s = Files.walk(root)
    val sources = try s.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(sources.nonEmpty, s"no Scala sources under $root")
    val offending = sources
      .filterNot(_.endsWith(registry))
      .flatMap { (p: Path) =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if (lines(i).contains("TrieMap") ||
              lines(i).contains("applicationId")) &&
            !(p.endsWith("SimilarityQueries.scala") && i > 0 &&
              lines(i - 1).contains("private val dynamicOracle")) =>
            s"$p:${i + 1}: ${lines(i).trim}"
        }
      }
    assert(offending.isEmpty,
      "memoize through graft.core.Artifacts instead:\n" +
        offending.mkString("\n"))
  }
}
