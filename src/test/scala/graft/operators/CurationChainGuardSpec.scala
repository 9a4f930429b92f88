package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The curation stages are written once, in Curation.Chain: the text
  * join-back, the pure-leak rule and the quality-gate expression each
  * occur there and nowhere else, so a hand-composed copy of a stage
  * cannot come back.
  */
class CurationChainGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[Path, String] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
  }

  /** The body of `case class Chain`, up to its closing brace. */
  private lazy val chain: String = {
    val s = sources(Paths.get("src/main/scala/graft/operators/Curation.scala"))
    val start = s.indexOf("final case class Chain(")
    assert(start >= 0, "Curation.Chain not found")
    s.substring(start, s.indexOf("\n  }\n", start))
  }

  private def occurrences(re: String): (Int, Int) = {
    val all = sources.values.map(re.r.findAllIn(_).size).sum
    (all, re.r.findAllIn(chain).size)
  }

  test("the text join-back occurs only in the chain") {
    assert(occurrences("""\.drop\(\s*textCol\s*\)\s*\.join\(""") == (1, 1))
  }

  test("the pure-leak rule occurs only in the chain") {
    assert(occurrences(""""n_tokens"\)\s*===\s*0""") == (1, 1))
  }

  test("the quality-gate expression occurs only in the chain") {
    assert(occurrences("""qualityScore\([^\n]*\),\s*6\)\s*>=""") == (1, 1))
  }
}
