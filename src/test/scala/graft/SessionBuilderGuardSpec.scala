package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session in the library is built through GraftSession, so
  * copied SparkSession.builder blocks cannot come back.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {

  test("SparkSession.builder() is called only inside GraftSession") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val call = """SparkSession\s*\.\s*builder\b""".r
    val offenders = sources.filterNot(_.endsWith("GraftSession.scala"))
      .filter((p: Path) => call.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local or GraftSession.builder: $offenders")
  }
}
