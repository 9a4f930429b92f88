package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library reads a fixed set of environment variables, so a tool
  * setting cannot come back as a per-tool knob with its own default.
  */
class EnvKnobGuardSpec extends AnyFunSuite {

  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_BENCH_OUT", "SPARK_MASTER", "SPARK_DRIVER_MEM")

  test("the environment variables read under src/main/scala/graft are exactly the allowed six") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
    val access = """sys\.env\b|System\s*\.\s*getenv\b""".r
    val read = """(?:sys\.env(?:\s*\.\s*(?:get|getOrElse|contains))?|System\s*\.\s*getenv)\s*\(\s*"([A-Za-z0-9_]+)"""".r
    val accesses = sources.map(access.findAllMatchIn(_).size).sum
    val names = sources.flatMap(read.findAllMatchIn(_).map(_.group(1)))
    assert(accesses == names.size,
      s"$accesses environment accesses, only ${names.size} read a literal name")
    assert(names.toSet == allowed)
  }
}
