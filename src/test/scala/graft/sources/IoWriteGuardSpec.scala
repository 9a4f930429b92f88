package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every Arrow IPC and JSON integration byte is written by
  * IncrementalArrowWriter, JSON integration documents are read by
  * Arrow Java's JsonFileReader, and every dataset write commits
  * through StagedWrite, so copied batch loops, hand-written codecs and
  * second commit protocols cannot come back.
  */
class IoWriteGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[Path, String] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
  }

  private def filesMatching(re: String): Set[String] =
    sources.collect { case (p, s) if re.r.findFirstIn(s).isDefined => p.getFileName.toString }
      .toSet

  test("Arrow IPC writers are constructed only inside IncrementalArrowWriter") {
    assert(filesMatching("""new\s+Arrow(File|Stream)Writer\s*\(""") ==
      Set("IncrementalArrowWriter.scala"))
  }

  test("commitStagedWrite is called only from StagedWrite") {
    val calls = sources.toSeq.flatMap { case (p, s) =>
      """(?<!def )\bcommitStagedWrite\s*\(""".r.findAllIn(s).map(_ => p.getFileName.toString)
    }
    assert(calls == Seq("HadoopFiles.scala"), s"call sites: $calls")
  }

  test("Arrow Java's JSON codec is the only JSON integration codec") {
    assert(filesMatching("""new\s+JsonFileWriter\s*\(""") == Set("IncrementalArrowWriter.scala"))
    assert(filesMatching("""new\s+JsonFileReader\s*\(""").size == 1)
    val generators = sources.collect {
      case (p, s) if p.toString.contains("graft/sources/") && s.contains("createGenerator(") =>
        p.getFileName.toString
    }
    assert(generators.isEmpty, s"hand-written JSON generators: $generators")
  }
}
