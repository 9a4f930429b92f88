package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The index directory protocol — the CURRENT pointer, the GEN counter,
  * the batch ledger and the `<base>.v<N>` version suffix — is spelled
  * out only in IndexStore, so no index can grow a second copy of it.
  */
class IndexStoreGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[Path, String] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toMap
  }

  private def filesMatching(re: String): Set[String] =
    sources.collect { case (p, s) if re.r.findFirstIn(s).isDefined => p.getFileName.toString }
      .toSet

  test("CURRENT, GEN, batch_ledger and the .v suffix occur only in IndexStore") {
    Seq(""""CURRENT"|/CURRENT\b""", """"GEN"|/GEN\b""", "batch_ledger",
        """\.v\$""").foreach { re =>
      assert(filesMatching(re) == Set("IndexStore.scala"), s"pattern $re")
    }
  }

  test("IndexVersions no longer exists") {
    assert(filesMatching("""\bIndexVersions\b""").isEmpty)
    assert(!Files.exists(Paths.get("src/main/scala/graft/operators/IndexVersions.scala")))
  }
}
