package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.sources.arrow.HadoopFiles

/** Staged-write commit protocol: only completed (task-renamed) staged
  * files may ever be promoted, partition ids parse past the %05d
  * minimum width, and in-progress litter from dead attempts is swept.
  */
class HadoopFilesSpec extends AnyFunSuite {

  private def tmpDir(): String =
    TempDirs.tempDir("graft-staged")

  private def write(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  private def read(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), "UTF-8")

  test("commit never promotes an in-progress attempt; numeric attempt order wins") {
    val dir = tmpDir()
    val token = "tok000000001"
    // attempt 9 died mid-write (its task-side rename never happened);
    // attempt 12 completed. Lexicographically "9" > "12" — the commit
    // must pick numerically and must sweep the torn file.
    write(dir, HadoopFiles.stagedName(token, 0, 9L, "arrow") + ".w", "torn")
    write(dir, HadoopFiles.stagedName(token, 0, 12L, "arrow"), "complete-12")
    write(dir, HadoopFiles.stagedName(token, 0, 3L, "arrow"), "complete-3")
    HadoopFiles.commitStagedWrite(dir, token, Set.empty,
      pid => f"part-$pid%05d.arrow", HadoopFiles.local)
    assert(read(dir, "part-00000.arrow") == "complete-12")
    val left = Files.list(Paths.get(dir)).toArray.map(_.toString.split('/').last).sorted
    assert(left.toSeq == Seq("part-00000.arrow"), s"litter survived: ${left.toSeq}")
  }

  test("partition ids beyond the %05d minimum width stay distinct") {
    val dir = tmpDir()
    val token = "tok000000002"
    write(dir, HadoopFiles.stagedName(token, 10000, 1L, "arrow"), "pid-10000")
    write(dir, HadoopFiles.stagedName(token, 100000, 2L, "arrow"), "pid-100000")
    HadoopFiles.commitStagedWrite(dir, token, Set.empty,
      pid => f"part-$pid%05d.arrow", HadoopFiles.local)
    assert(read(dir, "part-10000.arrow") == "pid-10000")
    assert(read(dir, "part-100000.arrow") == "pid-100000")
  }

  test("stageTask publishes the staged name only after the write completes") {
    val dir = tmpDir()
    val staged = s"$dir/${HadoopFiles.stagedName("tok000000003", 1, 7L, "arrow")}"
    val out = HadoopFiles.stageTask(staged, HadoopFiles.local) { p =>
      assert(p == staged + ".w")
      Files.write(Paths.get(p), "payload".getBytes("UTF-8"))
      42
    }
    assert(out == 42)
    assert(Files.exists(Paths.get(staged)))
    assert(!Files.exists(Paths.get(staged + ".w")))
    // a write that throws leaves no visible staged file
    val staged2 = s"$dir/${HadoopFiles.stagedName("tok000000003", 2, 8L, "arrow")}"
    intercept[RuntimeException] {
      HadoopFiles.stageTask(staged2, HadoopFiles.local) { p =>
        Files.write(Paths.get(p), "half".getBytes("UTF-8"))
        throw new RuntimeException("task died")
      }
    }
    assert(!Files.exists(Paths.get(staged2)))
  }
}
