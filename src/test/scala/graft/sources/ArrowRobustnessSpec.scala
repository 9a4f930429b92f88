package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** Corrupt-container behavior (reference: cpp/src/arrow/ipc/
  * ipc-fuzzing-test.cc): a truncated, foreign, or internally
  * inconsistent file must fail with a clear error — never return
  * garbage rows. Complements the per-format guards (feather ≥2 GiB
  * columns, plasma footer validation, JSON dictionary ids).
  */
class ArrowRobustnessSpec extends SparkSpec {

  private def dirWith(name: String, bytes: Array[Byte]): String = {
    val dir = TempDirs.tempDir("graft-robust")
    Files.write(Paths.get(dir, name), bytes)
    dir
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))

  test("a truncated IPC file fails cleanly") {
    // valid file prefix (magic) but the footer is gone
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v")).coalesce(1)
    val dir = TempDirs.tempDir("graft-robust-trunc")
    df.write.format("arrow").mode("overwrite").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".arrow")).head
    val whole = Files.readAllBytes(part.toPath)
    Files.write(part.toPath, whole.take(whole.length / 2))
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    assert(messages(e).nonEmpty) // surfaced, not swallowed into 0/garbage rows
  }

  test("random bytes are rejected, not decoded") {
    val junk = Array.tabulate[Byte](256)(i => ((i * 31 + 7) % 251).toByte)
    val dir = dirWith("part-0.arrow", junk)
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    assert(messages(e).nonEmpty)
  }

  test("a feather file whose metadata length points outside the file fails cleanly") {
    val out = new java.io.ByteArrayOutputStream()
    out.write("FEA1".getBytes("ASCII")); out.write(new Array[Byte](4))
    out.write(new Array[Byte](16)) // fake body
    val tail = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tail.putInt(1 << 20) // metaLen far beyond the file
    tail.put("FEA1".getBytes("ASCII"))
    out.write(tail.array())
    val dir = dirWith("part-0.feather", out.toByteArray)
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    assert(messages(e).nonEmpty)
  }

  test("a JSON integration document missing its schema fails cleanly") {
    val dir = dirWith("part-0.arrow.json",
      """{"batches": []}""".getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    assert(messages(e).nonEmpty)
  }

  test("an empty file fails cleanly") {
    val dir = dirWith("part-0.arrow", Array.emptyByteArray)
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    assert(messages(e).nonEmpty)
  }
}
