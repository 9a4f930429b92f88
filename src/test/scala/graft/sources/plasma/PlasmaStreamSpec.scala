package graft.sources.plasma

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, TempDirs}

/** Streaming + batch reads over the plasma store: the Structured
  * Streaming twin of the reference's Subscribe → Get consume loop
  * (cpp/src/plasma/client.h:211–228).
  */
class PlasmaStreamSpec extends SparkSpec {
  import sqlImplicits._

  private def tmp(): String =
    TempDirs.tempDir("graft-plasma-stream")

  test("batch read sees every sealed object") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    store.putDataFrame("a", spark.range(3).toDF())
    store.putDataFrame("b", spark.range(3, 5).toDF())
    val df = spark.read.format("plasma").option("dir", dir).load()
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L until 5L))
  }

  test("micro-batches deliver newly sealed objects exactly once") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    store.putDataFrame("first", spark.range(2).toDF())
    val stream = spark.readStream.format("plasma").option("dir", dir).load()
    val ckpt = TempDirs.tempDir("graft-plasma-ckpt")

    val out = TempDirs.tempDir("graft-plasma-out")

    // batch 0: the pre-existing object
    val q1 = stream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(60000)
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L))

    // seal two more; restart from the checkpoint → exactly the new
    // objects are appended, the old one is not re-delivered
    store.putDataFrame("second", spark.range(10, 12).toDF())
    store.putDataFrame("third", spark.range(20, 21).toDF())
    val q2 = stream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 10L, 11L, 20L))
  }

  test("unsealed objects are invisible to the stream") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    store.putDataFrame("done", spark.range(1).toDF())
    val buf = store.create("wip", 8) // never sealed
    buf.putLong(42L)
    val df = spark.read.format("plasma").option("dir", dir).load()
    assert(df.count() == 1)
    store.abort("wip")
  }

  test("torn or foreign files in the store dir are skipped, not fatal") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    store.putDataFrame("good", spark.range(3).toDF())
    // hex-named files with no valid footer: get() misses them, and the
    // scan must skip them rather than crash every healthy object's
    // read. "aa_first" sorts BEFORE the healthy object, so this also
    // pins schema inference to footer-validated objects (a torn head
    // of the id order must not break inferSchema).
    Files.write(java.nio.file.Paths.get(store.sealedPath("torn")),
      "garbage bytes, no footer".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(store.sealedPath("aa_first")),
      "garbage that sorts first".getBytes("UTF-8"))
    val df = spark.read.format("plasma").option("dir", dir).load()
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("an object missing a required column fails loudly, not wrong columns") {
    val dir = tmp()
    val store = new PlasmaStore(dir)
    // schema infers from the first object (sorted ids) — the second
    // object lacks `name`, so selecting it must error, not fabricate
    store.putDataFrame("a_full",
      spark.range(2).select(col("id"), lit("x").as("name")))
    store.putDataFrame("b_narrow", spark.range(2).toDF())
    val e = intercept[Exception] {
      spark.read.format("plasma").option("dir", dir).load()
        .select("name").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("name")))
  }
}
