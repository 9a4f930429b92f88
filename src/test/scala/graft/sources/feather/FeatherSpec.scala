package graft.sources.feather

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, TempDirs}

/** Feather v1 container coverage (reference: cpp/src/arrow/ipc/
  * feather.h/.fbs): roundtrip through the graft writer + arrow
  * source, plus reader-only paths (category decode, non-µs
  * timestamps) for files produced by reference-era tooling.
  */
class FeatherSpec extends SparkSpec {

  test("metadata flatbuffer encode/decode roundtrips") {
    val t = FeatherV1.FTable(42, Seq(
      FeatherV1.FColumn("a", FeatherV1.FArray(FeatherV1.T.INT32, 8, 42, 3, 176),
        FeatherV1.M.NONE, 0, None, 0, None),
      FeatherV1.FColumn("ts", FeatherV1.FArray(FeatherV1.T.INT64, 184, 42, 0, 336),
        FeatherV1.M.TIMESTAMP, 2, Some("UTC"), 0, None),
      FeatherV1.FColumn("t", FeatherV1.FArray(FeatherV1.T.INT64, 520, 42, 0, 336),
        FeatherV1.M.TIME, 0, None, 2, None),
      FeatherV1.FColumn("d", FeatherV1.FArray(FeatherV1.T.INT32, 856, 42, 0, 176),
        FeatherV1.M.DATE, 0, None, 0, None),
      FeatherV1.FColumn("c", FeatherV1.FArray(FeatherV1.T.INT32, 1032, 42, 0, 176),
        FeatherV1.M.CATEGORY, 0, None, 0,
        Some(FeatherV1.FArray(FeatherV1.T.UTF8, 1208, 3, 0, 48)))))
    val back = FeatherV1.decodeMetadata(FeatherV1.encodeMetadata(t))
    assert(back == t)
  }

  test("roundtrip: every supported type with nulls through writer + arrow source") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i8", ByteType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("day", DateType),
      StructField("ts", TimestampType), StructField("tsn", TimestampNTZType)))
    val rows = Seq(
      Row(true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5, "hello",
        Array[Byte](1, 2), java.sql.Date.valueOf("2020-01-02"),
        java.sql.Timestamp.valueOf("2020-01-02 03:04:05.123456"),
        java.time.LocalDateTime.parse("2021-02-03T04:05:06")),
      Row(null, null, null, null, null, null, null, null, null, null, null, null),
      Row(false, 5.toByte, 6.toShort, 7, 8L, 3.5f, 4.5, "world",
        Array[Byte](3), java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.0"),
        java.time.LocalDateTime.parse("1999-01-01T00:00:00")))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val dir = TempDirs.tempDir("graft-feather-rt")
    FeatherV1.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".feather"))
    assert(files.length == 1)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      schema.fields.map(f => f.name -> f.dataType).toSeq)
    val a = df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x })
    val b = back.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq; case x => x })
    assert(b.toSet == a.toSet)
  }

  test("feather files mix with IPC files under one dataset dir") {
    val df = spark.range(5).select(col("id"), (col("id") * 2).as("v")).coalesce(1)
    val dir = TempDirs.tempDir("graft-feather-mixed")
    FeatherV1.write(df, dir)
    // same schema written as IPC into the same directory
    df.write.format("arrow").mode("append").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 10)
    assert(back.groupBy("id").count().where(col("count") =!= 2).count() == 0)
  }

  /** Hand-written v1 file: CATEGORY column (int32 codes + utf8
    * levels) and a seconds-unit TIMESTAMP — shapes only reference-era
    * writers produce.
    */
  test("category and seconds-timestamp columns decode on read") {
    val align = 8
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    def writePadded(bytes: Array[Byte]): Int = {
      out.write(bytes)
      val pad = ((bytes.length + align - 1) / align * align) - bytes.length
      if (pad > 0) out.write(new Array[Byte](pad))
      pos += bytes.length + pad
      bytes.length + pad
    }
    writePadded(FeatherV1.MAGIC)
    // category codes: [0, 1, 0, 2], no nulls — int8-coded, the width
    // pandas-era writers use for small vocabularies
    val codesOff = pos
    val codes = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0, 1, 0, 2).foreach(c => codes.put(c.toByte))
    val codesBytes = writePadded(codes.array())
    // levels: ["lo", "mid", "hi"]
    val levelsOff = pos
    val lvOffsets = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0, 2, 5, 7).foreach(lvOffsets.putInt)
    var levelsBytes = writePadded(lvOffsets.array())
    levelsBytes += writePadded("lomidhi".getBytes("UTF-8"))
    // seconds-unit timestamps
    val tsOff = pos
    val ts = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0L, 1L, 60L, 3600L).foreach(ts.putLong)
    val tsBytes = writePadded(ts.array())
    val meta = FeatherV1.encodeMetadata(FeatherV1.FTable(4, Seq(
      FeatherV1.FColumn("cat",
        FeatherV1.FArray(FeatherV1.T.INT8, codesOff, 4, 0, codesBytes),
        FeatherV1.M.CATEGORY, 0, None, 0,
        Some(FeatherV1.FArray(FeatherV1.T.UTF8, levelsOff, 3, 0, levelsBytes))),
      FeatherV1.FColumn("ts",
        FeatherV1.FArray(FeatherV1.T.INT64, tsOff, 4, 0, tsBytes),
        FeatherV1.M.TIMESTAMP, 0, Some("UTC"), 0, None))))
    out.write(meta)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    tail.putInt(meta.length)
    tail.put(FeatherV1.MAGIC)
    out.write(tail.array())
    val dir = TempDirs.tempDir("graft-feather-cat")
    Files.write(Paths.get(dir, "part-0.feather"), out.toByteArray)

    val df = spark.read.format("arrow").load(dir)
    assert(df.schema("cat").dataType == StringType)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.collect().toSeq.map(r =>
      (r.getString(0), r.getTimestamp(1).toInstant.getEpochSecond))
    assert(got == Seq(("lo", 0L), ("mid", 1L), ("lo", 60L), ("hi", 3600L)))
  }

  test("category write path: dictionary-encoded column roundtrips and shrinks the file") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType)))
    val rows = (0 until 2000).map(i =>
      Row(i.toLong, if (i % 7 == 0) null else s"category-value-${i % 5}"))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val plainDir = TempDirs.tempDir("graft-feather-plain")
    val catDir = TempDirs.tempDir("graft-feather-cat")
    FeatherV1.write(df, plainDir)
    FeatherV1.write(df, catDir, categories = Set("cat"))
    def only(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".feather")).head
    // 5 levels of long strings vs 2000 copies: codes must be smaller
    assert(only(catDir).length < only(plainDir).length,
      "dictionary encoding should shrink a low-cardinality column")
    val back = spark.read.format("arrow").load(catDir)
    assert(back.schema("cat").dataType == StringType) // decodes through levels
    val a = df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val b = back.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(a == b)
    // rejected cleanly for non-string columns
    val err = intercept[IllegalArgumentException] {
      FeatherV1.write(df, catDir, categories = Set("id"))
    }
    assert(err.getMessage.contains("must be string"))
  }

  test("a column declaring a >2 GiB buffer fails loudly, not wrong-bytes") {
    // an external file can declare any 64-bit totalBytes; a ≥4 GiB
    // value narrowed to Int would wrap positive and silently slice
    // wrong bytes — the reader must reject it instead
    val out = new java.io.ByteArrayOutputStream()
    out.write(FeatherV1.MAGIC); out.write(new Array[Byte](4)) // pad to 8
    val data = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    data.putLong(1L); data.putLong(2L)
    out.write(data.array())
    val meta = FeatherV1.encodeMetadata(FeatherV1.FTable(2, Seq(
      FeatherV1.FColumn("huge",
        // declared totalBytes = 4 GiB + 16 — wraps to 16 as an Int
        FeatherV1.FArray(FeatherV1.T.INT64, 8, 2, 0, (1L << 32) + 16),
        FeatherV1.M.NONE, 0, None, 0, None))))
    out.write(meta)
    val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    tail.putInt(meta.length)
    tail.put(FeatherV1.MAGIC)
    out.write(tail.array())
    val dir = TempDirs.tempDir("graft-feather-huge")
    val path = Paths.get(dir, "part-0.feather")
    Files.write(path, out.toByteArray)
    val alloc = graft.sources.arrow.ArrowIo.rootAllocator()
    val reader = new FeatherV1Reader(path.toString, alloc)
    try {
      val e = intercept[IllegalArgumentException] { reader.loadNextBatch() }
      assert(e.getMessage.contains("2 GiB"))
    } finally { reader.close(); alloc.close() }
  }

  test("rewriting a dir with fewer partitions leaves no stale parts") {
    val dir = TempDirs.tempDir("graft-feather-ow")
    FeatherV1.write(spark.range(100).repartition(4).toDF(), dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".feather")) == 4)
    FeatherV1.write(spark.range(10).coalesce(1).toDF(), dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".feather")) == 1)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 10)
    assert(back.agg(sum("id")).head.getLong(0) == 45L)
  }

  test("empty partitions with string columns write valid feather files") {
    val df = spark.range(10)
      .select(col("id"), concat(lit("doc-"), col("id")).as("s"))
      .where(col("id") < 3)
      .repartition(4) // several partitions end up empty
    val dir = TempDirs.tempDir("graft-feather-empty")
    FeatherV1.write(df, dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 3)
    assert(back.select("s").orderBy("id").collect().map(_.getString(0)).toSeq ==
      Seq("doc-0", "doc-1", "doc-2"))
  }
}
