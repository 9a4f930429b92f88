package graft.sources.json

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, TempDirs}

/** Arrow JSON integration format coverage (reference:
  * cpp/src/arrow/ipc/json.h): writer + reader roundtrip through the
  * arrow source, and reading a hand-written reference-shaped
  * document.
  */
class ArrowJsonSpec extends SparkSpec {

  test("roundtrip: primitives, decimals, temporals, nested with nulls") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("dec", DecimalType(12, 2)), StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val rows = Seq(
      Row(true, 1, 2L, 1.5, "héllo", Array[Byte](1, 2, 3),
        BigDecimal("12345.67").bigDecimal, java.sql.Date.valueOf("2020-06-07"),
        java.sql.Timestamp.valueOf("2020-06-07 01:02:03.456789"),
        Seq(1, 2, 3), Row(7, "in")),
      Row(null, null, null, null, null, null, null, null, null, null, null),
      Row(false, -5, -6L, -2.5, "", Array.emptyByteArray,
        BigDecimal("-0.01").bigDecimal, java.sql.Date.valueOf("1970-01-01"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00.0"),
        Seq.empty[Int], Row(null, null)))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val dir = TempDirs.tempDir("graft-ajson-rt")
    ArrowJsonIntegration.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow.json"))
    assert(files.length == 1)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      schema.fields.map(f => f.name -> f.dataType).toSeq)
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
    assert(back.collect().toSeq.map(norm).toSet == df.collect().toSeq.map(norm).toSet)
  }

  test("multiple batches in one document survive the roundtrip") {
    val df = spark.range(10000).select(col("id"), (col("id") % 7).as("m")).coalesce(1)
    val dir = TempDirs.tempDir("graft-ajson-batches")
    ArrowJsonIntegration.write(df, dir) // 4096-row batches → 3 batches
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 10000)
    assert(back.agg(sum("id")).head().getLong(0) == (9999L * 10000L) / 2)
  }

  test("hand-written reference-shaped document reads (uint + second timestamps)") {
    val doc =
      """{"schema": {"fields": [
        |  {"name": "u", "nullable": true,
        |   "type": {"name": "int", "bitWidth": 32, "isSigned": false}, "children": []},
        |  {"name": "ts", "nullable": true,
        |   "type": {"name": "timestamp", "unit": "SECOND", "timezone": "UTC"},
        |   "children": []}]},
        | "batches": [
        |  {"count": 3, "columns": [
        |    {"name": "u", "count": 3, "VALIDITY": [1, 0, 1],
        |     "DATA": [4294967295, 0, 7]},
        |    {"name": "ts", "count": 3, "VALIDITY": [1, 1, 0],
        |     "DATA": [60, 3600, 0]}]}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-ref")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val df = spark.read.format("arrow").load(dir)
    // uint32 widens to long; second-unit timestamp widens to µs
    assert(df.schema("u").dataType == LongType)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.collect().toSeq.map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getTimestamp(1).toInstant.getEpochSecond))
    }
    assert(got == Seq((Some(4294967295L), Some(60L)), (None, Some(3600L)),
      (Some(7L), None)))
  }

  test("dictionary-encoded columns decode through the dictionaries section") {
    // reference-shaped document (cpp/src/arrow/ipc/json-internal.cc:96-123):
    // the field's "type" is the value type, "dictionary" names the id,
    // batch DATA are indices; null index rows and null dictionary
    // entries must both decode as null
    val doc =
      """{"schema": {"fields": [
        |  {"name": "c", "nullable": true, "type": {"name": "utf8"},
        |   "children": [],
        |   "dictionary": {"id": 0,
        |     "indexType": {"name": "int", "bitWidth": 8, "isSigned": true},
        |     "isOrdered": false}},
        |  {"name": "v", "nullable": true,
        |   "type": {"name": "int", "bitWidth": 32, "isSigned": true},
        |   "children": [],
        |   "dictionary": {"id": 1,
        |     "indexType": {"name": "int", "bitWidth": 32, "isSigned": true},
        |     "isOrdered": false}}]},
        | "dictionaries": [
        |  {"id": 0, "data": {"count": 3, "columns": [
        |    {"name": "DICT0", "count": 3, "VALIDITY": [1, 1, 0],
        |     "OFFSET": [0, 2, 5, 5], "DATA": ["lo", "mid", ""]}]}},
        |  {"id": 1, "data": {"count": 2, "columns": [
        |    {"name": "DICT1", "count": 2, "VALIDITY": [1, 1],
        |     "DATA": [100, 200]}]}}],
        | "batches": [
        |  {"count": 5, "columns": [
        |    {"name": "c", "count": 5, "VALIDITY": [1, 1, 0, 1, 1],
        |     "DATA": [0, 1, 0, 0, 2]},
        |    {"name": "v", "count": 5, "VALIDITY": [1, 0, 1, 1, 1],
        |     "DATA": [1, 0, 0, 1, 0]}]}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-dict")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val df = spark.read.format("arrow").load(dir)
    assert(df.schema("c").dataType == StringType)
    assert(df.schema("v").dataType == IntegerType)
    val got = df.collect().toSeq.map(r =>
      (Option(r.get(0)), Option(r.get(1))))
    assert(got == Seq(
      (Some("lo"), Some(200)), (Some("mid"), None), (None, Some(100)),
      (Some("lo"), Some(200)), (None, Some(100)))) // index 2 → null level
  }

  test("dictionary WRITE path roundtrips and deduplicates the values") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType)))
    val rows = (0 until 500).map(i =>
      Row(i.toLong, if (i % 11 == 0) null else s"dict-value-${i % 4}"))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val plainDir = TempDirs.tempDir("graft-ajson-wplain")
    val dictDir = TempDirs.tempDir("graft-ajson-wdict")
    ArrowJsonIntegration.write(df, plainDir)
    ArrowJsonIntegration.write(df, dictDir, categories = Set("cat"))
    def only(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".arrow.json")).head
    // the document declares the dictionary and stores indices, so the
    // 4 long level strings appear once each instead of ~455 times
    assert(only(dictDir).length < only(plainDir).length)
    val text = new String(Files.readAllBytes(only(dictDir).toPath), "UTF-8")
    assert(text.contains("\"dictionaries\"") && text.contains("\"dictionary\""))
    val back = spark.read.format("arrow").load(dictDir)
    assert(back.schema("cat").dataType == StringType)
    val a = df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val b = back.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(a == b)
    // multi-batch: tiny batches share one vocabulary, same answer
    val multiDir = TempDirs.tempDir("graft-ajson-wdict2")
    val n = graft.sources.json.ArrowJsonIntegration.writeFile(
      s"$multiDir/part-0.arrow.json", schema,
      df.queryExecution.toRdd.collect().iterator.map(_.copy()),
      graft.sources.CategoryColumns.dictionaries(df, Seq("cat"), "json integration",
        graft.sources.arrow.ArrowDictWriter.DefaultMaxVocab),
      batchRows = 64)
    assert(n == 500L)
    val back2 = spark.read.format("arrow").load(multiDir)
    assert(back2.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet == a)
    // rejected cleanly for non-string columns
    val err = intercept[IllegalArgumentException] {
      ArrowJsonIntegration.write(df, dictDir, categories = Set("id"))
    }
    assert(err.getMessage.contains("must be string"))
  }

  test("dictionary-encoded fields nested inside structs and lists decode") {
    // indices must decode through the dictionary at any depth — a
    // nested dict field parsed as plain values would silently return
    // the indices themselves
    val doc =
      """{"schema": {"fields": [
        |  {"name": "st", "nullable": true, "type": {"name": "struct"},
        |   "children": [
        |     {"name": "c", "nullable": true, "type": {"name": "utf8"},
        |      "children": [],
        |      "dictionary": {"id": 0,
        |        "indexType": {"name": "int", "bitWidth": 16, "isSigned": true},
        |        "isOrdered": false}}]},
        |  {"name": "xs", "nullable": true, "type": {"name": "list"},
        |   "children": [
        |     {"name": "item", "nullable": true, "type": {"name": "utf8"},
        |      "children": [],
        |      "dictionary": {"id": 0,
        |        "indexType": {"name": "int", "bitWidth": 32, "isSigned": true},
        |        "isOrdered": false}}]}]},
        | "dictionaries": [
        |  {"id": 0, "data": {"count": 2, "columns": [
        |    {"name": "DICT0", "count": 2, "VALIDITY": [1, 1],
        |     "OFFSET": [0, 2, 4], "DATA": ["aa", "bb"]}]}}],
        | "batches": [
        |  {"count": 2, "columns": [
        |    {"name": "st", "count": 2, "VALIDITY": [1, 1],
        |     "children": [
        |       {"name": "c", "count": 2, "VALIDITY": [1, 1], "DATA": [1, 0]}]},
        |    {"name": "xs", "count": 2, "VALIDITY": [1, 1],
        |     "OFFSET": [0, 2, 3],
        |     "children": [
        |       {"name": "item", "count": 3, "VALIDITY": [1, 1, 1],
        |        "DATA": [0, 1, 1]}]}]}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-nesteddict")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val df = spark.read.format("arrow").load(dir)
    val got = df.collect().toSeq.map(r =>
      (r.getStruct(0).getString(0), r.getSeq[String](1)))
    assert(got == Seq(("bb", Seq("aa", "bb")), ("aa", Seq("bb"))))
  }

  test("a dictionary id missing from the document fails loudly") {
    val doc =
      """{"schema": {"fields": [
        |  {"name": "c", "nullable": true, "type": {"name": "utf8"},
        |   "children": [],
        |   "dictionary": {"id": 7,
        |     "indexType": {"name": "int", "bitWidth": 32, "isSigned": true},
        |     "isOrdered": false}}]},
        | "batches": [
        |  {"count": 1, "columns": [
        |    {"name": "c", "count": 1, "VALIDITY": [1], "DATA": [0]}]}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-nodict")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dictionary 7")))
  }

  test("sparse unions with duplicate member types are rejected, not collapsed") {
    // two utf8 members: the in-memory vector addresses members by
    // MinorType, so accepting this document would silently merge them
    val doc =
      """{"schema": {"fields": [
        |  {"name": "u", "nullable": true,
        |   "type": {"name": "union", "mode": "SPARSE", "typeIds": [0, 1]},
        |   "children": [
        |     {"name": "a", "nullable": true, "type": {"name": "utf8"},
        |      "children": []},
        |     {"name": "b", "nullable": true, "type": {"name": "utf8"},
        |      "children": []}]}]},
        | "batches": [
        |  {"count": 2, "columns": [
        |    {"name": "u", "count": 2, "TYPE_ID": [0, 1],
        |     "children": [
        |       {"name": "a", "count": 2, "VALIDITY": [1, 0], "DATA": ["x", ""]},
        |       {"name": "b", "count": 2, "VALIDITY": [0, 1], "DATA": ["", "y"]}]}]}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-dupunion")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("distinct arrow types")))
  }

  test("rewriting a dir with fewer partitions leaves no stale parts") {
    val dir = TempDirs.tempDir("graft-ajson-ow")
    ArrowJsonIntegration.write(spark.range(100).repartition(4).toDF(), dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".arrow.json")) == 4)
    ArrowJsonIntegration.write(spark.range(10).coalesce(1).toDF(), dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".arrow.json")) == 1)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 10)
    assert(back.agg(sum("id")).head.getLong(0) == 45L)
  }

  test("sparse union columns in integration documents widen to structs") {
    val doc =
      """{"schema": {"fields": [
        |  {"name": "u", "nullable": true,
        |   "type": {"name": "union", "mode": "SPARSE", "typeIds": [5, 9]},
        |   "children": [
        |     {"name": "i", "nullable": true,
        |      "type": {"name": "int", "bitWidth": 32, "isSigned": true},
        |      "children": []},
        |     {"name": "s", "nullable": true, "type": {"name": "utf8"},
        |      "children": []}]}]},
        | "batches": [
        |  {"count": 3, "columns": [
        |    {"name": "u", "count": 3,
        |     "TYPE_ID": [5, 9, 5],
        |     "children": [
        |       {"name": "i", "count": 3, "VALIDITY": [1, 0, 1],
        |        "DATA": [70, 0, 90]},
        |       {"name": "s", "count": 3, "VALIDITY": [0, 1, 0],
        |        "DATA": ["", "mid", ""]}]}]}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-union")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val df = spark.read.format("arrow").load(dir)
    val st = df.schema("u").dataType.asInstanceOf[StructType]
    assert(st.fields.map(_.name).toSeq == Seq("i", "s"))
    val got = df.collect().toSeq.map(_.getStruct(0))
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(got == Seq((Some(70), None), (None, Some("mid")), (Some(90), None)))
  }

  private def doubles(r: Row): (Long, Option[Long]) =
    (r.getLong(0), if (r.isNullAt(1)) None
      else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  test("NaN, infinities, -0.0 and NULL doubles round-trip bit for bit") {
    val values = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0)
    val schema = StructType(Seq(StructField("id", LongType), StructField("d", DoubleType)))
    val rows = values.zipWithIndex.map { case (v, i) => Row(i.toLong, v) } :+ Row(5L, null)
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val dir = TempDirs.tempDir("graft-ajson-nonfinite")
    ArrowJsonIntegration.write(df, dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.collect().map(doubles).toSet == df.collect().map(doubles).toSet)
    assert(back.where(col("id") === 3).head().getDouble(1).compare(-0.0) == 0)
    // Arrow Java's own spelling: bare non-finite tokens
    val doc =
      """{"schema": {"fields": [
        |  {"name": "id", "nullable": true,
        |   "type": {"name": "int", "bitWidth": 64, "isSigned": true}, "children": []},
        |  {"name": "d", "nullable": true,
        |   "type": {"name": "floatingpoint", "precision": "DOUBLE"}, "children": []}]},
        | "batches": [
        |  {"count": 6, "columns": [
        |    {"name": "id", "count": 6, "VALIDITY": [1, 1, 1, 1, 1, 1],
        |     "DATA": [0, 1, 2, 3, 4, 5]},
        |    {"name": "d", "count": 6, "VALIDITY": [1, 1, 1, 1, 1, 0],
        |     "DATA": [NaN, Infinity, -Infinity, -0.0, 0.0, 0.0]}]}]}
        |""".stripMargin
    val bare = TempDirs.tempDir("graft-ajson-bare")
    Files.write(Paths.get(bare, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    assert(spark.read.format("arrow").load(bare).collect().map(doubles).toSet ==
      df.collect().map(doubles).toSet)
  }

  test("an all-NULL column keeps its null type through the roundtrip") {
    val df = spark.range(3).select(col("id"), lit(null).as("nothing")).coalesce(1)
    val dir = TempDirs.tempDir("graft-ajson-null")
    ArrowJsonIntegration.write(df, dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema("nothing").dataType == NullType)
    assert(back.collect().toSeq.map(r => (r.getLong(0), r.isNullAt(1))) ==
      Seq((0L, true), (1L, true), (2L, true)))
  }

  test("documents in the shape of graft's earlier writer still read") {
    // quoted non-finite floats, upper-case hex, a decimal without a
    // bitWidth, and the dictionaries section after the batches
    val doc =
      """{"schema": {"fields": [
        |  {"name": "id", "nullable": true,
        |   "type": {"name": "int", "bitWidth": 64, "isSigned": true}, "children": []},
        |  {"name": "d", "nullable": true,
        |   "type": {"name": "floatingpoint", "precision": "DOUBLE"}, "children": []},
        |  {"name": "bin", "nullable": true, "type": {"name": "binary"}, "children": []},
        |  {"name": "dec", "nullable": true,
        |   "type": {"name": "decimal", "precision": 12, "scale": 2}, "children": []},
        |  {"name": "cat", "nullable": true, "type": {"name": "utf8"}, "children": [],
        |   "dictionary": {"id": 0,
        |     "indexType": {"name": "int", "bitWidth": 32, "isSigned": true},
        |     "isOrdered": false}}]},
        | "batches": [
        |  {"count": 3, "columns": [
        |    {"name": "id", "count": 3, "VALIDITY": [1, 1, 1], "DATA": [0, 1, 2]},
        |    {"name": "d", "count": 3, "VALIDITY": [1, 1, 0],
        |     "DATA": ["NaN", "-Infinity", 0.0]},
        |    {"name": "bin", "count": 3, "VALIDITY": [1, 1, 0],
        |     "OFFSET": [0, 2, 2, 2], "DATA": ["AB0F", "", ""]},
        |    {"name": "dec", "count": 3, "VALIDITY": [1, 0, 1],
        |     "DATA": ["1234567", "0", "-1"]},
        |    {"name": "cat", "count": 3, "VALIDITY": [1, 1, 0], "DATA": [1, 0, 0]}]}],
        | "dictionaries": [
        |  {"id": 0, "data": {"count": 2, "columns": [
        |    {"name": "cat", "count": 2, "VALIDITY": [1, 1],
        |     "OFFSET": [0, 1, 2], "DATA": ["a", "b"]}]}}]}
        |""".stripMargin
    val dir = TempDirs.tempDir("graft-ajson-legacy")
    Files.write(Paths.get(dir, "part-0.arrow.json"), doc.getBytes("UTF-8"))
    val got = spark.read.format("arrow").load(dir).collect().toSeq.map(r =>
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double].toString),
        Option(r.getAs[Array[Byte]](2)).map(_.toSeq),
        Option(r.getDecimal(3)).map(_.toPlainString), Option(r.getString(4))))
    assert(got == Seq(
      (0L, Some("NaN"), Some(Seq(0xAB.toByte, 0x0F.toByte)), Some("12345.67"), Some("b")),
      (1L, Some("-Infinity"), Some(Seq.empty[Byte]), None, Some("a")),
      (2L, None, None, Some("-0.01"), None)))
  }

  test("a write whose job fails deletes its staged parts and keeps the old dataset") {
    val dir = TempDirs.tempDir("graft-ajson-failed")
    ArrowJsonIntegration.write(spark.range(20).repartition(4).toDF(), dir)
    val boom = udf((id: Long) => { if (id == 7) throw new IllegalStateException("boom"); id })
    intercept[Exception] {
      ArrowJsonIntegration.write(spark.range(20).repartition(4).select(boom(col("id")).as("id")),
        dir)
    }
    val names = new java.io.File(dir).list().toSeq
    assert(!names.exists(_.startsWith(".job-")), names)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 20 && back.agg(sum("id")).head.getLong(0) == 190L)
  }
}
