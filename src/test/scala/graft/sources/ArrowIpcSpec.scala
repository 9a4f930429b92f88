package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, TempDirs}
import graft.sources.arrow.{HadoopFiles, IncrementalArrowWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class ArrowIpcSpec extends SparkSpec {
  import sqlImplicits._

  private def tmpDir(tag: String): String = TempDirs.tempDir(s"graft-arrow-$tag")

  private def dataFiles(dir: String): Seq[String] =
    HadoopFiles.dataFiles(dir, HadoopFiles.local)

  test("roundtrip: primitives with nulls") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("b", BooleanType)))
    val rows = Seq(Row(1, 10L, 1.5, "x", true), Row(null, null, null, null, null),
      Row(3, 30L, 3.5, "z", false))
    val df = spark.createDataFrame(rows.asJava, schema)
    val dir = tmpDir("prim")
    df.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("i", "l", "d", "s", "b"))
    assert(back.collect().toSet == rows.toSet)
  }

  test("roundtrip: lineitem slice including decimal/timestamp/date") {
    val li = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice").cast(DecimalType(12, 2)).as("price_dec"),
        col("l_shipdate"), to_date(col("l_shipdate")).as("ship_day"),
        col("l_returnflag"))
      .limit(500)
    val dir = tmpDir("lineitem")
    li.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema == li.schema)
    assert(back.count() == 500)
    val a = li.orderBy("l_orderkey", "l_quantity", "price_dec").collect().toSeq
    val b = back.orderBy("l_orderkey", "l_quantity", "price_dec").collect().toSeq
    assert(a == b)
  }

  test("roundtrip: array<float> embeddings column") {
    val emb = graft.Tables.embeddings(spark, sfDir).limit(100)
    val dir = tmpDir("emb")
    emb.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    val a = emb.orderBy("vec_id").collect().toSeq
    val b = back.orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("roundtrip: struct column") {
    val df = Seq((1L, ("a", 2.0)), (2L, ("b", 3.0)))
      .toDF("id", "st")
    val dir = tmpDir("struct")
    df.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("roundtrip: map column") {
    val df = Seq((1L, Map("a" -> 1, "b" -> 2)), (2L, Map("c" -> 3)))
      .toDF("id", "m")
    val dir = tmpDir("map")
    df.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    val a = df.select("id", "m").as[(Long, Map[String, Int])].collect().toMap
    val b = back.select("id", "m").as[(Long, Map[String, Int])].collect().toMap
    assert(a == b)
  }

  test("fixed-size-list files read as array columns") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.FixedSizeListVector
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import java.nio.channels.Channels
    import scala.jdk.CollectionConverters._

    val alloc = graft.sources.arrow.ArrowIo.rootAllocator()
    val elemField = new Field("element",
      FieldType.notNullable(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)), null)
    val fslField = new Field("vec",
      FieldType.notNullable(new ArrowType.FixedSizeList(2)), List(elemField).asJava)
    val fsl = fslField.createVector(alloc).asInstanceOf[FixedSizeListVector]
    fsl.allocateNew()
    val data = fsl.getDataVector.asInstanceOf[Float4Vector]
    (0 until 3).foreach { i =>
      fsl.setNotNull(i)
      data.setSafe(i * 2, i.toFloat)
      data.setSafe(i * 2 + 1, i + 0.5f)
    }
    data.setValueCount(6)
    fsl.setValueCount(3)
    val root = new VectorSchemaRoot(Seq(fsl.asInstanceOf[FieldVector]).asJava)
    val dir = tmpDir("fsl")
    val ch = Channels.newChannel(Files.newOutputStream(Paths.get(s"$dir/part-00000-0.arrow")))
    val w = new ArrowFileWriter(root, null, ch)
    w.start(); w.writeBatch(); w.end(); w.close()
    root.close(); alloc.close()

    val back = spark.read.format("arrow").load(dir)
    assert(back.schema.head.dataType.typeName == "array")
    val rows = back.as[Seq[Float]].collect()
    assert(rows.toSeq == Seq(Seq(0f, 0.5f), Seq(1f, 1.5f), Seq(2f, 2.5f)))
  }

  test("stream format roundtrip via ipc.format=stream") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir = tmpDir("stream")
    df.write.format("arrow").option("ipc.format", "stream").mode("overwrite").save(dir)
    val files = dataFiles(dir)
    assert(files.forall(_.endsWith(".arrows")))
    assert(files.forall(f => !graft.sources.arrow.ArrowIo.isFileFormat(f)))
    val back = spark.read.format("arrow").load(dir)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("feather v2 is the IPC file format: read a .feather written by the sink") {
    val df = Seq((1, 1.5), (2, 2.5)).toDF("k", "x")
    val dir = tmpDir("feather")
    df.write.format("arrow").mode("overwrite").save(dir)
    // rename the part file to .feather; the reader sniffs magic, not extension
    // dataFiles returns fully-qualified URIs (file:/...)
    val f = Paths.get(java.net.URI.create(
      dataFiles(dir).head))
    val feather = Paths.get(f.toString.stripSuffix(".arrow") + ".feather")
    Files.move(f, feather)
    val back = spark.read.format("arrow").load(dir)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("writes leave no temp litter and only committed part files") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir = tmpDir("commit")
    df.write.format("arrow").mode("overwrite").save(dir)
    val names = Files.list(Paths.get(dir)).iterator()
    val all = scala.jdk.CollectionConverters.IteratorHasAsScala(names).asScala
      .map(_.getFileName.toString).toList
    assert(all.forall(n => n.startsWith("part-") && n.endsWith(".arrow")),
      s"unexpected files: $all")
  }

  test("column pruning reaches the arrow scan") {
    val emb = graft.Tables.embeddings(spark, sfDir).limit(10)
    val dir = tmpDir("prune")
    emb.write.format("arrow").mode("overwrite").save(dir)
    val pruned = spark.read.format("arrow").load(dir).select("vec_id")
    val scanSchemas = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan.readSchema()
    }
    assert(scanSchemas.nonEmpty && scanSchemas.head.fieldNames.sameElements(Array("vec_id")),
      s"scan must read only vec_id, got $scanSchemas")
  }

  test("dictionary-encoded column decodes on read") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider, DictionaryEncoder}
    import org.apache.arrow.vector.types.pojo.DictionaryEncoding
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import java.nio.channels.Channels

    val alloc = graft.sources.arrow.ArrowIo.rootAllocator()
    val dictVec = new VarCharVector("dict", alloc)
    dictVec.allocateNew()
    Seq("apple", "banana", "cherry").zipWithIndex.foreach { case (s, i) =>
      dictVec.setSafe(i, s.getBytes("UTF-8"))
    }
    dictVec.setValueCount(3)
    val dict = new Dictionary(dictVec, new DictionaryEncoding(7L, false, null))

    val raw = new VarCharVector("fruit", alloc)
    raw.allocateNew()
    val values = Seq("banana", "apple", "banana", "cherry")
    values.zipWithIndex.foreach { case (s, i) => raw.setSafe(i, s.getBytes("UTF-8")) }
    raw.setValueCount(values.length)
    val encoded = DictionaryEncoder.encode(raw, dict).asInstanceOf[FieldVector]

    val root = new VectorSchemaRoot(Seq(encoded).asJava)
    val provider = new DictionaryProvider.MapDictionaryProvider(dict)
    val dir = tmpDir("dict")
    val file = s"$dir/part-00000-0.arrow"
    val ch = Channels.newChannel(Files.newOutputStream(Paths.get(file)))
    val w = new ArrowFileWriter(root, provider, ch)
    w.start(); w.writeBatch(); w.end(); w.close()
    root.close(); raw.close(); dictVec.close(); alloc.close()

    val back = spark.read.format("arrow").load(dir)
    assert(back.schema.head.dataType == StringType)
    assert(back.as[String].collect().toSeq == values)
  }

  test("time32/time64 files read as TIME(6); TIME writes as time64(us)") {
    import org.apache.arrow.vector.{TimeMilliVector, TimeMicroVector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import java.nio.channels.Channels

    // external producer file: time32(ms) + time64(us)
    val alloc = graft.sources.arrow.ArrowIo.rootAllocator()
    val tms = new TimeMilliVector("t32", alloc)
    tms.allocateNew(2)
    tms.setSafe(0, 45296123)            // 12:34:56.123
    tms.setSafe(1, 123)                 // 00:00:00.123
    tms.setValueCount(2)
    val tus = new TimeMicroVector("t64", alloc)
    tus.allocateNew(2)
    tus.setSafe(0, 45296123456L)        // 12:34:56.123456
    tus.setSafe(1, 1L)                  // 00:00:00.000001
    tus.setValueCount(2)
    val root = new VectorSchemaRoot(Seq[org.apache.arrow.vector.FieldVector](tms, tus).asJava)
    val dir = tmpDir("time")
    val ch = Channels.newChannel(Files.newOutputStream(Paths.get(s"$dir/part-0.arrow")))
    val w = new ArrowFileWriter(root, null, ch)
    w.start(); w.writeBatch(); w.end(); w.close()
    root.close(); alloc.close()

    val back = spark.read.format("arrow").load(dir)
    assert(back.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.TimeType(6)))
    val strs = back.selectExpr("cast(t32 as string)", "cast(t64 as string)")
      .as[(String, String)].collect().toSet
    assert(strs == Set(("12:34:56.123", "12:34:56.123456"),
      ("00:00:00.123", "00:00:00.000001")), s"got $strs")

    // TIME roundtrip through our sink (TIME collect() is unsupported in
    // Spark 4.1, so assertions go through CAST AS STRING)
    val out = tmpDir("timeout")
    spark.sql("SELECT TIME'01:02:03.000004' AS t")
      .write.format("arrow").mode("overwrite").save(out)
    val rt = spark.read.format("arrow").load(out)
    assert(rt.schema.head.dataType == org.apache.spark.sql.types.TimeType(6))
    assert(rt.selectExpr("cast(t as string)").as[String].head() == "01:02:03.000004")
  }

  test("ipc.compression: zstd and lz4 roundtrip and actually shrink") {
    val df = spark.range(0, 5000)
      .selectExpr("id", "repeat('abcdef', 50) AS pad", "cast(id % 7 as double) AS v")
    def sizeOf(dir: String): Long =
      dataFiles(dir)
        .map(f => Files.size(Paths.get(java.net.URI.create(f)))).sum
    val plain = tmpDir("comp-none")
    df.coalesce(1).write.format("arrow").mode("overwrite").save(plain)
    Seq("zstd", "lz4").foreach { codec =>
      val dir = tmpDir(s"comp-$codec")
      df.coalesce(1).write.format("arrow").mode("overwrite")
        .option("ipc.compression", codec).save(dir)
      assert(sizeOf(dir) < sizeOf(plain) / 2,
        s"$codec should compress repetitive data: ${sizeOf(dir)} vs ${sizeOf(plain)}")
      val back = spark.read.format("arrow").load(dir)
      assert(back.count() == 5000)
      assert(back.selectExpr("sum(v)").as[Double].head() ==
        df.selectExpr("sum(v)").as[Double].head())
      assert(back.selectExpr("max(length(pad))").as[Int].head() == 300)
    }
  }

  test("ArrowDictWriter: dictionary-encoded on disk, decodes to original on read") {
    import graft.sources.arrow.{ArrowDictWriter, ArrowIo}
    val df = Seq((1L, "A", 1.5), (2L, "B", 2.5), (3L, "A", 3.5), (4L, null, 4.5))
      .toDF("id", "seg", "v")
    val dir = tmpDir("dictwrite")
    val n = ArrowDictWriter.write(df.repartition(2), dir, Seq("seg"))
    assert(n == 4)

    // on-disk schema must declare a dictionary encoding for seg
    val alloc = ArrowIo.rootAllocator()
    val reader = ArrowIo.openReader(dataFiles(dir).head, alloc)
    try {
      val segField = reader.getVectorSchemaRoot.getSchema.findField("seg")
      assert(segField.getDictionary != null, "seg must be dictionary-encoded on disk")
      assert(segField.getType.isInstanceOf[
        org.apache.arrow.vector.types.pojo.ArrowType.Int])
    } finally { reader.close(); alloc.close() }

    val back = spark.read.format("arrow").load(dir)
    assert(back.schema("seg").dataType == StringType)
    val got = back.select("id", "seg", "v").as[(Long, Option[String], Double)]
      .collect().toSet
    assert(got == Set((1L, Some("A"), 1.5), (2L, Some("B"), 2.5),
      (3L, Some("A"), 3.5), (4L, None, 4.5)))
  }

  test("ArrowDictWriter: over-cap vocabulary fails fast with an actionable error") {
    import graft.sources.arrow.ArrowDictWriter
    val df = spark.range(0, 100)
      .selectExpr("id", "cast(id as string) AS seg") // 100 distinct values
    val dir = tmpDir("dictcap")
    val e = intercept[IllegalArgumentException] {
      ArrowDictWriter.write(df, dir, Seq("seg"), maxVocab = 50)
    }
    assert(e.getMessage.contains("not dictionary-worthy"), e.getMessage)
    assert(e.getMessage.contains("seg"), e.getMessage)
  }

  test("ArrowDictWriter: a non-string dictionary column fails before any job runs") {
    import graft.sources.arrow.ArrowDictWriter
    // evaluating any row would throw, so only a driver-side check can
    // produce the message
    val boom = udf((id: Long) => { if (id >= 0) throw new IllegalStateException("boom"); id })
    val df = spark.range(5).select(boom($"id").as("id"), lit("x").as("seg"))
    val dir = tmpDir("dictnonstring")
    val e = intercept[IllegalArgumentException] {
      ArrowDictWriter.write(df, s"$dir/out", Seq("seg", "id"))
    }
    assert(e.getMessage.contains("must be string"), e.getMessage)
    assert(!Files.exists(Paths.get(dir, "out")))
  }

  test("ArrowDictWriter: multi-batch files reuse the single dictionary") {
    import graft.sources.arrow.ArrowDictWriter
    val df = spark.range(0, 1000)
      .selectExpr("id", "concat('seg_', cast(id % 7 as string)) AS seg")
    val dir = tmpDir("dictbatches")
    ArrowDictWriter.write(df.coalesce(1), dir, Seq("seg"), batchRows = 128)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 1000)
    assert(back.where($"seg" === "seg_3").count() == spark.range(0, 1000)
      .where("id % 7 = 3").count())
  }

  test("a single large IPC file splits into batch-range partitions") {
    // ~40 batches of 250 rows in ONE file
    val dir = tmpDir("split")
    val df = spark.range(10000).select(col("id"), (col("id") * 3).as("v"))
      .coalesce(1)
    df.write.format("arrow")
      .mode("overwrite").save(dir)
    // rewrite as many small batches through the low-level writer
    val file = dataFiles(dir).head
    val old = spark.read.format("arrow").load(dir)
    val rows = old.queryExecution.executedPlan.executeCollect().toIndexedSeq
    IncrementalArrowWriter.writeAll(new IncrementalArrowWriter(
      HadoopFiles.createChannel(file, HadoopFiles.local), old.schema,
      stream = false, batchRows = 250), rows.iterator)
    // a small maxPartitionBytes forces multiple range partitions
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    val back = s2.read.format("arrow").load(dir)
    val parts = back.rdd.getNumPartitions
    assert(parts > 4, s"expected a multi-partition split, got $parts")
    assert(back.count() == 10000)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0)
      == 3L * (9999L * 10000L) / 2)
  }

  private def listing(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  private def keyed(dir: String): Set[(Long, String)] =
    spark.read.format("arrow").load(dir).as[(Long, String)].collect().toSet

  private def seed(tag: String): (String, Set[(Long, String)]) = {
    val dir = tmpDir(tag)
    spark.range(20).selectExpr("id", "concat('v', id) AS s").repartition(4)
      .write.format("arrow").mode("overwrite").save(dir)
    (dir, keyed(dir))
  }

  test("sink: an overwrite that reads its own directory returns the filtered rows") {
    val (dir, before) = seed("selfow")
    spark.read.format("arrow").load(dir).where($"id" % 2 === 0)
      .write.format("arrow").mode("overwrite").save(dir)
    assert(keyed(dir) == before.filter(_._1 % 2 == 0))
    assert(listing(dir).forall(n => n.startsWith("part-") && n.endsWith(".arrow")))
  }

  test("sink: an overwrite whose job fails leaves the previous dataset readable and complete") {
    val (dir, before) = seed("failow")
    val files = listing(dir)
    val boom = udf((id: Long) => { if (id == 7) throw new IllegalStateException("boom"); id })
    intercept[Exception] {
      spark.range(20).select(boom($"id").as("id"), lit("new").as("s"))
        .write.format("arrow").mode("overwrite").save(dir)
    }
    assert(keyed(dir) == before)
    assert(listing(dir).filterNot(_.startsWith(".")) == files)
    assert(!listing(dir).exists(_.startsWith(".job-")), listing(dir))
  }

  test("sink: appends with the same partition count keep every row") {
    val dir = tmpDir("append")
    Seq(0, 10).foreach { from =>
      spark.range(from, from + 10).selectExpr("id", "concat('v', id) AS s").repartition(2)
        .write.format("arrow").mode("append").save(dir)
    }
    val ids = spark.read.format("arrow").load(dir).as[(Long, String)].collect().map(_._1)
    assert(ids.sorted.toSeq == (0L until 20L))
  }

  private def assertRejectedUntouched(key: String, value: String): Unit = {
    val (dir, before) = seed(s"bad-$key")
    val files = listing(dir)
    val e = intercept[IllegalArgumentException] {
      spark.range(5).selectExpr("id", "'x' AS s")
        .write.format("arrow").option(key, value).mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains(key) && e.getMessage.contains(value), e.getMessage)
    assert(keyed(dir) == before)
    assert(listing(dir) == files, s"$key=$value touched the directory")
  }

  test("sink: an unknown ipc.format fails before any file is touched") {
    assertRejectedUntouched("ipc.format", "streem")
  }

  test("sink: an unknown ipc.compression fails before any file is touched") {
    assertRejectedUntouched("ipc.compression", "gzip")
  }

  test("external sparse unions with non-ordinal type ids widen to structs") {
    import org.apache.arrow.vector.{IntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.UnionVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.UnionMode
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    val union = new Field("u", FieldType.nullable(new ArrowType.Union(UnionMode.Sparse,
      Array(5, 9))), Seq(
        Field.nullable("i", new ArrowType.Int(32, true)),
        Field.nullable("s", ArrowType.Utf8.INSTANCE)).asJava)
    val dir = tmpDir("union59")
    val alloc = graft.sources.arrow.ArrowIo.rootAllocator()
    val root = VectorSchemaRoot.create(new ASchema(Seq(union).asJava), alloc)
    try {
      val uv = root.getVector(0).asInstanceOf[UnionVector]
      val i = uv.getChildrenFromFields.get(0).asInstanceOf[IntVector]
      val s = uv.getChildrenFromFields.get(1).asInstanceOf[VarCharVector]
      uv.allocateNew()
      i.setSafe(0, 70); s.setSafe(1, "mid".getBytes("UTF-8")); i.setSafe(2, 90)
      i.setNull(1); s.setNull(0); s.setNull(2)
      i.setValueCount(3); s.setValueCount(3)
      // the type buffer holds the declared ids, not MinorType ordinals
      Seq(5, 9, 5).zipWithIndex.foreach { case (t, row) =>
        uv.getTypeBuffer.setByte(row.toLong, t) }
      uv.setValueCount(3)
      root.setRowCount(3)
      val w = new ArrowFileWriter(root, null,
        HadoopFiles.createChannel(s"$dir/part-0.arrow", HadoopFiles.local))
      try { w.start(); w.writeBatch(); w.end() } finally w.close()
    } finally { root.close(); alloc.close() }
    val df = spark.read.format("arrow").load(dir)
    val st = df.schema("u").dataType.asInstanceOf[StructType]
    assert(st.fields.map(_.name).toSeq == Seq("i", "s"))
    val got = df.collect().toSeq.map(_.getStruct(0))
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(got == Seq((Some(70), None), (None, Some("mid")), (Some(90), None)))
  }
}
