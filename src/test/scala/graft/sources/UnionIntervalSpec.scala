package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.{DurationVector, IntervalDayVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.{DenseUnionVector, UnionVector}
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.arrow.vector.types.{TimeUnit => ATimeUnit, Types}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, TempDirs}
import graft.sources.arrow.{ArrowIo, HadoopFiles}

/** Union and interval coverage (SURVEY §2.A1 divergence-closing):
  * files produced by other Arrow implementations with union /
  * interval / duration columns read through the graft source —
  * unions widen to a struct of members, intervals map to Spark's
  * ANSI interval types (reference: format/Schema.fbs Union/Interval,
  * cpp/src/arrow/type.h UnionType).
  */
class UnionIntervalSpec extends SparkSpec {

  private def writeOne(dir: String, root: VectorSchemaRoot): Unit = {
    val ch = java.nio.channels.Channels.newChannel(
      Files.newOutputStream(java.nio.file.Paths.get(dir, "part-0.arrow")))
    val w = new ArrowFileWriter(root, null, ch)
    w.start(); w.writeBatch(); w.end(); w.close()
  }

  test("sparse union column reads as a struct of its members") {
    val alloc = ArrowIo.rootAllocator()
    val uv = UnionVector.empty("u", alloc)
    uv.allocateNew()
    val iv = uv.getIntVector()
    val sv = uv.getVarCharVector()
    // rows: 7, "x", 9
    uv.setType(0, Types.MinorType.INT); iv.setSafe(0, 7)
    uv.setType(1, Types.MinorType.VARCHAR); sv.setSafe(1, "x".getBytes("UTF-8"))
    uv.setType(2, Types.MinorType.INT); iv.setSafe(2, 9)
    uv.setValueCount(3)
    val root = new VectorSchemaRoot(Seq(uv.getField).asJava,
      Seq(uv.asInstanceOf[org.apache.arrow.vector.FieldVector]).asJava, 3)
    val dir = TempDirs.tempDir("graft-union-sparse")
    writeOne(dir, root)
    root.close(); alloc.close()

    val df = spark.read.format("arrow").load(dir)
    val st = df.schema("u").dataType.asInstanceOf[StructType]
    assert(st.fields.map(_.dataType).toSeq == Seq(IntegerType, StringType))
    val rows = df.collect().toSeq.map(_.getStruct(0))
    assert(rows.map(r => (Option(r.get(0)), Option(r.get(1)))) ==
      Seq((Some(7), None), (None, Some("x")), (Some(9), None)))
  }

  test("dense union column reads as a struct of its members") {
    val alloc = ArrowIo.rootAllocator()
    val duv = DenseUnionVector.empty("u", alloc)
    val longTid = duv.registerNewTypeId(Field.nullable("l", new ArrowType.Int(64, true)))
    val strTid = duv.registerNewTypeId(Field.nullable("s", ArrowType.Utf8.INSTANCE))
    val lv = duv.addVector(longTid,
      new org.apache.arrow.vector.BigIntVector("l", alloc))
      .asInstanceOf[org.apache.arrow.vector.BigIntVector]
    val sv = duv.addVector(strTid,
      new org.apache.arrow.vector.VarCharVector("s", alloc))
      .asInstanceOf[org.apache.arrow.vector.VarCharVector]
    duv.allocateNew()
    // rows: "a", 10, "b", 20 — dense offsets point into the per-type child
    lv.setSafe(0, 10L); lv.setSafe(1, 20L); lv.setValueCount(2)
    sv.setSafe(0, "a".getBytes("UTF-8")); sv.setSafe(1, "b".getBytes("UTF-8"))
    sv.setValueCount(2)
    duv.setTypeId(0, strTid); duv.setOffset(0, 0)
    duv.setTypeId(1, longTid); duv.setOffset(1, 0)
    duv.setTypeId(2, strTid); duv.setOffset(2, 1)
    duv.setTypeId(3, longTid); duv.setOffset(3, 1)
    duv.setValueCount(4)
    val root = new VectorSchemaRoot(Seq(duv.getField).asJava,
      Seq(duv.asInstanceOf[org.apache.arrow.vector.FieldVector]).asJava, 4)
    val dir = TempDirs.tempDir("graft-union-dense")
    writeOne(dir, root)
    root.close(); alloc.close()

    val df = spark.read.format("arrow").load(dir)
    val rows = df.collect().toSeq.map(_.getStruct(0))
    assert(rows.map(r => (Option(r.get(0)), Option(r.get(1)))) ==
      Seq((None, Some("a")), (Some(10L), None), (None, Some("b")), (Some(20L), None)))
  }

  test("ANSI interval columns roundtrip through the arrow sink and source") {
    val df = spark.range(3).select(
      col("id"),
      expr("make_ym_interval(1, CAST(id AS INT))").as("ym"),
      expr("make_dt_interval(CAST(id AS INT), 2, 3, 4.5)").as("dt"))
    val dir = TempDirs.tempDir("graft-interval-rt")
    df.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema("ym").dataType.isInstanceOf[YearMonthIntervalType])
    assert(back.schema("dt").dataType.isInstanceOf[DayTimeIntervalType])
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("day_time interval and nano duration vectors widen to µs day-time") {
    val alloc = ArrowIo.rootAllocator()
    val ivd = new IntervalDayVector("ivd", alloc)
    ivd.allocateNew(4)
    ivd.setSafe(0, 1, 500)          // 1 day + 500 ms
    ivd.setSafe(1, 0, 250)
    ivd.setSafe(2, 0, 0)
    ivd.setSafe(3, 0, 0)
    ivd.setValueCount(4)
    val dur = new DurationVector("dur",
      FieldType.nullable(new ArrowType.Duration(ATimeUnit.NANOSECOND)), alloc)
    dur.allocateNew(4)
    dur.setSafe(0, 1500000L)        // 1.5 ms in nanos
    dur.setSafe(1, 999L)            // sub-µs floors to 0
    dur.setSafe(2, -999L)           // negative sub-µs floors to -1 µs,
    dur.setSafe(3, -1500000L)       // consistent with the timestamp path
    dur.setValueCount(4)
    val root = new VectorSchemaRoot(Seq(ivd.getField, dur.getField).asJava,
      Seq(ivd: org.apache.arrow.vector.FieldVector, dur).asJava, 4)
    val dir = TempDirs.tempDir("graft-interval-widen")
    writeOne(dir, root)
    root.close(); alloc.close()

    val df = spark.read.format("arrow").load(dir)
    assert(df.schema.fields.forall(_.dataType.isInstanceOf[DayTimeIntervalType]))
    val rows = df.collect().toSeq
    import java.time.Duration
    assert(rows.map(_.getAs[Duration]("ivd")) ==
      Seq(Duration.ofDays(1).plusMillis(500), Duration.ofMillis(250),
        Duration.ZERO, Duration.ZERO))
    assert(rows.map(_.getAs[Duration]("dur")) ==
      Seq(Duration.ofNanos(1500000), Duration.ZERO,
        Duration.ofNanos(-1000), Duration.ofNanos(-1500000)))
  }

  test("half-float vectors widen to float on read") {
    val alloc = ArrowIo.rootAllocator()
    val hf = new org.apache.arrow.vector.Float2Vector("h", alloc)
    hf.allocateNew(4)
    hf.setSafeWithPossibleTruncate(0, 1.5f)   // exactly representable in f16
    hf.setSafeWithPossibleTruncate(1, -0.25f)
    hf.setSafeWithPossibleTruncate(2, 65504f) // f16 max
    // index 3 left null
    hf.setValueCount(4)
    val root = new VectorSchemaRoot(Seq(hf.getField).asJava,
      Seq(hf: org.apache.arrow.vector.FieldVector).asJava, 4)
    val dir = TempDirs.tempDir("graft-halffloat")
    writeOne(dir, root)
    root.close(); alloc.close()

    val df = spark.read.format("arrow").load(dir)
    assert(df.schema("h").dataType == org.apache.spark.sql.types.FloatType)
    val got = df.collect().toSeq.map(r =>
      if (r.isNullAt(0)) None else Some(r.getFloat(0)))
    assert(got == Seq(Some(1.5f), Some(-0.25f), Some(65504f), None))
  }

  test("large_list vectors read as plain arrays") {
    val alloc = ArrowIo.rootAllocator()
    val ll = org.apache.arrow.vector.complex.LargeListVector.empty("v", alloc)
    ll.allocateNew()
    val w = ll.getWriter
    w.setPosition(0); w.startList()
    w.bigInt().writeBigInt(1L); w.bigInt().writeBigInt(2L)
    w.endList()
    w.setPosition(1); w.startList(); w.endList() // empty list
    // position 2 left null
    w.setPosition(3); w.startList()
    w.bigInt().writeBigInt(-7L)
    w.endList()
    ll.setValueCount(4)
    val root = new VectorSchemaRoot(Seq(ll.getField).asJava,
      Seq(ll: org.apache.arrow.vector.FieldVector).asJava, 4)
    val dir = TempDirs.tempDir("graft-largelist")
    writeOne(dir, root)
    root.close(); alloc.close()

    val df = spark.read.format("arrow").load(dir)
    assert(df.schema("v").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true))
    val got = df.collect().toSeq.map(r =>
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0)))
    assert(got == Seq(Some(Seq(1L, 2L)), Some(Seq.empty[Long]), None,
      Some(Seq(-7L))))
  }

  test("month_day_nano interval vector reads as calendar interval") {
    val alloc = ArrowIo.rootAllocator()
    val mdn = new org.apache.arrow.vector.IntervalMonthDayNanoVector("mdn", alloc)
    mdn.allocateNew(2)
    mdn.setSafe(0, 1, 2, 3000L)     // 1 month, 2 days, 3 µs
    mdn.setSafe(1, 0, 0, 0L)
    mdn.setValueCount(2)
    val root = new VectorSchemaRoot(Seq(mdn.getField).asJava,
      Seq(mdn: org.apache.arrow.vector.FieldVector).asJava, 2)
    val dir = TempDirs.tempDir("graft-interval-mdn")
    writeOne(dir, root)
    root.close(); alloc.close()

    val df = spark.read.format("arrow").load(dir)
    assert(df.schema("mdn").dataType == CalendarIntervalType)
    val vals = df.collect().toSeq
      .map(_.getAs[org.apache.spark.unsafe.types.CalendarInterval]("mdn"))
    assert(vals == Seq(
      new org.apache.spark.unsafe.types.CalendarInterval(1, 2, 3L),
      new org.apache.spark.unsafe.types.CalendarInterval(0, 0, 0L)))
  }

  test("struct-of-members writes as a sparse union and reads back bidirectionally") {
    import graft.sources.arrow.{ArrowIo, ArrowUnionWriter}
    val rows = Seq(
      Row(1L, Row(7, null)),
      Row(2L, Row(null, "x")),
      Row(3L, Row(9, null)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("u", StructType(Seq(
        StructField("i", IntegerType), StructField("s", StringType))))))
    val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val dir = TempDirs.tempDir("graft-union-write")
    assert(ArrowUnionWriter.write(df, dir, unionCols = Seq("u")) == 3)
    // the file really declares a union type, not a struct
    val file = HadoopFiles.dataFiles(dir, HadoopFiles.local).head
    val alloc = ArrowIo.rootAllocator()
    val r = ArrowIo.openReader(file, alloc)
    val fieldType = r.getVectorSchemaRoot.getSchema.findField("u").getType
    assert(fieldType.isInstanceOf[ArrowType.Union])
    r.close(); alloc.close()
    // and reads back as the original struct
    val back = spark.read.format("arrow").load(dir).orderBy("id")
    assert(back.schema("u").dataType == schema("u").dataType)
    assert(back.collect().toSeq == df.orderBy("id").collect().toSeq)
  }
}
