package graft.sources.feather

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import com.google.flatbuffers.FlatBufferBuilder
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowReader
import org.apache.arrow.vector.ipc.message.{ArrowFieldNode, ArrowRecordBatch}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ATimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.sources.ArrowTypes
import graft.sources.arrow.HadoopFiles

/** Feather **v1** container (reference: cpp/src/arrow/ipc/feather.h,
  * feather.fbs, feather.cc) — the pre-IPC single-batch format written
  * by early pandas/R `write_feather`.
  *
  * Layout (feather.cc): `FEA1` magic padded to 8 bytes, then each
  * column's buffers written 8-byte-aligned in order
  * [validity bitmap iff null_count>0][int32 offsets iff binary-like]
  * [values], then a flatbuffer `CTable` (feather.fbs), then the
  * footer `uint32 metadata_len` + `FEA1`.
  *
  * The v1 container holds exactly ONE array per column (no record
  * batches), so a writing task buffers its partition's columns in
  * memory — inherent to the legacy format, not a scale path. Reading
  * is buffer-level: file bytes slice directly into Arrow vectors
  * (timestamps/times/uints at non-native units widen on load like any
  * other external Arrow input). CATEGORY columns decode through their
  * levels into plain utf8.
  */
object FeatherV1 {

  val MAGIC: Array[Byte] = "FEA1".getBytes("ASCII")
  val VERSION = 2
  private val ALIGN = 8

  private def padded(n: Long): Long = ((n + ALIGN - 1) / ALIGN) * ALIGN

  // feather.fbs Type
  private[feather] object T {
    val BOOL = 0; val INT8 = 1; val INT16 = 2; val INT32 = 3; val INT64 = 4
    val UINT8 = 5; val UINT16 = 6; val UINT32 = 7; val UINT64 = 8
    val FLOAT = 9; val DOUBLE = 10; val UTF8 = 11; val BINARY = 12
    val CATEGORY = 13; val TIMESTAMP = 14; val DATE = 15; val TIME = 16
  }
  // feather.fbs TypeMetadata union tags
  private[feather] object M {
    val NONE = 0; val CATEGORY = 1; val TIMESTAMP = 2; val DATE = 3; val TIME = 4
  }

  private def timeUnitOf(code: Int): ATimeUnit = code match {
    case 0 => ATimeUnit.SECOND
    case 1 => ATimeUnit.MILLISECOND
    case 2 => ATimeUnit.MICROSECOND
    case 3 => ATimeUnit.NANOSECOND
  }

  // ------------------------------------------------------------ metadata model

  private[feather] case class FArray(tpe: Int, offset: Long, length: Long,
                                     nullCount: Long, totalBytes: Long)
  private[feather] case class FColumn(name: String, values: FArray, metaType: Int,
                                      tsUnit: Int, tsTz: Option[String],
                                      timeUnit: Int, levels: Option[FArray])
  private[feather] case class FTable(numRows: Long, columns: Seq[FColumn])

  // ---------------------------------------------------------------- fb decode

  /** Minimal flatbuffer table walker for the fixed feather.fbs schema
    * (vtable layout per the public flatbuffers spec).
    */
  private final class Fb(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def root: Int = bb.getInt(0)
    /** Absolute position of field `id` in the table at `tablePos`, 0 if absent. */
    def field(tablePos: Int, id: Int): Int = {
      val vt = tablePos - bb.getInt(tablePos)
      val slot = 4 + 2 * id
      if (slot >= (bb.getShort(vt) & 0xFFFF)) 0
      else {
        val off = bb.getShort(vt + slot) & 0xFFFF
        if (off == 0) 0 else tablePos + off
      }
    }
    def i8(p: Int, dflt: Byte): Byte = if (p == 0) dflt else bb.get(p)
    def i32(p: Int, dflt: Int): Int = if (p == 0) dflt else bb.getInt(p)
    def i64(p: Int, dflt: Long): Long = if (p == 0) dflt else bb.getLong(p)
    def indirect(p: Int): Int = p + bb.getInt(p)
    def string(p: Int): String = {
      val ip = indirect(p)
      new String(bytes, ip + 4, bb.getInt(ip), "UTF-8")
    }
    def vecLen(p: Int): Int = bb.getInt(indirect(p))
    def vecTable(p: Int, i: Int): Int = {
      val ip = indirect(p)
      indirect(ip + 4 + 4 * i)
    }
  }

  private def decodeArray(fb: Fb, pos: Int): FArray =
    FArray(
      tpe = fb.i8(fb.field(pos, 0), 0).toInt,
      offset = fb.i64(fb.field(pos, 2), 0),
      length = fb.i64(fb.field(pos, 3), 0),
      nullCount = fb.i64(fb.field(pos, 4), 0),
      totalBytes = fb.i64(fb.field(pos, 5), 0))

  private[feather] def decodeMetadata(bytes: Array[Byte]): FTable = {
    val fb = new Fb(bytes)
    val root = fb.root
    val colsPos = fb.field(root, 2)
    require(colsPos != 0, "feather v1: no columns vector")
    val cols = (0 until fb.vecLen(colsPos)).map { i =>
      val c = fb.vecTable(colsPos, i)
      val name = fb.string(fb.field(c, 0))
      val values = decodeArray(fb, fb.indirect(fb.field(c, 1)))
      val metaType = fb.i8(fb.field(c, 2), 0).toInt
      val metaPos = { val p = fb.field(c, 3); if (p == 0) 0 else fb.indirect(p) }
      var tsUnit = 0; var tsTz: Option[String] = None
      var timeUnit = 0; var levels: Option[FArray] = None
      metaType match {
        case M.TIMESTAMP =>
          tsUnit = fb.i8(fb.field(metaPos, 0), 0).toInt
          val tzPos = fb.field(metaPos, 1)
          tsTz = if (tzPos == 0) None else Some(fb.string(tzPos)).filter(_.nonEmpty)
        case M.TIME =>
          timeUnit = fb.i8(fb.field(metaPos, 0), 0).toInt
        case M.CATEGORY =>
          levels = Some(decodeArray(fb, fb.indirect(fb.field(metaPos, 0))))
        case _ => ()
      }
      FColumn(name, values, metaType, tsUnit, tsTz, timeUnit, levels)
    }
    FTable(fb.i64(fb.field(root, 1), 0), cols)
  }

  // ---------------------------------------------------------------- fb encode

  private def encodeArray(b: FlatBufferBuilder, a: FArray): Int = {
    b.startTable(6)
    b.addByte(0, a.tpe.toByte, 0)
    b.addLong(2, a.offset, 0)
    b.addLong(3, a.length, 0)
    b.addLong(4, a.nullCount, 0)
    b.addLong(5, a.totalBytes, 0)
    b.endTable()
  }

  private[feather] def encodeMetadata(table: FTable): Array[Byte] = {
    val b = new FlatBufferBuilder(1024)
    val colOffs = table.columns.map { c =>
      val nameOff = b.createString(c.name)
      val valuesOff = encodeArray(b, c.values)
      val (metaType, metaOff) = c.metaType match {
        case M.CATEGORY =>
          val levelsOff = encodeArray(b, c.levels.get)
          b.startTable(2)
          b.addOffset(0, levelsOff, 0)
          (M.CATEGORY, b.endTable())
        case M.TIMESTAMP =>
          val tzOff = c.tsTz.map(b.createString).getOrElse(0)
          b.startTable(2)
          b.addByte(0, c.tsUnit.toByte, 0)
          if (tzOff != 0) b.addOffset(1, tzOff, 0)
          (M.TIMESTAMP, b.endTable())
        case M.DATE =>
          b.startTable(0)
          (M.DATE, b.endTable())
        case M.TIME =>
          b.startTable(1)
          b.addByte(0, c.timeUnit.toByte, 0)
          (M.TIME, b.endTable())
        case _ => (M.NONE, 0)
      }
      b.startTable(5)
      b.addOffset(0, nameOff, 0)
      b.addOffset(1, valuesOff, 0)
      if (metaType != M.NONE) {
        b.addByte(2, metaType.toByte, 0)
        b.addOffset(3, metaOff, 0)
      }
      b.endTable()
    }
    val colsVec = b.createVectorOfTables(colOffs.toArray)
    b.startTable(5)
    b.addLong(1, table.numRows, 0)
    b.addOffset(2, colsVec, 0)
    b.addInt(3, VERSION, 0)
    val root = b.endTable()
    b.finish(root)
    b.sizedByteArray()
  }

  // -------------------------------------------------------------------- write

  private def featherTypeOf(dt: DataType): (Int, Int) = dt match {
    case BooleanType => (T.BOOL, M.NONE)
    case ByteType => (T.INT8, M.NONE)
    case ShortType => (T.INT16, M.NONE)
    case IntegerType => (T.INT32, M.NONE)
    case LongType => (T.INT64, M.NONE)
    case FloatType => (T.FLOAT, M.NONE)
    case DoubleType => (T.DOUBLE, M.NONE)
    case StringType => (T.UTF8, M.NONE)
    case BinaryType => (T.BINARY, M.NONE)
    case DateType => (T.INT32, M.DATE)
    case TimestampType | TimestampNTZType => (T.INT64, M.TIMESTAMP)
    case _: TimeType => (T.INT64, M.TIME)
    case other => throw new UnsupportedOperationException(
      s"feather v1 holds flat primitive/string/binary/date/time/timestamp columns, not $other")
  }

  /** Write one feather v1 file from a row iterator. The v1 container
    * is one array per column, so the full column set is buffered in
    * Arrow vectors before writing (legacy-format constraint).
    * Returns the row count.
    */
  def writeFile(path: String, schema: StructType, rows: Iterator[InternalRow],
                conf: Configuration = HadoopFiles.local,
                categories: Set[String] = Set.empty): Long = {
    schema.fields.foreach(f => featherTypeOf(f.dataType)) // validate up front
    validateCategories(schema, categories)
    val alloc = graft.sources.arrow.ArrowIo.rootAllocator()
    val vectors = schema.fields.map { f =>
      val v = ArrowTypes.toArrowField(f.name, f.dataType, f.nullable).createVector(alloc)
      v.asInstanceOf[FieldVector]
    }
    try {
      val writers = schema.fields.indices.map { i =>
        graft.sources.arrow.AFWriter(vectors(i), schema.fields(i).dataType)
      }
      var n = 0L
      while (rows.hasNext) {
        val row = rows.next()
        var c = 0
        while (c < writers.length) { writers(c).write(row, c); c += 1 }
        n += 1
      }
      writers.foreach(_.finish())
      writeVectors(path, schema, vectors.toSeq, n, conf, categories)
      n
    } finally {
      vectors.foreach(_.close())
      alloc.close()
    }
  }

  /** Driver-side category validation: fail before any task launches. */
  private def validateCategories(schema: StructType, categories: Set[String]): Unit =
    graft.sources.CategoryColumns.validate(schema, categories, "feather v1")

  private def bufBytes(buf: ArrowBuf, n: Long): Array[Byte] = {
    // feather v1 buffers are materialized as JVM byte arrays; a column
    // whose single buffer exceeds Int.MaxValue cannot be represented —
    // fail loudly instead of narrowing to a wrapped length
    require(n >= 0 && n <= Int.MaxValue,
      s"feather v1 writer: column buffer of $n bytes exceeds the 2 GiB " +
        "per-buffer limit of the feather v1 format reader/writer")
    val out = new Array[Byte](n.toInt)
    buf.getBytes(0, out)
    out
  }

  private[feather] def writeVectors(path: String, schema: StructType,
                                    vectors: Seq[FieldVector], numRows: Long,
                                    conf: Configuration,
                                    categories: Set[String] = Set.empty): Unit = {
    val out = HadoopFiles.fs(path, conf).create(new org.apache.hadoop.fs.Path(path), true)
    var pos = 0L
    def writePadded(bytes: Array[Byte]): Long = {
      out.write(bytes)
      val pad = (padded(bytes.length) - bytes.length).toInt
      if (pad > 0) out.write(new Array[Byte](pad))
      val written = bytes.length + pad
      pos += written
      written
    }
    /** CATEGORY column (feather.cc's pandas-categorical path): the
      * values array becomes int32 codes into a per-file `levels`
      * dictionary in first-occurrence order. Self-contained per file,
      * so parallel partition writers never coordinate a vocabulary.
      */
    def writeCategory(f: StructField, v: FieldVector): FColumn = {
      require(f.dataType == StringType,
        s"feather v1 category column ${f.name} must be string, got ${f.dataType}")
      val sv = v.asInstanceOf[VarCharVector]
      val n = sv.getValueCount
      val nullCount = sv.getNullCount
      val codeOf = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      val codes = new Array[Int](n)
      var i = 0
      while (i < n) {
        if (!sv.isNull(i)) {
          val s = new String(sv.get(i), "UTF-8")
          codes(i) = codeOf.getOrElseUpdate(s, codeOf.size)
        }
        i += 1
      }
      val startPos = pos
      var totalBytes = 0L
      if (nullCount > 0)
        totalBytes += writePadded(bufBytes(sv.getValidityBuffer, (n + 7) / 8))
      val codeBuf = ByteBuffer.allocate(n * 4).order(ByteOrder.LITTLE_ENDIAN)
      codes.foreach(codeBuf.putInt)
      totalBytes += writePadded(codeBuf.array())
      val valuesArr = FArray(T.INT32, startPos, n, nullCount, totalBytes)
      // levels: [int32 offsets][utf8 data], no validity (never null)
      val levels = codeOf.keys.toArray
      val levBytes = levels.map(_.getBytes("UTF-8"))
      val offBuf = ByteBuffer.allocate((levels.length + 1) * 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      var cum = 0
      offBuf.putInt(0)
      levBytes.foreach { b => cum += b.length; offBuf.putInt(cum) }
      val levStart = pos
      var levTotal = 0L
      levTotal += writePadded(offBuf.array())
      levTotal += writePadded(levBytes.flatten)
      FColumn(f.name, valuesArr, M.CATEGORY, 0, None, 0,
        levels = Some(FArray(T.UTF8, levStart, levels.length, 0, levTotal)))
    }
    try {
      writePadded(MAGIC)
      val cols = schema.fields.indices.map { i =>
        val f = schema.fields(i)
        val v = vectors(i)
        if (categories.contains(f.name)) writeCategory(f, v) else {
        val n = v.getValueCount
        val nullCount = v.getNullCount
        val (tpe, metaType) = featherTypeOf(f.dataType)
        val startPos = pos
        var totalBytes = 0L
        if (nullCount > 0)
          totalBytes += writePadded(bufBytes(v.getValidityBuffer, (n + 7) / 8))
        v match {
          case bv: BitVector =>
            totalBytes += writePadded(bufBytes(bv.getDataBuffer, (n + 7) / 8))
          case sv: BaseVariableWidthVector =>
            // a zero-row vector never allocated its buffers — emit the
            // canonical empty layout ([0] offsets, no data) instead of
            // reading an empty ArrowBuf
            if (n == 0) {
              totalBytes += writePadded(new Array[Byte](4))
              totalBytes += writePadded(Array.emptyByteArray)
            } else {
              val dataLen = sv.getOffsetBuffer.getInt(n * 4L)
              totalBytes += writePadded(bufBytes(sv.getOffsetBuffer, (n + 1) * 4L))
              totalBytes += writePadded(bufBytes(sv.getDataBuffer, dataLen))
            }
          case fv: BaseFixedWidthVector =>
            totalBytes += writePadded(bufBytes(fv.getDataBuffer, n.toLong * fv.getTypeWidth))
          case other => throw new UnsupportedOperationException(
            s"feather v1 writer: ${other.getClass.getSimpleName}")
        }
        val (tsUnit, tsTz, timeUnit) = f.dataType match {
          case TimestampType => (2, Some("UTC"), 0)     // µs, UTC
          case TimestampNTZType => (2, None, 0)          // µs, no tz
          case _: TimeType => (0, None, 2)               // µs
          case _ => (0, None, 0)
        }
        FColumn(f.name, FArray(tpe, startPos, n, nullCount, totalBytes),
          metaType, tsUnit, tsTz, timeUnit, levels = None)
        }
      }
      val meta = encodeMetadata(FTable(numRows, cols))
      out.write(meta)
      val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      tail.putInt(meta.length)
      tail.put(MAGIC)
      out.write(tail.array())
    } finally out.close()
  }

  /** Distributed write: one feather v1 file per partition under `dir`
    * (the same dataset-directory layout as the arrow sink, readable
    * back via `spark.read.format("arrow")`).
    */
  def write(df: org.apache.spark.sql.DataFrame, dir: String,
            categories: Set[String] = Set.empty): Unit = {
    val schema = df.schema
    schema.fields.foreach(f => featherTypeOf(f.dataType))
    validateCategories(schema, categories)
    HadoopFiles.writeStaged(df, dir, "feather")(
      (path, rows, conf) => writeFile(path, schema, rows, conf, categories))
  }

  // --------------------------------------------------------------------- read

  def isFeatherV1(head: Array[Byte]): Boolean =
    head.length >= 4 && MAGIC.indices.forall(i => head(i) == MAGIC(i))

  private[feather] def physicalField(c: FColumn): Field = {
    def prim(tpe: Int): ArrowType = tpe match {
      case T.BOOL => ArrowType.Bool.INSTANCE
      case T.INT8 => new ArrowType.Int(8, true)
      case T.INT16 => new ArrowType.Int(16, true)
      case T.INT32 => new ArrowType.Int(32, true)
      case T.INT64 => new ArrowType.Int(64, true)
      case T.UINT8 => new ArrowType.Int(8, false)
      case T.UINT16 => new ArrowType.Int(16, false)
      case T.UINT32 => new ArrowType.Int(32, false)
      case T.UINT64 => new ArrowType.Int(64, false)
      case T.FLOAT => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case T.DOUBLE => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case T.UTF8 => ArrowType.Utf8.INSTANCE
      case T.BINARY => ArrowType.Binary.INSTANCE
      case other => throw new UnsupportedOperationException(s"feather v1 type $other")
    }
    val at: ArrowType = c.metaType match {
      case M.TIMESTAMP => new ArrowType.Timestamp(timeUnitOf(c.tsUnit), c.tsTz.orNull)
      case M.DATE => new ArrowType.Date(DateUnit.DAY)
      case M.TIME =>
        val u = timeUnitOf(c.timeUnit)
        val bits = if (u == ATimeUnit.SECOND || u == ATimeUnit.MILLISECOND) 32 else 64
        new ArrowType.Time(u, bits)
      case M.CATEGORY => prim(c.levels.get.tpe) // decoded through levels on load
      case _ => prim(c.values.tpe)
    }
    Field.nullable(c.name, at)
  }
}

/** Single-batch reader for a feather v1 file, pluggable wherever an
  * arrow-java `ArrowReader` goes (the graft source's columnar scan).
  * Buffers slice straight from the file into Arrow layout; CATEGORY
  * columns decode through their levels into utf8 buffers.
  */
class FeatherV1Reader(path: String, alloc: BufferAllocator,
                      conf: Configuration = HadoopFiles.local)
    extends ArrowReader(alloc) {
  import FeatherV1._

  private val in = HadoopFiles.fs(path, conf).open(new org.apache.hadoop.fs.Path(path))
  private val size = HadoopFiles.fileSize(path, conf)
  private var readBytes = 0L
  private var consumed = false

  private val table: FeatherV1.FTable = {
    val tail = HadoopFiles.readAt(in, size - 8, 8)
    require(FeatherV1.isFeatherV1(tail.drop(4)),
      s"$path: missing feather v1 footer magic")
    val metaLen = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
    val meta = HadoopFiles.readAt(in, size - 8 - metaLen, metaLen)
    readBytes += 8 + metaLen
    FeatherV1.decodeMetadata(meta)
  }

  override protected def readSchema(): ArrowSchema =
    new ArrowSchema(table.columns.map(c => FeatherV1.physicalField(c)).asJava)

  private def toArrowBuf(bytes: Array[Byte]): ArrowBuf = {
    val buf = alloc.buffer(bytes.length.max(1))
    buf.setBytes(0, bytes)
    buf.writerIndex(bytes.length)
    buf
  }

  private def allValid(n: Int): Array[Byte] = Array.fill[Byte]((n + 7) / 8)(0xFF.toByte)

  /** Slice one stored array into (validity, offsets?, data) byte arrays. */
  private def sliceArray(a: FeatherV1.FArray, binaryLike: Boolean)
      : (Array[Byte], Option[Array[Byte]], Array[Byte]) = {
    // an external file can declare any 64-bit size; narrowing a ≥4 GiB
    // value to Int would wrap positive and silently read wrong bytes
    require(a.totalBytes >= 0 && a.totalBytes <= Int.MaxValue,
      s"$path: feather v1 column of ${a.totalBytes} bytes exceeds the " +
        "2 GiB per-column limit of this reader")
    require(a.length >= 0 && a.length <= Int.MaxValue,
      s"$path: feather v1 column of ${a.length} rows exceeds Int.MaxValue")
    val bytes = HadoopFiles.readAt(in, a.offset, a.totalBytes.toInt)
    readBytes += a.totalBytes
    val n = a.length.toInt
    var off = 0
    val validity =
      if (a.nullCount > 0) {
        val sz = ((n + 7) / 8 + 7) / 8 * 8
        val v = bytes.slice(off, off + ((n + 7) / 8)); off += sz; v
      } else allValid(n)
    val offsets =
      if (binaryLike) {
        val logical = (n + 1) * 4
        val sz = (logical + 7) / 8 * 8
        val o = bytes.slice(off, off + logical); off += sz; Some(o)
      } else None
    (validity, offsets, bytes.drop(off))
  }

  override def loadNextBatch(): Boolean = {
    ensureInitialized()
    if (consumed) return false
    consumed = true
    val n = table.numRows.toInt
    val nodes = new java.util.ArrayList[ArrowFieldNode]()
    val buffers = new java.util.ArrayList[ArrowBuf]()
    table.columns.foreach { c =>
      val binaryLike = c.values.tpe == T.UTF8 || c.values.tpe == T.BINARY
      if (c.metaType == M.CATEGORY) { // CATEGORY → decode through levels to utf8/binary
        val lv = c.levels.get
        val (valid, _, idxData) = sliceArray(c.values, binaryLike = false)
        require(lv.tpe == T.UTF8 || lv.tpe == T.BINARY,
          s"feather v1 category levels must be utf8/binary, got ${lv.tpe}")
        val (_, lvOffsOpt, lvData) = sliceArray(lv, binaryLike = true)
        val lvOffs = lvOffsOpt.get
        val idx = ByteBuffer.wrap(idxData).order(ByteOrder.LITTLE_ENDIAN)
        // codes carry the dictionary index type — pandas/R-era writers
        // use int8/int16 for small vocabularies
        val codeAt: Int => Int = c.values.tpe match {
          case T.INT8 => i => idx.get(i).toInt
          case T.UINT8 => i => idx.get(i) & 0xFF
          case T.INT16 => i => idx.getShort(i * 2).toInt
          case T.UINT16 => i => idx.getShort(i * 2) & 0xFFFF
          case T.INT32 | T.UINT32 => i => idx.getInt(i * 4)
          case T.INT64 | T.UINT64 => i => idx.getLong(i * 8).toInt
          case other => throw new UnsupportedOperationException(
            s"feather v1 category index type $other")
        }
        val lo = ByteBuffer.wrap(lvOffs).order(ByteOrder.LITTLE_ENDIAN)
        val outOffs = ByteBuffer.allocate((n + 1) * 4).order(ByteOrder.LITTLE_ENDIAN)
        val outData = new java.io.ByteArrayOutputStream()
        var pos = 0
        outOffs.putInt(0)
        (0 until n).foreach { i =>
          val valid_i = (valid(i / 8) >> (i % 8) & 1) == 1
          if (valid_i) {
            val j = codeAt(i)
            val s = lo.getInt(j * 4); val e = lo.getInt((j + 1) * 4)
            outData.write(lvData, s, e - s)
            pos += e - s
          }
          outOffs.putInt(pos)
        }
        nodes.add(new ArrowFieldNode(n, c.values.nullCount))
        buffers.add(toArrowBuf(valid))
        buffers.add(toArrowBuf(outOffs.array()))
        buffers.add(toArrowBuf(outData.toByteArray))
      } else {
        val (valid, offsets, data) = sliceArray(c.values, binaryLike)
        nodes.add(new ArrowFieldNode(n, c.values.nullCount))
        buffers.add(toArrowBuf(valid))
        offsets.foreach(o => buffers.add(toArrowBuf(o)))
        buffers.add(toArrowBuf(data))
      }
    }
    val batch = new ArrowRecordBatch(n, nodes, buffers)
    try loadRecordBatch(batch) finally {
      batch.close()
      buffers.asScala.foreach(_.close())
    }
    true
  }

  override def bytesRead(): Long = readBytes

  override protected def closeReadSource(): Unit = in.close()
}
