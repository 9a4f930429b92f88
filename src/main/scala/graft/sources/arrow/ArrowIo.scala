package graft.sources.arrow

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.hadoop.conf.Configuration
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.dictionary.{DictionaryEncoder, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowReader, ArrowStreamReader}
import org.apache.arrow.vector.ipc.message.ArrowFieldNode
import org.apache.arrow.vector.types.pojo.Field
import org.apache.arrow.vector.util.DictionaryUtility
import org.apache.arrow.vector.FieldVector
import org.apache.spark.sql.types.StructType

import graft.sources.ArrowTypes

/** Low-level Arrow IPC reading (SURVEY §2.D1–D5); every IPC write goes
  * through [[IncrementalArrowWriter]].
  *
  * Re-expresses the reference's ipc layer (reference:
  * cpp/src/arrow/ipc/writer.h, reader.h) with arrow-java on Spark's
  * executor side. Both the random-access *file* format (magic
  * "ARROW1") and the *stream* format are supported; Feather v2 is the
  * file format with a different extension (reference feather.h is the
  * v1 precursor — documented divergence: we emit/read v2 == IPC).
  */
object ArrowIo {

  val FILE_MAGIC: Array[Byte] = "ARROW1".getBytes("ASCII")

  def rootAllocator(): BufferAllocator = new RootAllocator(Long.MaxValue)

  /** Sniff file vs stream format from the leading magic bytes. */
  def isFileFormat(path: String, conf: Configuration = HadoopFiles.local): Boolean = {
    val head = HadoopFiles.readFully(path, 6, conf)
    head.length == 6 && java.util.Arrays.equals(head, FILE_MAGIC)
  }

  /** Open a reader for either IPC format (any Hadoop filesystem).
    * Readers always carry the compression factory, so zstd/lz4
    * buffer-compressed files (ipc.compression on the sink) decompress
    * transparently; uncompressed files are unaffected.
    */
  def openReader(path: String, alloc: BufferAllocator,
                 conf: Configuration = HadoopFiles.local): ArrowReader = {
    val codecs = org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE
    val head = HadoopFiles.readFully(path, 6, conf)
    if (head.length == 6 && java.util.Arrays.equals(head, FILE_MAGIC))
      new ArrowFileReader(HadoopFiles.openSeekable(path, conf), alloc, codecs)
    else if (graft.sources.feather.FeatherV1.isFeatherV1(head))
      new graft.sources.feather.FeatherV1Reader(path, alloc, conf)
    else if (head.nonEmpty && head(0) == '{'.toByte)
      new graft.sources.json.ArrowJsonReader(path, alloc, conf)
    else
      new ArrowStreamReader(
        HadoopFiles.fs(path, conf).open(new org.apache.hadoop.fs.Path(path)),
        alloc, codecs)
  }

  /** Batch-range splits of an IPC *file* for parallel scan planning:
    * the footer's record-batch index is grouped greedily into chunks
    * of ~`maxBytes` (meta+body). Returns None when the whole file is
    * one chunk — callers then skip the range bookkeeping. Only the
    * footer is read here (driver-side planning, like parquet's).
    */
  def batchRanges(path: String, maxBytes: Long,
                  conf: Configuration = HadoopFiles.local): Seq[Option[(Int, Int)]] = {
    val alloc = rootAllocator()
    val reader = new ArrowFileReader(HadoopFiles.openSeekable(path, conf), alloc)
    try {
      val blocks = reader.getRecordBlocks.asScala.toSeq
      if (blocks.length <= 1) return Seq(None)
      val ranges = Seq.newBuilder[Option[(Int, Int)]]
      var start = 0
      var bytes = 0L
      blocks.zipWithIndex.foreach { case (b, i) =>
        val sz = b.getMetadataLength.toLong + b.getBodyLength
        if (i > start && bytes + sz > maxBytes) {
          ranges += Some((start, i))
          start = i
          bytes = 0L
        }
        bytes += sz
      }
      ranges += Some((start, blocks.length))
      val out = ranges.result()
      if (out.length == 1) Seq(None) else out
    } finally { reader.close(); alloc.close() }
  }

  /** Read just the schema of an IPC file. Dictionary-encoded fields,
    * at any depth, surface their *value* type (they are decoded on
    * load), not the index type stored in the schema message.
    */
  def readSchema(path: String, conf: Configuration = HadoopFiles.local): StructType = {
    val alloc = rootAllocator()
    val reader = openReader(path, alloc, conf)
    try {
      val fields = reader.getVectorSchemaRoot.getSchema.getFields.asScala.map(f =>
        ArrowTypes.fromArrowField(valueField(f, reader)))
      StructType(fields.toArray)
    } finally { reader.close(); alloc.close() }
  }

  /** `f` with every dictionary-encoded field in it typed as its
    * dictionary's values.
    */
  private def valueField(f: Field, dicts: DictionaryProvider): Field =
    DictionaryUtility.toMessageFormat(f, dicts, new java.util.HashSet[java.lang.Long]())

  private def hasDictionary(f: Field): Boolean =
    f.getDictionary != null || f.getChildren.asScala.exists(hasDictionary)

  /** Decode any dictionary-encoded vectors in the loaded batch, at any
    * depth (reference: cpp/src/arrow/ipc/dictionary.h), and widen
    * fixed-size-list vectors to regular lists (Spark's
    * ArrowColumnVector has no FSL accessor). Returned converted
    * vectors are fresh (caller closes); plain vectors pass through.
    */
  def decodedVectors(reader: ArrowReader, root: VectorSchemaRoot,
                     indices: Seq[Int],
                     alloc: BufferAllocator): Seq[(FieldVector, Boolean)] = {
    indices.map { i =>
      val declared = root.getSchema.getFields.get(i)
      val v = root.getVector(i)
      val out: (FieldVector, Boolean) =
        if (hasDictionary(declared)) (decodeDictionaries(v, reader, alloc), true)
        else v match {
          case fsl: org.apache.arrow.vector.complex.FixedSizeListVector =>
            (fslToList(fsl, alloc), true)
          case ll: org.apache.arrow.vector.complex.LargeListVector =>
            (largeListToList(ll, alloc), true)
          case needsWiden if widenTarget(needsWiden).isDefined =>
            (widen(needsWiden, declared, alloc), true)
          case other => (other, false)
        }
      // widening is top-level only: a float16/large_list/uint/… vector
      // nested inside a struct or list would reach Spark's accessor
      // factory un-widened and die with an obscure error — reject it
      // here with an actionable one instead
      checkNestedSupported(out._1)
      out
    }
  }

  /** A copy of `v` with every dictionary-encoded vector in it decoded
    * to its values. Plain vectors in the copy share `v`'s buffers;
    * the caller closes the copy.
    */
  private def decodeDictionaries(v: FieldVector, dicts: DictionaryProvider,
                                 alloc: BufferAllocator): FieldVector = {
    val encoding = v.getField.getDictionary
    if (encoding != null)
      DictionaryEncoder.decode(v, dicts.lookup(encoding.getId)).asInstanceOf[FieldVector]
    else {
      val out = valueField(v.getField, dicts).createVector(alloc)
      out.loadFieldBuffers(new ArrowFieldNode(v.getValueCount, v.getNullCount),
        v.getFieldBuffers)
      v.getChildrenFromFields.asScala.zip(out.getChildrenFromFields.asScala).foreach {
        case (from, to) =>
          val decoded = decodeDictionaries(from, dicts, alloc)
          try decoded.makeTransferPair(to).transfer() finally decoded.close()
      }
      out
    }
  }

  private def checkNestedSupported(v: FieldVector): Unit = {
    def walk(c: FieldVector): Unit = {
      val unsupported = widenTarget(c).isDefined ||
        c.isInstanceOf[org.apache.arrow.vector.complex.LargeListVector] ||
        c.isInstanceOf[org.apache.arrow.vector.complex.FixedSizeListVector]
      if (unsupported) throw new UnsupportedOperationException(
        s"column child '${c.getField.getName}' of type ${c.getField.getType} " +
          "is nested inside a struct/list; the scan widens such types at " +
          "top level only — flatten the column or cast it upstream")
      c.getChildrenFromFields.asScala.foreach(walk)
    }
    v.getChildrenFromFields.asScala.foreach(walk)
  }

  /** Spark's ArrowColumnVector has accessors only for signed ints,
    * DateDay, and variable binary — these external-producer types are
    * widened by copy on load (matching ArrowTypes.fromArrowType):
    * uint8→int16, uint16→int32, uint32→int64, uint64→int64 (may wrap,
    * documented), date64→date32 (floor days), fixed_size_binary→binary.
    */
  private def widenTarget(v: FieldVector): Option[String] = v match {
    case _: org.apache.arrow.vector.Float2Vector => Some("f2")
    case _: org.apache.arrow.vector.UInt1Vector => Some("u1")
    case _: org.apache.arrow.vector.UInt2Vector => Some("u2")
    case _: org.apache.arrow.vector.UInt4Vector => Some("u4")
    case _: org.apache.arrow.vector.UInt8Vector => Some("u8")
    case _: org.apache.arrow.vector.DateMilliVector => Some("datems")
    case _: org.apache.arrow.vector.FixedSizeBinaryVector => Some("fsb")
    // Spark's ArrowColumnVector only has a TimeNano accessor; all
    // other time units widen to nano (sub-micro truncated to the
    // TIME(6) the schema declares)
    case _: org.apache.arrow.vector.TimeSecVector => Some("ts")
    case _: org.apache.arrow.vector.TimeMilliVector => Some("tms")
    case _: org.apache.arrow.vector.TimeMicroVector => Some("tus")
    case _: org.apache.arrow.vector.TimeNanoVector => Some("tns")
    // non-µs timestamps (external producers, e.g. feather v1 files)
    // rescale to the µs vectors Spark's accessors read
    case _: org.apache.arrow.vector.TimeStampSecTZVector => Some("tss")
    case _: org.apache.arrow.vector.TimeStampMilliTZVector => Some("tsm")
    case _: org.apache.arrow.vector.TimeStampNanoTZVector => Some("tsn")
    case _: org.apache.arrow.vector.TimeStampSecVector => Some("tss0")
    case _: org.apache.arrow.vector.TimeStampMilliVector => Some("tsm0")
    case _: org.apache.arrow.vector.TimeStampNanoVector => Some("tsn0")
    // day_time intervals and non-µs durations both surface as Spark
    // day-time intervals, whose accessor reads a µs-unit duration
    case _: org.apache.arrow.vector.IntervalDayVector => Some("ivd")
    case d: org.apache.arrow.vector.DurationVector
      if d.getUnit != org.apache.arrow.vector.types.TimeUnit.MICROSECOND => Some("dur")
    // unions (sparse or dense) widen to a struct of their members
    case _: org.apache.arrow.vector.complex.UnionVector => Some("union")
    case _: org.apache.arrow.vector.complex.DenseUnionVector => Some("dunion")
    case _ => None
  }

  /** `v` copied into the vector type Spark reads. `declared` is the
    * field the reader's schema declares for `v`: a sparse union
    * vector reports MinorType ordinals as its type ids, the schema
    * the ids its type buffer holds.
    */
  private def widen(v: FieldVector, declared: Field, alloc: BufferAllocator): FieldVector = {
    import org.apache.arrow.vector._
    val n = v.getValueCount
    v match {
      case src: Float2Vector =>
        // half-float → float is exact (every f16 value is an f32 value)
        val out = new Float4Vector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.getValueAsFloat(i))
          i += 1
        }
        out.setValueCount(n); out
      case src: UInt1Vector =>
        val out = new SmallIntVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, (src.get(i) & 0xFF).toShort)
          i += 1
        }
        out.setValueCount(n); out
      case src: UInt2Vector =>
        val out = new IntVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i) & 0xFFFF)
          i += 1
        }
        out.setValueCount(n); out
      case src: UInt4Vector =>
        val out = new BigIntVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i) & 0xFFFFFFFFL)
          i += 1
        }
        out.setValueCount(n); out
      case src: UInt8Vector =>
        val out = new BigIntVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i))
          i += 1
        }
        out.setValueCount(n); out
      case src: DateMilliVector =>
        val out = new DateDayVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i))
            out.setSafe(i, Math.floorDiv(src.get(i), 86400000L).toInt)
          i += 1
        }
        out.setValueCount(n); out
      case src: FixedSizeBinaryVector =>
        val out = new VarBinaryVector(src.getName, alloc); out.allocateNew()
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i))
          i += 1
        }
        out.setValueCount(n); out
      case src: TimeSecVector =>
        val out = new TimeNanoVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i) * 1000000000L)
          i += 1
        }
        out.setValueCount(n); out
      case src: TimeMilliVector =>
        val out = new TimeNanoVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i) * 1000000L)
          i += 1
        }
        out.setValueCount(n); out
      case src: TimeMicroVector =>
        val out = new TimeNanoVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i) * 1000L)
          i += 1
        }
        out.setValueCount(n); out
      case src: TimeNanoVector =>
        // truncate to the TIME(6) the schema declares
        val out = new TimeNanoVector(src.getName, alloc); out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, src.get(i) / 1000L * 1000L)
          i += 1
        }
        out.setValueCount(n); out
      case src: TimeStampVector =>
        // rescale sec/ms/ns epochs to the µs vector Spark reads; the
        // tz (or its absence) carries over so TZ/NTZ typing holds
        val at = src.getField.getType.asInstanceOf[
          org.apache.arrow.vector.types.pojo.ArrowType.Timestamp]
        val toMicros: Long => Long = at.getUnit match {
          case org.apache.arrow.vector.types.TimeUnit.SECOND => _ * 1000000L
          case org.apache.arrow.vector.types.TimeUnit.MILLISECOND => _ * 1000L
          case org.apache.arrow.vector.types.TimeUnit.MICROSECOND => identity
          case org.apache.arrow.vector.types.TimeUnit.NANOSECOND => Math.floorDiv(_, 1000L)
        }
        val outType = new org.apache.arrow.vector.types.pojo.ArrowType.Timestamp(
          org.apache.arrow.vector.types.TimeUnit.MICROSECOND, at.getTimezone)
        val ft = org.apache.arrow.vector.types.pojo.FieldType.nullable(outType)
        val out: TimeStampVector =
          if (at.getTimezone == null) new TimeStampMicroVector(src.getName, ft, alloc)
          else new TimeStampMicroTZVector(src.getName, ft, alloc)
        out.allocateNew(n)
        var i = 0
        while (i < n) {
          if (!src.isNull(i)) out.setSafe(i, toMicros(src.get(i)))
          i += 1
        }
        out.setValueCount(n); out
      case src: IntervalDayVector =>
        // (days, millis) pair → total µs duration, Spark's day-time
        // interval representation
        val out = new DurationVector(src.getName,
          org.apache.arrow.vector.types.pojo.FieldType.nullable(
            new org.apache.arrow.vector.types.pojo.ArrowType.Duration(
              org.apache.arrow.vector.types.TimeUnit.MICROSECOND)), alloc)
        out.allocateNew(n)
        val holder = new org.apache.arrow.vector.holders.NullableIntervalDayHolder
        var i = 0
        while (i < n) {
          src.get(i, holder)
          if (holder.isSet == 1)
            out.setSafe(i, holder.days * 86400000000L + holder.milliseconds * 1000L)
          i += 1
        }
        out.setValueCount(n); out
      case src: DurationVector =>
        val out = new DurationVector(src.getName,
          org.apache.arrow.vector.types.pojo.FieldType.nullable(
            new org.apache.arrow.vector.types.pojo.ArrowType.Duration(
              org.apache.arrow.vector.types.TimeUnit.MICROSECOND)), alloc)
        out.allocateNew(n)
        val toMicros: Long => Long = src.getUnit match {
          case org.apache.arrow.vector.types.TimeUnit.SECOND => _ * 1000000L
          case org.apache.arrow.vector.types.TimeUnit.MILLISECOND => _ * 1000L
          case org.apache.arrow.vector.types.TimeUnit.MICROSECOND => identity
          // floorDiv, matching the nanosecond TimeStampVector path —
          // `/ 1000L` truncates toward zero, so negative durations
          // would round the opposite way to positive ones by 1 µs
          case org.apache.arrow.vector.types.TimeUnit.NANOSECOND => Math.floorDiv(_, 1000L)
        }
        var i = 0
        while (i < n) {
          if (!src.isNull(i))
            out.setSafe(i, toMicros(DurationVector.get(src.getDataBuffer, i)))
          i += 1
        }
        out.setValueCount(n); out
      case src: org.apache.arrow.vector.complex.UnionVector =>
        unionToStruct(src, declared, alloc, i => src.getTypeValue(i), i => i)
      case src: org.apache.arrow.vector.complex.DenseUnionVector =>
        unionToStruct(src, declared, alloc, i => src.getTypeId(i).toInt, i => src.getOffset(i))
      case other =>
        throw new UnsupportedOperationException(s"widen: ${other.getClass}")
    }
  }

  /** Widen a union vector (sparse or dense) to a struct of its member
    * fields: per row the active member's value is copied into the
    * matching struct child, the other children stay null (reference:
    * format/Schema.fbs Union, cpp/src/arrow/type.h UnionType —
    * documented divergence: Spark has no union type, so this is the
    * closest faithful reading).
    */
  private def unionToStruct(src: FieldVector, declared: Field, alloc: BufferAllocator,
                            typeIdAt: Int => Int,
                            srcIndexAt: Int => Int): FieldVector = {
    import org.apache.arrow.vector.complex.StructVector
    import org.apache.arrow.vector.types.pojo.{ArrowType, FieldType}
    val unionType = declared.getType.asInstanceOf[ArrowType.Union]
    val memberFields = declared.getChildren.asScala.toSeq
    // typeIds[ordinal] = the type id tag stored in the type buffer
    val ordinalOfTypeId: Map[Int, Int] =
      unionType.getTypeIds.zipWithIndex.map { case (tid, ord) => tid -> ord }.toMap
    val structField = new Field(declared.getName,
      FieldType.nullable(ArrowType.Struct.INSTANCE),
      memberFields.map(f =>
        new Field(f.getName, new FieldType(true, f.getType, f.getDictionary),
          f.getChildren)).asJava)
    val out = structField.createVector(alloc).asInstanceOf[StructVector]
    out.allocateNew()
    // member vectors are in declared order
    val srcOfOrdinal = src.getChildrenFromFields.asScala.toIndexedSeq
    val outChildren = memberFields.indices.map(out.getChildByOrdinal)
    val n = src.getValueCount
    var i = 0
    while (i < n) {
      val ord = ordinalOfTypeId(typeIdAt(i))
      out.setIndexDefined(i)
      outChildren(ord).copyFromSafe(srcIndexAt(i), i, srcOfOrdinal(ord))
      i += 1
    }
    outChildren.foreach(_.setValueCount(n))
    out.setValueCount(n)
    out
  }

  /** Copy a fixed-size-list vector into an equivalent variable list. */
  def fslToList(fsl: org.apache.arrow.vector.complex.FixedSizeListVector,
                alloc: BufferAllocator): FieldVector = {
    import org.apache.arrow.vector.complex.ListVector
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val elemField = fsl.getField.getChildren.get(0)
    val listField = new Field(fsl.getField.getName,
      FieldType.nullable(ArrowType.List.INSTANCE), List(elemField).asJava)
    val list = listField.createVector(alloc).asInstanceOf[ListVector]
    list.allocateNew()
    val size = fsl.getListSize
    val from = fsl.getDataVector
    val to = list.getDataVector
    var childIdx = 0
    var i = 0
    while (i < fsl.getValueCount) {
      if (fsl.isNull(i)) list.setNull(i)
      else {
        list.startNewValue(i)
        var j = 0
        while (j < size) {
          to.copyFromSafe(i * size + j, childIdx, from)
          childIdx += 1
          j += 1
        }
        list.endValue(i, size)
      }
      i += 1
    }
    to.setValueCount(childIdx)
    list.setValueCount(fsl.getValueCount)
    list
  }

  /** Copy a large-list (i64 offsets) vector into a variable list —
    * Spark's ArrowColumnVector only has a ListVector accessor. A
    * single in-JVM batch holds < 2^31 child elements by construction;
    * an external batch beyond that fails loudly instead of wrapping.
    */
  def largeListToList(src: org.apache.arrow.vector.complex.LargeListVector,
                      alloc: BufferAllocator): FieldVector = {
    import org.apache.arrow.vector.complex.ListVector
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val elemField = src.getField.getChildren.get(0)
    val listField = new Field(src.getField.getName,
      FieldType.nullable(ArrowType.List.INSTANCE), List(elemField).asJava)
    val list = listField.createVector(alloc).asInstanceOf[ListVector]
    list.allocateNew()
    val from = src.getDataVector
    val to = list.getDataVector
    var childIdx = 0
    var i = 0
    while (i < src.getValueCount) {
      if (src.isNull(i)) list.setNull(i)
      else {
        val start = src.getOffsetBuffer.getLong(i * 8L)
        val end = src.getOffsetBuffer.getLong((i + 1) * 8L)
        require(start >= 0 && end >= start && end <= Int.MaxValue,
          s"large_list batch with ${end} child elements exceeds the " +
            "2^31 per-batch limit of the list reader")
        list.startNewValue(i)
        var j = start.toInt
        while (j < end) {
          to.copyFromSafe(j, childIdx, from)
          childIdx += 1
          j += 1
        }
        list.endValue(i, (end - start).toInt)
      }
      i += 1
    }
    to.setValueCount(childIdx)
    list.setValueCount(src.getValueCount)
    list
  }
}
