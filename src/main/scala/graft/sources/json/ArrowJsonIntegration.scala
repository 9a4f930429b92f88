package graft.sources.json

import java.math.BigInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.ipc.ArrowReader
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ATimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import graft.sources.arrow.HadoopFiles

/** Arrow **JSON integration format** (reference: cpp/src/arrow/ipc/
  * json.h, json-internal.cc) — the human-readable test-harness
  * representation: one document `{"schema": {...}, "batches":
  * [{"count", "columns": [{"name","count","VALIDITY","DATA"/"OFFSET",
  *  "children"}]}]}` with binary values hex-encoded and decimals as
  * unscaled integer strings.
  *
  * Reading goes through the same `format("arrow")` source as IPC and
  * feather files (sniffed by the leading `{`); writing emits one
  * document per partition. A verbose debug/interop format — not a
  * scale path, and not meant to be one.
  */
object ArrowJsonIntegration {

  /** Field-metadata key carrying a sparse union's document-declared
    * TYPE_ID tags (the vector itself stores MinorType ordinals).
    */
  private[json] val DeclaredTagsKey = "graft.json.typeIds"
  private[json] val DictIdKey = "graft.json.dictId"

  private val HEX = "0123456789ABCDEF".toCharArray

  private[json] def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach { b => sb.append(HEX(b >> 4 & 0xF)).append(HEX(b & 0xF)) }
    sb.toString
  }

  private[json] def unhex(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((Character.digit(s.charAt(2 * i), 16) << 4)
        | Character.digit(s.charAt(2 * i + 1), 16)).toByte
      i += 1
    }
    out
  }

  // ------------------------------------------------------------------- write

  private def writeTypeJson(gen: com.fasterxml.jackson.core.JsonGenerator,
                            dt: DataType): Unit = {
    gen.writeObjectFieldStart("type")
    dt match {
      case NullType => gen.writeStringField("name", "null")
      case BooleanType => gen.writeStringField("name", "bool")
      case ByteType | ShortType | IntegerType | LongType =>
        gen.writeStringField("name", "int")
        gen.writeNumberField("bitWidth", dt.defaultSize * 8)
        gen.writeBooleanField("isSigned", true)
      case FloatType =>
        gen.writeStringField("name", "floatingpoint")
        gen.writeStringField("precision", "SINGLE")
      case DoubleType =>
        gen.writeStringField("name", "floatingpoint")
        gen.writeStringField("precision", "DOUBLE")
      case StringType => gen.writeStringField("name", "utf8")
      case BinaryType => gen.writeStringField("name", "binary")
      case d: DecimalType =>
        gen.writeStringField("name", "decimal")
        gen.writeNumberField("precision", d.precision)
        gen.writeNumberField("scale", d.scale)
      case DateType =>
        gen.writeStringField("name", "date")
        gen.writeStringField("unit", "DAY")
      case TimestampType =>
        gen.writeStringField("name", "timestamp")
        gen.writeStringField("unit", "MICROSECOND")
        gen.writeStringField("timezone", "UTC")
      case TimestampNTZType =>
        gen.writeStringField("name", "timestamp")
        gen.writeStringField("unit", "MICROSECOND")
      case _: TimeType =>
        gen.writeStringField("name", "time")
        gen.writeStringField("unit", "MICROSECOND")
        gen.writeNumberField("bitWidth", 64)
      case _: ArrayType => gen.writeStringField("name", "list")
      case _: StructType => gen.writeStringField("name", "struct")
      case other => throw new UnsupportedOperationException(
        s"arrow json integration writer: $other")
    }
    gen.writeEndObject()
  }

  private def writeFieldJson(gen: com.fasterxml.jackson.core.JsonGenerator,
                             name: String, dt: DataType, nullable: Boolean,
                             dictId: Option[Long] = None): Unit = {
    gen.writeStartObject()
    gen.writeStringField("name", name)
    gen.writeBooleanField("nullable", nullable)
    writeTypeJson(gen, dt)
    gen.writeArrayFieldStart("children")
    dt match {
      case ArrayType(elem, cn) => writeFieldJson(gen, "item", elem, cn)
      case StructType(fields) =>
        fields.foreach(f => writeFieldJson(gen, f.name, f.dataType, f.nullable))
      case _ => ()
    }
    gen.writeEndArray()
    // dictionary-encoded field: "type" stays the VALUE type, the
    // encoding is declared here (reference json-internal.cc:96–123)
    dictId.foreach { id =>
      gen.writeObjectFieldStart("dictionary")
      gen.writeNumberField("id", id)
      gen.writeObjectFieldStart("indexType")
      gen.writeStringField("name", "int")
      gen.writeNumberField("bitWidth", 32)
      gen.writeBooleanField("isSigned", true)
      gen.writeEndObject()
      gen.writeBooleanField("isOrdered", false)
      gen.writeEndObject()
    }
    gen.writeEndObject()
  }

  /** Indices column of a dictionary-encoded string field: codes are
    * assigned first-occurrence through `vocab`, which accumulates
    * across the file's batches (the dictionaries section is written
    * after the last batch, once the vocabulary is final).
    */
  private def writeDictIndicesJson(gen: com.fasterxml.jackson.core.JsonGenerator,
                                   name: String,
                                   values: IndexedSeq[Option[(SpecializedGetters, Int)]],
                                   vocab: scala.collection.mutable.LinkedHashMap[String, Int])
      : Unit = {
    val defined = values.map(v => v.exists { case (g, o) => !g.isNullAt(o) })
    gen.writeStartObject()
    gen.writeStringField("name", name)
    gen.writeNumberField("count", values.length)
    gen.writeArrayFieldStart("VALIDITY")
    defined.foreach(d => gen.writeNumber(if (d) 1 else 0))
    gen.writeEndArray()
    gen.writeArrayFieldStart("DATA")
    values.indices.foreach { i =>
      if (defined(i)) {
        val (g, o) = values(i).get
        val s = g.getUTF8String(o).toString
        gen.writeNumber(vocab.getOrElseUpdate(s, vocab.size))
      } else gen.writeNumber(0)
    }
    gen.writeEndArray()
    gen.writeEndObject()
  }

  /** One column of one batch. `values` carries a slot per row:
    * None = the parent was already null at this row.
    */
  private def writeColumnJson(gen: com.fasterxml.jackson.core.JsonGenerator,
                              name: String, dt: DataType,
                              values: IndexedSeq[Option[(SpecializedGetters, Int)]])
      : Unit = {
    val defined: IndexedSeq[Boolean] =
      values.map(v => v.exists { case (g, o) => !g.isNullAt(o) })
    gen.writeStartObject()
    gen.writeStringField("name", name)
    gen.writeNumberField("count", values.length)
    gen.writeArrayFieldStart("VALIDITY")
    defined.foreach(d => gen.writeNumber(if (d) 1 else 0))
    gen.writeEndArray()
    dt match {
      case NullType => ()
      case BooleanType =>
        gen.writeArrayFieldStart("DATA")
        values.indices.foreach { i =>
          gen.writeBoolean(defined(i) && values(i).exists { case (g, o) => g.getBoolean(o) })
        }
        gen.writeEndArray()
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | _: TimeType =>
        gen.writeArrayFieldStart("DATA")
        values.indices.foreach { i =>
          val v: Long = if (!defined(i)) 0L else {
            val (g, o) = values(i).get
            dt match {
              case ByteType => g.getByte(o).toLong
              case ShortType => g.getShort(o).toLong
              case IntegerType | DateType => g.getInt(o).toLong
              case _: TimeType => g.getLong(o) / 1000L // nanos → µs
              case _ => g.getLong(o)
            }
          }
          gen.writeNumber(v)
        }
        gen.writeEndArray()
      case FloatType | DoubleType =>
        gen.writeArrayFieldStart("DATA")
        values.indices.foreach { i =>
          val v: Double = if (!defined(i)) 0.0 else {
            val (g, o) = values(i).get
            if (dt == FloatType) g.getFloat(o).toDouble else g.getDouble(o)
          }
          gen.writeNumber(v)
        }
        gen.writeEndArray()
      case d: DecimalType =>
        gen.writeArrayFieldStart("DATA")
        values.indices.foreach { i =>
          val s = if (!defined(i)) "0" else {
            val (g, o) = values(i).get
            g.getDecimal(o, d.precision, d.scale).toJavaBigDecimal
              .unscaledValue.toString
          }
          gen.writeString(s)
        }
        gen.writeEndArray()
      case StringType | BinaryType =>
        val bytes: IndexedSeq[Array[Byte]] = values.indices.map { i =>
          if (!defined(i)) Array.emptyByteArray else {
            val (g, o) = values(i).get
            if (dt == StringType) g.getUTF8String(o).getBytes else g.getBinary(o)
          }
        }
        gen.writeArrayFieldStart("OFFSET")
        var off = 0
        gen.writeNumber(0)
        bytes.foreach { b => off += b.length; gen.writeNumber(off) }
        gen.writeEndArray()
        gen.writeArrayFieldStart("DATA")
        values.indices.foreach { i =>
          if (dt == StringType) gen.writeString(new String(bytes(i), "UTF-8"))
          else gen.writeString(hex(bytes(i)))
        }
        gen.writeEndArray()
      case ArrayType(elem, _) =>
        gen.writeArrayFieldStart("OFFSET")
        var off = 0
        gen.writeNumber(0)
        val elems = IndexedSeq.newBuilder[Option[(SpecializedGetters, Int)]]
        values.indices.foreach { i =>
          if (defined(i)) {
            val (g, o) = values(i).get
            val arr = g.getArray(o)
            (0 until arr.numElements()).foreach(j => elems += Some((arr, j)))
            off += arr.numElements()
          }
          gen.writeNumber(off)
        }
        gen.writeEndArray()
        gen.writeArrayFieldStart("children")
        writeColumnJson(gen, "item", elem, elems.result())
        gen.writeEndArray()
      case StructType(fields) =>
        val rows: IndexedSeq[Option[InternalRow]] = values.indices.map { i =>
          if (defined(i)) {
            val (g, o) = values(i).get
            Some(g.getStruct(o, fields.length))
          } else None
        }
        gen.writeArrayFieldStart("children")
        fields.zipWithIndex.foreach { case (f, j) =>
          writeColumnJson(gen, f.name, f.dataType,
            rows.map(_.map(r => (r: SpecializedGetters, j))))
        }
        gen.writeEndArray()
      case other => throw new UnsupportedOperationException(
        s"arrow json integration writer: $other")
    }
    gen.writeEndObject()
  }

  /** Write one integration-format document from a row iterator,
    * batching rows so memory stays bounded by the batch size.
    */
  def writeFile(path: String, schema: StructType, rows: Iterator[InternalRow],
                batchRows: Int = 4096,
                conf: Configuration = HadoopFiles.local,
                categories: Set[String] = Set.empty): Long = {
    validateCategories(schema, categories)
    // stable per-file dict ids in field order; vocabularies accumulate
    // first-occurrence codes across batches
    val dictIds: Map[String, Long] = schema.fieldNames.toIndexedSeq
      .filter(categories.contains).zipWithIndex
      .map { case (n, i) => n -> i.toLong }.toMap
    val vocabs = dictIds.map { case (n, _) =>
      n -> scala.collection.mutable.LinkedHashMap.empty[String, Int] }
    val out = HadoopFiles.fs(path, conf).create(new org.apache.hadoop.fs.Path(path), true)
    val gen = new JsonFactory().createGenerator(out: java.io.OutputStream)
    var total = 0L
    try {
      gen.writeStartObject()
      gen.writeObjectFieldStart("schema")
      gen.writeArrayFieldStart("fields")
      schema.fields.foreach(f =>
        writeFieldJson(gen, f.name, f.dataType, f.nullable, dictIds.get(f.name)))
      gen.writeEndArray()
      gen.writeEndObject()
      gen.writeArrayFieldStart("batches")
      while (rows.hasNext) {
        val batch = new scala.collection.mutable.ArrayBuffer[InternalRow](batchRows)
        while (batch.length < batchRows && rows.hasNext) batch += rows.next().copy()
        gen.writeStartObject()
        gen.writeNumberField("count", batch.length)
        gen.writeArrayFieldStart("columns")
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          val slots = batch.indices.map(r => Some((batch(r): SpecializedGetters, i))
            : Option[(SpecializedGetters, Int)])
          if (dictIds.contains(f.name))
            writeDictIndicesJson(gen, f.name, slots, vocabs(f.name))
          else writeColumnJson(gen, f.name, f.dataType, slots)
        }
        gen.writeEndArray()
        gen.writeEndObject()
        total += batch.length
      }
      gen.writeEndArray()
      if (dictIds.nonEmpty) {
        gen.writeArrayFieldStart("dictionaries")
        dictIds.toSeq.sortBy(_._2).foreach { case (name, id) =>
          val levels = vocabs(name).keys.toIndexedSeq
          gen.writeStartObject()
          gen.writeNumberField("id", id)
          gen.writeObjectFieldStart("data")
          gen.writeNumberField("count", levels.length)
          gen.writeArrayFieldStart("columns")
          gen.writeStartObject()
          gen.writeStringField("name", name)
          gen.writeNumberField("count", levels.length)
          gen.writeArrayFieldStart("VALIDITY")
          levels.foreach(_ => gen.writeNumber(1))
          gen.writeEndArray()
          gen.writeArrayFieldStart("OFFSET")
          var off = 0
          gen.writeNumber(0)
          levels.foreach { s => off += s.getBytes("UTF-8").length; gen.writeNumber(off) }
          gen.writeEndArray()
          gen.writeArrayFieldStart("DATA")
          levels.foreach(gen.writeString)
          gen.writeEndArray()
          gen.writeEndObject()
          gen.writeEndArray()
          gen.writeEndObject()
          gen.writeEndObject()
        }
        gen.writeEndArray()
      }
      gen.writeEndObject()
      total
    } finally { gen.close(); out.close() }
  }

  /** Driver-side category validation: fail before any task launches. */
  private def validateCategories(schema: StructType, categories: Set[String]): Unit =
    graft.sources.CategoryColumns.validate(schema, categories, "json integration")

  /** Distributed write: one integration document per partition under
    * `dir`, readable back via `spark.read.format("arrow")`.
    */
  def write(df: org.apache.spark.sql.DataFrame, dir: String,
            categories: Set[String] = Set.empty): Unit = {
    val schema = df.schema
    validateCategories(schema, categories)
    HadoopFiles.writeStaged(df, dir, "arrow.json")(
      (path, rows, conf) => writeFile(path, schema, rows, conf = conf, categories = categories))
  }

  // -------------------------------------------------------------------- read

  private[json] def jsonToArrowField(f: JsonNode): Field = {
    val name = f.get("name").asText()
    val nullable = f.get("nullable") == null || f.get("nullable").asBoolean(true)
    val t = f.get("type")
    val children: Seq[Field] =
      Option(f.get("children")).map(_.elements().asScala.toSeq.map(jsonToArrowField))
        .getOrElse(Seq.empty)
    def unit(dflt: String): ATimeUnit =
      ATimeUnit.valueOf(Option(t.get("unit")).map(_.asText()).getOrElse(dflt))
    val at: ArrowType = t.get("name").asText() match {
      case "null" => ArrowType.Null.INSTANCE
      case "bool" => ArrowType.Bool.INSTANCE
      case "int" => new ArrowType.Int(t.get("bitWidth").asInt(),
        t.get("isSigned") == null || t.get("isSigned").asBoolean())
      case "floatingpoint" =>
        new ArrowType.FloatingPoint(
          FloatingPointPrecision.valueOf(t.get("precision").asText()))
      case "utf8" => ArrowType.Utf8.INSTANCE
      case "binary" => ArrowType.Binary.INSTANCE
      case "fixedsizebinary" =>
        new ArrowType.FixedSizeBinary(t.get("byteWidth").asInt())
      case "decimal" =>
        new ArrowType.Decimal(t.get("precision").asInt(), t.get("scale").asInt(), 128)
      case "date" =>
        new ArrowType.Date(if (t.get("unit").asText() == "DAY") DateUnit.DAY
          else DateUnit.MILLISECOND)
      case "time" =>
        new ArrowType.Time(unit("MILLISECOND"),
          Option(t.get("bitWidth")).map(_.asInt()).getOrElse(32))
      case "timestamp" =>
        new ArrowType.Timestamp(unit("SECOND"),
          Option(t.get("timezone")).map(_.asText()).orNull)
      case "list" => ArrowType.List.INSTANCE
      case "struct" => ArrowType.Struct.INSTANCE
      case "union" =>
        val sparse = t.get("mode").asText().equalsIgnoreCase("SPARSE")
        val declared = Option(t.get("typeIds"))
          .map(a => (0 until a.size()).map(a.get(_).asInt()).toArray)
          .getOrElse(children.indices.toArray)
        if (sparse)
          // sparse union vectors resolve members by MinorType ordinal
          // (setType/getVectorByType), so the in-memory field carries
          // ordinals; the document's declared tags ride along in field
          // metadata for the batch filler to translate TYPE_ID values
          new ArrowType.Union(org.apache.arrow.vector.types.UnionMode.Sparse,
            children.map(c => org.apache.arrow.vector.types.Types
              .getMinorTypeForArrowType(c.getType).ordinal).toArray)
        else
          new ArrowType.Union(org.apache.arrow.vector.types.UnionMode.Dense, declared)
      case other => throw new UnsupportedOperationException(
        s"arrow json integration reader: type $other")
    }
    val metadata = new java.util.HashMap[String, String]()
    if (at.isInstanceOf[ArrowType.Union] &&
        at.asInstanceOf[ArrowType.Union].getMode ==
          org.apache.arrow.vector.types.UnionMode.Sparse) {
      val declared = Option(t.get("typeIds"))
        .map(a => (0 until a.size()).map(a.get(_).asInt()))
        .getOrElse(children.indices)
      metadata.put(DeclaredTagsKey, declared.mkString(","))
    }
    // a dictionary-encoded field declares its VALUE type in "type" and
    // the encoding in "dictionary" (reference json-internal.cc:96–123);
    // the scan decodes through the dictionary, so the in-memory field
    // is the value type, tagged with the dictionary id for the filler
    Option(f.get("dictionary")).foreach { d =>
      metadata.put(DictIdKey, d.get("id").asLong().toString)
    }
    new Field(name,
      new FieldType(nullable, at, null,
        if (metadata.isEmpty) null else metadata), children.asJava)
  }

  /** Fill `v` from one column node; returns the row count. */
  /** Fill `v` from one column node; returns the row count. `dicts`
    * carries the document's dictionary batches so dictionary-encoded
    * fields decode at ANY nesting depth (a struct/list/union child
    * tagged with a dictionary id decodes through its dictionary the
    * same way a top-level column does).
    */
  private[json] def fillVector(v: FieldVector, col: JsonNode,
                               dicts: Map[Long, JsonNode] = Map.empty): Int = {
    Option(v.getField.getMetadata.get(DictIdKey)).map(_.toLong) match {
      case Some(id) if dicts.contains(id) =>
        return fillDictDecoded(v, col, dicts(id), dicts)
      case Some(id) =>
        throw new IllegalArgumentException(
          s"column ${v.getField.getName} references dictionary $id, " +
            "absent from the document's dictionaries section")
      case None => ()
    }
    val n = col.get("count").asInt()
    val validity = Option(col.get("VALIDITY"))
      .map(a => (0 until n).map(i => a.get(i).asInt() != 0))
      .getOrElse((0 until n).map(_ => true))
    def data: JsonNode = col.get("DATA")
    v match {
      case nv: NullVector =>
        nv.setValueCount(n)
      case bv: BitVector =>
        bv.allocateNew(n)
        (0 until n).foreach { i =>
          if (validity(i)) {
            val d = data.get(i)
            bv.setSafe(i, if (d.isBoolean && d.asBoolean() || d.isNumber && d.asInt() != 0) 1 else 0)
          }
        }
        bv.setValueCount(n)
      case dv: DecimalVector =>
        dv.allocateNew(n)
        (0 until n).foreach { i =>
          if (validity(i)) dv.setSafe(i,
            new java.math.BigDecimal(new BigInteger(data.get(i).asText()), dv.getScale))
        }
        dv.setValueCount(n)
      case sv: VarCharVector =>
        sv.allocateNew()
        (0 until n).foreach { i =>
          if (validity(i)) sv.setSafe(i, data.get(i).asText().getBytes("UTF-8"))
        }
        sv.setValueCount(n)
      case bv: VarBinaryVector =>
        bv.allocateNew()
        (0 until n).foreach { i =>
          if (validity(i)) bv.setSafe(i, unhex(data.get(i).asText()))
        }
        bv.setValueCount(n)
      case fv: FixedSizeBinaryVector =>
        fv.allocateNew(n)
        (0 until n).foreach { i =>
          if (validity(i)) fv.setSafe(i, unhex(data.get(i).asText()))
        }
        fv.setValueCount(n)
      case fv: Float4Vector =>
        fv.allocateNew(n)
        (0 until n).foreach { i =>
          if (validity(i)) fv.setSafe(i, data.get(i).asDouble().toFloat)
        }
        fv.setValueCount(n)
      case fv: Float8Vector =>
        fv.allocateNew(n)
        (0 until n).foreach { i =>
          if (validity(i)) fv.setSafe(i, data.get(i).asDouble())
        }
        fv.setValueCount(n)
      case lv: ListVector =>
        val offsets = col.get("OFFSET")
        lv.allocateNew()
        while (lv.getValueCapacity < n) lv.reAlloc()
        val child = col.get("children").get(0)
        fillVector(lv.getDataVector, child, dicts)
        (0 to n).foreach(i => lv.getOffsetBuffer.setInt(i * 4L, offsets.get(i).asInt()))
        (0 until n).foreach { i =>
          if (validity(i)) BitVectorHelper.setBit(lv.getValidityBuffer, i)
        }
        // offsets are fully written above; without this, setValueCount
        // would re-fill them from lastSet = -1 (i.e. zero them out)
        lv.setLastSet(n - 1)
        lv.setValueCount(n)
      case sv: StructVector =>
        sv.allocateNew()
        val children = col.get("children")
        (0 until children.size()).foreach { j =>
          fillVector(sv.getChildByOrdinal(j).asInstanceOf[FieldVector],
            children.get(j), dicts)
        }
        (0 until n).foreach { i =>
          if (validity(i)) sv.setIndexDefined(i) else sv.setNull(i)
        }
        sv.setValueCount(n)
      case uv: org.apache.arrow.vector.complex.UnionVector =>
        // sparse union: full-length children + TYPE_ID tag per row;
        // the scan widens the loaded vector to a struct of members.
        // TYPE_ID values use the document's declared tags (kept in
        // field metadata); the vector stores MinorType ordinals.
        val typeIds = col.get("TYPE_ID")
        val children = col.get("children")
        val members = (0 until children.size()).map { j =>
          val child = uv.getChildrenFromFields.get(j)
          fillVector(child, children.get(j), dicts)
          child
        }
        // the vector addresses members by MinorType ordinal, so two
        // members of the same minor type (e.g. two utf8 children) would
        // silently collapse into one — mirror the writer's contract
        // (ArrowFieldWriters.scala:182) and reject the document instead
        val memberMinorTypes = members.map(_.getMinorType)
        require(memberMinorTypes.distinct.length == memberMinorTypes.length,
          "arrow json integration reader: sparse union members need " +
            s"distinct arrow types, got ${memberMinorTypes.mkString(",")}")
        val declared = Option(uv.getField.getMetadata.get(DeclaredTagsKey))
          .map(_.split(",").map(_.toInt).toSeq)
          .getOrElse(members.indices)
        val ordOfTag = declared.zipWithIndex.toMap
        (0 until n).foreach { i =>
          uv.setType(i, members(ordOfTag(typeIds.get(i).asInt())).getMinorType)
        }
        uv.setValueCount(n)
      case duv: org.apache.arrow.vector.complex.DenseUnionVector =>
        val typeIds = col.get("TYPE_ID")
        val offsets = col.get("OFFSET")
        val children = col.get("children")
        val tags = duv.getField.getType.asInstanceOf[ArrowType.Union].getTypeIds
        (0 until children.size()).foreach { j =>
          fillVector(duv.getVectorByType(tags(j).toByte).asInstanceOf[FieldVector],
            children.get(j), dicts)
        }
        (0 until n).foreach { i =>
          duv.setTypeId(i, typeIds.get(i).asInt().toByte)
          duv.setOffset(i, offsets.get(i).asInt())
        }
        duv.setValueCount(n)
      case fixed: BaseFixedWidthVector =>
        // every remaining fixed-width vector stores a long-readable
        // value: ints (all widths/signs), dates, times, timestamps
        fixed.allocateNew(n)
        val setter: (Int, Long) => Unit = fixed match {
          case x: TinyIntVector => (i, l) => x.setSafe(i, l.toInt)
          case x: SmallIntVector => (i, l) => x.setSafe(i, l.toInt)
          case x: IntVector => (i, l) => x.setSafe(i, l.toInt)
          case x: BigIntVector => (i, l) => x.setSafe(i, l)
          case x: UInt1Vector => (i, l) => x.setSafe(i, l.toInt)
          case x: UInt2Vector => (i, l) => x.setSafe(i, l.toInt)
          case x: UInt4Vector => (i, l) => x.setSafe(i, l.toInt)
          case x: UInt8Vector => (i, l) => x.setSafe(i, l)
          case x: DateDayVector => (i, l) => x.setSafe(i, l.toInt)
          case x: DateMilliVector => (i, l) => x.setSafe(i, l)
          case x: TimeSecVector => (i, l) => x.setSafe(i, l.toInt)
          case x: TimeMilliVector => (i, l) => x.setSafe(i, l.toInt)
          case x: TimeMicroVector => (i, l) => x.setSafe(i, l)
          case x: TimeNanoVector => (i, l) => x.setSafe(i, l)
          case x: TimeStampVector => (i, l) => x.setSafe(i, l)
          case other => throw new UnsupportedOperationException(
            s"arrow json integration reader: ${other.getClass.getSimpleName}")
        }
        (0 until n).foreach { i =>
          if (validity(i)) setter(i, data.get(i).asLong())
        }
        fixed.setValueCount(n)
      case other => throw new UnsupportedOperationException(
        s"arrow json integration reader: ${other.getClass.getSimpleName}")
    }
    n
  }

  /** Fill `v` (a value-typed vector) by decoding a dictionary-encoded
    * batch column: the column's DATA are indices into `values`. The
    * dictionary is materialized once into a scratch vector of the same
    * value type, then rows copy through by index.
    */
  private def fillDictDecoded(v: FieldVector, col: JsonNode, values: JsonNode,
                              dicts: Map[Long, JsonNode]): Int = {
    val n = col.get("count").asInt()
    val validity = Option(col.get("VALIDITY"))
      .map(a => (0 until n).map(i => a.get(i).asInt() != 0))
      .getOrElse((0 until n).map(_ => true))
    val indices = col.get("DATA")
    // the scratch values vector must NOT inherit the dictionary tag,
    // or its own fill would recurse into decoding forever
    val f = v.getField
    val cleanMeta = new java.util.HashMap[String, String](f.getMetadata)
    cleanMeta.remove(DictIdKey)
    val cleanField = new Field(f.getName,
      new FieldType(f.isNullable, f.getType, null,
        if (cleanMeta.isEmpty) null else cleanMeta),
      f.getChildren)
    val dict = cleanField.createVector(v.getAllocator)
    try {
      val dictLen = fillVector(dict, values, dicts)
      v.setInitialCapacity(n)
      v.allocateNew()
      (0 until n).foreach { i =>
        if (validity(i)) {
          val idx = indices.get(i).asInt()
          require(idx >= 0 && idx < dictLen,
            s"dictionary index $idx out of range [0, $dictLen) " +
              s"for column ${v.getField.getName}")
          v.copyFromSafe(idx, i, dict)
        }
      }
      v.setValueCount(n)
      n
    } finally dict.close()
  }
}

/** Reader for one integration-format document, pluggable wherever an
  * arrow-java `ArrowReader` goes (the graft source's columnar scan).
  * The document is parsed once; each `loadNextBatch` fills the root
  * from the next `batches` entry.
  */
class ArrowJsonReader(path: String, alloc: BufferAllocator,
                      conf: Configuration = HadoopFiles.local)
    extends ArrowReader(alloc) {
  import ArrowJsonIntegration._

  private val doc: JsonNode = {
    val in = HadoopFiles.fs(path, conf).open(new org.apache.hadoop.fs.Path(path))
    try new ObjectMapper().readTree(in) finally in.close()
  }
  // dictionary batches (reference json-internal.cc:96–123): id → the
  // value column of the dictionary's single record batch
  private val dictData: Map[Long, JsonNode] =
    Option(doc.get("dictionaries")).map { ds =>
      (0 until ds.size()).map(ds.get).map { d =>
        d.get("id").asLong() -> d.get("data").get("columns").get(0)
      }.toMap
    }.getOrElse(Map.empty)
  private val batches = Option(doc.get("batches"))
    .map(b => (0 until b.size()).map(b.get)).getOrElse(IndexedSeq.empty)
  private var next = 0
  private var readBytes = 0L

  override protected def readSchema(): ArrowSchema =
    new ArrowSchema(doc.get("schema").get("fields").elements().asScala.toSeq
      .map(ArrowJsonIntegration.jsonToArrowField).asJava)

  override def loadNextBatch(): Boolean = {
    ensureInitialized()
    if (next >= batches.length) return false
    val batch = batches(next)
    next += 1
    val root = getVectorSchemaRoot
    val cols = batch.get("columns")
    val byName = (0 until cols.size()).map(cols.get)
      .map(c => c.get("name").asText() -> c).toMap
    var n = batch.get("count").asInt()
    root.getSchema.getFields.asScala.zipWithIndex.foreach { case (f, i) =>
      val col = byName.getOrElse(f.getName,
        throw new IllegalArgumentException(s"$path: column ${f.getName} missing"))
      n = ArrowJsonIntegration.fillVector(root.getVector(i), col, dictData)
    }
    root.setRowCount(n)
    readBytes += 1 // nominal; the document is parsed wholesale up front
    true
  }

  override def bytesRead(): Long = readBytes

  override protected def closeReadSource(): Unit = ()
}
