package graft.sources.json

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.{JsonReadFeature, JsonWriteFeature}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, ObjectNode}
import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector.dictionary.Dictionary
import org.apache.arrow.vector.ipc.{ArrowReader, JsonFileReader}
import org.apache.arrow.vector.types.{Types, UnionMode}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.sources.CategoryColumns
import graft.sources.arrow.{ArrowDictWriter, HadoopFiles, IncrementalArrowWriter, IpcColumn}

/** Arrow **JSON integration format** (reference: cpp/src/arrow/ipc/
  * json.h, json-internal.cc) — the human-readable test-harness
  * representation: one document `{"schema": {...}, "dictionaries":
  * [...], "batches": [{"count", "columns": [{"name","count",
  * "VALIDITY","OFFSET","DATA","children"}]}]}`.
  *
  * Both directions run through Arrow Java's own codec. Writing emits
  * one document per partition through [[IncrementalArrowWriter]]'s
  * JSON output (`JsonFileWriter`): binary values are lower-case hex,
  * decimals unscaled integer strings, and a category column's codes
  * index its sorted vocabulary. Reading goes through the same
  * `format("arrow")` source as IPC and feather files (sniffed by the
  * leading `{`): [[ArrowJsonReader]] feeds `JsonFileReader` and the
  * scan decodes and widens like an IPC read. A verbose debug/interop
  * format — not a scale path, and not meant to be one.
  */
object ArrowJsonIntegration {

  /** Write one document to `path` from a row iterator, `batchRows`
    * rows per batch; `layout` dictionary-encodes columns. Arrow Java
    * writes only local files, so the document is built in a local
    * temp file and copied to `path`. Returns the rows written.
    */
  def writeFile(path: String, schema: StructType, rows: Iterator[InternalRow],
                layout: Map[String, IpcColumn], batchRows: Int = 4096,
                conf: Configuration = HadoopFiles.local): Long = {
    val local = java.io.File.createTempFile("graft-arrow", ".json")
    try {
      val n = IncrementalArrowWriter.writeAll(
        IncrementalArrowWriter.json(local, schema, batchRows, layout), rows)
      HadoopFiles.copyFromLocal(local, path, conf)
      n
    } finally local.delete()
  }

  /** Distributed write: one integration document per partition under
    * `dir`, readable back via `spark.read.format("arrow")`. Each
    * `categories` column is dictionary-encoded against its vocabulary.
    */
  def write(df: DataFrame, dir: String, categories: Set[String] = Set.empty): Unit = {
    val schema = df.schema
    val layout = CategoryColumns.dictionaries(df, categories.toSeq, "json integration",
      ArrowDictWriter.DefaultMaxVocab)
    val bc = df.sparkSession.sparkContext.broadcast(layout)
    HadoopFiles.writeStaged(df, dir, "arrow.json")(
      (path, rows, conf) => writeFile(path, schema, rows, bc.value, conf = conf))
  }

  // Arrow Java writes non-finite floats as bare NaN/Infinity tokens
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  /** Parse the document at `path` into a local temp file that
    * `JsonFileReader` accepts, keeping what graft's reader has always
    * accepted and rejected:
    *  - a document without a schema, a dictionary id that the
    *    dictionaries section lacks, and a sparse union whose members
    *    share an arrow type (the vector addresses members by type, so
    *    they would merge) all fail with a message;
    *  - utf8/binary columns that carry only `DATA` get their `OFFSET`;
    *  - quoted non-finite floats (`"NaN"`, `"-Infinity"`) become
    *    numbers;
    *  - the dictionaries section moves ahead of the batches, and
    *    union modes take Arrow Java's spelling.
    * The caller deletes the file.
    */
  private[json] def normalised(path: String, conf: Configuration): java.io.File = {
    val doc = {
      val in = HadoopFiles.fs(path, conf).open(new org.apache.hadoop.fs.Path(path))
      try mapper.readTree(in) finally in.close()
    }
    require(doc.isObject && doc.path("schema").has("fields"),
      s"$path: not an Arrow JSON integration document (no schema)")
    // the reference spells union modes SPARSE/DENSE, Arrow Java Sparse/Dense
    def unionModes(field: JsonNode): Unit = {
      field.path("type") match {
        case t: ObjectNode if t.path("name").asText() == "union" =>
          t.put("mode", t.path("mode").asText().toLowerCase(java.util.Locale.ROOT).capitalize)
        case _ => ()
      }
      field.path("children").elements().asScala.foreach(unionModes)
    }
    doc.path("schema").path("fields").elements().asScala.foreach(unionModes)
    val fields = mapper.treeToValue(doc.get("schema"), classOf[ArrowSchema]).getFields.asScala
    val dictionaries = doc.path("dictionaries").elements().asScala
      .map(d => d.get("id").asLong() -> d).toMap
    // dictionary id -> the field its dictionary batch holds the values of
    val dictValues = scala.collection.mutable.Map.empty[Long, Field]
    def check(f: Field): Unit = {
      Option(f.getDictionary).foreach { d =>
        require(dictionaries.contains(d.getId),
          s"$path: column ${f.getName} references dictionary ${d.getId}, " +
            "absent from the document's dictionaries section")
        dictValues(d.getId) = new Field(f.getName,
          new FieldType(f.isNullable, f.getType, null), f.getChildren)
      }
      f.getType match {
        case u: ArrowType.Union if u.getMode == UnionMode.Sparse =>
          val members = f.getChildren.asScala.map(c => Types.getMinorTypeForArrowType(c.getType))
          require(members.distinct.length == members.length,
            s"$path: sparse union ${f.getName} members need distinct arrow types, " +
              s"got ${members.mkString(",")}")
        case _ => ()
      }
      f.getChildren.asScala.foreach(check)
    }
    fields.foreach(check)
    def fix(f: Field, col: JsonNode): Unit = col match {
      case c: ObjectNode =>
        if (f.getDictionary == null) fixBuffers(f.getType, c)
        f.getChildren.asScala.zip(c.path("children").elements().asScala).foreach {
          case (cf, cc) => fix(cf, cc)
        }
      case _ => ()
    }
    dictValues.foreach { case (id, f) =>
      dictionaries(id).path("data").path("columns").elements().asScala.foreach(fix(f, _))
    }
    doc.path("batches").elements().asScala.foreach(b =>
      fields.zip(b.path("columns").elements().asScala).foreach { case (f, c) => fix(f, c) })
    // JsonFileReader takes the sections in this order only
    val ordered = mapper.createObjectNode()
    Seq("schema", "dictionaries", "batches").foreach(k =>
      Option(doc.get(k)).foreach(ordered.set[JsonNode](k, _)))
    val local = java.io.File.createTempFile("graft-arrow", ".json")
    try mapper.writeValue(local, ordered)
    catch { case t: Throwable => local.delete(); throw t }
    local
  }

  private def fixBuffers(t: ArrowType, col: ObjectNode): Unit = (t, col.get("DATA")) match {
    case (_: ArrowType.FloatingPoint, data: ArrayNode) =>
      (0 until data.size()).foreach { i =>
        if (data.get(i).isTextual)
          data.set(i, DoubleNode.valueOf(java.lang.Double.parseDouble(data.get(i).asText())))
      }
    case (_: ArrowType.Utf8 | _: ArrowType.Binary, data: ArrayNode) if !col.has("OFFSET") =>
      val length: JsonNode => Int =
        if (t.isInstanceOf[ArrowType.Utf8]) _.asText().getBytes("UTF-8").length
        else _.asText().length / 2
      val offsets = mapper.createArrayNode()
      data.elements().asScala.map(length).scanLeft(0)(_ + _).foreach(offsets.add(_))
      // OFFSET precedes DATA in the column's buffer order
      val entries = col.properties().asScala.toList.map(e => e.getKey -> e.getValue)
      col.removeAll()
      entries.foreach { case (k, v) =>
        if (k == "DATA") col.set[JsonNode]("OFFSET", offsets)
        col.set[JsonNode](k, v)
      }
    case _ => ()
  }
}

/** Reader for one integration-format document, pluggable wherever an
  * arrow-java `ArrowReader` goes (the graft source's columnar scan):
  * Arrow Java's `JsonFileReader` over the
  * [[ArrowJsonIntegration.normalised]] copy of the document, which it
  * deletes on close. Dictionaries come from the `JsonFileReader`.
  */
class ArrowJsonReader(path: String, alloc: BufferAllocator,
                      conf: Configuration = HadoopFiles.local)
    extends ArrowReader(alloc) {
  private val local = ArrowJsonIntegration.normalised(path, conf)
  // started here, so a document that fails to start leaves no file
  private val (json, schema) =
    try { val r = new JsonFileReader(local, alloc); (r, r.start()) }
    catch { case t: Throwable => local.delete(); throw t }

  override protected def readSchema(): ArrowSchema = schema

  override def loadNextBatch(): Boolean = {
    ensureInitialized()
    json.read(getVectorSchemaRoot)
  }

  override def lookup(id: Long): Dictionary = {
    ensureInitialized()
    json.lookup(id)
  }

  override def bytesRead(): Long = local.length()

  override protected def closeReadSource(): Unit =
    try json.close() finally local.delete()
}
