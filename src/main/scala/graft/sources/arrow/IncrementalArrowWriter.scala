package graft.sources.arrow

import java.nio.channels.WritableByteChannel

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector.{FieldVector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.UnionVector
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter, JsonFileWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types.{StructField, StructType}

import graft.sources.ArrowTypes

/** How a column is laid out in the IPC batches: its plain arrow type,
  * int32 indices into a given string vocabulary (reference:
  * cpp/src/arrow/ipc/dictionary.h — the dictionary is declared in the
  * schema message and emitted ahead of the record batches), or a
  * sparse union of a struct's members (reference: format/Schema.fbs
  * Union).
  */
private[sources] sealed trait IpcColumn

private[sources] object IpcColumn {
  case object Plain extends IpcColumn
  final case class Dictionary(vocab: Array[String]) extends IpcColumn
  case object SparseUnion extends IpcColumn
}

/** The Arrow record-batch writer: rows accumulate into one
  * VectorSchemaRoot and flush as a record batch every `batchRows`, so
  * the writer never holds more than one batch — the batching contract
  * of the reference's RecordBatchWriter (reference:
  * cpp/src/arrow/ipc/writer.h:90). The IPC file and stream formats and
  * the JSON integration format (reference: cpp/src/arrow/ipc/json.h)
  * share the loop; only the output differs. Every Arrow producer in
  * graft (the `format("arrow")` sink, the dictionary and union dataset
  * writers, Plasma objects, JSON integration documents) writes through
  * this class.
  *
  * `layout` names the columns that are not written as their plain
  * type. The writer owns its output and closes it with `finish` or
  * `closeQuietly`.
  */
private[sources] class IncrementalArrowWriter private (
    target: IncrementalArrowWriter.Output, schema: StructType, batchRows: Int,
    layout: Map[String, IpcColumn]) {

  /** An IPC file (or, with `stream`, stream) writer on `ch`. */
  def this(ch: WritableByteChannel, schema: StructType, stream: Boolean,
           batchRows: Int = IncrementalArrowWriter.DefaultBatchRows,
           compression: Option[String] = None,
           layout: Map[String, IpcColumn] = Map.empty) =
    this(IncrementalArrowWriter.Ipc(ch, stream, compression), schema, batchRows, layout)

  private val alloc: BufferAllocator = ArrowIo.rootAllocator()
  private val provider = new DictionaryProvider.MapDictionaryProvider()
  private val columns: Seq[(FieldVector, AFWriter)] = schema.fields.toSeq.zipWithIndex.map {
    case (f, i) => layout.getOrElse(f.name, IpcColumn.Plain) match {
      case IpcColumn.Plain =>
        val v = ArrowTypes.toArrowField(f.name, f.dataType, f.nullable).createVector(alloc)
        (v, AFWriter(v, f.dataType))
      case IpcColumn.Dictionary(vocab) => dictionaryColumn(f, i, vocab)
      case IpcColumn.SparseUnion =>
        // the vector builds its own Field: sparse-union type tags are
        // MinorType ordinals (setType), and the generated field
        // carries exactly those typeIds
        val uv = UnionVector.empty(f.name, alloc)
        f.dataType.asInstanceOf[StructType].fields.foreach { m =>
          uv.addVector(ArrowTypes.toArrowField(m.name, m.dataType, nullable = true)
            .createVector(alloc).asInstanceOf[FieldVector])
        }
        (uv, AFWriter(uv, f.dataType))
    }
  }
  private val root = new VectorSchemaRoot(columns.map(_._1).asJava)
  private val writers = columns.map(_._2).toArray
  // `writeBatch` emits the root as one record batch; closing `output`
  // ends the document (IPC footer or end-of-stream marker, JSON
  // closing brackets)
  private val (writeBatch, output): (() => Unit, AutoCloseable) = target match {
    case IncrementalArrowWriter.Ipc(ch, stream, compression) =>
      // buffer-level compression (Message.fbs BodyCompression): readers
      // pass CommonsCompressionFactory and decompress transparently
      val w = compression.map(IncrementalArrowWriter.codec) match {
        case None =>
          if (stream) new ArrowStreamWriter(root, provider, ch)
          else new ArrowFileWriter(root, provider, ch)
        case Some(ct) =>
          val f = CommonsCompressionFactory.INSTANCE
          if (stream) new ArrowStreamWriter(root, provider, ch, IpcOption.DEFAULT, f, ct)
          else new ArrowFileWriter(root, provider, ch, null, IpcOption.DEFAULT, f, ct)
      }
      w.start()
      (() => w.writeBatch(), w)
    case IncrementalArrowWriter.Json(file) =>
      // the dictionaries section precedes the batches, so every
      // vocabulary is complete before the first row
      val w = new JsonFileWriter(file, JsonFileWriter.config().pretty(false))
      w.start(root.getSchema, provider)
      (() => w.write(root), w)
  }

  private var inBatch = 0
  private var total = 0L
  private var closed = false

  /** String column `i` as indices into `vocab` (dictionary id =
    * ordinal). Values absent from the vocabulary are rejected: the
    * vocabulary comes from an exact distinct pass, so a miss is writer
    * misuse.
    */
  private def dictionaryColumn(f: StructField, i: Int,
                               vocab: Array[String]): (FieldVector, AFWriter) = {
    val enc = new DictionaryEncoding(i.toLong, false, new ArrowType.Int(32, true))
    val dv = new VarCharVector(s"${f.name}.dict", alloc)
    dv.allocateNew(vocab.length)
    vocab.zipWithIndex.foreach { case (v, j) => dv.setSafe(j, v.getBytes("UTF-8")) }
    dv.setValueCount(vocab.length)
    provider.put(new Dictionary(dv, enc))
    val lookup = new java.util.HashMap[String, Integer](vocab.length * 2)
    vocab.zipWithIndex.foreach { case (v, j) => lookup.put(v, j) }
    val iv = new Field(f.name, new FieldType(f.nullable, enc.getIndexType, enc),
      java.util.Collections.emptyList()).createVector(alloc).asInstanceOf[IntVector]
    (iv, new AFWriter {
      val vector = iv
      def setNull(): Unit = iv.setNull(count)
      def setValue(g: SpecializedGetters, o: Int): Unit = {
        val s = g.getUTF8String(o).toString
        val idx = lookup.get(s)
        require(idx != null, s"value not in dictionary vocab for ${f.name}: $s")
        iv.setSafe(count, idx.intValue())
      }
    })
  }

  def append(row: InternalRow): Unit = {
    var c = 0
    while (c < writers.length) { writers(c).write(row, c); c += 1 }
    inBatch += 1
    if (inBatch >= batchRows) flush()
  }

  private def flush(): Unit = if (inBatch > 0) {
    writers.foreach(_.finish())
    root.setRowCount(inBatch)
    writeBatch()
    total += inBatch
    writers.foreach(_.reset())
    inBatch = 0
  }

  /** Flush the last batch, end the document, release everything;
    * returns the rows written.
    */
  def finish(): Long = {
    flush()
    closeQuietly()
    total
  }

  def closeQuietly(): Unit = if (!closed) {
    closed = true
    try output.close() finally {
      try root.close() finally {
        try provider.getDictionaryIds.asScala.foreach(id => provider.lookup(id).getVector.close())
        finally alloc.close()
      }
    }
  }
}

private[sources] object IncrementalArrowWriter {
  val DefaultBatchRows: Int = 4096 * 4

  private sealed trait Output
  private final case class Ipc(ch: WritableByteChannel, stream: Boolean,
                               compression: Option[String]) extends Output
  private final case class Json(file: java.io.File) extends Output

  /** A JSON integration document writer on the local `file`
    * (Arrow Java's JsonFileWriter writes only local files).
    */
  def json(file: java.io.File, schema: StructType, batchRows: Int,
           layout: Map[String, IpcColumn]): IncrementalArrowWriter =
    new IncrementalArrowWriter(Json(file), schema, batchRows, layout)

  /** The buffer codec an `ipc.compression` value names. */
  def codec(name: String): CodecType = name.toLowerCase(java.util.Locale.ROOT) match {
    case "zstd" => CodecType.ZSTD
    case "lz4" => CodecType.LZ4_FRAME
    case other => throw new IllegalArgumentException(
      s"ipc.compression must be zstd or lz4, got $other")
  }

  /** Write every row through `w` and finish it; on failure `w` is
    * closed before the error propagates. Returns the rows written.
    */
  def writeAll(w: IncrementalArrowWriter, rows: Iterator[InternalRow]): Long =
    try { rows.foreach(w.append); w.finish() }
    catch { case t: Throwable => w.closeQuietly(); throw t }
}
