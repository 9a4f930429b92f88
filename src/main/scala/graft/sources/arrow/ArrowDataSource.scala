package graft.sources.arrow

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector.ipc.ArrowReader
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

/** Arrow IPC DataSource V2: `spark.read.format("arrow")` /
  * `df.write.format("arrow")` (SURVEY §2.D1–D4).
  *
  * Layout mirrors parquet's: a dataset is a directory of part files,
  * one per write task — so write parallelism is the job's parallelism
  * and read parallelism is one input partition per file, which is the
  * natural unit for the IPC *file* format (its footer indexes batches
  * per file). The read path is fully columnar: arrow vectors are
  * wrapped in Spark's public ArrowColumnVector and handed to the scan
  * as ColumnarBatch — no row materialization (reference analog:
  * cpp/src/arrow/ipc/reader.h returning RecordBatches).
  *
  * Column pruning is applied at the vector level (only requested
  * vectors are wrapped/decoded). Dictionary-encoded columns are
  * decoded on load (reference: cpp/src/arrow/ipc/dictionary.h).
  */
class ArrowDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrow"

  private def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "arrow source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = sessionConf()
    val files = HadoopFiles.dataFiles(pathOf(options), conf)
    require(files.nonEmpty, s"no arrow files at ${pathOf(options)}")
    ArrowIo.readSchema(files.head, conf)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ArrowTable(schema, properties.asScala.getOrElse("path", null))

  override def supportsExternalMetadata(): Boolean = true
}

class ArrowTable(schema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"arrow:$path"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  private def sessionConf(): SerializableHadoopConf = new SerializableHadoopConf(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowScanBuilder(schema, Option(options.get("path")).getOrElse(path),
      sessionConf())

  /** Options are checked here, on the driver, before any file is
    * touched.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val stream = info.options.getOrDefault("ipc.format", "file")
      .toLowerCase(java.util.Locale.ROOT) match {
      case "file" => false
      case "stream" => true
      case other => throw new IllegalArgumentException(
        s"ipc.format must be file or stream, got $other")
    }
    val compression = Option(info.options.get("ipc.compression"))
    compression.foreach(IncrementalArrowWriter.codec)
    new ArrowWriteBuilder(info.schema(), Option(info.options.get("path")).getOrElse(path),
      stream, sessionConf().value, compression)
  }
}

// ------------------------------------------------------------------ read

class ArrowScanBuilder(fullSchema: StructType, path: String,
                       hconf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan = new ArrowScan(required, path, hconf)
}

class ArrowScan(requiredSchema: StructType, path: String,
                hconf: SerializableHadoopConf) extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String = s"ArrowScan[$path]"

  /** One partition per file is the natural IPC unit, but a single
    * large file would then cap read parallelism at 1 — so IPC *file*
    * format inputs (whose footer indexes every record batch) are
    * split into batch-range partitions of ~`maxPartitionBytes`, the
    * same knob parquet scans obey. Stream/feather/json files have no
    * random-access index and stay whole-file.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val maxBytes =
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    HadoopFiles.dataFiles(path, hconf.value).flatMap { f =>
      val ranges =
        if (ArrowIo.isFileFormat(f, hconf.value))
          ArrowIo.batchRanges(f, maxBytes, hconf.value)
        else Seq(None)
      ranges.map(r => ArrowInputPartition(f, r): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowPartitionReaderFactory(requiredSchema, hconf)
}

/** `blockRange` = [from, until) indices into the IPC file footer's
  * record-batch index; None = read the whole file sequentially.
  */
case class ArrowInputPartition(file: String,
                               blockRange: Option[(Int, Int)] = None)
    extends InputPartition

class ArrowPartitionReaderFactory(requiredSchema: StructType,
                                  hconf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("columnar-only source")

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val ap = p.asInstanceOf[ArrowInputPartition]
    new ArrowColumnarReader(ap.file, requiredSchema, hconf, ap.blockRange)
  }
}

class ArrowColumnarReader(file: String, requiredSchema: StructType,
                          hconf: SerializableHadoopConf,
                          blockRange: Option[(Int, Int)] = None)
    extends PartitionReader[ColumnarBatch] {
  private val alloc: BufferAllocator = ArrowIo.rootAllocator()
  private val reader: ArrowReader = ArrowIo.openReader(file, alloc, hconf.value)
  // batch-range partitions walk the footer index instead of streaming
  private var nextBlock: Int = blockRange.map(_._1).getOrElse(-1)
  private val fileFieldIndex: Map[String, Int] =
    reader.getVectorSchemaRoot.getSchema.getFields.asScala.zipWithIndex
      .map { case (f, i) => f.getName -> i }.toMap
  private val indices: Seq[Int] = requiredSchema.fields.toSeq.map { f =>
    fileFieldIndex.getOrElse(f.name,
      throw new IllegalArgumentException(s"column ${f.name} not in $file"))
  }
  private var current: ColumnarBatch = _
  private var decodedToClose: Seq[org.apache.arrow.vector.FieldVector] = Seq.empty

  private def loadNext(): Boolean = blockRange match {
    case None => reader.loadNextBatch()
    case Some((_, until)) =>
      if (nextBlock >= until) false
      else {
        val fr = reader.asInstanceOf[org.apache.arrow.vector.ipc.ArrowFileReader]
        val ok = fr.loadRecordBatch(fr.getRecordBlocks.get(nextBlock))
        nextBlock += 1
        ok
      }
  }

  override def next(): Boolean = {
    closeBatch()
    val has = loadNext()
    if (has) {
      val root = reader.getVectorSchemaRoot
      val vecs = ArrowIo.decodedVectors(reader, root, indices, alloc)
      decodedToClose = vecs.collect { case (v, true) => v }
      val cols: Array[ColumnVector] =
        vecs.map { case (v, _) => new ArrowColumnVector(v): ColumnVector }.toArray
      current = new ColumnarBatch(cols, root.getRowCount)
    }
    has
  }

  override def get(): ColumnarBatch = current

  private def closeBatch(): Unit = {
    decodedToClose.foreach(_.close())
    decodedToClose = Seq.empty
    current = null
  }

  override def close(): Unit = {
    closeBatch()
    reader.close()
    alloc.close()
  }
}

// ----------------------------------------------------------------- write

/** The sink commits through the staged protocol ([[StagedWrite]]):
  * tasks write invisible staged parts and the driver publishes them
  * once the job has succeeded. An overwrite replaces the files listed
  * before the job; an append replaces nothing. Part names carry the
  * job token, so appends never collide with earlier parts.
  */
class ArrowWriteBuilder(schema: StructType, path: String, stream: Boolean,
                        conf: Configuration, compression: Option[String])
    extends WriteBuilder with SupportsTruncate {
  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ArrowBatchWrite(schema,
      StagedWrite.begin(path, conf, replace), stream, compression)
  }
}

class ArrowBatchWrite(schema: StructType, job: StagedWrite, stream: Boolean,
                      compression: Option[String])
    extends BatchWrite {
  private val ext = if (stream) "arrows" else "arrow"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ArrowWriterFactory(schema, job, stream, ext, compression)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    job.commit(pid => f"part-$pid%05d-${job.token}.$ext")
  // nothing is visible before commit: a failed job leaves the
  // previous dataset as it was
  override def abort(messages: Array[WriterCommitMessage]): Unit = job.abort()
}

class ArrowWriterFactory(schema: StructType, job: StagedWrite, stream: Boolean,
                         ext: String, compression: Option[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ArrowDataWriter(schema, job.stagedPath(partitionId, taskId, ext), job.conf,
      stream, compression)
}

case class ArrowCommit(rows: Long) extends WriterCommitMessage

/** Streams rows straight into arrow batches — constant memory in the
  * partition size (one in-flight batch), which is what survives 100 TB
  * partitions. No whole-partition buffering.
  *
  * Rows go to the part's in-progress file; task commit renames it to
  * the staged name, the push-form twin of [[HadoopFiles.stageTask]].
  */
class ArrowDataWriter(schema: StructType, staged: String, conf: Configuration,
                      stream: Boolean, compression: Option[String])
    extends DataWriter[InternalRow] {
  private val inc = new IncrementalArrowWriter(
    HadoopFiles.createChannel(HadoopFiles.inProgress(staged), conf), schema, stream,
    compression = compression)

  override def write(record: InternalRow): Unit = inc.append(record)

  override def commit(): WriterCommitMessage = {
    val rows = inc.finish()
    HadoopFiles.rename(HadoopFiles.inProgress(staged), staged, conf)
    ArrowCommit(rows)
  }

  override def abort(): Unit = inc.closeQuietly()
  override def close(): Unit = inc.closeQuietly()
}
