package graft.sources.plasma

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder, MappedByteBuffer}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.arrow.IncrementalArrowWriter

/** Cross-process shared-memory object store (reference:
  * cpp/src/plasma/client.h — Connect/Create/Seal/Get/Contains/Abort/
  * Delete by ObjectID; cpp/src/plasma/store.h).
  *
  * The JVM analog of plasma's shm segments is memory-mapped files in
  * a shared directory (point it at /dev/shm for RAM-backed pages):
  * every process that maps the same sealed object shares the same
  * physical pages, which is plasma's core property. The lifecycle
  * contract is preserved exactly:
  *
  *  - `create` allocates the object and hands back a writable mapped
  *    buffer (plasma returns the buffer address); the object is a
  *    dot-hidden file other clients cannot see.
  *  - `seal` makes it immutable and visible — an atomic rename, so no
  *    client ever observes a partially-written object.
  *  - `get` blocks until sealed or timeout, then maps read-only.
  *  - `abort` drops an unsealed object; `delete` a sealed one.
  *
  * Object layout: [data][metadata][dataSize i64][metaSize i64][magic
  * "GRFTPLSM"] — framing lives in a FOOTER so an object whose data is
  * an Arrow IPC stream (the dominant payload, as in pyarrow's plasma)
  * starts with the stream bytes at offset 0 and is directly loadable
  * by `spark.read.format("arrow")`.
  */
class PlasmaStore(dir: String) {

  import PlasmaStore._

  Files.createDirectories(Paths.get(dir))

  private val retained = TrieMap.empty[String, MappedByteBuffer]

  private def hexId(id: String): String =
    id.getBytes("UTF-8").map(b => f"${b & 0xFF}%02x").mkString // injective, filesystem-safe

  private[plasma] def sealedPath(id: String): String = s"$dir/${hexId(id)}.obj"
  private def unsealedPath(id: String): String = s"$dir/.${hexId(id)}.unsealed"

  /** Allocate an object and return the writable data buffer, on an
    * atomic [[claim]] of its unsealed file.
    */
  def create(id: String, dataSize: Long, metadata: Array[Byte] = Array.empty)
      : ByteBuffer = {
    // bound dataSize BEFORE summing: dataSize + meta + FOOTER on an
    // unchecked Long.MaxValue would wrap negative and pass a naive
    // total check
    require(dataSize >= 0 && dataSize <= Int.MaxValue &&
        dataSize + metadata.length + FOOTER <= Int.MaxValue,
      s"plasma object '$id' of $dataSize data bytes exceeds the " +
        "2 GiB mapped-buffer limit")
    val total = dataSize + metadata.length + FOOTER
    val ch = claim(id)
    try {
      val map = ch.map(FileChannel.MapMode.READ_WRITE, 0, total)
      map.position(dataSize.toInt)
      map.put(footer(dataSize, metadata))
      retained.put(unsealedPath(id), map)
      map.position(0)
      map.limit(dataSize.toInt)
      map.slice()
    } catch {
      // a failed allocation must release the CREATE_NEW claim, or the
      // id is permanently stuck at 'already being created'
      case t: Throwable =>
        ch.close()
        Files.deleteIfExists(Paths.get(unsealedPath(id)))
        throw t
    } finally ch.close()
  }

  /** Claim the unsealed file of `id`. The claim is atomic
    * (CREATE_NEW): two processes racing to create the same id cannot
    * both win and scribble over each other's pages — the loser gets
    * ObjectExists, matching the reference's PlasmaError::ObjectExists
    * (cpp/src/plasma/client.h:80).
    */
  private def claim(id: String): FileChannel = {
    if (contains(id))
      throw new IllegalStateException(s"plasma object '$id' already sealed")
    try {
      FileChannel.open(Paths.get(unsealedPath(id)),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.READ,
        java.nio.file.StandardOpenOption.WRITE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"plasma object '$id' already being created")
    }
  }

  /** The bytes after an object's data: [metadata][dataSize i64]
    * [metaSize i64][magic].
    */
  private def footer(dataSize: Long, metadata: Array[Byte]): ByteBuffer = {
    val b = ByteBuffer.allocate(metadata.length + FOOTER.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(metadata).putLong(dataSize).putLong(metadata.length.toLong).put(MAGIC)
    b.flip()
    b
  }

  /** Make the object immutable and visible to every client. */
  def seal(id: String): Unit = {
    val from = Paths.get(unsealedPath(id))
    require(Files.exists(from), s"plasma object '$id' was never created")
    retained.remove(unsealedPath(id)).foreach(_.force())
    Files.move(from, Paths.get(sealedPath(id)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drop an unsealed object as if it was never created. */
  def abort(id: String): Unit = {
    retained.remove(unsealedPath(id))
    Files.deleteIfExists(Paths.get(unsealedPath(id)))
  }

  def contains(id: String): Boolean = Files.exists(Paths.get(sealedPath(id)))

  /** Map a sealed object read-only, blocking up to `timeoutMs`
    * (-1 = wait forever) for another client to seal it.
    */
  def get(id: String, timeoutMs: Long = 0): Option[PlasmaObject] = {
    val deadline = if (timeoutMs < 0) Long.MaxValue
      else System.nanoTime() + timeoutMs * 1000000L
    var first = true
    while (first || System.nanoTime() < deadline) {
      if (!first) Thread.sleep(2)
      first = false
      if (contains(id)) try {
        val raf = new RandomAccessFile(sealedPath(id), "r")
        try {
          val total = raf.length()
          // graft objects are ≤2 GiB by create()'s contract; a larger
          // file is foreign — mapping it would throw, so miss early
          if (total > Int.MaxValue) return None
          val map = raf.getChannel.map(FileChannel.MapMode.READ_ONLY, 0, total)
          map.order(ByteOrder.LITTLE_ENDIAN)
          // a foreign or torn file must be a clean miss, not garbage
          // sizes — verify the footer we wrote before trusting it
          footerSizes(map, total) match {
            case Some((dataSize, metaSize)) =>
              val data = map.duplicate()
              data.position(0); data.limit(dataSize.toInt)
              val meta = map.duplicate()
              meta.position(dataSize.toInt); meta.limit((dataSize + metaSize).toInt)
              return Some(PlasmaObject(data.slice(), meta.slice()))
            case None => () // not a graft plasma object — keep polling
          }
        } finally raf.close()
      } catch {
        // a concurrent delete between contains() and open() is a miss,
        // not a crash — keep polling until the deadline
        case _: java.io.FileNotFoundException => ()
      }
    }
    None
  }

  /** Decode + validate the footer of a mapped object. None when the
    * magic is absent or the declared sizes don't reconcile with the
    * file length (foreign file, torn write).
    */
  private def footerSizes(map: ByteBuffer, total: Long): Option[(Long, Long)] = {
    if (total < FOOTER) return None
    val magic = new Array[Byte](MAGIC.length)
    val m = map.duplicate(); m.position((total - MAGIC.length).toInt); m.get(magic)
    if (!java.util.Arrays.equals(magic, MAGIC)) return None
    val dataSize = map.getLong((total - FOOTER).toInt)
    val metaSize = map.getLong((total - FOOTER + 8).toInt)
    if (dataSize < 0 || metaSize < 0 || dataSize + metaSize + FOOTER != total) None
    else Some((dataSize, metaSize))
  }

  def delete(id: String): Boolean = Files.deleteIfExists(Paths.get(sealedPath(id)))

  /** Evict sealed objects oldest-first until at least `numBytes` have
    * been freed (reference: cpp/src/plasma/client.h:201 `Evict` — "Ask
    * the Plasma store to evict objects until num_bytes have been
    * freed"). Returns the bytes actually freed; unsealed objects are
    * never evicted.
    */
  def evict(numBytes: Long): Long = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => decodeId(f.getName).isDefined) // never evict foreign files
      .sortBy(f => (f.lastModified(), f.getName)) // LRU analog: oldest seal first
    var freed = 0L
    val it = files.iterator
    while (freed < numBytes && it.hasNext) {
      val f = it.next()
      val len = f.length()
      if (Files.deleteIfExists(f.toPath)) freed += len
    }
    freed
  }

  /** Ids of sealed objects whose footer validates — the set a scan
    * may plan over. A torn or foreign hex-named file is skipped here
    * the same way get() treats it as a miss, so one junk file cannot
    * take down reads of every healthy object.
    */
  private[plasma] def validObjects(): Seq[String] =
    list().filter { id =>
      try {
        val raf = new RandomAccessFile(sealedPath(id), "r")
        try {
          val total = raf.length()
          total <= Int.MaxValue && {
            val map = raf.getChannel.map(FileChannel.MapMode.READ_ONLY, 0, total)
            map.order(ByteOrder.LITTLE_ENDIAN)
            footerSizes(map, total).isDefined
          }
        } finally raf.close()
      } catch { case _: java.io.IOException => false }
    }

  /** Subscribe to object-sealed (and deleted) notifications
    * (reference: cpp/src/plasma/client.h:211–228 `Subscribe` /
    * `GetNotification` — sealed objects arrive with their sizes,
    * deletions with size -1). The JVM analog of the notification
    * socket is a directory watch: the subscription snapshots the
    * sealed set at subscribe time and reports changes.
    */
  def subscribe(): PlasmaSubscription = new PlasmaSubscription(this)

  private[plasma] def sealedSnapshot(): Map[String, Long] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => decodeId(f.getName).map(_ -> f.length()))
      .toMap
  }

  /** Decode `<hex>.obj` back to the object id; None for foreign files
    * (non-hex names must not crash listings or subscriptions).
    */
  private def decodeId(fileName: String): Option[String] = {
    if (!fileName.endsWith(".obj")) return None
    val h = fileName.stripSuffix(".obj")
    if (h.nonEmpty && h.length % 2 == 0 &&
        h.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      Some(new String(
        h.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray, "UTF-8"))
    else None
  }

  def list(): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => decodeId(f.getName))
      .sorted
  }

  // ------------------------------------------------------- arrow payloads

  /** Store a (bounded) DataFrame as an Arrow IPC stream object — the
    * pyarrow `plasma.put(record_batch)` analog. This is a node-local
    * interop surface (handing query results to another process on the
    * same host), not a distributed write path: the frame is collected
    * to the caller. The collected rows are the only copy on the heap:
    * the stream is written straight into the object's unsealed file,
    * which a failed put deletes.
    */
  def putDataFrame(id: String, df: DataFrame,
                   metadata: Array[Byte] = Array.empty): Unit = {
    val path = Paths.get(unsealedPath(id))
    val ch = claim(id)
    try {
      // the stream goes straight into the unsealed file (the writer
      // closes `ch` when it ends the stream), then the footer follows
      IncrementalArrowWriter.writeAll(
        new IncrementalArrowWriter(ch, df.schema, stream = true),
        df.queryExecution.executedPlan.executeCollect().iterator)
      val dataSize = Files.size(path)
      require(dataSize + metadata.length + FOOTER <= Int.MaxValue,
        s"plasma object '$id' of $dataSize data bytes exceeds the " +
          "2 GiB mapped-buffer limit")
      val tail = FileChannel.open(path, java.nio.file.StandardOpenOption.APPEND)
      try {
        val b = footer(dataSize, metadata)
        while (b.hasRemaining) tail.write(b)
        tail.force(true)
      } finally tail.close()
    } catch {
      case t: Throwable =>
        ch.close()
        Files.deleteIfExists(path)
        throw t
    }
    seal(id)
  }

  /** Load an Arrow-stream object back as a DataFrame — shared pages,
    * no copy of the data into the JVM until the scan touches it.
    */
  def getDataFrame(spark: SparkSession, id: String): Option[DataFrame] =
    if (contains(id)) Some(spark.read.format("arrow").load(sealedPath(id)))
    else None

  /** Schema of an Arrow-stream object without loading its batches. */
  def schemaOf(id: String): Option[StructType] =
    if (contains(id)) Some(graft.sources.arrow.ArrowIo.readSchema(sealedPath(id)))
    else None
}

/** One seal/delete event: sealed objects carry their total stored
  * bytes; deletions carry -1, matching the reference notification
  * payload (object_info with is_deletion → data_size = -1).
  */
case class PlasmaNotification(id: String, objectBytes: Long) {
  def isDeletion: Boolean = objectBytes < 0
}

/** Poll-based notification stream over a store's sealed set. Safe to
  * use from a different process than the sealing one — state is the
  * shared directory, not JVM-local.
  */
class PlasmaSubscription private[plasma] (store: PlasmaStore) {
  private var known: Map[String, Long] = store.sealedSnapshot()
  private val pending = scala.collection.mutable.Queue.empty[PlasmaNotification]

  /** Next notification, blocking up to `timeoutMs` (-1 = forever). */
  def getNotification(timeoutMs: Long = 0): Option[PlasmaNotification] = {
    val deadline = if (timeoutMs < 0) Long.MaxValue
      else System.nanoTime() + timeoutMs * 1000000L
    var first = true
    while (first || System.nanoTime() < deadline) {
      if (!first) Thread.sleep(2)
      first = false
      if (pending.nonEmpty) return Some(pending.dequeue())
      val now = store.sealedSnapshot()
      (now.keySet -- known.keySet).toSeq.sorted
        .foreach(id => pending.enqueue(PlasmaNotification(id, now(id))))
      (known.keySet -- now.keySet).toSeq.sorted
        .foreach(id => pending.enqueue(PlasmaNotification(id, -1L)))
      known = now
      if (pending.nonEmpty) return Some(pending.dequeue())
    }
    None
  }
}

case class PlasmaObject(data: ByteBuffer, metadata: ByteBuffer) {
  def dataBytes: Array[Byte] = {
    val out = new Array[Byte](data.remaining()); data.duplicate().get(out); out
  }
  def metadataBytes: Array[Byte] = {
    val out = new Array[Byte](metadata.remaining()); metadata.duplicate().get(out); out
  }
}

object PlasmaStore {
  val MAGIC: Array[Byte] = "GRFTPLSM".getBytes("ASCII")
  private val FOOTER: Long = 8 + 8 + MAGIC.length
}
