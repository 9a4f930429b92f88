package graft.sources.arrow

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.{Channels, SeekableByteChannel, WritableByteChannel}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FSDataInputStream, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Hadoop-FileSystem-backed IO for the arrow source (SURVEY §2.D).
  *
  * The reference's io layer is local files + HDFS (reference:
  * cpp/src/arrow/io/hdfs.h); on Spark the right analog is the Hadoop
  * FileSystem API, which makes `format("arrow")` work on any
  * Hadoop-compatible store (file://, hdfs://, s3a://, ...) — a
  * 1000-executor cluster reads from distributed storage, never the
  * driver's local disk.
  */
object HadoopFiles {

  /** Default conf: resolves schemeless paths to file:// — preserves
    * the local-path behavior of the previous java.nio implementation
    * for library callers outside a Spark job.
    */
  def local: Configuration = new Configuration()

  def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf) match {
      // bypass the .crc sidecar layer on local files: IPC files carry
      // their own framing, and datasets must contain only part files
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  def mkdirs(path: String, conf: Configuration): Unit =
    fs(path, conf).mkdirs(new Path(path))

  /** Task-commit rename. HDFS rename is atomic; an existing dest (a
    * re-committed speculative task) is replaced.
    */
  def rename(src: String, dst: String, conf: Configuration): Unit = {
    val f = fs(src, conf)
    val d = new Path(dst)
    if (f.exists(d)) f.delete(d, false)
    if (!f.rename(new Path(src), d))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Data files of a dataset path (dir or single file), sorted;
    * dotfiles and _-prefixed sidecars skipped.
    */
  def dataFiles(path: String, conf: Configuration): Seq[String] = {
    val f = fs(path, conf)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else if (f.getFileStatus(p).isDirectory) {
      f.listStatus(p).toSeq
        .filter(_.isFile)
        .map(_.getPath)
        .filter { fp =>
          val n = fp.getName
          !n.startsWith(".") && !n.startsWith("_")
        }
        // keep fully-qualified URIs: stripping the scheme/authority
        // would re-resolve s3a://bucket paths against fs.defaultFS
        .map(_.toString)
        .sorted
    } else Seq(path)
  }

  /** Name of a task attempt's staged part file. Dot-prefixed, so
    * staged files are invisible to dataFiles (and thus to concurrent
    * readers) until commit.
    */
  def stagedName(token: String, pid: Int, tid: Long, ext: String): String =
    f".job-$token-part-$pid%05d-$tid.$ext.tmp"

  /** Task-side half of the staged protocol: run `write` against an
    * in-progress (".w") name, then rename to the visible staged name
    * only once it returns. An attempt that dies mid-write leaves only
    * the ".w" file, which commit discards — a staged file's
    * completeness is guaranteed by this rename, never by attempt
    * ordering (a killed speculative attempt can hold ANY attempt id).
    */
  def stageTask[A](stagedPath: String, conf: Configuration)(write: String => A): A = {
    val out = write(inProgress(stagedPath))
    rename(inProgress(stagedPath), stagedPath, conf)
    out
  }

  /** Where a task attempt writes a staged part before [[stageTask]]'s
    * rename publishes it.
    */
  def inProgress(stagedPath: String): String = stagedPath + ".w"

  /** Write `df` under `dir` as one `part-NNNNN.ext` file per partition,
    * replacing every data file the directory held before, through the
    * staged protocol ([[StagedWrite]]): `writePart(path, rows, conf)`
    * writes one partition on the executors and returns its row count.
    * Returns the total row count. A failed job deletes its own staged
    * parts ([[StagedWrite.abort]]) before the error propagates.
    */
  def writeStaged(df: DataFrame, dir: String, ext: String)(
      writePart: (String, Iterator[InternalRow], Configuration) => Long): Long = {
    val job = StagedWrite.begin(dir, df.sparkSession.sparkContext.hadoopConfiguration,
      replace = true)
    val counts = try {
      df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        val tid = TaskContext.get().taskAttemptId()
        Iterator.single(stageTask(job.stagedPath(pid, tid, ext), job.conf)(
          writePart(_, rows, job.conf)))
      }.collect()
    } catch { case t: Throwable =>
      try job.abort() catch { case e: Throwable => t.addSuppressed(e) }
      throw t
    }
    job.commit(pid => f"part-$pid%05d.$ext")
    counts.sum
  }

  /** Driver-side commit of a tmp-staged dataset write, run by
    * [[StagedWrite.commit]]. Tasks write ONLY `stagedName` files via
    * [[stageTask]] (the arrow sink's writer does the same rename at
    * task commit); after the job succeeds this picks one completed
    * attempt per partition, renames it to its final part name
    * (replacing any old part), drops losing speculative attempts and
    * in-progress litter, and deletes `stale` files not re-produced by
    * this job. A job that fails before commit leaves the previous
    * dataset fully intact, and [[StagedWrite.abort]] deletes its
    * parts; a write whose input reads from this same directory
    * consumes the old parts for the whole job, since nothing is
    * renamed until every task has finished.
    *
    * Litter hygiene: a zombie attempt of THIS job can still recreate
    * its ".w" file and rename it to ".tmp" after this commit (or
    * abort) returns (single-writer dirs assumed — Spark jobs don't
    * race commits on one dataset). That abandoned litter stays
    * invisible to readers (dot-prefixed) and the NEXT commit on this
    * directory sweeps it:
    * every ".job-*" file from a token other than the committing job's
    * is deleted below, so litter never outlives one more write.
    */
  def commitStagedWrite(dir: String, token: String, stale: Set[String],
                        dstName: Int => String, conf: Configuration): Unit = {
    val f = fs(dir, conf)
    val prefix = s".job-$token-part-"
    val (all, abandoned) =
      Option(f.listStatus(new Path(dir))).getOrElse(Array.empty).toSeq
        .filter(_.isFile).map(_.getPath)
        .filter(_.getName.startsWith(".job-"))
        .partition(_.getName.startsWith(prefix))
    // foreign-token files are litter from prior abandoned jobs; no
    // other job is live here (single writer), so sweep them now
    abandoned.foreach(p => f.delete(p, false))
    // only files whose task-side rename landed are complete; ".tmp.w"
    // in-progress litter from dead attempts is deleted, never promoted
    val (complete, torn) = all.partition(_.getName.endsWith(".tmp"))
    torn.foreach(p => f.delete(p, false))
    // parse the full digit run: %05d is a MINIMUM width, so take(5)
    // would fold partitions >= 100000 into lower pids and lose data
    val byPid = complete.groupBy(_.getName.stripPrefix(prefix).takeWhile(_.isDigit).toInt)
    val produced = byPid.keySet.map(dstName)
    byPid.foreach { case (pid, attempts) =>
      // every complete attempt holds identical rows; latest attempt id,
      // compared numerically, is the deterministic pick
      val winner = attempts.maxBy(
        _.getName.stripPrefix(prefix).dropWhile(_.isDigit).drop(1).takeWhile(_.isDigit).toLong)
      attempts.filterNot(_ == winner).foreach(a => f.delete(a, false))
      rename(winner.toString, s"$dir/${dstName(pid)}", conf)
    }
    stale.map(new Path(_))
      .filterNot(p => produced.contains(p.getName))
      .foreach(p => f.delete(p, false))
  }

  def fileSize(path: String, conf: Configuration): Long =
    fs(path, conf).getFileStatus(new Path(path)).getLen

  /** Positioned read of [offset, offset+n) into a fresh array. */
  def readAt(in: FSDataInputStream, offset: Long, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    in.readFully(offset, buf, 0, n)
    buf
  }

  def readFully(path: String, n: Int, conf: Configuration): Array[Byte] = {
    val in = fs(path, conf).open(new Path(path))
    try {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) return buf.take(off)
        off += r
      }
      buf
    } finally in.close()
  }

  def openSeekable(path: String, conf: Configuration): SeekableByteChannel = {
    val f = fs(path, conf)
    val st = f.getFileStatus(new Path(path))
    new HadoopSeekableByteChannel(f.open(new Path(path)), st.getLen)
  }

  def createChannel(path: String, conf: Configuration): WritableByteChannel =
    Channels.newChannel(fs(path, conf).create(new Path(path), true))

  /** Copy the local file `local` to `path` on any filesystem. */
  def copyFromLocal(local: java.io.File, path: String, conf: Configuration): Unit = {
    val out = fs(path, conf).create(new Path(path), true)
    try java.nio.file.Files.copy(local.toPath, out) finally out.close()
  }
}

/** One dataset write under the staged protocol. [[StagedWrite.begin]]
  * runs on the driver before the job: it lists the data files the write
  * replaces and mints the job token. Every task attempt writes one
  * invisible staged part ([[stagedPath]] via [[HadoopFiles.stageTask]])
  * and [[commit]] runs on the driver once the job has succeeded
  * ([[HadoopFiles.commitStagedWrite]]). Until then the previous dataset
  * stays readable and complete, whether the job fails or reads from
  * the directory it replaces.
  */
final class StagedWrite private (dir: String, val token: String,
                                 stale: Set[String], hconf: SerializableHadoopConf)
    extends Serializable {
  def conf: Configuration = hconf.value

  def stagedPath(pid: Int, tid: Long, ext: String): String =
    s"$dir/${HadoopFiles.stagedName(token, pid, tid, ext)}"

  def commit(dstName: Int => String): Unit =
    HadoopFiles.commitStagedWrite(dir, token, stale, dstName, conf)

  /** Driver-side cleanup of a failed job: delete this job's staged and
    * in-progress parts, and nothing else. The previous dataset stays
    * as it was.
    */
  def abort(): Unit = {
    val f = HadoopFiles.fs(dir, conf)
    Option(f.listStatus(new Path(dir))).getOrElse(Array.empty)
      .map(_.getPath).filter(_.getName.startsWith(s".job-$token-"))
      .foreach(f.delete(_, false))
  }
}

object StagedWrite {
  /** Start a write under `dir`: with `replace` every data file there
    * now is deleted at commit, otherwise the write adds to them.
    */
  def begin(dir: String, conf: Configuration, replace: Boolean): StagedWrite = {
    HadoopFiles.mkdirs(dir, conf)
    val stale = if (replace) HadoopFiles.dataFiles(dir, conf).toSet else Set.empty[String]
    new StagedWrite(dir, java.util.UUID.randomUUID().toString.take(12), stale,
      new SerializableHadoopConf(conf))
  }
}

/** Seekable channel over FSDataInputStream for ArrowFileReader.
  * Reads go through a heap buffer: ByteBufferReadable is optional in
  * Hadoop filesystems (LocalFileSystem lacks it).
  */
private[arrow] class HadoopSeekableByteChannel(in: FSDataInputStream, length: Long)
    extends SeekableByteChannel {
  private var open = true

  override def read(dst: ByteBuffer): Int = {
    val want = dst.remaining()
    if (want == 0) return 0
    val tmp = new Array[Byte](want)
    val n = in.read(tmp, 0, want)
    if (n > 0) dst.put(tmp, 0, n)
    n
  }

  override def position(): Long = in.getPos
  override def position(newPosition: Long): SeekableByteChannel = {
    in.seek(newPosition); this
  }
  override def size(): Long = length
  override def isOpen: Boolean = open
  override def close(): Unit = { open = false; in.close() }
  override def write(src: ByteBuffer): Int =
    throw new UnsupportedOperationException("read-only channel")
  override def truncate(size: Long): SeekableByteChannel =
    throw new UnsupportedOperationException("read-only channel")
}

/** Java-serializable Hadoop Configuration carrier: the standard
  * pattern for shipping the driver's session conf (incl. object-store
  * credentials) to DSv2 executors.
  */
class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
