package graft.operators

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one directory layout and life cycle under every persisted index
  * (AnnIndex cells, Bm25Index postings, DedupIndex bands): versioned
  * publication, the in-version generation counter and the batch
  * ledger. The indexes keep only their artifact relations, bucket keys
  * and search code; every decision about what lives where, which
  * version is live and when a batch is visible is made here.
  *
  * Versions (the LSM publication discipline, SURVEY G11/H18):
  *   - every rebuild/compaction writes complete `<base>.v<N+1>`
  *     directories next to the live ones, touching nothing a reader
  *     could be using; [[allocate]] is the only place N+1 is chosen
  *     (`CURRENT + 1`), and it clears a crashed attempt's residue;
  *   - a tiny `CURRENT` file names the published version; [[publish]]
  *     flips it with one atomic overwrite-rename (FileContext rename
  *     with Options.Rename.OVERWRITE — POSIX-atomic locally, atomic on
  *     HDFS), so a crash anywhere before the flip leaves every reader
  *     on the old version;
  *   - `open` resolves the live version once ([[live]]) and the handle
  *     PINS it, serving that snapshot while newer versions publish;
  *   - [[vacuum]] reclaims every version but the one `CURRENT` names,
  *     in a maintenance window only;
  *   - legacy layouts (unversioned `cells/` from an r7/r8 build, no
  *     `CURRENT`) resolve as version 0 at the unversioned path.
  *
  * `bases` lists the index's versioned relations, the primary (whose
  * directories resolve the live version when `CURRENT` is absent)
  * first. `bornVersioned` names the relations added after versioned
  * publication existed: they never had an unversioned form, so even
  * at version 0 they live at `<base>.v0`.
  */
private[graft] final case class IndexStore(bases: Seq[String],
                                           bornVersioned: Set[String] = Set.empty) {
  import IndexStore._

  /** `<dir>/<base>.v<v>`, or the legacy unversioned `<dir>/<base>` at
    * version 0. */
  def path(dir: String, base: String, v: Long): String =
    if (v == 0L && !bornVersioned(base)) s"$dir/$base" else s"$dir/$base.v$v"

  /** The version `open` pins: `CURRENT` wins; an unversioned legacy
    * primary resolves as 0; otherwise the highest version on disk (a
    * `CURRENT` lost to manual surgery); a fresh dir resolves as 0,
    * whose read then fails loudly.
    */
  def live(spark: SparkSession, dir: String): Long =
    current(spark, dir).getOrElse {
      if (exists(spark, s"$dir/${bases.head}")) 0L
      else onDisk(spark, dir).collect { case (b, v) if b == bases.head => v }
        .foldLeft(0L)(math.max)
    }

  /** The next version, `CURRENT + 1`. It was never published, so any
    * directory already carrying its number is a crashed attempt's
    * residue, and is cleared before the caller stages into it.
    */
  def allocate(spark: SparkSession, dir: String): Long = {
    val v = live(spark, dir) + 1L
    val fs = fileSystem(spark, dir)
    bases.foreach(b => fs.delete(new Path(s"$dir/$b.v$v"), true))
    v
  }

  /** Refuse to republish from a handle pinned to a superseded version:
    * its rows predate whatever the live version added, so publishing a
    * compaction of them would silently drop those mutations.
    */
  def requireLive(spark: SparkSession, dir: String, pinned: Long,
                  op: String): Unit = {
    val v = live(spark, dir)
    if (v != pinned)
      throw new IllegalStateException(
        s"$op: the handle is pinned to version $pinned but version $v " +
          "is live; re-open the index and retry.")
  }

  /** Reclaim every version but the live one (and the legacy
    * unversioned directories once a versioned one is live). Maintenance
    * window only: a reader pinned to an older version loses its files.
    */
  def vacuum(spark: SparkSession, dir: String): Unit = {
    val keep = live(spark, dir)
    val fs = fileSystem(spark, dir)
    if (keep > 0L)
      bases.foreach(b => fs.delete(new Path(s"$dir/$b"), true))
    onDisk(spark, dir).foreach { case (b, v) =>
      if (v != keep) fs.delete(new Path(s"$dir/$b.v$v"), true)
    }
  }

  /** Every (base, version) directory present under `dir`. */
  private def onDisk(spark: SparkSession, dir: String): Seq[(String, Long)] =
    if (!exists(spark, dir)) Nil
    else fileSystem(spark, dir).listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName)
      .flatMap(n => bases.flatMap(b =>
        if (!n.startsWith(s"$b.v")) None
        else scala.util.Try(n.stripPrefix(s"$b.v").toLong).toOption.map(b -> _)))
}

private[graft] object IndexStore {

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, dir: String): Boolean =
    fileSystem(spark, dir).exists(new Path(dir))

  /** The parquet relation at `dir`, or None when nothing was written. */
  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** A one-number file's value; None when absent or unreadable. */
  private def readLong(spark: SparkSession, file: String): Option[Long] =
    scala.util.Try {
      val in = fileSystem(spark, file).open(new Path(file))
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    }.toOption

  /** Write-tmp + atomic overwrite-rename of a one-number file. */
  private def atomicWrite(spark: SparkSession, dir: String,
                          name: String, v: Long): Unit = {
    val fs = fileSystem(spark, dir)
    val tmp = new Path(s"$dir/$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(new Path(dir).toUri,
        spark.sessionState.newHadoopConf())
      .rename(tmp, new Path(s"$dir/$name"), Options.Rename.OVERWRITE)
  }

  /** The published version, if a readable `CURRENT` pointer exists. */
  def current(spark: SparkSession, dir: String): Option[Long] =
    readLong(spark, s"$dir/CURRENT")

  /** Atomically flip `CURRENT` to `v`. */
  def publish(spark: SparkSession, dir: String, v: Long): Unit =
    atomicWrite(spark, dir, "CURRENT", v)

  /** The in-version mutation counter: `CURRENT` only moves on a publish,
    * but appends, upserts, deletes and batch drops change what a search
    * of the live version reads without a flip, so a watcher keyed to
    * `CURRENT` alone would serve the pre-mutation listing forever.
    * (`CURRENT`, `GEN`) together fingerprint everything a search can
    * read (GraftServer.watchIndexes). None on an index never mutated
    * in-version. It is also the one monotone generation AnnIndex stamps
    * its tombstones and rows with — never reset, across versions.
    */
  def generation(spark: SparkSession, dir: String): Option[Long] =
    readLong(spark, s"$dir/GEN")

  /** Run one in-version mutation at the next generation g (greater than
    * both `GEN` and `floor`), then publish `GEN = g` — at the END, so a
    * watcher that sees the new generation sees the mutation's files. A
    * crash before the bump leaves `GEN` unmoved; the retry reuses g.
    * Maintenance is single-writer by contract, so read-increment-write
    * needs no CAS.
    */
  def bump(spark: SparkSession, dir: String, floor: Long = 0L)
          (mutation: Long => Unit): Unit = {
    val g = math.max(generation(spark, dir).getOrElse(0L), floor) + 1L
    mutation(g)
    atomicWrite(spark, dir, "GEN", g)
  }

  /** Order-independent content fingerprint of a batch (one scalar
    * aggregate). bit_xor, not sum — a hash sum overflows Long and ANSI
    * mode turns that into a task-killing exception.
    */
  def fingerprint(batch: DataFrame, cols: Column*): Long =
    batch.select(xxhash64(cols: _*).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)))
      .collect()(0).getLong(0)

  /** A batch's latest recorded version, whether it reached done, and
    * the done row's fingerprint. */
  final case class Entry(version: Long, done: Boolean, fp: Option[Long])

  /** The batch ledger — the UNVERSIONED (batch_id, version, state, fp)
    * record of every batch-keyed append (it survives compaction and
    * vacuum by design), state ∈ {intent, done}: intent
    * is written BEFORE the data writes and done after all of them
    * commit ([[commit]]). It serves both batch-keyed legs,
    * Bm25Index.appendDocsBatch and DedupIndex.appendBatch, and closes
    * two holes:
    *
    *   - replay across a republish: an append resolves CURRENT at call
    *     time, so without a ledger a batch that crashed under version v
    *     and replays after a compaction lands a SECOND copy in v+1
    *     while its crashed rows sit folded in the compacted base
    *     ([[admit]] decides skip / throw / proceed; [[requireSettled]]
    *     refuses a compaction while a batch is in-flight);
    *   - torn reads: batch partitions are readable only once their
    *     ledger state is done ([[visible]]), so the done row IS the
    *     batch's atomic publish.
    *
    * `fp` is a content fingerprint ([[fingerprint]], deterministic over
    * the checkpointed offsets a replay recomputes): a true replay
    * matches and skips, a fresh batch reusing an old id mismatches and
    * throws. Legacy ledgers without the column read fp = None.
    *
    * The entries map is bounded (≤ a few rows per batch) and cached on
    * the handle that owns this ledger — a long-lived stream must not pay
    * O(ledger files) opens per batch; every write through the handle
    * invalidates. A handle that never writes pins the done-horizon it
    * first read, so it serves the then-published snapshot until
    * re-opened; freshness across handles is the GEN-watcher re-open
    * contract, exactly as for file listings.
    */
  final class Ledger(spark: SparkSession, dir: String) {
    private val root = s"$dir/batch_ledger"
    private val cache = new AtomicReference[Map[Long, Entry]]()

    private def write(rows: Seq[(Long, Long, String, Option[Long])]): Unit = {
      import spark.implicits._
      rows.map { case (b, v, s, fp) => (b, v, s, fp.map(Long.box).orNull) }
        .toDF("batch_id", "version", "state", "fp")
        .select(col("batch_id").cast(LongType), col("version").cast(LongType),
          col("state"), col("fp").cast(LongType))
        .coalesce(1)
        .write.mode("append").parquet(root)
      cache.set(null)
    }

    /** Batch id → [[Entry]], folded from every ledger row. */
    private def entries: Map[Long, Entry] = {
      val pre = cache.get()
      if (pre != null) return pre
      val m =
        if (!exists(spark, root)) Map.empty[Long, Entry]
        else {
          val raw = spark.read.option("mergeSchema", "true").parquet(root)
          val withFp = // pre-fingerprint ledgers have no fp column
            if (raw.columns.contains("fp")) raw
            else raw.withColumn("fp", lit(null).cast(LongType))
          withFp.groupBy("batch_id")
            .agg(max("version").as("version"),
              max(when(col("state") === "done", lit(1)).otherwise(lit(0)))
                .as("done"),
              max(when(col("state") === "done", col("fp"))).as("fp_done"))
            .collect()
            .map(r => r.getLong(0) -> Entry(r.getLong(1), r.getInt(2) == 1,
              if (r.isNullAt(3)) None else Some(r.getLong(3))))
            .toMap
        }
      cache.compareAndSet(null, m)
      m
    }

    /** The replay decision for batch `batchId` about to be appended to
      * `version` with content fingerprint `fp`: true to proceed, false
      * to skip; throws when no replay can reconcile the batch.
      */
    def admit(op: String, batchId: Long, version: Long, fp: Long): Boolean =
      entries.get(batchId) match {
        case Some(Entry(v, true, fpOld)) if v < version =>
          // complete under an older version: the compacted/republished
          // lineage already contains this batch exactly once — replaying
          // it into the current version would double-count
          if (fpOld.exists(_ != fp))
            throw new IllegalStateException(
              s"$op(batch_id=$batchId): ledger has this batch done under " +
                s"older version $v with a DIFFERENT content fingerprint " +
                s"(${fpOld.get} vs $fp). The batchId is being reused for " +
                "new data (checkpoint reset / new stream on a republished " +
                "index); skipping would silently drop it. Use fresh " +
                "batchIds (or a fresh ledger) for a new stream.")
          org.apache.logging.log4j.LogManager.getLogger(getClass)
            .warn(s"$op(batch_id=$batchId): skipped — already done under " +
              s"older version $v (CURRENT $version); rows live in the " +
              "compacted lineage." +
              fpOld.fold(" (legacy ledger row: fingerprint unverified)")(
                _ => " Content fingerprint verified equal."))
          false
        case Some(Entry(v, false, _)) if v < version =>
          throw new IllegalStateException(
            s"$op(batch_id=$batchId): batch is in-flight (intent without " +
              s"done) under older index version $v, but CURRENT is " +
              s"$version. A republish ran underneath an uncommitted " +
              "stream batch; its partial rows cannot be reconciled by " +
              "replay. Do not rebuild or compact while the ingest stream " +
              "has an uncommitted batch.")
        // SAME-version replay of a COMPLETED batch (the crash fell
        // between the done record and the stream's checkpoint commit):
        // the data is whole and identical — skip, so concurrent readers
        // never catch its partitions mid-rewrite. A same-version done
        // batch with a DIFFERENT fingerprint proceeds: the deliberate-
        // overwrite escape hatch, outside the deterministic-replay
        // contract.
        case Some(Entry(_, true, fpOld)) => !fpOld.contains(fp)
        // new batch, or a same-version replay of a crashed attempt:
        // dynamic partition overwrite replaces its partitions, which
        // the done horizon keeps invisible to readers throughout
        case _ => true
      }

    /** Bracket one batch's data writes: intent → `writes` → done. */
    def commit(batchId: Long, version: Long, fp: Long)(writes: => Unit): Unit = {
      write(Seq((batchId, version, "intent", Some(fp))))
      writes
      write(Seq((batchId, version, "done", Some(fp))))
    }

    /** Refuse a compaction of `version` while any of its batches is
      * intent-without-done: its partitions may be partial, and once
      * folded into the base the replay can no longer replace them, only
      * double them.
      */
    def requireSettled(op: String, version: Long): Unit = {
      val inflight = entries.collect {
        case (b, Entry(v, false, _)) if v == version => b
      }
      require(inflight.isEmpty,
        s"$op: append batch(es) ${inflight.toSeq.sorted.mkString(",")} " +
          s"are in-flight on version $version; compacting now would make " +
          "their checkpoint replay double-count. Let the stream commit " +
          "(or clean up the crashed batch) first.")
    }

    /** Publication horizon for a `batch_id`-partitioned relation: keep
      * `batch_id ≤ max(done)` (hides later batches whose intent this
      * snapshot hasn't seen — ids are monotone under the foreachBatch
      * contract) minus the known in-flight ids, so a plan built
      * mid-append sees a whole batch or none. Both predicates hit the
      * partition column: the gate prunes directories, never scans rows.
      * Rows matching `always` (DedupIndex's build rows, batch_id = 0)
      * are never hidden. A ledger-less index reads unfiltered; the very
      * first batch on one can race a reader that listed data files
      * before its intent row (no horizon exists yet to hide it).
      */
    def visible(df: DataFrame, always: Column = lit(false)): DataFrame = {
      val e = entries
      if (e.isEmpty) df
      else {
        val done = e.collect { case (b, Entry(_, true, _)) => b }
        val inflight = e.collect { case (b, Entry(_, false, _)) => b }.toSeq
        val cut =
          if (done.isEmpty) lit(false) // ledger exists, nothing published
          else col("batch_id") <= lit(done.max)
        val pred =
          if (inflight.isEmpty) cut
          else cut && !col("batch_id").isin(inflight.map(Long.box): _*)
        df.where(always || pred)
      }
    }

    /** Fold the append-only ledger into one row per batch once it holds
      * `minFiles` files (two tiny files per batch, re-listed per append,
      * is the measured ~0.36 ms/file-open pathology — O(N²) over a
      * stream's life). The folded rows reproduce [[entries]] exactly;
      * crash-safe because the fold APPENDS the folded file first and
      * deletes only the files it listed — a crash between the two
      * leaves duplicates that the max/any aggregate absorbs. Run it in
      * a single-writer maintenance window, after [[requireSettled]].
      */
    def fold(minFiles: Int = 16): Unit = {
      if (!exists(spark, root)) return
      val fs = fileSystem(spark, root)
      val old = fs.listStatus(new Path(root)).filter(_.isFile).map(_.getPath)
      if (old.length < minFiles) return
      write(entries.toSeq.map { case (b, Entry(v, done, fp)) =>
        (b, v, if (done) "done" else "intent", fp)
      })
      old.foreach(f => fs.delete(f, false))
      cache.set(null)
    }
  }
}
