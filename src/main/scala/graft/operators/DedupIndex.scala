package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted near-dup signature index (SURVEY F12) — the DEDUP member
  * of the index trifecta (G11 ANN cells, H18 BM25 postings, F12 LSH
  * bands), closing the same scale gap in the dedup family that those
  * two closed for retrieval: [[graft.streaming.IncrementalDedup]]'s
  * signature store is correct and exactly-once, but every batch
  * re-reads and re-BANDS the ENTIRE store — per-batch screening cost
  * tracks corpus size, the exact shape the other indexes eliminated.
  * This operator persists the banded keys hash-bucketed ON DISK, so
  * screening a batch reads only the bucket partitions the batch's own
  * band keys collide with — the collision slice, never the corpus.
  * (Reference analog: the partition-pruned ParquetDataset read,
  * python/pyarrow/parquet.py `ParquetDataset(filters=...)`.)
  *
  * On-disk layout under `dir` (CURRENT-pointer versioned through
  * [[IndexStore]] — atomic publication, pinned readers, crash-safe
  * rebuilds, and the batch ledger that publishes each append):
  *   bands.vN/bucket=B/batch_id=b/ — (doc_id, band, bh): LSH band
  *       keys, bucket = pmod(xxhash64(band, bh), nBuckets). batch_id
  *       is 0 for build rows; appends land in their OWN (bucket,
  *       batch_id) partitions via dynamic overwrite, so a replayed
  *       batch overwrites its partial write instead of
  *       double-appending (the IncrementalDedup exactly-once
  *       discipline, kept verbatim).
  *   sigs.vN/sbucket=S/batch_id=b/ — (doc_id, sig): full signatures
  *       for the estimate-Jaccard verify, bucketed by doc-id hash so
  *       the verify join also reads only candidate buckets.
  *   meta.vN/ — one row (num_perm, bands, n_buckets, n_sig_buckets);
  *       opening runs no corpus job.
  *
  * Screening cost model at 100 TB: a batch with D docs emits
  * D × bands band keys hitting ≤ min(D·bands, nBuckets) bucket
  * partitions; the store side of the candidate join is those
  * partitions only. The verify pass reads ≤ nSigBuckets sig
  * partitions chosen by the CANDIDATES' doc hashes (a bounded collect
  * of distinct bucket ids — the AnnIndex probe-set sanction). Neither
  * pass scans or re-hashes the store; [[IncrementalDedup.dedupBatch]]
  * pays both on every batch.
  *
  * Semantics are pinned to dedupBatch EXACTLY (spec-proven equal):
  * a new doc drops iff its estimated signature Jaccard reaches
  * `threshold` against any store doc or any earlier (smaller-id) doc
  * of the same batch; dropped pairs carry the 6-dp estimate.
  */
object DedupIndex {

  /** OWNERSHIP (r10 ADVICE): an Index handle assumes single-process,
    * single-handle use of its live version — the listing cache below
    * is per-handle, and only the handle that performed a mutation
    * invalidates it, so a SECOND handle opened on the same live
    * version (another session/process sharing the directory) can
    * serve a stale pinned listing after this one appends or drops
    * batches. Cross-process visibility comes from the versioned
    * publication protocol (compaction/rebuild → new version → fresh
    * open()), which is also the single-writer maintenance contract
    * the ANN/BM25 indexes document.
    */
  final case class Index(spark: SparkSession, dir: String,
                         numPerm: Int, bands: Int,
                         nBuckets: Int, nSigBuckets: Int,
                         bandsDir: String, sigsDir: String, version: Long) {
    // Listing cache (r10, serving-constant cut): building the relation
    // lists the whole partition tree (nBuckets·filesPerBucket files) —
    // a stream screening thousands of micro-batches must pay that once
    // per open, not twice per batch. Maintenance ops that change the
    // file set (appendBatch, dropBatchesBelow) invalidate; compaction
    // and rebuilds publish a NEW version and re-open.
    // `lazy` so a deserialized handle (the @transient fields come back
    // null) degrades to a fresh re-list instead of an NPE.
    @transient private lazy val bandCache =
      new java.util.concurrent.atomic.AtomicReference[DataFrame]()
    @transient private lazy val sigCache =
      new java.util.concurrent.atomic.AtomicReference[DataFrame]()

    private def cached(ref: java.util.concurrent.atomic.AtomicReference[DataFrame],
                       d: String): DataFrame = {
      val pre = ref.get()
      if (pre != null) pre
      else { ref.compareAndSet(null, spark.read.parquet(d)); ref.get() }
    }

    // Appended batches are readable only once the ledger has them done
    // (IndexStore.Ledger.visible); the build rows (batch_id = 0) share
    // the datasets and are never hidden.
    def bandRows: DataFrame = visible(cached(bandCache, bandsDir))
    def sigRows: DataFrame = visible(cached(sigCache, sigsDir))

    private def visible(rows: DataFrame): DataFrame =
      ledger.visible(rows, always = col("batch_id") === 0L)

    @transient private[operators] lazy val ledger =
      new IndexStore.Ledger(spark, dir)

    /** Force a re-list on next read — called by every op that adds or
      * deletes files under the live version. */
    def invalidateListing(): Unit = { bandCache.set(null); sigCache.set(null) }
  }

  /** clean batch rows + (new_id, matched_id, est_jaccard) dropped
    * pairs + the survivors' signatures (what [[appendBatch]] takes).
    * `release()` unpersists the screen's internal cached relations —
    * call it once the results are consumed (a long-running stream
    * screening thousands of batches must not accumulate cache
    * bookkeeping; [[graft.streaming.IncrementalDedup.startIndexed]]
    * does this per batch).
    */
  final case class ScreenResult(clean: DataFrame, dropped: DataFrame,
                                cleanSigs: DataFrame,
                                release: () => Unit = () => ())

  private val store = IndexStore(Seq("bands", "sigs", "meta"))

  private def bandBucket(band: Column, bh: Column, n: Int): Column =
    pmod(xxhash64(band, bh), lit(n.toLong)).cast(LongType)

  private def sigBucket(id: Column, n: Int): Column =
    pmod(xxhash64(id), lit(n.toLong)).cast(LongType)

  /** (doc_id, band, bh) from a (doc_id, sig) relation. */
  private def banded(sigs: DataFrame, bands: Int): DataFrame = {
    import graft.functions.{exprs, LshBandKeys}
    sigs.select(col("doc_id"),
      posexplode(exprs.toColumn(LshBandKeys(exprs.toExpr(col("sig")), bands)))
        .as(Seq("band", "bh")))
  }

  /** The sizing rule as code (r10 — was operator-doc prose): pruning
    * bites only while a batch's footprint covers a small fraction of
    * the bucket space, so size each bucket count at `headroom` × the
    * footprint that reads it and round up to a power of two:
    *   - nBuckets from the BAND-KEY footprint (a batch of D docs emits
    *     D·bands keys → that many bucket hits at most);
    *   - nSigBuckets from the MATCH footprint (the verify pass reads
    *     the sig buckets of the candidates' matched store docs — the
    *     DEDUP_SERVE_r09 mult=100 row showed 500 matched ids
    *     saturating a fixed 256 and turning the "pruned" verify into a
    *     full sig-store read).
    * Inputs are per-batch EXPECTATIONS (observe them from a pilot
    * batch: batchDocs = batch size, matchesPerBatch = distinct
    * matched_id count of a screening). Capped at `maxBuckets` —
    * buckets are directories; a million tiny partitions costs more in
    * listing than pruning saves (the listing the Index now caches).
    *
    * `storeDocs` (r14, VERDICT r13 item 5): the match footprint alone
    * mis-sizes the sig side when matches are a large share of the
    * store. The verify read opens ~min(matches, nSigBuckets) files and
    * skips ~storeDocs·(1 − coverage) rows, so pruning pays only while
    * rows-saved-per-file-opened ≈ storeDocs / matches exceeds the
    * file-open cost expressed in row-reads — measured on this FS at
    * ~8k rows/open (DEDUP_SERVE_r14.json at the 5M decade: 65536
    * buckets read 7× fewer rows yet took 17× longer — 9258 tiny files
    * at ~0.36 ms/open vs 5M rows streaming through 256 files in
    * 0.19 s). When the observed store size says pruning can't pay
    * (storeDocs / matches < `fileCostRows`), size for the FULL read
    * instead: few big files (~2·fileCostRows rows each), clamped to
    * [256, 4096]. storeDocs = 0 (unobserved) keeps the match-only
    * rule.
    */
  def autoSize(batchDocs: Long, matchesPerBatch: Long, bands: Int = 16,
               headroom: Int = 16, maxBuckets: Int = 1 << 16,
               storeDocs: Long = 0L,
               fileCostRows: Long = 8192L): (Int, Int) = {
    require(batchDocs >= 1 && matchesPerBatch >= 0 && headroom >= 1,
      s"autoSize inputs out of range: $batchDocs/$matchesPerBatch/$headroom")
    require(storeDocs >= 0L && fileCostRows >= 1L,
      s"autoSize store inputs out of range: $storeDocs/$fileCostRows")
    def pow2Above(x: Long): Int =
      if (x >= maxBuckets) maxBuckets
      else math.max(1, java.lang.Long.highestOneBit(math.max(1L, x)).toInt
        * (if (java.lang.Long.bitCount(math.max(1L, x)) == 1) 1 else 2))
    val m = math.max(matchesPerBatch, 1L)
    val nSig =
      if (storeDocs <= 0L || storeDocs / m >= fileCostRows)
        pow2Above(m * headroom) // pruning pays (or store unobserved)
      else // matches cover the store: full read, minimize file count
        math.min(4096, math.max(256,
          pow2Above(storeDocs / (2L * fileCostRows))))
    (pow2Above(batchDocs * bands * headroom), nSig)
  }

  /** Build from a corpus and publish as the next version. One
    * signature pass; both relations write salted (`filesPerBucket`
    * writer tasks per bucket — the AnnIndex filesPerCell pattern, so
    * the bucket holding the hottest collision keys doesn't serialize
    * one writer).
    *
    * Sizing rule: pruning bites only when nBuckets >> batch · bands
    * (a batch's band keys hit ≤ min(batch·bands, nBuckets) buckets —
    * once they cover every bucket the "pruned" read is the full store
    * plus overhead). This index serves the MICRO-BATCH regime —
    * continuous ingest screening small batches against a huge store,
    * IncrementalDedup's production shape — where batch·bands is tiny
    * against nBuckets; for corpus-sized batches a full-store pass
    * amortizes over the batch and dedupBatch's shape is already
    * right. The smoke tool measures the slope of both.
    */
  def write(docs: DataFrame, idCol: String, textCol: String, dir: String,
            numPerm: Int = 64, bands: Int = 16,
            nBuckets: Int = 1024, nSigBuckets: Int = 256,
            filesPerBucket: Int = 2): Index = {
    require(numPerm >= bands && numPerm % bands == 0,
      s"numPerm must be a positive multiple of bands: $numPerm/$bands")
    require(nBuckets >= 1 && nSigBuckets >= 1 && filesPerBucket >= 1,
      s"bucket params out of range: $nBuckets/$nSigBuckets/$filesPerBucket")
    val spark = docs.sparkSession
    val v = store.allocate(spark, dir)
    val sigs = Dedup.minhashSignature(docs, idCol, textCol, numPerm)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      banded(sigs, bands)
        .withColumn("bucket", bandBucket(col("band"), col("bh"), nBuckets))
        .withColumn("batch_id", lit(0L))
        .repartition(nBuckets * filesPerBucket, col("bucket"),
          pmod(xxhash64(col("doc_id")), lit(filesPerBucket.toLong)))
        .write.mode("overwrite").partitionBy("bucket", "batch_id")
        .parquet(store.path(dir, "bands", v))
      sigs
        .withColumn("sbucket", sigBucket(col("doc_id"), nSigBuckets))
        .withColumn("batch_id", lit(0L))
        .repartition(nSigBuckets, col("sbucket"))
        .write.mode("overwrite").partitionBy("sbucket", "batch_id")
        .parquet(store.path(dir, "sigs", v))
      spark.range(1).select(lit(numPerm).as("num_perm"),
          lit(bands).as("bands"), lit(nBuckets).as("n_buckets"),
          lit(nSigBuckets).as("n_sig_buckets"))
        .write.mode("overwrite").parquet(store.path(dir, "meta", v))
    } finally sigs.unpersist()
    IndexStore.publish(spark, dir, v)
    open(spark, dir)
  }

  def open(spark: SparkSession, dir: String): Index = {
    val v = store.live(spark, dir)
    val m = spark.read.parquet(store.path(dir, "meta", v)).collect()(0)
    Index(spark, dir, m.getAs[Int]("num_perm"), m.getAs[Int]("bands"),
      m.getAs[Int]("n_buckets"), m.getAs[Int]("n_sig_buckets"),
      store.path(dir, "bands", v), store.path(dir, "sigs", v), v)
  }

  /** Screen a batch against the store (and itself, keep-first) —
    * [[graft.streaming.IncrementalDedup.dedupBatch]] semantics served
    * from the bucket-pruned disk index. `beforeBatch = Some(b)` reads
    * only store rows with batch_id < b (the replay rule: a re-run
    * batch must not see its own partial append).
    *
    * Cache lifecycle: the batch signatures and the candidate relation
    * persist (MEMORY_AND_DISK) because the probe-set collects and the
    * returned lazy results both consume them; both are bounded by the
    * batch. Call the result's `release()` once consumed — a stream
    * screening thousands of batches must not accumulate cache
    * bookkeeping (startIndexed does; one-shot callers may instead
    * lean on session eviction, the mediaNearDups lifecycle note).
    */
  def screenBatch(index: Index, newDocs: DataFrame, idCol: String,
                  textCol: String, threshold: Double = 0.8,
                  beforeBatch: Option[Long] = None): ScreenResult = {
    val newSigs = Dedup.minhashSignature(newDocs, idCol, textCol,
        index.numPerm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nb = banded(newSigs, index.bands)
      .withColumn("bucket",
        bandBucket(col("band"), col("bh"), index.nBuckets))
    // the batch's collision footprint: ≤ nBuckets values, the bounded
    // probe-set collect every index here uses (AnnIndex probes, BM25
    // query buckets)
    val buckets = nb.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    val horizon = beforeBatch.fold(lit(true))(b => col("batch_id") < b)
    val store =
      if (buckets.isEmpty) index.bandRows.where(lit(false))
      else index.bandRows
        .where(col("bucket").isin(buckets.map(_.asInstanceOf[Any]): _*) &&
          horizon)
    // store candidates + earlier-in-batch candidates (keep-first)
    val storeCands = nb.as("n")
      .join(store.as("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("matched_id"))
    val batchCands = nb.as("n")
      .join(nb.as("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh") &&
          col("o.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("matched_id"))
    val cands = storeCands.withColumn("from_store", lit(true))
      .unionByName(batchCands.withColumn("from_store", lit(false)))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verify: matched-side sigs from the sig-bucket slice the STORE
    // candidates actually hit (bounded collect of ≤ nSigBuckets ids).
    // Batch-local matched_ids cannot exist in the store by
    // construction — they verify against the in-memory newSigs union
    // below — so including them would only widen the pruned sig read
    // with partitions that contribute nothing.
    val sbuckets = cands.where(col("from_store"))
      .select(sigBucket(col("matched_id"), index.nSigBuckets).as("sb"))
      .distinct().collect().map(_.getLong(0))
    val matchedSigs =
      if (sbuckets.isEmpty)
        newSigs.select(col("doc_id").as("matched_id"),
          col("sig").as("sig_o")).limit(0)
      else index.sigRows
        .where(col("sbucket").isin(sbuckets.map(_.asInstanceOf[Any]): _*) &&
          horizon)
        .select(col("doc_id").as("matched_id"), col("sig").as("sig_o"))
    // earlier-in-batch matches verify against batch-local sigs
    val allMatched = matchedSigs.unionByName(
      newSigs.select(col("doc_id").as("matched_id"), col("sig").as("sig_o")))
    val dropped = cands.drop("from_store")
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("sig_n")),
        "new_id")
      .join(allMatched, "matched_id")
      .withColumn("est_jaccard",
        round(Dedup.signatureJaccard(col("sig_n"), col("sig_o")), 6))
      .where(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("matched_id"), col("est_jaccard"))
      .distinct()
    val dupIds = dropped.select(col("new_id").as(idCol)).distinct()
    val clean = newDocs.join(dupIds, Seq(idCol), "left_anti")
    val cleanSigs = newSigs.join(
      dupIds.withColumnRenamed(idCol, "doc_id"), Seq("doc_id"), "left_anti")
    ScreenResult(clean, dropped, cleanSigs,
      () => { newSigs.unpersist(); cands.unpersist() })
  }

  /** Append a screened batch's surviving signatures into the live
    * version's bucket partitions. `batchId` must be ≥ 1 and unique per
    * source batch; dynamic partition overwrite makes a replay
    * overwrite its own partitions (exactly-once under the foreachBatch
    * contract). Single-writer per batchId, like every maintenance op
    * here.
    *
    * The writes are bracketed by the store's batch ledger, exactly as
    * for Bm25Index.appendDocsBatch: a concurrent reader sees the
    * batch's band AND sig partitions only once its done row lands
    * (never bands without their sigs); a replay of a batch already done
    * under an older version (folded by [[compactBatches]]) is skipped,
    * or throws when its signatures differ (a reused batchId); a batch
    * stranded in-flight under an older version throws.
    */
  def appendBatch(index: Index, sigs: DataFrame, batchId: Long): Unit = {
    require(batchId >= 1, s"batchId must be >= 1 (0 is the build): $batchId")
    val fp = IndexStore.fingerprint(sigs, col("doc_id"), col("sig"))
    if (index.ledger.admit("DedupIndex.appendBatch", batchId,
        index.version, fp))
      IndexStore.bump(index.spark, index.dir) { _ => // r12: watchers
        index.ledger.commit(batchId, index.version, fp) {
          val dyn = Map("partitionOverwriteMode" -> "dynamic")
          banded(sigs, index.bands)
            .withColumn("bucket",
              bandBucket(col("band"), col("bh"), index.nBuckets))
            .withColumn("batch_id", lit(batchId))
            .repartition(col("bucket"))
            .write.mode("overwrite").options(dyn)
            .partitionBy("bucket", "batch_id").parquet(index.bandsDir)
          sigs.select(col("doc_id"), col("sig"))
            .withColumn("sbucket", sigBucket(col("doc_id"), index.nSigBuckets))
            .withColumn("batch_id", lit(batchId))
            .repartition(col("sbucket"))
            .write.mode("overwrite").options(dyn)
            .partitionBy("sbucket", "batch_id").parquet(index.sigsDir)
        }
        index.invalidateListing()
      }
  }

  /** Retention horizon: drop every APPENDED batch partition with
    * 1 ≤ batch_id < minLiveBatch from both relations — pure directory
    * deletes, nothing live rewritten (the raw store's retainBatches
    * compaction rule ported to the index; a crash mid-drop only
    * delays deletes). The build rows (batch_id = 0) are permanent
    * until a rebuild — the horizon is an INGEST window, and the
    * retention trade is the same: documents older than it can
    * re-enter the corpus unchallenged.
    */
  def dropBatchesBelow(index: Index, minLiveBatch: Long): Unit =
    IndexStore.bump(index.spark, index.dir) { _ => // r12: watchers
      val conf = index.spark.sessionState.newHadoopConf()
      Seq(index.bandsDir, index.sigsDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.listStatus(p)
          .filter(st => st.isDirectory &&
            (st.getPath.getName.startsWith("bucket=") ||
              st.getPath.getName.startsWith("sbucket=")))
          .foreach { bdir =>
            fs.listStatus(bdir.getPath)
              .filter { st =>
                val n = st.getPath.getName
                n.startsWith("batch_id=") && scala.util.Try(
                  n.stripPrefix("batch_id=").toLong).toOption
                  .exists(b => b >= 1 && b < minLiveBatch)
              }
              .foreach(st => fs.delete(st.getPath, true))
          }
      }
      index.invalidateListing()
    }

  /** Fold every surviving batch partition into a fresh version's
    * build rows (batch_id = 0) — file-count hygiene after a long
    * append run, with no re-signing (both relations rewrite from the
    * index's own rows) and byte-identical screening (spec-pinned).
    * Publishes through the CURRENT flip like every rebuild; pinned
    * readers keep the old version until vacuum. Refuses while an
    * appended batch is in-flight (its partitions may be partial, and
    * once folded into the build rows a replay could only double them)
    * and folds the batch ledger in the same maintenance window.
    */
  def compactBatches(index: Index, filesPerBucket: Int = 2): Index = {
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1: $filesPerBucket")
    val spark = index.spark
    index.ledger.requireSettled("compactBatches", index.version)
    index.ledger.fold()
    store.requireLive(spark, index.dir, index.version, "compactBatches")
    val v = store.allocate(spark, index.dir)
    index.bandRows
      .select(col("doc_id"), col("band"), col("bh"), col("bucket"))
      .withColumn("batch_id", lit(0L))
      .repartition(index.nBuckets * filesPerBucket, col("bucket"),
        pmod(xxhash64(col("doc_id")), lit(filesPerBucket.toLong)))
      .write.mode("overwrite").partitionBy("bucket", "batch_id")
      .parquet(store.path(index.dir, "bands", v))
    index.sigRows
      .select(col("doc_id"), col("sig"), col("sbucket"))
      .withColumn("batch_id", lit(0L))
      .repartition(index.nSigBuckets, col("sbucket"))
      .write.mode("overwrite").partitionBy("sbucket", "batch_id")
      .parquet(store.path(index.dir, "sigs", v))
    spark.range(1).select(lit(index.numPerm).as("num_perm"),
        lit(index.bands).as("bands"), lit(index.nBuckets).as("n_buckets"),
        lit(index.nSigBuckets).as("n_sig_buckets"))
      .write.mode("overwrite").parquet(store.path(index.dir, "meta", v))
    IndexStore.publish(spark, index.dir, v)
    open(spark, index.dir)
  }

  /** Drop all versions but the one CURRENT names, whichever version
    * `index` is pinned to (maintenance window only). */
  def vacuum(index: Index): Unit = store.vacuum(index.spark, index.dir)
}
