package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Incremental near-dup filtering for continuous ingestion — the
  * streaming twin of Dedup.minhashNearDups.
  *
  * Production shape: documents arrive in micro-batches; each batch's
  * minhash signatures are banded and joined against a persisted
  * signature store (parquet), near-dups are dropped, and the
  * survivors' signatures are appended to the store. State lives in
  * the store, not executor memory, so the horizon is unbounded — at
  * 100 TB/day the store is band-bucketed parquet and the join prunes
  * to colliding buckets only.
  */
object IncrementalDedup {

  /** clean batch rows + the (new_id, matched_id, est_jaccard) pairs
    * that were dropped, + the signatures of the surviving rows (the
    * store append).
    */
  final case class BatchResult(clean: DataFrame, dropped: DataFrame,
                               cleanSigs: DataFrame)

  /** Pure batch step. A new doc is a near-dup if its estimated
    * signature Jaccard reaches `threshold` against any STORE doc, or
    * against an earlier (smaller-id) doc of the same batch
    * (keep-first semantics; transitive chains collapse to the first
    * representative greedily, like the batch pipeline).
    */
  def dedupBatch(newDocs: DataFrame, idCol: String, textCol: String,
                 store: Option[DataFrame], threshold: Double = 0.8,
                 numPerm: Int = 64, bands: Int = 16): BatchResult = {
    import graft.functions.{exprs, LshBandKeys}
    val newSigs = Dedup.minhashSignature(newDocs, idCol, textCol, numPerm)
    val storeSigs = store.getOrElse(
      newSigs.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), newSigs.schema))
    val allSigs = storeSigs.withColumn("_new", lit(false))
      .unionByName(newSigs.withColumn("_new", lit(true)))

    def banded(df: DataFrame) = df.select(col("doc_id"), col("_new"),
      posexplode(exprs.toColumn(
        LshBandKeys(exprs.toExpr(col("sig")), bands))).as(Seq("band", "bh")))

    // bucket-local candidates: (new doc, any colliding doc)
    val cands = banded(allSigs.where(col("_new"))).as("n")
      .join(banded(allSigs).as("o"),
        col("n.band") === col("o.band") && col("n.bh") === col("o.bh") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .where(!col("o._new") || col("o.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("matched_id"))
      .distinct()

    val sigsById = allSigs.select(col("doc_id"), col("sig"))
    val dropped = cands
      .join(sigsById.withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("sig", "sig_n"), "new_id")
      .join(sigsById.withColumnRenamed("doc_id", "matched_id")
        .withColumnRenamed("sig", "sig_o"), "matched_id")
      .withColumn("est_jaccard",
        round(Dedup.signatureJaccard(col("sig_n"), col("sig_o")), 6))
      .where(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("matched_id"), col("est_jaccard"))

    val dupIds = dropped.select(col("new_id").as(idCol)).distinct()
    val clean = newDocs.join(dupIds, Seq(idCol), "left_anti")
    val cleanSigs = newSigs.join(
      dupIds.withColumnRenamed(idCol, "doc_id"), Seq("doc_id"), "left_anti")
    BatchResult(clean, dropped, cleanSigs)
  }

  /** Streaming wrapper: foreachBatch dedups against the parquet
    * signature store at `storeDir`, hands the clean rows to `sink`,
    * then appends the survivors' signatures to the store.
    *
    * Store maintenance is exactly-once and bounded:
    *  - each batch writes its signatures into its OWN partition
    *    (`batch_id=<b>`, dynamic partition overwrite) and reads only
    *    partitions with `batch_id < b`. A batch replayed after a crash
    *    therefore overwrites its own partial partition instead of
    *    double-appending, and never sees its own in-flight rows
    *    (exactly-once given the usual foreachBatch contract: a
    *    deterministic pipeline over checkpointed source offsets).
    *  - `retainBatches = Some(r)` bounds the store to the last r
    *    batches: older partitions are excluded at read time and their
    *    directories deleted after each successful batch. Compaction is
    *    thus pure partition drops — live data is never rewritten, so a
    *    crash mid-compaction only delays deletes until the next batch.
    *    Documents older than the horizon can re-enter the corpus; that
    *    is the retention trade, and `None` (the default) keeps the
    *    store unbounded as before.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            storeDir: String, threshold: Double = 0.8,
            numPerm: Int = 64, bands: Int = 16,
            retainBatches: Option[Long] = None,
            checkpointDir: Option[String] = None)
           (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    retainBatches.foreach(r => require(r >= 1, s"retainBatches must be >= 1: $r"))
    val writer = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val cached = batch.persist()
      try {
        val minLive = retainBatches.map(batchId - _).getOrElse(Long.MinValue)
        // Hadoop FS, not java.io.File: the store lives on whatever
        // filesystem the URI names (HDFS/object store on a cluster) —
        // a local-File probe would silently skip the store there
        val storePath = new org.apache.hadoop.fs.Path(storeDir)
        val fs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
        val hasData = fs.exists(storePath) && fs.listStatus(storePath)
          .exists { st =>
            val n = st.getPath.getName
            n.startsWith("batch_id=") || n.endsWith(".parquet")
          }
        val store =
          if (hasData) {
            val df = spark.read.parquet(storeDir)
            require(df.columns.contains("batch_id"),
              s"signature store at $storeDir predates the partitioned " +
                "layout (no batch_id partition column); rewrite it into " +
                "batch_id=<n> partitions or point at a fresh storeDir")
            Some(df
              .where(col("batch_id") < batchId && col("batch_id") >= minLive)
              .select("doc_id", "sig"))
          } else None
        val res = dedupBatch(cached, idCol, textCol, store, threshold,
          numPerm, bands)
        sink(res.clean, batchId)
        res.cleanSigs.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(storeDir)
        // compaction: drop partitions that fell off the retention
        // horizon (directory deletes only — nothing live is rewritten);
        // same FS handle as the read, so remote stores compact too
        retainBatches.foreach { _ =>
          fs.listStatus(storePath)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith("batch_id="))
            .filter(st => scala.util.Try(
              st.getPath.getName.stripPrefix("batch_id=").toLong)
              .toOption.exists(_ < minLive))
            .foreach(st => fs.delete(st.getPath, true))
        }
      } finally cached.unpersist()
    }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** [[start]] served from a persisted [[graft.operators.DedupIndex]]
    * instead of the raw signature store — the scale form: the raw
    * store re-reads and re-BANDS every prior signature on every
    * micro-batch (per-batch cost tracks the ingested corpus), while
    * the index screen reads only the batch's collision buckets
    * (DEDUP_SERVE_r09 measures the contrast). Identical screening
    * semantics (DedupIndexSpec pins screenBatch == dedupBatch) and
    * the identical exactly-once rule: screenBatch(beforeBatch = b)
    * never sees batch b's own partial append, and appendBatch lands
    * in per-(bucket, batch_id) partitions with dynamic overwrite so a
    * replay overwrites itself. The appends go through the same batch
    * ledger (IndexStore.Ledger) as Bm25Index.appendDocsBatch: a batch
    * becomes readable only at its done row, and a replay across a
    * compactBatches republish is skipped. The index must exist (build it with
    * `DedupIndex.write` on a non-empty seed corpus — parquet needs at
    * least one row to carry the schema); its
    * numPerm/bands ride in from the index metadata so the stream
    * cannot diverge from the build-time signature scheme. Streamed
    * batch ids are offset by +1 so the build rows' batch_id = 0 stays
    * reserved.
    */
  def startIndexed(docs: DataFrame, idCol: String, textCol: String,
                   indexDir: String, threshold: Double = 0.8,
                   retainBatches: Option[Long] = None,
                   checkpointDir: Option[String] = None)
                  (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.operators.DedupIndex
    retainBatches.foreach(r =>
      require(r >= 1, s"retainBatches must be >= 1: $r"))
    val writer = docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val cached = batch.persist()
      try {
        val idx = DedupIndex.open(batch.sparkSession, indexDir)
        val b = batchId + 1L
        val res = DedupIndex.screenBatch(idx, cached, idCol, textCol,
          threshold, beforeBatch = Some(b))
        try {
          sink(res.clean, batchId)
          DedupIndex.appendBatch(idx, res.cleanSigs, b)
        } finally res.release()
        // ingest-window retention: drop appended batches that fell off
        // the horizon (build rows are permanent — same trade as start)
        retainBatches.foreach(r =>
          DedupIndex.dropBatchesBelow(idx, b - r + 1))
      } finally cached.unpersist()
    }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
