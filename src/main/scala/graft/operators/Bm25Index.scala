package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted BM25 inverted index (SURVEY H18) — the LEXICAL twin of
  * the G11 ANN index, completing the serving story: [[TextAnalysis
  * .bm25Retrieve]] re-tokenizes the corpus on every query batch, which
  * is the one-job shape; this operator writes the posting lists ONCE
  * and serves every later query batch from a partition-pruned read,
  * the same on-disk mechanism AnnIndex uses for cells (reference
  * analog: the partition-pruned ParquetDataset read,
  * python/pyarrow/parquet.py `ParquetDataset(filters=...)`).
  *
  * On-disk layout under `dir`:
  *   postings/term_bucket=N/ — parquet of (term, doc_id, tf, dl, df):
  *       the inverted index, hash-bucketed by term so a query's terms
  *       prune to their buckets on disk. df and dl are DENORMALIZED
  *       into the posting rows at build time, so scoring needs no
  *       joins beyond the bounded query-term broadcast.
  *   meta/ — one row (n_docs, sum_dl, n_buckets): the corpus scalars
  *       BM25 needs, loaded bounded at open. Opening runs no corpus
  *       job.
  *
  * Search cost model at 100 TB: a query batch with T distinct terms
  * reads at most T of `nBuckets` partitions — posting lists for the
  * queried vocabulary slice, never the corpus — and the only shuffle
  * is the (qid, nid)-keyed score aggregation over matched postings
  * (the posting-list fan-out, exactly bm25Retrieve's join bound).
  * Build, appends and search share the [[Bm25]] core with the
  * recompute paths (tf relation, statistics, scoring tail), so index
  * search equals the recompute path bit-for-bit (spec-pinned) and
  * inherits q_bm25's oracle.
  *
  * Maintenance discipline: df is denormalized onto posting rows, so
  * a naive append would silently stale every existing term's idf.
  * Rebuild-per-version remains the baseline (cheap: one tokenize
  * pass). r9 adds EXACT incremental append between rebuilds
  * ([[appendDocs]]): appended postings carry df = 0 and each batch
  * writes an additive per-term (bucket-partitioned) df-delta table
  * plus a one-row meta delta; search reconstructs the effective df
  * for the QUERIED terms only — a bounded agg over the already
  * bucket-pruned slice plus the pruned delta rows, never a
  * vocabulary-sized join — so search-after-append equals a
  * from-scratch rebuild bit-for-bit (spec-pinned). Indexes that were
  * never appended to skip the whole path (one fs.exists).
  */
object Bm25Index {

  /** An opened index: bounded scalars + the lazy bucketed postings.
    * `postingsDir` is pinned through the CURRENT pointer at open (r9,
    * [[IndexStore]]): a rebuild publishing a newer version never
    * changes what this object serves.
    */
  final case class Index(spark: SparkSession, dir: String,
                         nBuckets: Int, nDocs: Long, sumDl: Long,
                         postingsDir: String, version: Long) {
    /** Build postings plus any batch-keyed appended postings (r13:
      * [[appendDocsBatch]] lands micro-batch rows in a sibling
      * batch-partitioned dataset so a streaming replay can REPLACE its
      * crashed attempt). The union is column-aligned; term_bucket
      * pruning pushes into both legs.
      */
    def postings: DataFrame = {
      val base = spark.read.parquet(postingsDir)
      IndexStore.readIfExists(spark, batchPostingsDir(this)).fold(base)(b =>
        base.unionByName(ledger.visible(b)
          .select("term", "doc_id", "tf", "dl", "df", "term_bucket")))
    }

    // The batch ledger, its entries cached on this handle (same
    // single-writer ownership contract as the DedupIndex listing
    // cache). `lazy` so a deserialized handle degrades to a re-read,
    // not an NPE.
    @transient private[operators] lazy val ledger =
      new IndexStore.Ledger(spark, dir)
  }

  private val store = IndexStore(
    Seq("postings", "meta", "doc_tombstones", "term_stats", "df_deltas",
      "meta_deltas", "postings_batches", "df_delta_batches",
      "meta_delta_batches"),
    bornVersioned = Set("df_deltas", "meta_deltas", "postings_batches",
      "df_delta_batches", "meta_delta_batches"))

  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(hash(term), lit(nBuckets)).cast(LongType)

  /** Build and persist. The [[Bm25.tf]] relation is materialized once
    * (DISK_ONLY) because the df aggregate, the postings join and the
    * meta row (from its sentinel rows) all consume it — without the
    * persist each would re-tokenize the corpus; with it the build
    * reads its input exactly once, then re-reads only the compact
    * post-aggregate relation. Set `persistRelation = false` when the
    * corpus is a GENERATED or otherwise IO-free relation (the
    * `IndexServe --gen-rows` discipline): cheap recomputes beat materializing a
    * corpus-sized relation to local disk.
    *
    * The salted repartition before the write is the AnnIndex
    * `filesPerCell` pattern: `filesPerBucket` writer tasks per bucket,
    * so the bucket holding the hottest vocabulary slice doesn't
    * serialize one giant writer (with the D7 bound still in force —
    * nBuckets × filesPerBucket files total, never tasks × buckets).
    *
    * MEMORY SIZING (r13, the 48 GB attribution — BM25_SERVE_r13): the
    * build's heap demand is per-task EXECUTION memory in the tf
    * aggregate and df join — it scales with tokens-per-shuffle-
    * partition, not with any driver-held state (there is none: the
    * only collects are the 1-row meta at open and the version
    * pointer). At 15M docs / 812M tokens, 32 shuffle partitions
    * GC-thrashed an 8 GB heap into a 630 s build needing 48 GB to run
    * smoothly, while 256 partitions ran the SAME build in 194-209 s
    * inside the 8 GB DEFAULT heap. Size
    * `spark.sql.shuffle.partitions` so a partition holds ≲5M token
    * rows; on a real cluster this is the ordinary per-executor
    * sizing, conflated into one JVM only under local[*].
    */
  def write(corpus: DataFrame, idCol: String, textCol: String,
            dir: String, nBuckets: Int = 64,
            filesPerBucket: Int = 4,
            persistRelation: Boolean = true): Index = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1: $filesPerBucket")
    val spark = corpus.sparkSession
    // versioned publication (r9): this index REBUILDS per corpus
    // version (df is denormalized — see the maintenance note above),
    // which is exactly the racy in-place overwrite the CURRENT-pointer
    // flip removes: the new postings+meta land in fresh .v(N+1)
    // directories, readers stay on .vN, and the atomic flip below
    // publishes; a crashed rebuild leaves the old version live
    val v = store.allocate(spark, dir)
    val relRaw = Bm25.tf(corpus, idCol, textCol, bag = None)
    val rel =
      if (persistRelation)
        relRaw.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else relRaw
    try {
      // term-stats sidecar FIRST (r13): the (term, df) relation —
      // one row per vocabulary term, bucket-partitioned like the
      // postings — materialized from the df aggregate the build
      // needs anyway. Searches that must learn df (the maxDfShare
      // head-elision probe, the post-append reconstruction) read
      // THIS vocabulary-sized table instead of scanning the
      // corpus-sized postings: at 30M generated docs the probe
      // against postings cost more than the elision saved
      // (BM25_SERVE_r13). The postings df column then comes from
      // reading the sidecar back — the aggregate is computed once.
      Bm25.df(rel)
        .withColumn("term_bucket", bucketOf(col("term"), nBuckets))
        .repartition(col("term_bucket"))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(store.path(dir, "term_stats", v))
      val stats = spark.read.parquet(store.path(dir, "term_stats", v))
        .select("term", "df")
      Bm25.postings(rel).join(stats, "term")
        .withColumn("term_bucket", bucketOf(col("term"), nBuckets))
        .select("term", "doc_id", "tf", "dl", "df", "term_bucket")
        .repartition(nBuckets * filesPerBucket, col("term_bucket"),
          pmod(hash(col("doc_id")), lit(filesPerBucket)))
        .write.mode("overwrite").partitionBy("term_bucket")
        .parquet(store.path(dir, "postings", v))
      Bm25.meta(rel)
        .withColumn("n_buckets", lit(nBuckets))
        .write.mode("overwrite").parquet(store.path(dir, "meta", v))
    } finally if (persistRelation) rel.unpersist()
    IndexStore.publish(spark, dir, v)
    open(spark, dir)
  }

  def open(spark: SparkSession, dir: String): Index = {
    // resolve the published version once and pin it (legacy
    // unversioned layouts resolve as version 0)
    val v = store.live(spark, dir)
    val m = spark.read.parquet(store.path(dir, "meta", v)).collect()(0)
    Index(spark, dir, m.getAs[Int]("n_buckets"),
      m.getAs[Long]("n_docs"), m.getAs[Long]("sum_dl"),
      store.path(dir, "postings", v), v)
  }

  /** Reclaim every version but the one CURRENT names (whichever version
    * `index` is pinned to), in a maintenance window. */
  def vacuum(index: Index): Unit = store.vacuum(index.spark, index.dir)

  // ---------------------------------------------- r9: exact appends
  //
  // The lifecycle twin of AnnIndex.append, made exact despite the
  // denormalized df: appended posting rows carry df = 0 (the additive
  // base), each batch appends (term, df_delta) rows — partitioned by
  // term_bucket, so a query prunes delta IO exactly like postings —
  // and a one-row (n_docs, sum_dl) meta delta. At search time the
  // effective df for each QUERIED term is max(build df over the
  // pruned slice) + sum(pruned deltas): build rows share one df value
  // per term, appended rows contribute 0, and terms born in an append
  // resolve to delta-only. Scalars add the meta deltas. Everything is
  // bounded by the queried vocabulary slice; a never-appended index
  // pays one fs.exists and keeps the row-local scoring plan.

  private def deltaDir(index: Index): String =
    store.path(index.dir, "df_deltas", index.version)
  private def metaDeltaDir(index: Index): String =
    store.path(index.dir, "meta_deltas", index.version)
  // r13: the batch-keyed twins — [[appendDocsBatch]]'s landing zones,
  // partitioned by batch_id so a streaming replay REPLACES its crashed
  // attempt (dynamic overwrite) instead of appending beside it
  private def batchPostingsDir(index: Index): String =
    store.path(index.dir, "postings_batches", index.version)
  private def batchDeltaDir(index: Index): String =
    store.path(index.dir, "df_delta_batches", index.version)
  private def batchMetaDeltaDir(index: Index): String =
    store.path(index.dir, "meta_delta_batches", index.version)

  /** The (term, df_delta, term_bucket) delta relation across both
    * append paths, or None when this version was never appended to.
    * The batch leg is gated on the ledger's done horizon.
    */
  private def dfDeltas(index: Index): Option[DataFrame] =
    appended(index, deltaDir(index), batchDeltaDir(index),
      "term", "df_delta", "term_bucket")

  /** The union of an append relation's plain leg and its ledger-gated
    * batch leg, or None when neither was ever written. */
  private def appended(index: Index, plain: String, batched: String,
                       cols: String*): Option[DataFrame] =
    Seq(IndexStore.readIfExists(index.spark, plain),
        IndexStore.readIfExists(index.spark, batched).map(index.ledger.visible(_)))
      .flatten.map(_.select(cols.map(col): _*))
      .reduceOption(_ unionByName _)

  /** The (n_docs, sum_dl) meta-delta relation across both append
    * paths, or None when this version was never appended to.
    * The batch leg is gated on the ledger's done horizon.
    */
  private def metaDeltas(index: Index): Option[DataFrame] =
    appended(index, metaDeltaDir(index), batchMetaDeltaDir(index),
      "n_docs", "sum_dl")

  /** Corpus scalars for this version: base meta plus any accumulated
    * deltas — a bounded driver read (one row per append batch).
    */
  private def effectiveScalars(index: Index): (Long, Long) =
    metaDeltas(index) match {
      case None => (index.nDocs, index.sumDl)
      case Some(md) =>
        // coalesce: a delta dir can exist with zero readable rows (a
        // crashed append's partial landing) — nulls here must read as
        // "no delta", never NPE (r14 ADVICE)
        val d = md.agg(coalesce(sum("n_docs"), lit(0L)),
          coalesce(sum("sum_dl"), lit(0L))).collect()(0)
        (index.nDocs + d.getLong(0), index.sumDl + d.getLong(1))
    }

  /** Append `newDocs` to the index's CURRENT version: one tokenize
    * pass; postings land in the existing bucket partitions (df = 0),
    * the batch's per-term document counts land in the delta table, and
    * the corpus scalars get a delta row. Searches on this version pick
    * the rows up on the next partition discovery; scalars and df are
    * reconstructed per search, so results equal a full rebuild.
    */
  def appendDocs(index: Index, newDocs: DataFrame, idCol: String,
                 textCol: String, filesPerBucket: Int = 1): Unit = {
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1: $filesPerBucket")
    append(index, newDocs, idCol, textCol, filesPerBucket, batchId = None)
  }

  /** The REPLAY-IDEMPOTENT form of [[appendDocs]] for the composed
    * streaming ingest (I15, r13): identical search semantics — df = 0
    * postings, per-term df deltas, a meta delta row — but every
    * relation lands in a `batch_id`-partitioned dataset with DYNAMIC
    * overwrite, so a micro-batch killed mid-append and replayed from
    * its checkpoint REPLACES its crashed attempt's partitions instead
    * of appending a second copy beside them (the IncrementalDedup /
    * clean-sink rule; plain [[appendDocs]]'s `mode("append")` would
    * double-count every replayed posting and df delta). The replay is
    * exact because the pipeline is deterministic over checkpointed
    * offsets: a replayed batch computes the same postings, so
    * overwriting its own partitions converges to exactly-once rows.
    *
    * Search-after-restart equals an index built whole over the final
    * corpus (spec-pinned), exactly as for [[appendDocs]]: search and
    * compaction read both append paths through one unioned relation,
    * with bucket pruning pushed into each leg.
    *
    * Versions (r14): the batch dirs are version-keyed, so the store's
    * batch ledger (IndexStore.Ledger) brackets every batch: one done
    * under an older version is skipped, an in-flight one blocks
    * [[compactDeltas]], and one stranded under an older version throws.
    */
  def appendDocsBatch(index: Index, newDocs: DataFrame, idCol: String,
                      textCol: String, batchId: Long,
                      filesPerBucket: Int = 1): Unit = {
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1: $filesPerBucket")
    // content fingerprint (r15 ADVICE): recorded with the ledger rows
    // and VERIFIED on the done-under-older-version skip, so a fresh
    // batch reusing an old batchId (checkpoint reset, index reuse
    // across streams) throws instead of silently vanishing from this
    // index while the other ingest legs absorb it
    val fp = IndexStore.fingerprint(newDocs, col(idCol), col(textCol))
    if (index.ledger.admit("Bm25Index.appendDocsBatch", batchId,
        index.version, fp))
      append(index, newDocs, idCol, textCol, filesPerBucket, Some(batchId),
        fp)
  }

  /** One append, from ONE read of `newDocs` into a persisted
    * [[Bm25.tf]] relation: df = 0 postings land in the bucket
    * partitions, the batch's per-term document counts in the delta
    * table, and its sentinel rows become the meta delta row. `batchId`
    * selects [[appendDocsBatch]]'s batch-keyed dirs — dynamic overwrite
    * of the batch's own partitions, bracketed by the intent and done
    * ledger rows — over [[appendDocs]]'s plain `mode("append")` dirs.
    */
  private def append(index: Index, newDocs: DataFrame, idCol: String,
                     textCol: String, filesPerBucket: Int,
                     batchId: Option[Long], fp: Long = 0L): Unit = {
    def land(df: DataFrame, dir: String, parts: String*): Unit =
      batchId match {
        case None => df.write.mode("append").partitionBy(parts: _*)
          .parquet(dir)
        case Some(id) => df.withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(parts :+ "batch_id": _*)
          .parquet(dir)
      }
    val batched = batchId.isDefined
    val rel = Bm25.tf(newDocs, idCol, textCol, bag = None)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      // token-empty batch guard (r14 ADVICE): a batch whose docs all
      // tokenize to nothing contributes NO postings, NO df deltas and —
      // because only docs with >= 1 token carry a sentinel row — NO
      // meta delta either; writing the empty partitioned datasets anyway
      // would leave file-less dirs that poison every later
      // spark.read.parquet (schema inference has nothing to read).
      // Skipping all three writes keeps search == built-whole exactly.
      if (rel.isEmpty) return
      def writes(): Unit = {
        land(Bm25.postings(rel).withColumn("df", lit(0L))
            .withColumn("term_bucket", bucketOf(col("term"), index.nBuckets))
            .select("term", "doc_id", "tf", "dl", "df", "term_bucket")
            .repartition(index.nBuckets * filesPerBucket, col("term_bucket"),
              pmod(hash(col("doc_id")), lit(filesPerBucket))),
          if (batched) batchPostingsDir(index) else index.postingsDir,
          "term_bucket")
        land(Bm25.df(rel).withColumnRenamed("df", "df_delta")
            .withColumn("term_bucket", bucketOf(col("term"), index.nBuckets))
            .repartition(col("term_bucket")),
          if (batched) batchDeltaDir(index) else deltaDir(index),
          "term_bucket")
        land(Bm25.meta(rel).coalesce(1),
          if (batched) batchMetaDeltaDir(index) else metaDeltaDir(index))
      }
      // in-version mutation: advance the watcher counter (r12) so a
      // GraftServer.watchIndexes plan pinned to the pre-append file
      // listing rebuilds on its next request
      IndexStore.bump(index.spark, index.dir) { _ =>
        batchId.fold(writes())(
          index.ledger.commit(_, index.version, fp)(writes()))
      }
    } finally rel.unpersist()
  }

  /** Effective df per term: the build-time df (max over `base`'s rows —
    * build rows share one value per term, appended rows carry 0) plus
    * the summed `deltas` rows of either append path; terms born in an
    * append resolve to delta-only. A map-side-combined groupBy joined
    * back, never a term window. Shared by search and compaction.
    */
  private def effectiveDf(base: DataFrame,
                          deltas: Option[DataFrame]): DataFrame = {
    val baseDf = base.groupBy("term").agg(max(col("df")).as("df_base"))
    deltas match {
      case None => baseDf.select(col("term"), col("df_base").as("df_eff"))
      case Some(d) =>
        baseDf.join(d.groupBy("term").agg(sum(col("df_delta")).as("df_add")),
            Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df_base"), lit(0L)) +
              coalesce(col("df_add"), lit(0L))).as("df_eff"))
    }
  }

  /** Stage one bucket group of compacted version `v`. df is a function
    * of `term` and `term` determines `term_bucket`, so a group folds
    * independently: both postings legs and both delta legs prune to the
    * group's partitions, and the rewrite's transient shuffle is
    * group-sized. Writes stage into the SHARED v directories with
    * dynamic partition overwrite, so a crashed run's redo replaces its
    * own partitions.
    */
  private def compactBucketGroup(index: Index, v: Long,
                                 filesPerBucket: Int,
                                 group: Seq[Int]): Unit = {
    val inG = col("term_bucket")
      .isin(group.map(b => Long.box(b.toLong)): _*)
    val slice = index.postings.where(inG)
    // effective df from the RAW rows: deletes must not perturb df (the
    // search rule). One aggregate, two consumers — the group's
    // vocabulary slice persists (bounded: vocab/nBuckets × group size)
    val statsG = effectiveDf(slice, dfDeltas(index).map(_.where(inG)))
      .select(col("term"), col("df_eff").as("df"))
      .withColumn("term_bucket", bucketOf(col("term"), index.nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      statsG.repartition(col("term_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("term_bucket")
        .parquet(store.path(index.dir, "term_stats", v))
      aliveDocs(index, slice)
        .drop("df").join(statsG.select("term", "df"), "term")
        // recompute the bucket so its type stays canonical regardless
        // of what partition-column inference produced on the read
        .withColumn("term_bucket", bucketOf(col("term"), index.nBuckets))
        .select("term", "doc_id", "tf", "dl", "df", "term_bucket")
        .repartition(group.size * filesPerBucket, col("term_bucket"),
          pmod(hash(col("doc_id")), lit(filesPerBucket)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("term_bucket")
        .parquet(store.path(index.dir, "postings", v))
    } finally statsG.unpersist()
  }

  /** Fold accumulated df deltas and doc tombstones into a fresh
    * postings version WITHOUT re-tokenizing the corpus — the lexical
    * twin of `AnnIndex.compactCells`. Everything derives from the
    * index's own rows: each term's effective df is the exact
    * search-time reconstruction ([[effectiveDf]]), tombstoned documents
    * drop physically, and the corpus scalars are base + meta deltas
    * (delete-conservative, matching search semantics). The result
    * publishes as postings.v(N+1)/meta.v(N+1) through the CURRENT flip;
    * the new version carries no delta or tombstone dirs, so searches on
    * it take the row-local single-relation plan again. Search results
    * are IDENTICAL before and after compaction (spec-pinned), and open
    * readers pinned to the old version are undisturbed until
    * [[vacuum]]. `index` must be pinned to the live version.
    *
    * `bucketsPerJob` (r15, VERDICT r14 item 2): 0 (default) folds all
    * postings in ONE job — whose transient shuffle footprint is the
    * whole corpus re-keyed at once (~50 GB at 100M docs, measured in
    * BM25_SERVE_r14: the reason the sliced 100M index could not
    * compact). Because every bucket folds INDEPENDENTLY (see
    * [[compactBucketGroup]]), bucketsPerJob ≥ 1 runs the rewrite as
    * ceil(nBuckets / bucketsPerJob) partition-pruned jobs, each staging
    * its bucket group into the SAME v+1 directories — transient
    * footprint ≈ bucketsPerJob/nBuckets of the whole job, with
    * version-publish atomicity preserved (all groups stage under v+1;
    * CURRENT flips once at the end; a crash mid-stage leaves the old
    * version live). Search results are identical in either mode
    * (spec-pinned).
    */
  def compactDeltas(index: Index, filesPerBucket: Int = 4,
                    bucketsPerJob: Int = 0): Index = {
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1: $filesPerBucket")
    val spark = index.spark
    // r14: refuse to fold an in-flight stream batch (intent without
    // done in the ledger) — its partitions may be partial, and once
    // compacted into the base the replay can no longer replace them,
    // only double them. The one-sided race from the r13 ADVICE.
    index.ledger.requireSettled("compactDeltas", index.version)
    // ledger hygiene (r15 ADVICE): fold the two-tiny-files-per-batch
    // history into one row per batch while we hold the single-writer
    // maintenance window — entries-map identical, O(N²) listing gone
    index.ledger.fold()
    store.requireLive(spark, index.dir, index.version, "compactDeltas")
    val v = store.allocate(spark, index.dir)
    val (nDocs, sumDl) = effectiveScalars(index)
    val buckets = 0 until index.nBuckets
    (if (bucketsPerJob >= 1) buckets.grouped(bucketsPerJob) else Iterator(buckets))
      .foreach(g => compactBucketGroup(index, v, filesPerBucket, g))
    spark.range(1)
      .select(lit(nDocs).cast(LongType).as("n_docs"),
        lit(sumDl).cast(LongType).as("sum_dl"),
        lit(index.nBuckets).cast(IntegerType).as("n_buckets"))
      .write.mode("overwrite").parquet(store.path(index.dir, "meta", v))
    IndexStore.publish(spark, index.dir, v)
    open(spark, index.dir)
  }

  // ------------------------------------------------- r9: doc deletes
  //
  // The G13 tombstone mechanism composed onto the lexical index: the
  // takedown / right-to-be-forgotten operation between rebuilds. A
  // delete appends (doc_id) rows to a bounded per-version tombstone
  // relation — zero postings IO — and every search anti-joins the
  // broadcast set against ONLY the pruned postings slice, so deleted
  // documents vanish from all searches immediately. df staleness from
  // deletes is bounded and conservative: the denormalized df still
  // counts deleted docs, so idf — and therefore every affected score —
  // only UNDERSTATES until the next rebuild, which starts a fresh
  // version with no tombstones.

  private def tombDir(index: Index): String =
    store.path(index.dir, "doc_tombstones", index.version)

  /** Logically delete documents (a `doc_id` column): O(|ids|) writes,
    * zero postings IO; they disappear from every subsequent search on
    * this version.
    */
  def deleteDocs(index: Index, ids: DataFrame,
                 idCol: String = "doc_id"): Unit =
    IndexStore.bump(index.spark, index.dir) { _ => // r12: watchers
      ids.select(col(idCol).as("doc_id")).distinct()
        .coalesce(1)
        .write.mode("append").parquet(tombDir(index))
    }

  /** The pruned postings slice with tombstoned documents removed. */
  private def aliveDocs(index: Index, postings: DataFrame): DataFrame =
    IndexStore.readIfExists(index.spark, tombDir(index)).fold(postings)(t =>
      postings.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))

  /** Effective df for a bounded term relation: the build-time df
    * (from the vocabulary-sized term-stats sidecar when the version
    * has one — r13; the corpus-sized postings max-scan on legacy
    * layouts) plus any accumulated delta sums — bounded by the
    * queried vocabulary. Shared by the appended-path scoring and the
    * `maxDfShare` head-elision probe; the sidecar is what makes the
    * probe cheaper than the head postings it elides.
    */
  private def dfForTerms(index: Index, qTerms: DataFrame,
                         inBuckets: Column): DataFrame = {
    val base = IndexStore.readIfExists(index.spark,
        store.path(index.dir, "term_stats", index.version))
      .getOrElse(index.postings)
    def queried(d: DataFrame) =
      d.where(inBuckets).join(broadcast(qTerms), "term")
    effectiveDf(queried(base), dfDeltas(index).map(queried))
  }

  /** Query-by-example retrieval from the persisted postings: each
    * query row's distinct tokens form its term bag (bounded,
    * broadcast); their distinct buckets (≤ distinct query terms,
    * collected — the AnnIndex probe sanction) become a LITERAL
    * `term_bucket IN (...)` predicate that Catalyst satisfies by
    * partition pruning, so unqueried vocabulary directories are never
    * listed into the scan. Scoring and ranking are bm25Retrieve's own
    * [[Bm25.rank]] tail: same rounded-decimal term scores, same
    * (bm25 desc, nid) tie-break.
    *
    * `allowed` (r9): restrict results to a (doc_id) relation — the
    * multi-tenant / per-collection serving filter, the positive twin
    * of the [[deleteDocs]] tombstone anti-join, applied identically:
    * a doc_id-keyed semi join against ONLY the pruned postings slice
    * (bucket partition pruning untouched). Ranks are computed within
    * the allowed set — brute-force-within-filter semantics, matching
    * the AnnIndex `allowed` contract so the fused RRF/MMR serving
    * chain composes filtered end-to-end.
    *
    * `maxDfShare` (r13): drop query terms whose effective df exceeds
    * `maxDfShare · N` BEFORE retrieval — the Zipf/stopword head. Such
    * terms carry idf ≈ 0 (BM25's (N − df + ½)/(df + ½) log is ~0 at
    * df ≈ N) yet drag corpus-scale posting lists through the score
    * aggregate: BM25_SERVE_r13 measured the warm search LINEAR in
    * matched postings precisely because the generated head words
    * defeat the fixed English stopword list. Measured-df elision is
    * the Lucene/ES stopword discipline made corpus-adaptive. EXACT
    * contract: results equal a search whose query bag simply lacks
    * the elided terms (spec-pinned); a query whose entire bag elides
    * matches nothing and returns no rows. Cost: one extra BOUNDED df
    * probe (a narrow (term, df) aggregate over the pruned slice) —
    * paid to avoid the head terms' join fan-out and agg shuffle,
    * which at 10^10 docs is the difference between reading posting
    * lists for the discriminative vocabulary and reading the corpus.
    */
  def search(index: Index, queries: DataFrame, idCol: String,
             textCol: String, topK: Int = 20,
             k1: Double = 1.2, b: Double = 0.75,
             allowed: Option[DataFrame] = None,
             maxDfShare: Option[Double] = None): DataFrame = {
    val qtAll = Bm25.queryTerms(queries, idCol, textCol)
      .withColumn("term_bucket", bucketOf(col("term"), index.nBuckets))
    // corpus scalars: base meta + (if appended) the meta delta rows —
    // a bounded driver read per search, the probe-set sanction
    val (nDocs, sumDl) = effectiveScalars(index)
    // maxDfShare probe (r13), evaluated ONCE (r14 ADVICE): the bounded
    // (term, df_eff) relation over the full query vocabulary is
    // collected — it is query-vocabulary-sized, the same probe-set
    // sanction as the bucket list — and BOTH the keep set and the
    // post-append scoring df derive from those rows, instead of
    // re-running the sidecar/delta probe jobs a second time on the hot
    // serving path.
    val probedDf: Option[Array[(String, Long)]] = maxDfShare.map { share =>
      require(share > 0.0 && share <= 1.0,
        s"maxDfShare must be in (0, 1]: $share")
      val bucketsAll = qtAll.select("term_bucket").distinct()
        .collect().map(_.getLong(0)).sorted
      val inAll =
        col("term_bucket").isin(bucketsAll.map(_.asInstanceOf[Any]): _*)
      dfForTerms(index, qtAll.select("term").distinct(), inAll)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .filter { case (_, dfEff) => dfEff <= share * nDocs }
    }
    val qt = probedDf match {
      case None => qtAll
      case Some(kept) =>
        import index.spark.implicits._
        val keep = kept.toSeq.map(_._1).toDF("term")
        qtAll.join(broadcast(keep), "term")
          .select("qid", "term", "term_bucket")
    }
    val buckets = qt.select("term_bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    val inBuckets =
      col("term_bucket").isin(buckets.map(_.asInstanceOf[Any]): _*)
    val slicedRaw = index.postings.where(inBuckets)
    val sliced = aliveDocs(index, slicedRaw)
    val pruned = allowed.fold(sliced)(a =>
      sliced.join(a.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    // effective df: on a never-appended index it is the row's own
    // denormalized value; after appends it is reconstructed by
    // [[dfForTerms]] — bounded by the queried vocabulary either way
    val postings = dfDeltas(index) match {
      case None => pruned
      case Some(_) =>
        // reuse the already-collected probe rows when maxDfShare ran
        // (kept terms' df_eff values are exactly what a re-probe over
        // the narrower bucket set would return); probe only when no
        // elision pass paid for them
        val dfRel = probedDf match {
          case Some(kept) =>
            import index.spark.implicits._
            kept.toSeq.toDF("term", "df_eff")
          case None =>
            dfForTerms(index, qt.select("term").distinct(), inBuckets)
        }
        pruned.drop("df").join(broadcast(dfRel), "term")
          .withColumnRenamed("df_eff", "df")
    }
    Bm25.rank(postings.withColumn("n_docs", lit(nDocs))
      .withColumn("sum_dl", lit(sumDl)), qt, k1, b, topK)
  }
}
