package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted IVF / IVF-PQ ANN index (SURVEY G11/G12).
  *
  * [[Similarity.ivfTopK]] / [[Similarity.ivfPqTopK]] re-run
  * assign-to-centroids over the corpus on every search — fine for an
  * index you build and query in one job, wrong for the serving shape
  * where one corpus version answers many query batches. This operator
  * makes the 100 TB story code: the encoded corpus is written ONCE as
  * cent_id-partitioned parquet, and every search reads only the
  * `nprobe` probed cell directories — partition pruning on disk, the
  * same mechanism as a hive-partitioned table (reference analog: the
  * partition-pruned ParquetDataset read,
  * python/pyarrow/parquet.py `ParquetDataset(filters=...)`).
  *
  * On-disk layout under `dir` (r9: versioned publication through
  * [[IndexStore]] — `CURRENT` names the live version V, rebuilds and
  * compactions write V+1 and flip the pointer atomically):
  *   CURRENT            — text file holding the published version
  *   GEN                — the in-version generation counter (deletes)
  *   cells.vV/cent_id=N/ — parquet of (vec_id, codes: array<int>,
  *                      anrm: double, embedding: array<float>,
  *                      gen: long — the write generation, see deletes,
  *                      plus any `metaCols` carried at build)
  *   centroids.vV/    — parquet of (cent_id: long, cent: array<float>)
  *   codebooks.vV/    — parquet of (m: int, code: int, cent: array<double>)
  *   cellstats.vV/    — parquet of (cent_id: long, n: long) at build time
  *   meta/            — parquet of (next_gen: long), written only by
  *                      indexes built before GEN was the one counter;
  *                      read as a generation floor
  *   tombstones.vV/   — parquet of (vec_id, gen: long); present only
  *                      between a delete/upsert and the next compaction
  * The bounded artifacts are versioned WITH the cells (r9): open()
  * loads the artifact set of the version it pins, so a rebuild that
  * crashes between its artifact writes and the CURRENT flip can never
  * leave old cells served with new centroids/codebooks. (pre-r9
  * indexes with unversioned `cells/` resolve as version 0 and keep
  * opening from the unversioned dirs.)
  *
  * `codes`/`anrm` serve the ADC scan (each scanned row is m ints, not
  * dim floats); `embedding` serves exact re-rank and exact-within-cell
  * search from the SAME pruned read, so refine never touches an
  * unprobed partition. Centroids and codebooks are bounded (k·dim and
  * m·ncodes·sub) and load as local relations — opening an index runs
  * no corpus job at all.
  */
object AnnIndex {
  import VectorSearch.{cos, exactQueries, normed, probedPairs, probes, Pq}

  /** An opened index: bounded driver-side artifacts plus the lazy
    * cell-partitioned corpus relation. `centroids` is a LOCAL relation
    * (k·dim floats), so probe selection never scans the corpus.
    *
    * `cellsDir`/`tombDir` are PINNED at open/build through the CURRENT
    * pointer (r9, [[IndexStore]]): this index object serves its
    * version snapshot consistently even while a compaction publishes a
    * newer one — re-open (or use compactCells' return) to move
    * forward.
    */
  final case class IvfPqIndex(
      spark: SparkSession,
      dir: String,
      centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      cellsDir: String,
      tombDir: String,
      version: Long) {
    /** Cell-partitioned encoded corpus; cent_id is a partition column. */
    def cells: DataFrame = spark.read.parquet(cellsDir)
  }

  private val store =
    IndexStore(Seq("cells", "tombstones", "centroids", "codebooks", "cellstats"))

  /** Assign + PQ-encode a corpus slice against fixed index artifacts.
    * Map-only: NearestCentroid + PqEncode + the squared-norm LUT, no
    * shuffle — the shape both the initial build and every append use.
    */
  private def encode(rows: DataFrame, cents: DataFrame,
                     books: Seq[Seq[Seq[Double]]], gen: Long,
                     keep: Seq[String] = Nil): DataFrame =
    Pq(books).encoded(Similarity.assignToCentroids(rows, cents, keep),
        Seq("vec_id", "cent_id"), "embedding" +: keep)
      .withColumn("gen", lit(gen))

  /** The non-core cell columns: index-resident metadata carried by
    * `write(metaCols = ...)`, preserved by append/upsert/compaction.
    */
  private val coreCols =
    Set("vec_id", "cent_id", "codes", "embedding", "anrm", "gen")
  private def metaColsOf(index: IvfPqIndex): Seq[String] =
    index.cells.columns.toSeq.filterNot(coreCols)

  private def writeArtifacts(spark: SparkSession, dir: String, v: Long,
                             cents: DataFrame,
                             books: Seq[Seq[Seq[Double]]]): Unit = {
    import spark.implicits._
    cents.select(col("cent_id").cast(LongType), col("cent"))
      .write.mode("overwrite").parquet(store.path(dir, "centroids", v))
    books.zipWithIndex
      .flatMap { case (sub, mi) =>
        sub.zipWithIndex.map { case (c, ci) => (mi, ci, c) } }
      .toDF("m", "code", "cent")
      .write.mode("overwrite").parquet(store.path(dir, "codebooks", v))
  }

  /** Build and persist the index: train both halves (or reuse
    * pre-trained artifacts), encode the corpus, and write it
    * cent_id-partitioned. The repartition-by-partition-column before
    * the write is the D7 discipline — one writer task per cell, not
    * tasks × cells small files.
    */
  /** `storeEmbeddings = false` writes the codes-only index — the true
    * 100 TB serving format: each corpus row persists as m small ints
    * + one norm (a dim·4/m-fold size cut), enough for the pure-ADC
    * search path (searchAdc with refine <= 0). Exact-within-cell
    * search and exact re-rank need the stored vectors and reject a
    * codes-only index explicitly.
    *
    * `filesPerCell` is the pruned-read PARALLELISM knob: a probe of
    * `p` cells scans at most p·filesPerCell file splits, and below the
    * 128 MB split size one-file cells starve the scan (4 probed cells
    * = 4 tasks on a 32-core executor). Cells larger than the split
    * size parallelize regardless, so 1 (the default) is right at
    * 100 TB; raise it when cells are small relative to the cluster.
    */
  /** `metaCols` (r9): corpus columns to carry INTO the cell rows —
    * tenant, label, source, lang. Searches then filter with a plain
    * predicate over index-resident columns (`where = Some(...)`): no
    * external id-relation to maintain or join, and the predicate
    * pushes into the pruned parquet scan (row-group skipping via
    * min/max stats) — the cheapest possible per-tenant serving at
    * 100 TB. append/upsert preserve the columns automatically.
    */
  def write(corpus: DataFrame, dir: String, dim: Int,
            nCells: Int = 16, stride: Long = 7, kmeansIters: Int = 1,
            m: Int = 8, ncodes: Int = 16, pqIters: Int = 2,
            centroids: Option[DataFrame] = None,
            codebooks: Option[Seq[Seq[Seq[Double]]]] = None,
            storeEmbeddings: Boolean = true,
            filesPerCell: Int = 1,
            metaCols: Seq[String] = Nil): IvfPqIndex = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1: $filesPerCell")
    require(metaCols.forall(c => !coreCols(c)),
      s"metaCols clash with core index columns: $metaCols")
    val spark = corpus.sparkSession
    val cents = centroids.getOrElse(
      Similarity.trainIvfCentroids(corpus, nCells, stride, kmeansIters))
    val books = codebooks.getOrElse(
      Similarity.trainPqCodebooks(corpus, dim, m, ncodes, stride, pqIters))
    val enc = encode(corpus, cents, books, gen = 0L, keep = metaCols)
    // versioned publication (r9): the corpus lands in a NEW cells.vN
    // directory and becomes visible only at the CURRENT flip below —
    // a rebuild over a live index never races its readers, and a
    // crashed build leaves the old version published. The bounded
    // artifacts are versioned too: a crash between the artifact writes
    // and the flip must not leave old cells served with NEW centroids
    // or codebooks (wrong probes, wrong ADC decode).
    val v = store.allocate(spark, dir)
    val cellsDir = store.path(dir, "cells", v)
    cellPartitioned(if (storeEmbeddings) enc else enc.drop("embedding"),
      nCells, filesPerCell)
      .write.mode("overwrite").partitionBy("cent_id").parquet(cellsDir)
    writeArtifacts(spark, dir, v, cents, books)
    // build-time cell histogram: the drift baseline (bounded: nCells
    // rows). Row counts come from the just-written parquet FOOTERS —
    // a distributed metadata-only pass over O(files) (the D14
    // surface), not the r7 second scan of the encoded corpus
    cellStatsFromFooters(spark, cellsDir)
      .coalesce(1).write.mode("overwrite")
      .parquet(store.path(dir, "cellstats", v))
    IndexStore.publish(spark, dir, v)
    IvfPqIndex(spark, dir, cents, books, cellsDir,
      store.path(dir, "tombstones", v), v)
  }

  // ------------------------------------------------------ G13: deletes
  //
  // Tombstone deletes, the LSM discipline: a delete never touches the
  // cell files (a targeted rewrite of a 100 TB partitioned corpus per
  // delete batch is the operation that cannot exist); it appends
  // (vec_id, gen) rows to a bounded tombstones/ relation, and every
  // search anti-joins the broadcast tombstone set against the PRUNED
  // cell slice — a row is dead iff a tombstone with a LATER generation
  // names its id, so an upsert's re-encoded row (written at the
  // tombstone's own generation) survives while every older version
  // dies. compactCells() makes deletes physical and clears the set.
  // Generations are the store's GEN counter, bumped once per
  // maintenance batch and never reset (so watching servers rebuild on
  // every in-version mutation, r12); like compaction, maintenance is
  // single-writer by contract (searches are unaffected readers). The
  // tombstone set grows only until the next compaction — the broadcast
  // stays bounded by the same maintenance cadence that bounds small
  // files.

  /** Run an in-version mutation at the next generation. Indexes built
    * before GEN was the one counter kept theirs in meta/next_gen (the
    * next unused generation), so a new generation must also exceed
    * next_gen − 1.
    */
  private def mutate(index: IvfPqIndex)(write: Long => Unit): Unit = {
    val floor = IndexStore.readIfExists(index.spark, s"${index.dir}/meta")
      .fold(0L)(_.head().getLong(0) - 1L)
    IndexStore.bump(index.spark, index.dir, floor)(write)
  }

  private def tombstones(index: IvfPqIndex): Option[DataFrame] =
    IndexStore.readIfExists(index.spark, index.tombDir)

  /** Filtered serving (G9 over the persisted index, r9): restrict a
    * search to an `allowed` (vec_id) relation — "top-k within
    * label/tenant/source" served from disk. The positive twin of the
    * G13 tombstone anti-join, applied the same way: a semi join
    * against ONLY the pruned slice (partition pruning is untouched —
    * the filter narrows the probed rows, it never widens the scan),
    * keyed by vec_id so it is skew-free and AQE-splittable at any
    * filter size. Ranks are computed within the allowed set, exactly
    * the brute-force-within-filter contract of q_ann_filtered.
    */
  private def restrict(cells: DataFrame, allowed: Option[DataFrame]): DataFrame =
    allowed.fold(cells)(a =>
      cells.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi"))

  /** Index-resident predicate filtering (r9): a plain Column over the
    * metadata columns stored by `write(metaCols = ...)` — the
    * zero-join twin of `allowed`. Catalyst pushes the predicate
    * through the tombstone/allowed joins into the pruned parquet scan
    * itself (data filters + row-group skipping), so a tenant/label
    * restriction costs no extra relation and no shuffle at any corpus
    * size. Ranks are computed within the filtered set, the same
    * brute-force-within-filter contract as `allowed`.
    */
  private def withPred(cells: DataFrame, pred: Option[Column]): DataFrame =
    pred.fold(cells)(cells.where)

  /** Rows of `cells` still alive under the tombstone set. */
  private def alive(index: IvfPqIndex, cells: DataFrame): DataFrame =
    tombstones(index) match {
      case Some(t) => cells.as("c").join(broadcast(t.as("t")),
        col("c.vec_id") === col("t.vec_id") && col("t.gen") > col("c.gen"),
        "left_anti")
      case None => cells
    }

  /** Logically delete `ids` (a vec_id column): every currently-stored
    * version of those vectors disappears from all searches at once.
    * O(|ids|) writes, zero corpus IO.
    */
  def delete(index: IvfPqIndex, ids: DataFrame): Unit =
    mutate(index) { g =>
      ids.select(col("vec_id"), lit(g).as("gen"))
        .coalesce(1)
        .write.mode("append").parquet(index.tombDir)
    }

  /** Replace-or-insert: tombstones the ids at generation g and appends
    * their re-encoded rows AT g — strictly-later tombstones kill every
    * older version while the fresh rows survive, so a search sees
    * exactly the new vectors. One encode pass + one bounded tombstone
    * write.
    */
  def upsert(index: IvfPqIndex, rows: DataFrame): Unit =
    mutate(index) { g =>
      rows.select(col("vec_id"), lit(g).as("gen"))
        .coalesce(1)
        .write.mode("append").parquet(index.tombDir)
      appendCells(index, rows, g)
    }

  /** Encode `rows` at generation `g` and append them to the live cells. */
  private def appendCells(index: IvfPqIndex, rows: DataFrame, g: Long): Unit = {
    val enc = encode(rows, index.centroids, index.codebooks, gen = g,
      keep = metaColsOf(index))
    (if (hasEmbeddings(index)) enc else enc.drop("embedding"))
      .repartition(col("cent_id"))
      .write.mode("append").partitionBy("cent_id").parquet(index.cellsDir)
  }

  /** One writer task per (cell, salt): filesPerCell files per cell
    * directory, one task's worth of rows each — never tasks × cells
    * small files (the D7 discipline with a parallelism dial).
    */
  private def cellPartitioned(enc: DataFrame, nCells: Int,
                              filesPerCell: Int): DataFrame =
    if (filesPerCell <= 1) enc.repartition(col("cent_id"))
    else enc.repartition(nCells * filesPerCell, col("cent_id"),
      pmod(col("vec_id"), lit(filesPerCell)))

  /** (cent_id, n) from the cells directory's parquet footers: the
    * partition-directory listing is bounded (nCells entries), and each
    * task opens only its own files' footers — no corpus rows are read.
    */
  private def cellStatsFromFooters(spark: SparkSession,
                                   cellsDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import graft.sources.arrow.{HadoopFiles, SerializableHadoopConf}
    import spark.implicits._
    val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val cellsPath = new Path(cellsDir)
    val fs = cellsPath.getFileSystem(hconf.value)
    val files = fs.listStatus(cellsPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cent_id="))
      .flatMap { st =>
        val cid = st.getPath.getName.stripPrefix("cent_id=").toLong
        HadoopFiles.dataFiles(st.getPath.toString, hconf.value).map(cid -> _)
      }
    val parts = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism * 2))
    spark.createDataset(files).repartition(parts)
      .map { case (cid, f) =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), hconf.value))
        try (cid, reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        finally reader.close()
      }
      .toDF("cent_id", "n")
      .groupBy("cent_id").agg(sum(col("n")).as("n"))
  }

  /** Cell-partition compaction for a streaming-maintained index:
    * repeated [[append]]/[[streamingAppend]] batches accrete one file
    * per touched cell per batch until partition discovery and scan
    * degrade — the classic streaming-ingest failure at scale. This
    * rewrites every cell into ONE file (same rows, same layout: the
    * repartition-by-partition-column write discipline gives one writer
    * task per cell), refreshes cellstats from the rewritten footers,
    * and PUBLISHES the result as a new version (r9): the compacted
    * corpus lands in cells.v(N+1) while every reader keeps serving
    * cells.vN, then one atomic CURRENT flip moves new opens forward —
    * a search never races the compaction, and a crash anywhere before
    * the flip leaves the old version live. Deletes become physical in
    * the new version (only rows alive under the tombstone set are
    * rewritten), whose tombstone set starts empty; the old version and
    * its tombstones stay on disk for pinned readers until [[vacuum]].
    * Returns the index pinned at the NEW version (the passed index
    * keeps serving the old one). Writer-side, maintenance remains
    * single-writer by contract; `index` must be pinned to the live
    * version (a superseded handle throws instead of republishing over
    * the live version's mutations).
    */
  def compactCells(index: IvfPqIndex, filesPerCell: Int = 1): IvfPqIndex = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1: $filesPerCell")
    val spark = index.spark
    val dir = index.dir
    // compacting a superseded snapshot would drop the live version's
    // mutations; the allocator clears a crashed attempt's residue
    store.requireLive(spark, dir, index.version, "compactCells")
    val newV = store.allocate(spark, dir)
    val dst = store.path(dir, "cells", newV)
    val nCells = index.centroids.count().toInt
    cellPartitioned(alive(index, index.cells), nCells, filesPerCell)
      .write.mode("overwrite").partitionBy("cent_id").parquet(dst)
    // the frozen artifacts carry forward to the new version (bounded
    // rows — k·dim and m·ncodes·sub), so every version is
    // self-contained and vacuum can reclaim old ones wholesale
    writeArtifacts(spark, dir, newV, index.centroids, index.codebooks)
    cellStatsFromFooters(spark, dst)
      .coalesce(1).write.mode("overwrite")
      .parquet(store.path(dir, "cellstats", newV))
    IndexStore.publish(spark, dir, newV)
    index.copy(cellsDir = dst, tombDir = store.path(dir, "tombstones", newV),
      version = newV)
  }

  /** Reclaim superseded versions (old versioned cells/tombstone/
    * artifact dirs and the legacy unversioned ones) in a maintenance
    * window — readers pinned to older versions lose their files,
    * exactly like vacuuming any MVCC store. The live version is the one
    * CURRENT names, whichever version `index` is pinned to.
    */
  def vacuum(index: IvfPqIndex): Unit = store.vacuum(index.spark, index.dir)

  /** Open a persisted index. Loads only the bounded artifacts
    * (centroids pinned as a local relation, codebooks to the driver);
    * the corpus relation stays lazy and partition-discovered.
    */
  def open(spark: SparkSession, dir: String): IvfPqIndex = {
    import spark.implicits._
    // resolve the published version ONCE and pin it: this object keeps
    // serving its snapshot even if a compaction publishes a newer one.
    // Artifacts load from the SAME version, so a concurrent rebuild's
    // fresh centroids/codebooks can never pair with this snapshot's
    // cells.
    val v = store.live(spark, dir)
    val cents = spark.read.parquet(store.path(dir, "centroids", v))
      .as[(Long, Array[Float])].collect().toSeq
      .sortBy(_._1).toDF("cent_id", "cent")
    val books = spark.read.parquet(store.path(dir, "codebooks", v))
      .as[(Int, Int, Array[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
    IvfPqIndex(spark, dir, cents, books, store.path(dir, "cells", v),
      store.path(dir, "tombstones", v), v)
  }

  /** The probed slice of the on-disk corpus: the distinct probe cell
    * ids (bounded: ≤ |queries|·nprobe, collected) become a LITERAL
    * `cent_id IN (...)` predicate, which Catalyst satisfies entirely
    * by partition pruning — unprobed cell directories are never
    * listed into the scan. This is the on-disk analog of ivfTopK's
    * "only probed cells are scored", and the reason the index exists.
    */
  private def prunedCells(index: IvfPqIndex, probes: DataFrame): DataFrame = {
    val cellIds = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).sorted
    alive(index,
      index.cells.where(col("cent_id").isin(cellIds.map(_.asInstanceOf[Any]): _*)))
  }

  /** Exact search over the probed cells: full-precision cosine against
    * the stored embedding column, read from the pruned partitions
    * only. With nprobe = nCells this IS brute force (the oracle-gate
    * config, matching q_ann_ivf); sub-exhaustive nprobe is the
    * latency/recall dial.
    */
  private def hasEmbeddings(index: IvfPqIndex): Boolean =
    index.cells.columns.contains("embedding")

  def searchExact(index: IvfPqIndex, queries: DataFrame, k: Int,
                  nprobe: Int, allowed: Option[DataFrame] = None,
                  where: Option[Column] = None,
                  keepScore: Boolean = false): DataFrame = {
    require(hasEmbeddings(index),
      "searchExact needs stored embeddings; this is a codes-only index " +
        "(write(storeEmbeddings = true), or use searchAdc(refine = 0))")
    // probe cells come from the LOCAL centroid relation (never the
    // corpus) through the bounded rankTopK aggregate — no qid window
    val qCells = probes(queries, index.centroids, nprobe, exactQueries(queries))
    val joined = probedPairs(
      normed(restrict(withPred(prunedCells(index, qCells), where), allowed)),
      qCells)(cos.as("cos"))
    // bounded rank (r10): a qid's candidate set is its probed cells'
    // whole content — corpus·nprobe/nCells rows in one window
    // partition at 10^10 vectors; the BoundedTopK aggregate keeps the
    // shuffle at O(partitions·k) per query instead (byte-identical,
    // SkewSpec-proven machinery)
    val ranked = Similarity.rankTopK(joined, k, desc = true, "cos")
    // keepScore feeds score-consuming downstream stages — the
    // hardNegativesFrom / mmr serving chains — without a re-scoring
    // join; the default stays the rank-only serving contract
    if (keepScore) ranked else ranked.select(col("qid"), col("nid"), col("rank"))
  }

  /** ADC search over the probed cells: each scanned row costs m table
    * adds against the query LUT; the top refine·k approximate
    * candidates re-rank with exact cosine — from the SAME pruned
    * relation, so refinement also never reads an unprobed cell.
    * refine <= 0 returns approximate ranks directly (the pure-PQ
    * serving shape where embeddings may not even be stored).
    */
  def searchAdc(index: IvfPqIndex, queries: DataFrame, k: Int,
                nprobe: Int, refine: Int = 4,
                allowed: Option[DataFrame] = None,
                where: Option[Column] = None,
                keepScore: Boolean = false): DataFrame = {
    require(refine <= 0 || hasEmbeddings(index),
      "exact re-rank needs stored embeddings; on a codes-only index " +
        "pass refine <= 0 (approximate ADC ranks)")
    val pq = Pq(index.codebooks)
    val qCells = probes(queries, index.centroids, nprobe, pq.queries(queries))
    val pruned = restrict(withPred(prunedCells(index, qCells), where), allowed)
    // bounded ranks throughout (r10) — same rationale as searchExact: a
    // qid's ADC-scored candidate set is its probed cells' content. The
    // scored projection carries only (qid, nid, acos), and the re-rank
    // reads the SAME pruned relation as its corpus. keepScore exposes
    // the ADC estimate as `acos` (refine <= 0) and the exact re-rank
    // cosine as `cos` — the same expression searchExact scores with, so
    // the G16 chain can mine epoch negatives off the quantized index;
    // `cos` is reserved for exact cosine (r10 ADVICE)
    val ranked = VectorSearch.refined(pruned, queries,
      probedPairs(pruned, qCells)(pq.acos), k, refine)
    if (keepScore) ranked else ranked.select(col("qid"), col("nid"), col("rank"))
  }

  /** Incremental maintenance (G12): assign + encode `rows` with the
    * index's FROZEN artifacts and append them to the cell partitions
    * — new files land inside existing cent_id= directories, searches
    * pick them up on the next partition discovery. Centroids and
    * codebooks deliberately do not move (moving them would invalidate
    * every previously-encoded row); [[assignmentDrift]] is the signal
    * for when a full re-train/re-write is due.
    */
  def append(index: IvfPqIndex, rows: DataFrame): Unit =
    // appended rows take a fresh generation so an id deleted earlier
    // and re-added here is alive (its row gen outranks the tombstone)
    mutate(index)(appendCells(index, rows, _))

  /** Continuous ingestion: every micro-batch runs the same bounded
    * append (assign + encode + partitioned write). foreachBatch is the
    * right tool — the append is an idempotent-per-batch batch write,
    * exactly the I8 incremental-dedup discipline.
    */
  def streamingAppend(index: IvfPqIndex, stream: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) append(index, batch)
      }

  /** Close the G12 drift loop (r9): re-train centroids (and
    * optionally codebooks) from the index's OWN alive rows and
    * republish the re-encoded corpus as a new version — the action
    * [[assignmentDrift]] is the signal for. No external corpus is
    * needed: the stored embedding column IS the corpus (embeddings
    * required; a codes-only index must rebuild from source via
    * `write`). Tombstoned rows are excluded from training and from
    * the new version, so a retrain is also a compaction; metadata
    * columns carry through. Readers pinned to the old version are
    * undisturbed until [[vacuum]] — the same versioned-publication
    * contract as compactCells, now covering the artifacts too (the
    * new centroids/codebooks land in .v(N+1) dirs, so a crash
    * mid-retrain leaves the old version fully consistent).
    *
    * `retrainCodebooks = false` keeps the PQ codebooks frozen (cheap
    * drift response: only the cell geometry moves); `true` re-trains
    * both halves from the stored embeddings.
    */
  def retrain(index: IvfPqIndex, nCells: Int, stride: Long = 7,
              kmeansIters: Int = 1, retrainCodebooks: Boolean = false,
              m: Int = 8, ncodes: Int = 16, pqIters: Int = 2,
              filesPerCell: Int = 1): IvfPqIndex = {
    require(hasEmbeddings(index),
      "retrain needs stored embeddings; a codes-only index must " +
        "rebuild from the source corpus via write()")
    store.requireLive(index.spark, index.dir, index.version, "retrain")
    val meta = metaColsOf(index)
    val corpus = alive(index, index.cells)
      .select((Seq("vec_id", "embedding") ++ meta).map(col): _*)
    val dim = index.codebooks.length * index.codebooks.head.head.length
    write(corpus, index.dir, dim = dim, nCells = nCells, stride = stride,
      kmeansIters = kmeansIters, m = m, ncodes = ncodes, pqIters = pqIters,
      codebooks = if (retrainCodebooks) None else Some(index.codebooks),
      storeEmbeddings = true, filesPerCell = filesPerCell,
      metaCols = meta)
  }

  /** Re-train trigger: Jensen–Shannon divergence (base-2, in [0,1])
    * between the batch's cell-assignment histogram and the build-time
    * baseline stored in the index. Both histograms are ≤ nCells rows,
    * so the divergence is driver-side arithmetic on two bounded
    * collects; a batch from the training distribution lands near 0, a
    * shifted corpus concentrates into few cells and scores high. The
    * K25 sourceDrift measures the same thing over token space; this is
    * the embedding-space twin the index maintains for itself.
    */
  def assignmentDrift(index: IvfPqIndex, rows: DataFrame): Double = {
    // cent_id comes back as int from partition-directory inference but
    // long from assignToCentroids — normalize via Number
    def hist(df: DataFrame): Map[Long, Long] = df.collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getAs[Number](1).longValue())
      .toMap
    val base = hist(index.spark.read.parquet(
      store.path(index.dir, "cellstats", index.version)))
    val batch = hist(Similarity.assignToCentroids(rows, index.centroids)
      .groupBy("cent_id").agg(count(lit(1)).as("n")))
    val keys = (base.keySet ++ batch.keySet).toSeq
    val nb = base.values.sum.toDouble.max(1.0)
    val nx = batch.values.sum.toDouble.max(1.0)
    def log2(x: Double) = math.log(x) / math.log(2.0)
    keys.map { c =>
      val p = base.getOrElse(c, 0L) / nb
      val q = batch.getOrElse(c, 0L) / nx
      val mid = (p + q) / 2.0
      (if (p > 0) p * log2(p / mid) else 0.0) +
        (if (q > 0) q * log2(q / mid) else 0.0)
    }.sum * 0.5
  }
}
