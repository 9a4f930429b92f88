package graft.tools

import java.util.concurrent.atomic.DoubleAccumulator

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

import graft.{GraftSession, Tables}
import graft.TempDirs.tempDir
import graft.operators.{AnnIndex, Bm25Index, Dedup, DedupIndex, Similarity, TextAnalysis}
import graft.streaming.IncrementalDedup
import graft.tools.Measure.{dropPageCache, loadavg, median, time, timed, times}

/** Serving measurements for the persisted indexes. Each mode answers
  * one request batch from its on-disk index and from the recompute
  * twin, which rebuilds what the index stores on every request:
  *  - ann: IVF search. Over an sf replica, `AnnIndex.searchExact`
  *    against `Similarity.ivfTopK`, which reassigns the whole corpus
  *    to cells per search (`ann_serve`). With `--cold` or `--gen-rows`,
  *    the codes-only serving format: `searchAdc(refine = 0)` reads only
  *    the probed cells' codes, against `ivfPqTopK` with the same frozen
  *    artifacts (`ann_serve_cold`, `ann_serve_gen`). A replica is
  *    written to parquet first, so both legs start from disk; a
  *    generated corpus never materializes, so its recompute pays
  *    generation but no IO and understates a real one.
  *  - bm25: `Bm25Index.search` over the term-bucketed postings against
  *    `TextAnalysis.bm25Retrieve`, which re-tokenizes the corpus per
  *    batch (`bm25_serve`, `bm25_gen_serve`). Gate: the search plan
  *    carries term_bucket partition filters and every file read lies
  *    under a queried bucket. A generated corpus adds a resident leg
  *    (one search DataFrame re-executed, as a server holds it) and, on
  *    request, a `--max-df-share` elided leg, a `--slices` build (write
  *    the first doc range, append the rest, so no one job's shuffle
  *    holds the whole corpus) and a `--compact-groups` fold of the
  *    appended deltas.
  *  - dedup: `DedupIndex.screenBatch`, which reads only the batch's
  *    collision buckets, against `IncrementalDedup.dedupBatch` over a
  *    raw signature store, re-banded per batch (`dedup_serve`). The
  *    batch is 10 fresh ids: the even ones exact copies of store docs,
  *    the odd ones salted.
  *    Gate: both screens drop the same pairs, and so does an index
  *    re-sized by `DedupIndex.autoSize` for this batch.
  *  - neg: epoch-scale hard-negative mining, `hardNegativesFrom` over
  *    codes-only `searchAdc` candidates against the brute
  *    `hardNegatives` chain (`neg_serve`). The brute batch is bounded,
  *    so both costs are also reported per 1k queries. Gate: at base
  *    scale, with exhaustive probes and full refine, the index chain
  *    equals the brute chain.
  *
  * The corpus is `sfDir`'s tables replicated `--mult` times with ids
  * offset (`SfReplica`), or `--gen-rows` deterministic rows that never
  * materialize (`Generated`).
  *
  * Every leg runs once untimed (code generation, planning, partition
  * discovery), then reports the median of `--reps` runs. Under `--cold`
  * the legs with a cold field then drop the OS page cache (this needs
  * write access to /proc/sys/vm/drop_caches; `page_cache_dropped` says
  * whether every drop took) and time one more run.
  *
  * Usage: IndexServe <ann|bm25|dedup|neg> <sfDir | --gen-rows N>
  *   [--reps 3] [--shuffle N]                            every mode
  *   [--mult 1]                                          with an sfDir
  *   [--cold]                                            ann, bm25 --gen-rows
  *   [--cells 16] [--nprobe 4]                           ann, neg
  *   [--queries 10000] [--brute-queries min(queries, 100)]     neg
  *   [--buckets 64] [--files-per-bucket 4] [--words-per-doc 12]
  *   [--vocab 100000] [--max-df-share S] [--slices 1]
  *   [--compact-groups 0]                                bm25 --gen-rows
  * Only ann and bm25 take `--gen-rows`. `--shuffle` sets
  * spark.sql.shuffle.partitions for the run; by default the session's
  * (one per core) stands.
  */
object IndexServe {

  private val Usage = "usage: IndexServe <ann|bm25|dedup|neg> <sfDir | --gen-rows N> [--flag value ...]"
  private val Common = Set("reps", "shuffle")
  private val ModeFlags = Map(
    "ann" -> Set("cold", "cells", "nprobe"),
    "bm25" -> Set.empty[String],
    "dedup" -> Set.empty[String],
    "neg" -> Set("cells", "nprobe", "queries", "brute-queries"))
  /** The flags a generated corpus adds; only ann and bm25 serve one. */
  private val GenFlags = Map(
    "ann" -> Set.empty[String],
    "bm25" -> Set("cold", "buckets", "files-per-bucket", "words-per-doc", "vocab",
      "max-df-share", "slices", "compact-groups"))
  private val (dim, stride, k) = (64, 7L, 5)
  /** dedup screens 10 fresh docs against 1024 band buckets: pruning
    * bites when nBuckets >> batch·bands, and 10 docs × 16 bands ≤ 160.
    */
  private val (dedupBatch, dedupBuckets) = (10, 1024)

  private final class Opts(args: Seq[String]) {
    require(args.nonEmpty && ModeFlags.contains(args.head), Usage)
    val mode: String = args.head
    private val (flags, positional) = {
      @annotation.tailrec
      def go(rest: List[String], fs: Map[String, String],
             pos: List[String]): (Map[String, String], List[String]) = rest match {
        case "--cold" :: t => go(t, fs + ("cold" -> ""), pos)
        case f :: v :: t if f.startsWith("--") => go(t, fs + (f.drop(2) -> v), pos)
        case f :: Nil if f.startsWith("--") => throw new IllegalArgumentException(s"$f needs a value\n$Usage")
        case p :: t => go(t, fs, pos :+ p)
        case Nil => (fs, pos)
      }
      go(args.tail.toList, Map.empty, Nil)
    }
    val genRows: Option[Long] = flags.get("gen-rows").map(_.toLong)
    require(positional.size + genRows.size == 1, s"give one sfDir or --gen-rows\n$Usage")
    require(genRows.isEmpty || GenFlags.contains(mode), s"$mode serves an sf table, not --gen-rows")
    private val unknown = flags.keySet -- Common -- ModeFlags(mode) --
      (if (genRows.isDefined) GenFlags(mode) + "gen-rows" else Set("mult"))
    require(unknown.isEmpty,
      s"${unknown.map("--" + _).mkString(", ")}: not a flag of $mode over this corpus source\n$Usage")
    val sfDir: Option[String] = positional.headOption
    private def int(f: String, default: Int) = flags.get(f).fold(default)(_.toInt)
    val reps: Int = int("reps", 3)
    val mult: Int = int("mult", 1)
    require(reps >= 1 && mult >= 1, s"--reps and --mult must be at least 1\n$Usage")
    val shuffle: Option[Int] = flags.get("shuffle").map(_.toInt)
    val cold: Boolean = flags.contains("cold")
    val cells: Int = int("cells", 16)
    val nprobe: Int = int("nprobe", 4)
    val queries: Int = int("queries", 10000)
    val bruteQueries: Int = int("brute-queries", math.min(queries, 100))
    val buckets: Int = int("buckets", 64)
    val filesPerBucket: Int = int("files-per-bucket", 4)
    val wordsPerDoc: Int = int("words-per-doc", 12)
    val vocab: Int = int("vocab", 100000)
    val maxDfShare: Option[Double] = flags.get("max-df-share").map(_.toDouble)
    val slices: Int = int("slices", 1)
    val compactGroups: Int = int("compact-groups", 0)
  }

  /** Where a mode's rows come from, picked once from the flags. The
    * modes read these members and test the source only to name their
    * metric and to run a generated corpus's extra legs.
    */
  private sealed abstract class Source(spark: SparkSession, val codebookIters: Int,
                                       val persistRelation: Boolean) {
    /** (vec_id, embedding) */
    def embeddings: DataFrame
    /** `embeddings` as the codes-only legs read them. */
    def servedEmbeddings(dir: String): DataFrame
    /** `n` query vectors of `corpus`, sorted by id, as a local relation
      * (broadcast in every leg).
      */
    def queryEmbeddings(corpus: DataFrame, n: Int): DataFrame
    /** (doc_id, text) */
    def documents: DataFrame
    /** The BM25 query batch over `docs`, (doc_id, text). */
    def bm25Queries(docs: DataFrame): DataFrame
    /** What the index geometry trains on. */
    def sample(df: DataFrame, idCol: String): DataFrame
    /** The row count of `df`, one of this source's relations. */
    def count(df: DataFrame): Long

    protected def local(rows: DataFrame): DataFrame = {
      import spark.implicits._
      rows.as[(Long, Array[Float])].collect().sortBy(_._1).toSeq.toDF("vec_id", "embedding")
    }
  }

  /** One sf table, replicated `mult` times with ids offset by its id span. */
  private final class Replicated(val base: DataFrame, idCol: String, mult: Int) {
    lazy val span: Long = base.agg(max(col(idCol))).head().getLong(0) + 1L
    def rows(payload: Int => Column): DataFrame = (0 until mult).map(m =>
      base.select((col(idCol) + lit(m * span)).as(idCol), payload(m)))
      .reduce(_ unionAll _)
  }

  /** `sfDir`'s tables replicated `mult` times; embedding replicas get a
    * small deterministic jitter. The codes-only legs read the replica
    * back from parquet, so both legs start from disk.
    */
  private final class SfReplica(spark: SparkSession, val sfDir: String, val mult: Int)
      extends Source(spark, codebookIters = 2, persistRelation = true) {
    lazy val embeddingTable = new Replicated(
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), "vec_id", mult)
    lazy val documentTable = new Replicated(
      Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id", mult)
    def embeddings: DataFrame = embeddingTable.rows(m => transform(col("embedding"), (x, i) =>
      (x + sin(col("vec_id") * 31 + i * 7 + lit(m * 13)) * lit(0.01d)).cast(FloatType))
      .as("embedding"))
    def servedEmbeddings(dir: String): DataFrame = { embeddings.write.parquet(dir); spark.read.parquet(dir) }
    def queryEmbeddings(corpus: DataFrame, n: Int): DataFrame = local(corpus.where(col("vec_id") < n))
    def documents: DataFrame = documentTable.rows(_ => col("text"))
    def bm25Queries(docs: DataFrame): DataFrame = docs.where(col("doc_id") < 3)
    def sample(df: DataFrame, idCol: String): DataFrame = df
    def count(df: DataFrame): Long = df.count()
  }

  /** `rows` deterministic rows that never materialize: sin-mixed
    * vectors, or Zipf-ish text whose head words land in most docs. The
    * index geometry trains on the 1% sample, with one codebook pass; a
    * generated corpus is cheaper to regenerate than to persist.
    */
  private final class Generated(spark: SparkSession, val rows: Long, val wordsPerDoc: Int,
                                val vocab: Int)
      extends Source(spark, codebookIters = 1, persistRelation = false) {
    private val cpus = GraftSession.cpus

    /** 64 sin-mixed dims keyed by the id: cluster structure from the
      * coarse term, per-row jitter from the fine one.
      */
    private def genEmbedding(id: Column) = transform(sequence(lit(0), lit(dim - 1)), i =>
      (sin(id % 97 * 31 + i * 7) + sin(id * 13 + i) * lit(0.1d)).cast(FloatType))

    /** Token j of doc i is `w<floor(u⁴·vocab)>`, u a sin-mixed uniform in
      * [0, 1): w0..w9 land in most docs (the stopword head), the tail
      * is rare.
      */
    private def genText(id: Column): Column =
      concat_ws(" ", transform(sequence(lit(0), lit(wordsPerDoc - 1)), j => {
        val u = abs(sin(id * 131.7d + j.cast("double") * 73.3d))
        concat(lit("w"), floor(u * u * u * u * lit(vocab.toDouble)).cast("long").cast("string"))
      }))

    def embeddings: DataFrame = spark.range(rows).toDF("vec_id").repartition(cpus * 4)
      .select(col("vec_id"), genEmbedding(col("vec_id")).as("embedding"))
    def servedEmbeddings(dir: String): DataFrame = embeddings
    /** Generated vectors, relabelled past the corpus ids. */
    def queryEmbeddings(corpus: DataFrame, n: Int): DataFrame =
      local(spark.range(n).select((col("id") + rows + 1L).as("vec_id"),
        genEmbedding(col("id")).as("embedding")))
    def documents: DataFrame = docRange(0L, rows)
    def docRange(from: Long, until: Long): DataFrame = spark.range(from, until)
      .repartition(cpus * 8).select(col("id").as("doc_id"), genText(col("id")).as("text"))
    def bm25Queries(docs: DataFrame): DataFrame = spark.range(4).select(
      (col("id") + 1000000000L).as("doc_id"), genText(col("id") * 7L + 3L).as("text"))
    def sample(df: DataFrame, idCol: String): DataFrame =
      df.where(pmod(col(idCol), lit(100L)) === 0L)
    def count(df: DataFrame): Long = rows
  }

  private final case class Leg(warm: Double, cold: Option[Double], rows: Long)

  private final class Ctx(val spark: SparkSession, val o: Opts, val src: Source,
                          val work: String) {
    val cpus: Int = GraftSession.cpus
    private var dropped = true
    def pageCacheDropped: Boolean = o.cold && dropped

    /** The leg protocol: one untimed run, the median of `reps` runs and,
      * for a leg with a cold field under --cold, one run after a page
      * cache drop. `rows` is the untimed run's result.
      */
    def leg(coldField: Boolean = false)(run: => Long): Leg = {
      val rows = run
      val warm = median(times(o.reps)(run))
      val cold = if (!(coldField && o.cold)) None else {
        dropped &= dropPageCache()
        Some(time(run))
      }
      Leg(warm, cold, rows)
    }

    def bytesUnder(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p).getLength
    }
  }

  /** `a / b`, when both are measured. */
  private def ratio(a: Option[Double], b: Option[Double]): Option[Double] =
    for (x <- a; y <- b) yield x / y

  /** Runs one mode on `spark` and returns its JSON fields. Sets and
    * restores spark.sql.shuffle.partitions under --shuffle, unpersists
    * what it caches, deletes its scratch directory and never stops the
    * session.
    */
  def run(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    val o = new Opts(args)
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(shuffleKey)
    val work = tempDir("graft-indexserve")
    o.shuffle.foreach(n => spark.conf.set(shuffleKey, n.toLong))
    try {
      val src = o.genRows.fold[Source](new SfReplica(spark, o.sfDir.get, o.mult))(n =>
        new Generated(spark, n, o.wordsPerDoc, o.vocab))
      val c = new Ctx(spark, o, src, work)
      // Opts admits --gen-rows for ann and bm25 only
      ((o.mode, src): @unchecked) match {
        case ("ann", r: SfReplica) if !o.cold => annInMemory(c, r)
        case ("ann", _) => annCodesOnly(c)
        case ("bm25", _) => bm25(c)
        case ("dedup", r: SfReplica) => dedup(c, r)
        case ("neg", r: SfReplica) => neg(c, r)
      }
    } finally {
      spark.conf.set(shuffleKey, prior)
      FileUtils.deleteQuietly(new java.io.File(work))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Measure.start(GraftSession.local(s"graft-indexserve-${args.headOption.getOrElse("")}"))
    try println(Measure.json(run(spark, args.toSeq)))
    finally spark.stop()
  }

  private def annInMemory(c: Ctx, r: SfReplica): Seq[(String, Any)] = {
    val o = c.o
    val emb = r.embeddings
    val queries = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainIvfCentroids(emb, o.cells, stride)
    val (idx, buildSec) = timed(AnnIndex.write(emb, s"${c.work}/index", dim = dim,
      nCells = o.cells, stride = stride, centroids = Some(cents)))
    val recompute = c.leg()(Similarity.ivfTopK(emb, queries, k, o.cells, stride, o.nprobe,
      centroids = Some(cents)).count())
    val fromDisk = c.leg()(AnnIndex.searchExact(idx, queries, k, o.nprobe).count())
    Seq("metric" -> "ann_serve", "unit" -> "sec", "sf_dir" -> r.sfDir,
      "mult" -> r.mult, "corpus_rows" -> emb.count(), "reps" -> o.reps,
      "index_build" -> buildSec, "search_recompute_ivf" -> recompute.warm,
      "search_from_disk" -> fromDisk.warm, "speedup" -> recompute.warm / fromDisk.warm,
      "nprobe" -> o.nprobe, "n_cells" -> o.cells, "cpus" -> c.cpus)
  }

  /** A codes-only IVF-PQ index over `corpus`, its geometry trained on
    * the corpus sample, with enough files per cell that a probe of
    * nprobe cells fans out to every core.
    */
  private final case class CodesOnly(index: AnnIndex.IvfPqIndex, centroids: DataFrame,
                                     codebooks: Seq[Seq[Seq[Double]]], filesPerCell: Int,
                                     buildSec: Double)

  private def codesOnly(c: Ctx, corpus: DataFrame): CodesOnly = {
    val train = c.src.sample(corpus, "vec_id")
    val cents = Similarity.trainIvfCentroids(train, c.o.cells, stride)
    val books = Similarity.trainPqCodebooks(train, dim = dim, stride = stride,
      iters = c.src.codebookIters)
    val filesPerCell = math.max(1, c.cpus / c.o.nprobe)
    val (idx, buildSec) = timed(AnnIndex.write(corpus, s"${c.work}/index", dim = dim,
      nCells = c.o.cells, stride = stride, centroids = Some(cents), codebooks = Some(books),
      storeEmbeddings = false, filesPerCell = filesPerCell))
    CodesOnly(idx, cents, books, filesPerCell, buildSec)
  }

  private def annCodesOnly(c: Ctx): Seq[(String, Any)] = {
    val (o, src) = (c.o, c.src)
    val corpus = src.servedEmbeddings(s"${c.work}/corpus")
    val ivf = codesOnly(c, corpus)
    val queries = src.queryEmbeddings(corpus, 10)
    val fromDisk = c.leg(coldField = true)(AnnIndex.searchAdc(ivf.index, queries, k,
      o.nprobe, refine = 0).count())
    val recompute = c.leg(coldField = true)(Similarity.ivfPqTopK(corpus, queries, k,
      dim = dim, nCells = o.cells, stride = stride, nprobe = o.nprobe, refine = 0,
      centroids = Some(ivf.centroids), codebooks = Some(ivf.codebooks)).count())
    val shared = Seq("unit" -> "sec", "corpus_rows" -> src.count(corpus),
      "reps" -> o.reps, "codes_only" -> true, "refine" -> 0,
      "page_cache_dropped" -> c.pageCacheDropped, "n_cells" -> o.cells, "nprobe" -> o.nprobe,
      "files_per_cell" -> ivf.filesPerCell, "index_build" -> ivf.buildSec,
      "cold_from_disk" -> fromDisk.cold, "warm_from_disk" -> fromDisk.warm,
      "cold_speedup" -> ratio(recompute.cold, fromDisk.cold), "cpus" -> c.cpus)
    src match {
      case _: Generated =>
        Seq("metric" -> "ann_serve_gen") ++ shared ++ Seq("generated_corpus" -> true,
          "index_bytes" -> c.bytesUnder(s"${c.work}/index"),
          "cold_recompute_gen_ivfpq" -> recompute.cold, "warm_recompute_gen_ivfpq" -> recompute.warm)
      case r: SfReplica =>
        Seq("metric" -> "ann_serve_cold") ++ shared ++ Seq("sf_dir" -> r.sfDir,
          "mult" -> r.mult, "cold_recompute_ivfpq" -> recompute.cold,
          "warm_recompute_ivfpq" -> recompute.warm, "warm_speedup" -> recompute.warm / fromDisk.warm)
    }
  }

  private def bm25(c: Ctx): Seq[(String, Any)] = {
    val (spark, o, src) = (c.spark, c.o, c.src)
    import spark.implicits._
    val docs = src.documents
    val queries = src.bm25Queries(docs).cache()
    def search(index: Bm25Index.Index, share: Option[Double] = None) =
      Bm25Index.search(index, queries, "doc_id", "text", topK = 20, maxDfShare = share)
    def freeGb = new java.io.File(c.work).getUsableSpace / 1e9
    try {
      val dir = s"${c.work}/index"
      def write(d: DataFrame) = Bm25Index.write(d, "doc_id", "text", dir,
        nBuckets = o.buckets, filesPerBucket = o.filesPerBucket,
        persistRelation = src.persistRelation)
      val (index, buildWall) = timed(src match {
        case g: Generated if o.slices > 1 =>
          val per = g.rows / o.slices
          val seed = write(g.docRange(0L, per))
          (1 until o.slices).foreach { i =>
            Bm25Index.appendDocsBatch(seed, g.docRange(i * per,
              if (i == o.slices - 1) g.rows else (i + 1) * per), "doc_id", "text",
              batchId = i.toLong, filesPerBucket = o.filesPerBucket)
            System.gc() // lets the ContextCleaner drop the slice's shuffle files
            Thread.sleep(2000)
            System.err.println(f"[IndexServe] slice $i/${o.slices - 1} done, free_disk_gb=$freeGb%.1f")
          }
          Bm25Index.open(spark, dir)
        case _ => write(docs)
      })

      // the pruned-read gate: term_bucket partition filters in the plan,
      // and every file the pruned slice reads lies under a queried bucket
      // (bucketOf = pmod(hash(term), nBuckets), mirrored here)
      val plan = search(index).queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters:") && plan.contains("term_bucket"),
        s"expected term_bucket partition filters in:\n${plan.take(4000)}")
      val qBuckets = queries
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .select(pmod(hash(col("term")), lit(index.nBuckets)).cast("long").as("b"))
        .distinct().as[Long].collect().toSet
      val readFiles = index.postings
        .where(col("term_bucket").isin(qBuckets.toSeq: _*))
        .select(input_file_name()).distinct().as[String].collect().toSet
      require(readFiles.nonEmpty && readFiles.forall(f =>
        qBuckets.exists(b => f.contains(s"term_bucket=$b/"))), "read outside queried buckets")
      val totalFiles = index.postings.select(input_file_name()).distinct().count()

      val fromIndex = c.leg(coldField = true)(search(index).count())
      val recompute = c.leg()(TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text",
        topK = 20).count())
      val nDocs = src.count(docs)
      src match {
        case r: SfReplica =>
          Seq("metric" -> "bm25_serve", "sf_dir" -> r.sfDir, "n_docs" -> nDocs,
            "reps" -> o.reps, "build_wall" -> buildWall, "recompute_med" -> recompute.warm,
            "index_med" -> fromIndex.warm, "speedup" -> recompute.warm / fromIndex.warm,
            "cpus" -> c.cpus)
        case g: Generated =>
          // resident: ONE search DataFrame re-executed per rep, as a
          // server holds it: plan and file listing are paid once, so the
          // per-request partition discovery separates from the data cost
          def resident(share: Option[Double]) = {
            val df = search(index, share)
            c.leg()(df.count())
          }
          val warmResident = resident(None)
          val elided = o.maxDfShare.map(sh =>
            (sh, c.leg()(search(index, Some(sh)).count()), resident(Some(sh))))
          // fold the slice deltas in bucket groups, sampling free disk
          // through the fold; then search is single-relation again
          val compacted = if (o.compactGroups <= 0) None else {
            val minFree = new DoubleAccumulator((a, b) => math.min(a, b), Double.MaxValue)
            val monitor = new Thread(() =>
              try while (true) { minFree.accumulate(freeGb); Thread.sleep(2000) }
              catch { case _: InterruptedException => })
            monitor.setDaemon(true)
            monitor.start()
            val (folded, wall) = try timed(Bm25Index.compactDeltas(index,
              filesPerBucket = o.filesPerBucket, bucketsPerJob = o.compactGroups))
              finally monitor.interrupt()
            minFree.accumulate(freeGb)
            Some((wall, minFree.get, c.leg()(search(folded).count()),
              o.maxDfShare.map(sh => c.leg()(search(folded, Some(sh)).count()))))
          }
          Seq("metric" -> "bm25_gen_serve", "n_docs" -> nDocs, "words_per_doc" -> g.wordsPerDoc,
            "vocab" -> g.vocab, "build_wall" -> buildWall, "index_gb" -> c.bytesUnder(dir) / 1e9,
            "cold" -> fromIndex.cold, "warm_med" -> fromIndex.warm, "recompute_med" -> recompute.warm,
            "speedup_vs_recompute" -> recompute.warm / fromIndex.warm,
            "warm_resident_med" -> warmResident.warm, "n_cold_rows" -> fromIndex.cold.map(_ => fromIndex.rows),
            "page_cache_dropped" -> c.pageCacheDropped, "files_read" -> readFiles.size,
            "files_total" -> totalFiles, "n_buckets" -> index.nBuckets,
            "files_per_bucket" -> o.filesPerBucket, "reps" -> o.reps,
            "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
            "cpus" -> c.cpus, "driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")) ++
            elided.toSeq.flatMap { case (sh, warm, res) => Seq("max_df_share" -> sh,
              "warm_elided_med" -> warm.warm, "resident_elided_med" -> res.warm) } ++
            compacted.toSeq.flatMap { case (wall, minFree, warm, warmElided) =>
              Seq("compact_groups" -> o.compactGroups, "compact_wall" -> wall,
                "compact_min_free_gb" -> minFree, "warm_compacted_med" -> warm.warm,
                "warm_compacted_elided_med" -> warmElided.map(_.warm)) } :+
            ("utc" -> java.time.Instant.now().toString)
      }
    } finally queries.unpersist()
  }

  private def dedup(c: Ctx, r: SfReplica): Seq[(String, Any)] = {
    val (spark, o) = (c.spark, c.o)
    val store = r.documents
    val nStore = store.count()
    val table = r.documentTable
    // fresh ids past the store's: the even ones exact copies of store
    // docs (dropped), the odd ones salted (mostly kept)
    val batch = table.base.where(col("doc_id") < dedupBatch)
      .withColumn("text", when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" zzsalt"), col("doc_id").cast("string"))))
      .withColumn("doc_id", col("doc_id") + lit(r.mult * table.span))
    val (index, buildWall) = timed(DedupIndex.write(store, "doc_id", "text",
      s"${c.work}/index", nBuckets = dedupBuckets, nSigBuckets = 256))
    // the raw store pays its signature pass once, as a deployment that
    // persists signatures would, so the legs time the per-batch cost
    Dedup.minhashSignature(store, "doc_id", "text").write.parquet(s"${c.work}/rawsigs")
    val rawStore = spark.read.parquet(s"${c.work}/rawsigs")
    def pairs(df: DataFrame) = df.select("new_id", "matched_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // each screen is released inside the timed run, the lifecycle
    // DedupIndex mandates: unreleased screens pile up cached relations
    def screen[T](idx: DedupIndex.Index)(f: DataFrame => T): T = {
      val res = DedupIndex.screenBatch(idx, batch, "doc_id", "text")
      try f(res.dropped) finally res.release()
    }
    val recompute = c.leg()(IncrementalDedup.dedupBatch(batch, "doc_id", "text",
      Some(rawStore)).dropped.count())
    val fromIndex = c.leg()(screen(index)(_.count()))
    val raw = pairs(IncrementalDedup.dedupBatch(batch, "doc_id", "text", Some(rawStore)).dropped)
    val (dropped, nMatched) = screen(index)(d => (pairs(d), d.select("matched_id").distinct().count()))
    require(raw == dropped, s"screening divergence: ${raw.size} vs ${dropped.size}")
    // the auto-sized index for this batch's observed footprint: at high
    // mult the fixed nSigBuckets saturates while the auto-sized verify
    // read stays a slice
    val (autoB, autoS) = DedupIndex.autoSize(batchDocs = dedupBatch.toLong,
      matchesPerBatch = nMatched, storeDocs = nStore)
    val auto = if (autoB == index.nBuckets && autoS == index.nSigBuckets) None else {
      val (idx2, wall) = timed(DedupIndex.write(store, "doc_id", "text",
        s"${c.work}/auto", nBuckets = autoB, nSigBuckets = autoS))
      val med = c.leg()(screen(idx2)(_.count()))
      require(screen(idx2)(pairs) == dropped, "auto-sized index diverges from fixed config")
      Some((med.warm, wall))
    }
    Seq("metric" -> "dedup_serve", "sf_dir" -> r.sfDir, "mult" -> r.mult,
      "n_store" -> nStore, "reps" -> o.reps, "build_wall" -> buildWall,
      "recompute_med" -> recompute.warm, "index_med" -> fromIndex.warm,
      "speedup" -> recompute.warm / fromIndex.warm, "n_dropped" -> dropped.size,
      "n_matched" -> nMatched, "auto_n_buckets" -> autoB, "auto_n_sig_buckets" -> autoS,
      "auto_index_med" -> auto.map(_._1), "auto_build_wall" -> auto.map(_._2),
      "loadavg" -> loadavg, "utc" -> java.time.Instant.now().toString)
  }

  private def neg(c: Ctx, r: SfReplica): Seq[(String, Any)] = {
    val o = c.o
    val table = r.embeddingTable
    val base = table.base
    val candDepth = 100
    val (margin, dropAbove) = (Some(0.05), true)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def positives(qs: DataFrame, span: Long) = qs.select(col("vec_id").as("qid"))
      .select(col("qid"), explode(array(pmod(col("qid") + 1, lit(span)),
        pmod(col("qid") + 3, lit(span)))).as("nid"))

    // sanity gate at base scale: embeddings stored, exhaustive probes,
    // full refine, so estimates never rank the output
    val gateIdx = AnnIndex.write(base, s"${c.work}/gate", dim = dim, nCells = 8, stride = 7)
    val gateQ = base.where(col("vec_id") < 5)
    val gatePos = gateQ.select(col("vec_id").as("qid"))
      .select(col("qid"), explode(array(col("qid") + 1, col("qid") + 3)).as("nid"))
    val fromIdx = rows(Similarity.hardNegativesFrom(
      AnnIndex.searchAdc(gateIdx, gateQ, k = base.count().toInt, nprobe = 8,
        refine = 1, keepScore = true),
      gatePos, k, margin, dropAbove))
    val brute = rows(Similarity.hardNegatives(base, gateQ, gatePos, k, margin, dropAbove))
    require(fromIdx.nonEmpty && fromIdx == brute,
      s"SANITY GATE FAILED: idx=${fromIdx.take(3)} brute=${brute.take(3)}")

    // scale leg: the epoch batch and its bounded brute subset are local
    // relations, broadcast in every leg
    val corpus = r.servedEmbeddings(s"${c.work}/corpus")
    val ivf = codesOnly(c, corpus)
    val qAll = r.queryEmbeddings(corpus, o.queries)
    val qBrute = qAll.limit(o.bruteQueries) // the first of the id-sorted batch
    // positives wrap modulo the id SPAN, not the row count: replica ids
    // are base_id + m·span, so with sparse base ids a row-count modulus
    // would name missing nids and weaken the measured screen
    val idSpan = r.mult.toLong * table.span
    val posAll = positives(qAll, idSpan)
    val posBrute = positives(qBrute, idSpan)
    val indexChain = c.leg()(Similarity.hardNegativesFrom(
      AnnIndex.searchAdc(ivf.index, qAll, k = candDepth, nprobe = o.nprobe, refine = 0,
        keepScore = true).withColumnRenamed("acos", "cos"), // the estimate, explicitly accepted
      posAll, k, margin, dropAbove).count())
    val bruteChain = c.leg()(Similarity.hardNegatives(corpus, qBrute, posBrute, k,
      margin, dropAbove).count())
    val idxPerK = indexChain.warm / o.queries * 1000
    val brutePerK = bruteChain.warm / o.bruteQueries * 1000
    Seq("metric" -> "neg_serve", "unit" -> "sec", "sf_dir" -> r.sfDir, "mult" -> r.mult,
      "corpus_rows" -> corpus.count(), "reps" -> o.reps, "sanity_gate" -> "pass",
      "codes_only" -> true, "cand_depth" -> candDepth, "k" -> k, "n_queries" -> o.queries,
      "brute_queries" -> o.bruteQueries, "n_cells" -> o.cells, "nprobe" -> o.nprobe,
      "index_build" -> ivf.buildSec, "index_chain_wall" -> indexChain.warm,
      "brute_chain_wall" -> bruteChain.warm, "index_per_1k_queries" -> idxPerK,
      "brute_per_1k_queries" -> brutePerK, "speedup_per_query" -> brutePerK / idxPerK,
      "cpus" -> c.cpus)
  }
}
