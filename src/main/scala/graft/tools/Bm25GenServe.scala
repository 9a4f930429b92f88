package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.TempDirs.tempDir
import graft.operators.{Bm25Index, TextAnalysis}
import graft.tools.Measure.{dropPageCache, median, times}

/** The 10^8 BM25 serving decade (VERDICT r12 item 7) via the
  * AnnGenServe generated-corpus protocol: the replica protocol tops
  * out on this VM (a 100M-doc text corpus parquet is tens of GB and
  * the build's DISK_ONLY persist doubles it), so the corpus here is a
  * DETERMINISTIC GENERATED relation — spark.range → `wordsPerDoc`
  * Zipf-ish tokens per doc over a `vocab`-word vocabulary (rank =
  * floor(u⁴·V) on a sin-mixed uniform: head words land in most
  * documents, the tail is rare — the df distribution BM25 exists
  * for) — that never materializes; only the POSTINGS land on disk
  * (`persistRelation = false`, two cheap generator passes instead of
  * a corpus-sized persist; shuffle partitions sized per the
  * BM25_SERVE_r13 attribution so the build fits the default heap).
  *
  * Legs, page cache dropped before each cold from-disk search:
  *  - from-disk: Bm25Index.search over the persisted postings — reads
  *    ONLY the query terms' bucket partitions (the tool require()s the
  *    plan carries term_bucket PartitionFilters and that every file
  *    actually read lives under a queried bucket — the pruned-read
  *    proof at 10^8 docs);
  *  - recompute: bm25Retrieve over the generated corpus — pays
  *    generation + tokenize + df/tf aggregation per query batch but
  *    ZERO disk IO, so it understates a real parquet-read recompute;
  *    the index winning against an IO-free recompute is the
  *    conservative claim.
  *
  * Usage: Bm25GenServe <millions> [reps] [wordsPerDoc] [vocab]
  *        (env SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE — build shuffle
  *        partitions, default 512)
  */
object Bm25GenServe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Bm25GenServe <millions> [reps] [wordsPerDoc] [vocab] [maxDfShare] [nBuckets] [filesPerBucket] [slices]")
    val millions = args(0).toInt
    val reps = if (args.length > 1) args(1).toInt else 3
    val wpd = if (args.length > 2) args(2).toInt else 12
    val vocab = if (args.length > 3) args(3).toInt else 100000
    val n = millions.toLong * 1000000L
    val cpus = GraftSession.cpus
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "512")
    val spark = Measure.start(GraftSession.local("graft-bm25gen-serve")
      .config("spark.sql.shuffle.partitions", shuf))
    import spark.implicits._
    spark.range(1000).selectExpr("sum(id)").collect() // warm

    // deterministic Zipf-ish text: token j of doc i has rank
    // floor(u⁴·V) where u = sin-mixed uniform in [0,1) — w0..w9 appear
    // in most docs (the stopword head), the tail is rare
    def genText(id: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(wpd - 1)), j => {
        val u = abs(sin(id * 131.7d + j.cast("double") * 73.3d))
        concat(lit("w"), floor(u * u * u * u * lit(vocab.toDouble))
          .cast("long").cast("string"))
      }))
    def corpus: DataFrame = spark.range(n)
      .repartition(cpus * 8)
      .select(col("id").as("doc_id"), genText(col("id")).as("text"))

    val dir = tempDir("graft-bm25-gen")
    val t0 = System.nanoTime()
    val nBuckets = if (args.length > 5) args(5).toInt else 64
    val fpb = if (args.length > 6) args(6).toInt else 4
    // `slices` (r14, VERDICT r13 item 3): the 100M one-shot build DNFs
    // on this box's local disk — ~90 GB of transient shuffle vs ~35
    // free — so the build goes through the index's own incremental
    // machinery: write() the first doc-range slice, appendDocsBatch
    // the rest (batch-keyed, replay-idempotent — the streaming path),
    // so no single job's token shuffle exceeds slices⁻¹ of the
    // one-shot budget. Between slices a GC nudge lets Spark's
    // ContextCleaner reclaim the previous slice's shuffle files (they
    // free when their ShuffleDependency is collected — without the
    // nudge the transients accumulate and the slicing buys nothing).
    // Search reconstructs df from the delta tables exactly
    // (Bm25IndexSpec pins search-after-append == built-whole), so the
    // serving legs below measure the honest post-append plan.
    val slices = if (args.length > 7) args(7).toInt else 1
    def sliceCorpus(i: Int): DataFrame = {
      val per = n / slices
      val hi = if (i == slices - 1) n else (i + 1) * per
      spark.range(i * per, hi)
        .repartition(cpus * 8)
        .select(col("id").as("doc_id"), genText(col("id")).as("text"))
    }
    def freeGb: Double =
      new java.io.File("/tmp").getUsableSpace / 1e9
    val index =
      if (slices <= 1)
        Bm25Index.write(corpus, "doc_id", "text", dir,
          nBuckets = nBuckets, filesPerBucket = fpb,
          persistRelation = false)
      else {
        val seed = Bm25Index.write(sliceCorpus(0), "doc_id", "text", dir,
          nBuckets = nBuckets, filesPerBucket = fpb,
          persistRelation = false)
        (1 until slices).foreach { i =>
          Bm25Index.appendDocsBatch(seed, sliceCorpus(i), "doc_id",
            "text", batchId = i.toLong, filesPerBucket = fpb)
          System.gc() // let ContextCleaner drop the slice's shuffles
          Thread.sleep(2000)
          println(f"[bm25genserve] slice $i/${slices - 1} done, " +
            f"free_disk_gb=$freeGb%.1f")
        }
        Bm25Index.open(spark, dir)
      }
    val buildWall = (System.nanoTime() - t0) / 1e9
    val idxBytes = {
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
      du(new java.io.File(dir))
    }

    // the query batch: 4 regenerated docs (same deterministic text)
    val queries = spark.range(4)
      .select((col("id") + 1000000000L).as("doc_id"),
        genText(col("id") * 7L + 3L).as("text"))
      .cache()
    queries.count()

    // pruned-read proof at this scale: plan-level partition filters
    // AND every file the pruned slice reads lives under a queried
    // bucket (bucketOf = pmod(hash(term), nBuckets), mirrored here)
    val searchDf = Bm25Index.search(index, queries, "doc_id", "text",
      topK = 20)
    val plan = searchDf.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters:") &&
      plan.contains("term_bucket"),
      s"expected term_bucket partition filters in:\n${plan.take(4000)}")
    val qBuckets = queries
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .select(pmod(hash(col("term")), lit(index.nBuckets)).cast("long")
        .as("b"))
      .distinct().as[Long].collect().toSet
    val readFiles = index.postings
      .where(col("term_bucket").isin(qBuckets.map(_.asInstanceOf[Any]).toSeq: _*))
      .select(input_file_name()).distinct().as[String].collect().toSet
    require(readFiles.nonEmpty && readFiles.forall(f =>
      qBuckets.exists(b => f.contains(s"term_bucket=$b/"))),
      s"read outside queried buckets")
    val totalFiles = index.postings.select(input_file_name())
      .distinct().count()

    // cold from-disk: page cache dropped, fresh session cache
    val dropped = dropPageCache()
    val tc0 = System.nanoTime()
    val nCold = Bm25Index.search(index, queries, "doc_id", "text",
      topK = 20).count()
    val coldWall = (System.nanoTime() - tc0) / 1e9
    val warm = times(reps)(Bm25Index.search(index, queries, "doc_id", "text",
      topK = 20).count())
    // r13 maxDfShare leg: elide Zipf-head query terms (idf ~ 0) — the
    // warm search should track the DISCRIMINATIVE posting lists, not
    // the corpus-scale head (exact drop-from-the-bag contract,
    // Bm25IndexSpec)
    val dfShare = if (args.length > 4) Some(args(4).toDouble) else None
    val warmElided = dfShare.map(sh => times(reps)(Bm25Index.search(index,
      queries, "doc_id", "text", topK = 20,
      maxDfShare = Some(sh)).count()))
    // resident leg: ONE search DataFrame re-executed per rep — the
    // GraftServer deployment shape, where plan + file listing are
    // cached and each request pays only execution. Separates the
    // per-request partition-DISCOVERY cost (O(nBuckets) directory
    // listing, amortized by any resident server) from the data cost.
    val residentDf = Bm25Index.search(index, queries, "doc_id", "text",
      topK = 20)
    residentDf.count()
    val warmResident = times(reps)(residentDf.count())
    val residentElided = dfShare.map { sh =>
      val df = Bm25Index.search(index, queries, "doc_id", "text",
        topK = 20, maxDfShare = Some(sh))
      df.count()
      times(reps)(df.count())
    }
    // r15 per-bucket compaction leg (VERDICT r14 item 2): fold the
    // slice deltas in bucket GROUPS (compactDeltas bucketsPerJob) —
    // the one-job fold's ~50 GB transient is this box's hard bound;
    // per-group staging bounds it at ~groups/nBuckets of that. A
    // monitor thread samples free disk through the fold (the flat-disk
    // proof the sliced build carried). Then the serving legs re-run on
    // the compacted index: search is single-relation row-local again
    // and the maxDfShare probe pays one sidecar read instead of
    // 1 + slices delta legs (the r14 elision negative's named cause).
    val compactGroups = if (args.length > 8) args(8).toInt else 0
    var minFreeGb = Double.MaxValue
    val compacted = if (compactGroups <= 0) None else {
      val mon = new Thread(() => {
        try while (true) {
          minFreeGb = math.min(minFreeGb, freeGb); Thread.sleep(2000)
        } catch { case _: InterruptedException => }
      })
      mon.setDaemon(true); mon.start()
      val fd0 = freeGb
      val t = System.nanoTime()
      val c = Bm25Index.compactDeltas(index, filesPerBucket = fpb,
        bucketsPerJob = compactGroups)
      val wall = (System.nanoTime() - t) / 1e9
      mon.interrupt()
      println(f"[bm25genserve] compacted in $wall%.1f s, free_disk_gb " +
        f"$fd0%.1f -> $freeGb%.1f (min $minFreeGb%.1f)")
      Some((c, wall))
    }
    val warmCompacted = compacted.map { case (c, _) =>
      times(reps)(Bm25Index.search(c, queries, "doc_id", "text",
        topK = 20).count())
    }
    val warmCompactedElided = (compacted, dfShare) match {
      case (Some((c, _)), Some(sh)) =>
        Some(times(reps)(Bm25Index.search(c, queries, "doc_id", "text",
          topK = 20, maxDfShare = Some(sh)).count()))
      case _ => None
    }

    // IO-free recompute: one rep is enough to bound the contrast at
    // the big decades; it re-generates + re-tokenizes the corpus
    val recompute = times(reps)(TextAnalysis.bm25Retrieve(
      corpus, queries, "doc_id", "text", topK = 20).count())

    val elidedJson = (dfShare, warmElided) match {
      case (Some(sh), Some(we)) =>
        f""""max_df_share":$sh,"warm_elided_med":${median(we)}%.3f,"resident_elided_med":${residentElided.map(median).getOrElse(-1.0)}%.3f,"""
      case _ => ""
    }
    val compactJson = compacted match {
      case Some((_, wall)) =>
        f""""compact_groups":$compactGroups,"compact_wall":$wall%.3f,"compact_min_free_gb":$minFreeGb%.1f,"warm_compacted_med":${warmCompacted.map(median).getOrElse(-1.0)}%.3f,"warm_compacted_elided_med":${warmCompactedElided.map(median).getOrElse(-1.0)}%.3f,"""
      case None => ""
    }
    val ts = java.time.Instant.now().toString
    println(f"""{"metric":"bm25_gen_serve","n_docs":$n,"words_per_doc":$wpd,"vocab":$vocab,"build_wall":$buildWall%.3f,"index_gb":${idxBytes / 1e9}%.2f,"cold":$coldWall%.3f,"warm_med":${median(warm)}%.3f,"recompute_med":${median(recompute)}%.3f,"speedup_vs_recompute":${median(recompute) / median(warm)}%.1f,"warm_resident_med":${median(warmResident)}%.3f,"n_cold_rows":$nCold,"page_cache_dropped":$dropped,"files_read":${readFiles.size},"files_total":$totalFiles,"n_buckets":$nBuckets,"files_per_bucket":$fpb,"reps":$reps,"shuffle_partitions":"$shuf","cpus":"$cpus","driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",$elidedJson$compactJson"utc":"$ts"}""")
    spark.stop()
  }
}
