package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.IncrementalDedup
import org.apache.spark.sql.DataFrame

class DedupIndexSpec extends SparkSpec {
  import sqlImplicits._

  private val baseText =
    "the quick brown fox jumps over the lazy dog again and again"

  private lazy val corpus =
    graft.Tables.documents(spark, sfDir).select($"doc_id", $"text")

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("new_id", "matched_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet

  test("screenBatch from disk equals dedupBatch against the raw store") {
    // store = 2/3 of the corpus, batch = the rest + planted dups; the
    // real corpus carries natural near-dup pairs (measured J up to
    // 0.99), so this exercises genuine collisions, not just plants
    val store = corpus.where($"doc_id" % 3 =!= 0)
    val batch = corpus.where($"doc_id" % 3 === 0)
    val dir = Files.createTempDirectory("graft-dedupidx").toString
    val idx = DedupIndex.write(store, "doc_id", "text", dir,
      nBuckets = 16, nSigBuckets = 8)
    val fromDisk = DedupIndex.screenBatch(idx, batch, "doc_id", "text",
      threshold = 0.8)
    val storeSigs = Dedup.minhashSignature(store, "doc_id", "text")
    val recompute = IncrementalDedup.dedupBatch(batch, "doc_id", "text",
      Some(storeSigs), threshold = 0.8)
    assert(pairs(fromDisk.dropped) == pairs(recompute.dropped),
      "dropped pairs must match the recompute path exactly")
    val cleanDisk = fromDisk.clean.select("doc_id").as[Long].collect().toSet
    val cleanRe = recompute.clean.select("doc_id").as[Long].collect().toSet
    assert(cleanDisk == cleanRe && cleanDisk.nonEmpty)
    assert(fromDisk.cleanSigs.select("doc_id").as[Long].collect().toSet ==
      recompute.cleanSigs.select("doc_id").as[Long].collect().toSet)
  }

  test("screening prunes band-bucket partitions on disk") {
    val dir = Files.createTempDirectory("graft-dedupidx-prune").toString
    val idx = DedupIndex.write(corpus, "doc_id", "text", dir,
      nBuckets = 32, nSigBuckets = 8)
    // a one-doc batch collides with at most `bands` buckets of 32
    val one = Seq((90001L, baseText)).toDF("doc_id", "text")
    val res = DedupIndex.screenBatch(idx, one, "doc_id", "text")
    res.dropped.count() // force the plan
    val plan = idx.bandRows
      .where($"bucket".isin(0L, 1L))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("bucket"),
      s"bucket must be a partition column:\n$plan")
    // the screen's own store read touches only the batch's collision
    // buckets: every file it reads sits under one of those partitions
    val nb = Dedup.minhashSignature(one, "doc_id", "text", idx.numPerm)
    import graft.functions.{exprs, LshBandKeys}
    import org.apache.spark.sql.functions._
    val hit = nb.select(posexplode(exprs.toColumn(
        LshBandKeys(exprs.toExpr(col("sig")), idx.bands))).as(Seq("band", "bh")))
      .select(pmod(xxhash64(col("band"), col("bh")), lit(32L)).as("b"))
      .distinct().as[Long].collect().toSet
    assert(hit.size <= idx.bands)
    // input_file_name() reflects the files ACTUALLY read after
    // partition pruning (inputFiles lists the unpruned relation)
    val readFiles = idx.bandRows
      .where(col("bucket").isin(hit.toSeq.map(_.asInstanceOf[Any]): _*))
      .select(input_file_name()).distinct().as[String].collect().toSeq
    assert(readFiles.nonEmpty &&
      readFiles.forall(f => hit.exists(b => f.contains(s"bucket=$b"))),
      s"pruned read must stay inside colliding buckets: $readFiles")
    // and the full relation has more files than the pruned slice
    assert(idx.bandRows.inputFiles.length > readFiles.length)
  }

  test("appendBatch: appended docs screen as duplicates; a replayed " +
      "append overwrites itself (no double rows)") {
    val dir = Files.createTempDirectory("graft-dedupidx-append").toString
    val store = corpus.where($"doc_id" % 3 =!= 0)
    val idx = DedupIndex.write(store, "doc_id", "text", dir,
      nBuckets = 16, nSigBuckets = 8)
    val b1 = Seq((70001L, baseText), (70002L, "first appended unique body"))
      .toDF("doc_id", "text")
    val r1 = DedupIndex.screenBatch(idx, b1, "doc_id", "text",
      beforeBatch = Some(1L))
    DedupIndex.appendBatch(idx, r1.cleanSigs, batchId = 1L)
    // a later batch duplicating an appended doc drops against it
    val b2 = Seq((80001L, baseText)).toDF("doc_id", "text")
    val r2 = DedupIndex.screenBatch(idx, b2, "doc_id", "text",
      beforeBatch = Some(2L))
    val matched = r2.dropped.select("matched_id").as[Long].collect().toSet
    assert(matched.contains(70001L),
      s"batch-2 dup must match the appended doc: $matched")
    // replay batch 1: same screen (its own append invisible), and the
    // re-append leaves the store byte-identical in row counts
    val before = idx.bandRows.count()
    val r1b = DedupIndex.screenBatch(idx, b1, "doc_id", "text",
      beforeBatch = Some(1L))
    assert(pairs(r1b.dropped) == pairs(r1.dropped))
    DedupIndex.appendBatch(idx, r1b.cleanSigs, batchId = 1L)
    assert(idx.bandRows.count() == before, "replayed append must overwrite")
  }

  test("startIndexed: streamed micro-batches screen against the index " +
      "and append to it, matching the raw-store stream's decisions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-dedupidx-stream").toString
    // seed corpus: one doc the stream will collide with
    DedupIndex.write(Seq((1L, baseText)).toDF("doc_id", "text"),
      "doc_id", "text", dir, nBuckets = 16, nSigBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val cleaned = scala.collection.mutable.ArrayBuffer[Long]()
    val q = IncrementalDedup.startIndexed(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", dir) {
      (clean, _) =>
        cleaned.synchronized {
          cleaned ++= clean.select("doc_id")
            .as[Long](sqlImplicits.newLongEncoder).collect()
        }
    }
    try {
      // batch 0: 10 dups the seed, 11 is fresh
      input.addData((10L, baseText), (11L, "unrelated first-batch text"))
      q.processAllAvailable()
      // batch 1: 12 dups 11 (appended by batch 0), 13 is fresh
      input.addData((12L, "unrelated first-batch text"),
        (13L, "brand new second-batch body"))
      q.processAllAvailable()
    } finally q.stop()
    assert(cleaned.toSet == Set(11L, 13L), s"got ${cleaned.toSet}")
  }

  test("retention horizon drops old appended batches (build rows stay); " +
      "compactBatches folds survivors into a fresh identical version") {
    val dir = Files.createTempDirectory("graft-dedupidx-retain").toString
    val idx = DedupIndex.write(
      Seq((1L, baseText)).toDF("doc_id", "text"),
      "doc_id", "text", dir, nBuckets = 8, nSigBuckets = 4)
    def sigsOf(rows: Seq[(Long, String)]) =
      Dedup.minhashSignature(rows.toDF("doc_id", "text"), "doc_id", "text")
    DedupIndex.appendBatch(idx, sigsOf(Seq((10L, "first batch body"))), 1L)
    DedupIndex.appendBatch(idx, sigsOf(Seq((20L, "second batch body"))), 2L)
    DedupIndex.appendBatch(idx, sigsOf(Seq((30L, "third batch body"))), 3L)
    DedupIndex.dropBatchesBelow(idx, minLiveBatch = 3L)
    val live = idx.bandRows.select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(live == Set(1L, 30L),
      s"batches 1-2 must drop, build + batch 3 stay: $live")
    // a doc that fell off the horizon re-enters unchallenged — the
    // documented retention trade
    val re = DedupIndex.screenBatch(idx,
      Seq((40L, "first batch body")).toDF("doc_id", "text"),
      "doc_id", "text", beforeBatch = Some(4L))
    assert(re.dropped.count() == 0)
    // compaction: same screening decisions from one batch_id=0 set
    val before = DedupIndex.screenBatch(idx,
      Seq((50L, "third batch body"), (51L, baseText))
        .toDF("doc_id", "text"), "doc_id", "text")
    val compacted = DedupIndex.compactBatches(idx)
    assert(compacted.version == idx.version + 1)
    val bandDirs = compacted.bandRows.select("batch_id").distinct()
      .as[Long].collect().toSet
    assert(bandDirs == Set(0L), s"all rows must fold into the build: $bandDirs")
    val after = DedupIndex.screenBatch(compacted,
      Seq((50L, "third batch body"), (51L, baseText))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(pairs(before.dropped) == pairs(after.dropped) &&
      pairs(after.dropped).map(p => (p._1, p._2)) ==
        Set((50L, 30L), (51L, 1L)))
  }

  test("autoSize: headroom over the observed footprints, pow2, capped") {
    // the DEDUP_SERVE_r09 saturation case: 10-doc batch, 500 matched
    // store docs — the fixed 256 sig buckets all get hit; auto-sizing
    // keeps the verify read a slice
    assert(DedupIndex.autoSize(batchDocs = 10L, matchesPerBatch = 500L)
      == ((4096, 8192)))
    // exact powers of two stay put; non-powers round up
    assert(DedupIndex.autoSize(4L, 64L)._1 == 1024) // 4*16*16 = 1024
    assert(DedupIndex.autoSize(5L, 64L)._1 == 2048) // 1280 -> 2048
    // no matches yet -> minimal sig footprint, never zero
    assert(DedupIndex.autoSize(10L, 0L)._2 == 16)
    // cap: bucket counts are directories, not free
    assert(DedupIndex.autoSize(1000000L, 1000000L) == ((65536, 65536)))
    intercept[IllegalArgumentException] { DedupIndex.autoSize(0L, 1L) }
    // r14 store-aware sig sizing: pruning pays only while rows saved
    // per file opened (storeDocs / matches) exceeds the measured
    // file-open cost (~8k row-reads on this FS, DEDUP_SERVE_r14.json)
    // — a real-world footprint (50 matches in a 10^9 store) prunes:
    assert(DedupIndex.autoSize(10L, 50L, storeDocs = 1000000000L)._2
      == 1024) // 50*16 -> 1024, store/m = 2e7 >> 8192
    // — the replica-heavy fixture (10k matches in a 5M store) cannot
    //   pay for 10k file opens: size for the full read, few big files
    assert(DedupIndex.autoSize(10L, 10000L, storeDocs = 5000000L)._2
      == 512) // 5M/(2*8192) = 305 -> 512
    assert(DedupIndex.autoSize(10L, 10000L, storeDocs = 500000L)._2
      == 256) // clamp floor
    assert(DedupIndex.autoSize(10L, 1000000L, storeDocs = 200000000L)._2
      == 4096) // clamp ceiling in the full-read branch
    // storeDocs = 0 (unobserved) keeps the legacy match-only rule
    assert(DedupIndex.autoSize(10L, 10000L)._2 == 65536)
  }

  test("autoSize: an observed store caps the band-bucket count") {
    // IndexServe's dedup case at sf0.001: a 10-doc batch over the
    // 500-doc store. The batch-only rule gave 4096 buckets, 8192 write
    // tasks for ~8,000 band rows; 50 store docs per batch doc cannot
    // pay for pruned file opens, so the band side is one full-read file
    assert(DedupIndex.autoSize(10L, 5L, storeDocs = 500L)._1 == 1)
    // a store large enough to prune keeps the batch footprint rule
    assert(DedupIndex.autoSize(10L, 5L, storeDocs = 1000000000L)._1 == 4096)
    // the full-read branch: ~2·8192 band rows a bucket
    assert(DedupIndex.autoSize(10L, 5L, storeDocs = 80000L)._1 == 128) // 1.28M/16384 = 78
    for (store <- Seq(1L, 7L, 500L, 81920L, 1L << 20, 1L << 30);
         batch <- Seq(1L, 10L, 1000L);
         headroom <- Seq(1, 16, 1 << 14)) {
      val n = DedupIndex.autoSize(batch, 5L, headroom = headroom, storeDocs = store)._1
      assert(n >= 1 && java.lang.Integer.bitCount(n) == 1, s"$batch/$store: $n")
      assert(n < 2L * store * 16, s"$batch/$store/$headroom: $n over the store's band rows")
    }
  }

  test("appendBatch invalidates the cached listing: the same Index " +
      "object sees appended rows without re-opening") {
    val dir = Files.createTempDirectory("graft-dedupidx-inval").toString
    val idx = DedupIndex.write(corpus.where($"doc_id" < 100), "doc_id",
      "text", dir, nBuckets = 8, nSigBuckets = 4)
    val before = idx.bandRows.count() // populates the listing cache
    val batch = Seq((90007L, "a wholly novel appended body")).toDF("doc_id", "text")
    val r = DedupIndex.screenBatch(idx, batch, "doc_id", "text",
      beforeBatch = Some(1L))
    DedupIndex.appendBatch(idx, r.cleanSigs, batchId = 1L)
    r.release()
    assert(idx.bandRows.count() > before,
      "append must be visible through the same Index object")
  }

  test("versioned publication: a rebuild publishes v+1, a pinned " +
      "reader keeps serving, vacuum reclaims") {
    val dir = Files.createTempDirectory("graft-dedupidx-ver").toString
    val v1 = DedupIndex.write(corpus.where($"doc_id" < 100), "doc_id",
      "text", dir, nBuckets = 8, nSigBuckets = 4)
    val pinned = DedupIndex.open(spark, dir)
    val v2 = DedupIndex.write(corpus, "doc_id", "text", dir,
      nBuckets = 8, nSigBuckets = 4)
    assert(v2.version == v1.version + 1)
    assert(pinned.version == v1.version &&
      pinned.bandsDir != v2.bandsDir)
    // the pinned reader still reads its own version's files
    assert(pinned.bandRows.count() > 0)
    DedupIndex.vacuum(v2)
    assert(DedupIndex.open(spark, dir).version == v2.version)
    intercept[Exception] { pinned.bandRows.count() } // files reclaimed
  }
}
