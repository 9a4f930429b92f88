package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The persisted BM25 inverted index (H18): search-from-disk must
  * equal the recompute path bit-for-bit, and the query's term buckets
  * must prune the postings read on disk (the AnnIndexSpec
  * discipline applied to the lexical index).
  */
class Bm25IndexSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val queries = docs.where($"doc_id" < 3)

  private lazy val index = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-index").toString
    Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 16)
  }

  private def asTuples(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "nid", "bm25", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(t => (t._1, t._4))
      .toSeq

  test("index search equals the recompute path bit-for-bit") {
    val fromDisk = asTuples(
      Bm25Index.search(index, queries, "doc_id", "text", topK = 20))
    val recompute = asTuples(
      TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text", topK = 20))
    assert(fromDisk.nonEmpty)
    assert(fromDisk == recompute,
      s"disk=${fromDisk.take(3)} recompute=${recompute.take(3)}")
  }

  test("open() round-trips the meta scalars and search agrees") {
    val reopened = Bm25Index.open(spark, index.dir)
    assert(reopened.nDocs == index.nDocs && reopened.sumDl == index.sumDl &&
      reopened.nBuckets == index.nBuckets)
    assert(asTuples(Bm25Index.search(reopened, queries, "doc_id", "text")) ==
      asTuples(Bm25Index.search(index, queries, "doc_id", "text")))
  }

  test("query terms prune posting buckets on disk") {
    // a single tiny query → few distinct terms → a strict bucket subset
    val oneQ = Seq((9999L, "batch window")).toDF("doc_id", "text")
    val pruned = Bm25Index.search(index, oneQ, "doc_id", "text", topK = 5)
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("term_bucket"),
      s"expected term_bucket partition filters in:\n$plan")
    assert(!plan.contains("PushedFilters: [In(term_bucket"),
      s"bucket predicate leaked into data filters:\n$plan")
    val allFiles = index.postings.select(input_file_name()).distinct()
      .as[String].collect().toSet
    val probed = Seq("batch", "window")
      .map(t => math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          org.apache.spark.unsafe.types.UTF8String.fromString(t).getBaseObject,
          org.apache.spark.unsafe.types.UTF8String.fromString(t).getBaseOffset,
          org.apache.spark.unsafe.types.UTF8String.fromString(t).numBytes(), 42),
        16).toLong).distinct
    val readFiles = index.postings.where($"term_bucket".isin(
        probed.map(_.asInstanceOf[Any]): _*))
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(readFiles.nonEmpty && readFiles.size < allFiles.size,
      s"pruned read must touch fewer files: ${readFiles.size}/${allFiles.size}")
    assert(readFiles.forall(f =>
      probed.exists(b => f.contains(s"term_bucket=$b/"))),
      s"read outside probed buckets: $readFiles vs $probed")
  }

  test("full serving stack: RRF fusion of the two persisted indexes " +
      "equals fusion of the recompute legs") {
    // the round-8 serving story end-to-end: dense leg from the
    // persisted ANN index, lexical leg from the persisted BM25 index,
    // fused with RRF — must equal the same fusion over the one-job
    // recompute paths (both legs are spec-pinned equal individually;
    // this pins the COMPOSITION, ranks flowing through fusion intact)
    val emb = Tables.embeddings(spark, sfDir)
    val eq = emb.where($"vec_id" < 3)
    val annDir = java.nio.file.Files
      .createTempDirectory("graft-ann-rrf").toString
    val ann = AnnIndex.write(emb, annDir, dim = 64, nCells = 8,
      stride = 7, kmeansIters = 1, m = 8, ncodes = 16)
    val denseIdx = AnnIndex.searchExact(ann, eq, k = 20, nprobe = 8)
      .select("qid", "nid", "rank")
    val lexIdx = Bm25Index.search(index, queries, "doc_id", "text",
        topK = 20).select("qid", "nid", "rank")
    val fusedIdx = Similarity.rrfFuse(Seq(denseIdx, lexIdx), topK = 10)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._3)).toSeq

    val denseRe = Similarity.bruteForceTopK(emb, eq, k = 20)
      .select("qid", "nid", "rank")
    val lexRe = TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text",
        topK = 20).select("qid", "nid", "rank")
    val fusedRe = Similarity.rrfFuse(Seq(denseRe, lexRe), topK = 10)
      .select("qid", "nid", "rank")
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._3)).toSeq
    assert(fusedIdx.nonEmpty && fusedIdx == fusedRe,
      s"idx=${fusedIdx.take(5)} re=${fusedRe.take(5)}")

    // r9: one stage further — MMR over the fused candidates. The disk
    // chain (ANN index + BM25 index → RRF → MMR with vectors
    // re-attached from the index's own cells) must equal the same
    // chain over the recompute legs: the COMPLETE serving stack
    // round-trips disk with no brute-force corpus pass anywhere.
    def mmrOver(corpus: org.apache.spark.sql.DataFrame,
                legs: Seq[org.apache.spark.sql.DataFrame]) =
      Similarity.mmrRerankCandidates(corpus,
          Similarity.rrfFuse(legs, topK = 10)
            .select($"qid", $"nid", $"rrf".as("rel")), k = 5)
        .select("qid", "nid", "rank")
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._3)).toSeq
    val mmrIdx = mmrOver(ann.cells.select("vec_id", "embedding"),
      Seq(denseIdx, lexIdx))
    val mmrRe = mmrOver(emb, Seq(denseRe, lexRe))
    assert(mmrIdx.nonEmpty && mmrIdx == mmrRe,
      s"mmr idx=${mmrIdx.take(5)} re=${mmrRe.take(5)}")
  }

  test("streaming query serving through the persisted BM25 index " +
      "matches batch") {
    // the lexical twin of AnnIndexSpec's G4∘G11 serving loop: query
    // micro-batches answered by Bm25Index.search against the on-disk
    // postings inside foreachBatch — open once, serve many
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val served =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val opened = Bm25Index.open(spark, index.dir)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        served ++= Bm25Index.search(opened, batch, "doc_id", "text",
            topK = 10)
          .select("qid", "nid", "bm25", "rank")
          .as[(Long, Long, Double, Long)].collect()
        ()
      }.start()
    try {
      val rows = queries.select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq
      val (h, t) = rows.splitAt(1)
      mem.addData(h: _*); q.processAllAvailable()
      mem.addData(t: _*); q.processAllAvailable()
    } finally q.stop()
    assert(served.nonEmpty)
    assert(served.sortBy(x => (x._1, x._4)).toSeq ==
      asTuples(Bm25Index.search(index, queries, "doc_id", "text",
        topK = 10)))
  }

  test("versioned rebuild: a pinned reader serves the old corpus " +
      "version; a crashed rebuild leaves the old live; vacuum reclaims") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-pub").toString
    val half = docs.where($"doc_id" % 2 === 0)
    val v1 = Bm25Index.write(half, "doc_id", "text", dir, nBuckets = 8)
    assert(v1.version == 1L)
    val before = asTuples(
      Bm25Index.search(v1, queries, "doc_id", "text", topK = 10))
    val reader = Bm25Index.open(spark, dir)
    // crashed rebuild: partial postings.v2 with no CURRENT flip
    new java.io.File(s"$dir/postings.v2/term_bucket=0").mkdirs()
    assert(Bm25Index.open(spark, dir).version == 1L,
      "unpublished residue must be invisible")
    // real rebuild over the FULL corpus publishes v2 atomically
    val v2 = Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    assert(v2.version == 2L && v2.nDocs > v1.nDocs)
    // the pinned reader still serves the old corpus version (its meta
    // scalars AND its postings — a torn mix would corrupt scores)
    assert(asTuples(
      Bm25Index.search(reader, queries, "doc_id", "text", topK = 10))
      == before)
    // fresh opens see v2 == the recompute path over the full corpus
    val fresh = Bm25Index.open(spark, dir)
    assert(fresh.version == 2L)
    val full = asTuples(
      Bm25Index.search(fresh, queries, "doc_id", "text", topK = 10))
    assert(full == asTuples(TextAnalysis.bm25Retrieve(
      docs, queries, "doc_id", "text", topK = 10)))
    // vacuum reclaims v1; v2 unaffected
    Bm25Index.vacuum(fresh)
    assert(!new java.io.File(s"$dir/postings.v1").exists())
    assert(asTuples(
      Bm25Index.search(fresh, queries, "doc_id", "text", topK = 10))
      == full)
  }

  test("deleteDocs: tombstoned documents vanish from every search; " +
      "a rebuild starts clean") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-del").toString
    val idx = Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    val full = Bm25Index.search(idx, queries, "doc_id", "text", topK = 20)
      .select("nid").as[Long].collect().toSet
    assert(full.nonEmpty)
    // tombstone every doc_id divisible by 4 (includes former hits)
    val dels = docs.where($"doc_id" % 4 === 0).select("doc_id")
    Bm25Index.deleteDocs(idx, dels)
    val after = Bm25Index.search(idx, queries, "doc_id", "text", topK = 20)
      .select("nid").as[Long].collect().toSet
    assert(after.nonEmpty && !after.exists(_ % 4 == 0),
      s"deleted ids served: ${after.filter(_ % 4 == 0)}")
    // conservative df staleness: the SURVIVORS' scores match a search
    // whose candidates exclude deleted docs but whose df is unchanged —
    // i.e. the anti-join filters candidates, never rescales scores
    val scored = asTuples(
      Bm25Index.search(idx, queries, "doc_id", "text", topK = 1000))
    val refAll = asTuples(
      TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text", topK = 1000))
    val refScores = refAll.map(t => (t._1, t._2) -> t._3).toMap
    assert(scored.forall { case (q, n, s, _) => refScores((q, n)) == s },
      "delete must not change surviving documents' scores before rebuild")
    // rebuild: fresh version, no tombstones — everything serves again
    val re = Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    val back = Bm25Index.search(re, queries, "doc_id", "text", topK = 20)
      .select("nid").as[Long].collect().toSet
    assert(back == full, "rebuild must clear tombstones")
  }

  test("filtered serving: allowed-set search restricts candidates, " +
      "never rescales, and re-ranks within the filter") {
    // the positive twin of deleteDocs: multi-tenant serving from the
    // same postings, matching the AnnIndex `allowed` contract
    val allowed = docs.where($"doc_id" % 3 === 1).select("doc_id")
    val out = asTuples(Bm25Index.search(index, queries, "doc_id", "text",
      topK = 1000, allowed = Some(allowed)))
    assert(out.nonEmpty && out.forall { case (_, n, _, _) => n % 3 == 1 },
      s"non-allowed docs served: ${out.filter(_._2 % 3 != 1).take(3)}")
    // the filter selects candidates; per-pair scores are untouched
    val refScores = asTuples(Bm25Index.search(index, queries, "doc_id",
        "text", topK = 1000))
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out.forall { case (q, n, s, _) => refScores((q, n)) == s },
      "allowed filter must not change scores")
    // ranks are dense 1..m per query in (bm25 desc, nid) order over
    // exactly the allowed candidates
    out.groupBy(_._1).foreach { case (_, rows) =>
      val order = rows.sortBy(r => (-r._3, r._2)).map(_._4)
      assert(order == (1L to rows.size).toSeq, s"ranks not dense: $order")
    }
  }

  test("appendDocs: search after appends equals an index built whole " +
      "bit-for-bit, across batches, composing with delete and allowed") {
    // build on a third of the corpus, append the other two thirds in
    // two batches — effective df must reconstruct exactly (build max
    // + accumulated deltas), scalars from the meta deltas
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 === 1)
    val p2 = docs.where($"doc_id" % 3 === 2)
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-bm25-app").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dirA, nBuckets = 8)
    Bm25Index.appendDocs(idx, p1, "doc_id", "text")
    Bm25Index.appendDocs(idx, p2, "doc_id", "text")
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-bm25-whole").toString
    val whole = Bm25Index.write(docs, "doc_id", "text", dirB, nBuckets = 8)
    val a = asTuples(Bm25Index.search(idx, queries, "doc_id", "text",
      topK = 50))
    val b = asTuples(Bm25Index.search(whole, queries, "doc_id", "text",
      topK = 50))
    assert(a.nonEmpty && a == b,
      s"append=${a.take(3)} whole=${b.take(3)}")
    // appended docs actually serve (the delta path is non-vacuous)
    assert(a.exists(_._2 % 3 == 1) && a.exists(_._2 % 3 == 2),
      "results must include appended docs")
    // the takedown and tenant filters compose with the delta path
    val dels = docs.where($"doc_id" % 5 === 0).select("doc_id")
    Bm25Index.deleteDocs(idx, dels)
    Bm25Index.deleteDocs(whole, dels)
    val allow = docs.where($"doc_id" % 2 === 1).select("doc_id")
    val af = asTuples(Bm25Index.search(idx, queries, "doc_id", "text",
      topK = 50, allowed = Some(allow)))
    val bf = asTuples(Bm25Index.search(whole, queries, "doc_id", "text",
      topK = 50, allowed = Some(allow)))
    assert(af.nonEmpty && af == bf)
    assert(af.forall { case (_, n, _, _) => n % 5 != 0 && n % 2 == 1 })
  }

  test("appendDocsBatch: replay-idempotent — a crashed attempt's " +
      "partitions are REPLACED, search equals an index built whole, " +
      "and both append forms + compaction compose (r13)") {
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 === 1)
    val p2 = docs.where($"doc_id" % 3 === 2)
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-bm25-batch").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dirA, nBuckets = 8)
    // batch 0 lands normally
    Bm25Index.appendDocsBatch(idx, p1, "doc_id", "text", batchId = 0L)
    // batch 1 CRASHES mid-append: a partial attempt wrote garbage rows
    // (a corrupted subset claiming huge tf) into the batch partitions
    Bm25Index.appendDocsBatch(idx,
      p2.limit(5).select($"doc_id", lit("bogus crashed attempt words")
        .as("text")),
      "doc_id", "text", batchId = 1L)
    // the REPLAY of batch 1 recomputes the true rows and must REPLACE
    // the crashed attempt (dynamic overwrite), not append beside it
    Bm25Index.appendDocsBatch(idx, p2, "doc_id", "text", batchId = 1L)
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-bm25-batch-whole").toString
    val whole = Bm25Index.write(docs, "doc_id", "text", dirB, nBuckets = 8)
    val a = asTuples(Bm25Index.search(idx, queries, "doc_id", "text",
      topK = 50))
    val b = asTuples(Bm25Index.search(whole, queries, "doc_id", "text",
      topK = 50))
    assert(a.nonEmpty && a == b,
      s"batch-append=${a.take(3)} whole=${b.take(3)}")
    assert(a.exists(_._2 % 3 == 1) && a.exists(_._2 % 3 == 2),
      "results must include batch-appended docs")
    // no residue of the crashed attempt anywhere in the index
    assert(idx.postings.where($"term" === "bogus").count() == 0,
      "crashed-attempt postings must be overwritten by the replay")
    val wholeReopened = Bm25Index.open(spark, dirB)
    // the two append forms MIX on one version: a plain appendDocs on
    // top of batch appends still reconstructs df/scalars exactly
    val fresh = docs.where($"doc_id" % 5 === 2)
      .select(($"doc_id" + 200000L).as("doc_id"), $"text")
    Bm25Index.appendDocs(idx, fresh, "doc_id", "text")
    Bm25Index.appendDocs(wholeReopened, fresh, "doc_id", "text")
    val am = asTuples(Bm25Index.search(idx, queries, "doc_id", "text",
      topK = 50))
    val bm = asTuples(Bm25Index.search(wholeReopened, queries, "doc_id",
      "text", topK = 50))
    assert(am == bm, s"mixed=${am.take(3)} whole+plain=${bm.take(3)}")
    // compaction folds BOTH delta paths into a clean version
    val compacted = Bm25Index.compactDeltas(idx, filesPerBucket = 2)
    val ac = asTuples(Bm25Index.search(compacted, queries, "doc_id",
      "text", topK = 50))
    assert(ac == am, "compaction must preserve mixed-append results")
    val root = new java.io.File(dirA)
    val v = compacted.version
    assert(!new java.io.File(root, s"postings_batches.v$v").exists())
    assert(!new java.io.File(root, s"df_delta_batches.v$v").exists())
    assert(!new java.io.File(root, s"meta_delta_batches.v$v").exists())
    // vacuum reclaims the superseded batch dirs too
    Bm25Index.vacuum(compacted)
    assert(!new java.io.File(root,
      s"postings_batches.v${idx.version}").exists())
  }

  test("compactDeltas: folds appends + deletes into a fresh version " +
      "with identical search results and no delta/tombstone residue") {
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-compact").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dir, nBuckets = 8)
    Bm25Index.appendDocs(idx, p1, "doc_id", "text")
    Bm25Index.deleteDocs(idx, docs.where($"doc_id" % 7 === 0)
      .select("doc_id"))
    val before = asTuples(Bm25Index.search(idx, queries, "doc_id", "text",
      topK = 50))
    val compacted = Bm25Index.compactDeltas(idx, filesPerBucket = 2)
    assert(compacted.version == idx.version + 1)
    val after = asTuples(Bm25Index.search(compacted, queries, "doc_id",
      "text", topK = 50))
    assert(before.nonEmpty && after == before,
      s"before=${before.take(3)} after=${after.take(3)}")
    // the compacted version is physically clean: tombstoned docs gone
    // from the postings, no delta/tombstone dirs, so search takes the
    // row-local single-relation plan again
    assert(compacted.postings.where($"doc_id" % 7 === 0).count() == 0)
    val root = new java.io.File(dir)
    val v = compacted.version
    assert(!new java.io.File(root, s"df_deltas.v$v").exists())
    assert(!new java.io.File(root, s"meta_deltas.v$v").exists())
    assert(!new java.io.File(root, s"doc_tombstones.v$v").exists())
    // compaction is TRANSPARENT to future appends: appending the same
    // fresh batch to the pre-compaction version (still on disk, its
    // readers pinned) and to the compacted version must serve
    // identically — effective df, scalars, and the alive set all agree
    // by construction, just reconstructed vs materialized
    val fresh = docs.where($"doc_id" % 5 === 1)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    Bm25Index.appendDocs(idx, fresh, "doc_id", "text")
    Bm25Index.appendDocs(compacted, fresh, "doc_id", "text")
    val viaOld = asTuples(Bm25Index.search(idx, queries, "doc_id",
      "text", topK = 50))
    val viaNew = asTuples(Bm25Index.search(compacted, queries, "doc_id",
      "text", topK = 50))
    assert(viaNew == viaOld,
      s"old=${viaOld.take(3)} new=${viaNew.take(3)}")
    assert(viaNew.exists(_._2 >= 100000L),
      "appended-after-compaction docs must serve")
    // vacuum reclaims every superseded dir class
    Bm25Index.vacuum(compacted)
    assert(!new java.io.File(root, s"postings.v${idx.version}").exists())
    assert(!new java.io.File(root, s"df_deltas.v${idx.version}").exists())
    assert(new java.io.File(root, s"postings.v$v").exists())
  }

  test("maxDfShare elides Zipf-head query terms with the exact " +
      "drop-from-the-bag contract (r13)") {
    // plant a universal token: df = N, idf ~ 0 — real signal lives in
    // the discriminative tail
    val planted = docs.limit(60)
      .select($"doc_id", concat(lit("zzcommon "), $"text").as("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-dfshare").toString
    val idx = Bm25Index.write(planted, "doc_id", "text", dir, nBuckets = 8)
    // fresh-id queries carrying the universal token plus tail terms
    val qWith = planted.where($"doc_id" < 3)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text")
    // the reference: the SAME queries with the universal token removed
    // from the bag by hand
    val qWithout = qWith.select($"doc_id",
      regexp_replace($"text", "zzcommon ", "").as("text"))
    def sig(q: org.apache.spark.sql.DataFrame, share: Option[Double]) =
      Bm25Index.search(idx, q, "doc_id", "text", topK = 50,
          maxDfShare = share)
        .select("qid", "nid", "bm25", "rank")
        .as[(Long, Long, Double, Long)].collect()
        .sortBy(t => (t._1, t._4)).toSeq
    val elided = sig(qWith, Some(0.9))
    val handDropped = sig(qWithout, None)
    assert(elided.nonEmpty && elided == handDropped,
      s"elision must equal dropping the term from the bag: " +
        s"${elided.take(3)} vs ${handDropped.take(3)}")
    // default None is unchanged by the refactor, and differs from the
    // elided form (the universal term contributes small scores)
    assert(sig(qWith, None) != elided,
      "fixture must make the universal term matter without elision")
    // a query whose whole bag elides matches nothing
    val qAllCommon = Seq((9000L, "zzcommon zzcommon")).toDF("doc_id", "text")
    assert(sig(qAllCommon, Some(0.9)).isEmpty)
    intercept[IllegalArgumentException] {
      Bm25Index.search(idx, qWith, "doc_id", "text",
        maxDfShare = Some(0.0))
    }
    // composes with the append path: elision after appendDocs still
    // equals the hand-dropped bag on the grown index
    Bm25Index.appendDocs(idx,
      docs.where($"doc_id" >= 60 && $"doc_id" < 90)
        .select($"doc_id", concat(lit("zzcommon "), $"text").as("text")),
      "doc_id", "text")
    assert(sig(qWith, Some(0.9)) == sig(qWithout, None),
      "elision must hold across the delta-reconstruction path")
  }

  test("token-empty append batches are no-ops: no file-less dirs, " +
      "search == built whole (r14 ADVICE)") {
    val p0 = docs.where($"doc_id" % 2 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-empty").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dir, nBuckets = 8)
    val before = asTuples(
      Bm25Index.search(idx, queries, "doc_id", "text", topK = 20))
    // rows that PASS a row-count guard but tokenize to nothing — the
    // permissive-gate shape from the ADVICE scenario
    val blank = Seq((900001L, "   "), (900002L, ""), (900003L, "\t\n"))
      .toDF("doc_id", "text")
    Bm25Index.appendDocsBatch(idx, blank, "doc_id", "text", batchId = 0L)
    Bm25Index.appendDocs(idx, blank, "doc_id", "text")
    val root = new java.io.File(dir)
    val v = idx.version
    assert(!new java.io.File(root, s"postings_batches.v$v").exists(),
      "empty batch must not create a file-less batch-postings dir")
    assert(!new java.io.File(root, s"df_delta_batches.v$v").exists())
    assert(!new java.io.File(root, s"meta_delta_batches.v$v").exists())
    assert(!new java.io.File(root, s"df_deltas.v$v").exists())
    assert(!new java.io.File(root, s"meta_deltas.v$v").exists())
    // the index still opens and serves, results unchanged: the corpus
    // scalars count only docs with >= 1 token, so built-whole parity holds
    val after = asTuples(Bm25Index.search(Bm25Index.open(spark, dir),
      queries, "doc_id", "text", topK = 20))
    assert(after == before)
    // and a later REAL batch-append on the same index works end-to-end
    Bm25Index.appendDocsBatch(idx, docs.where($"doc_id" % 2 === 1),
      "doc_id", "text", batchId = 1L)
    val dirW = java.nio.file.Files
      .createTempDirectory("graft-bm25-empty-whole").toString
    val whole = Bm25Index.write(docs, "doc_id", "text", dirW, nBuckets = 8)
    assert(asTuples(Bm25Index.search(idx, queries, "doc_id", "text",
        topK = 20)) ==
      asTuples(Bm25Index.search(whole, queries, "doc_id", "text",
        topK = 20)))
  }

  test("batch ledger: replay across a republish is skipped when done, " +
      "in-flight batches block compaction, stranded batches throw (r14)") {
    import org.apache.spark.sql.types._
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 === 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-ledger").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dir, nBuckets = 8)
    Bm25Index.appendDocsBatch(idx, p1, "doc_id", "text", batchId = 7L)
    def plantIntent(batchId: Long, version: Long): Unit =
      spark.range(1).select(lit(batchId).cast(LongType).as("batch_id"),
          lit(version).cast(LongType).as("version"),
          lit("intent").as("state"))
        .coalesce(1).write.mode("append").parquet(s"$dir/batch_ledger")
    // a crashed (intent-without-done) batch on the CURRENT version
    // blocks compaction — folding its possibly-partial partitions into
    // the base would make the replay double-count
    plantIntent(8L, idx.version)
    val ex = intercept[IllegalArgumentException] {
      Bm25Index.compactDeltas(idx)
    }
    assert(ex.getMessage.contains("in-flight"))
    // the checkpoint replay of that crashed batch proceeds (same
    // version: dynamic overwrite replaces), completes the ledger, and
    // compaction is unblocked
    val extra = docs.where($"doc_id" % 3 === 2)
    Bm25Index.appendDocsBatch(idx, extra, "doc_id", "text", batchId = 8L)
    val compacted = Bm25Index.compactDeltas(idx)
    val served = asTuples(Bm25Index.search(compacted, queries, "doc_id",
      "text", topK = 50))
    val dirW = java.nio.file.Files
      .createTempDirectory("graft-bm25-ledger-whole").toString
    val whole = Bm25Index.write(docs, "doc_id", "text", dirW, nBuckets = 8)
    assert(served.nonEmpty && served ==
      asTuples(Bm25Index.search(whole, queries, "doc_id", "text",
        topK = 50)))
    // a batch DONE under the old version replays after the republish:
    // the ledger skips it — its rows are already folded into the
    // compacted base, so nothing lands in the new version's batch dirs
    Bm25Index.appendDocsBatch(compacted, p1, "doc_id", "text",
      batchId = 7L)
    assert(!new java.io.File(dir,
      s"postings_batches.v${compacted.version}").exists(),
      "done-under-older-version replay must be skipped")
    assert(asTuples(Bm25Index.search(Bm25Index.open(spark, dir), queries,
      "doc_id", "text", topK = 50)) == served)
    // a batch stranded IN-FLIGHT under an older version is
    // unreconcilable — the replay must fail loudly, not double-count
    plantIntent(11L, compacted.version)
    val re = Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    val ex2 = intercept[IllegalStateException] {
      Bm25Index.appendDocsBatch(re, p1, "doc_id", "text", batchId = 11L)
    }
    assert(ex2.getMessage.contains("older index version"))
  }

  test("compactDeltas bucketsPerJob: per-bucket staging equals the " +
      "one-job fold exactly; in-flight refusal preserved (r15)") {
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 === 1)
    val p2 = docs.where($"doc_id" % 3 === 2)
      .select(($"doc_id" + 300000L).as("doc_id"), $"text")
    def mkIndex(tag: String) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-bm25-pbc-$tag").toString
      val idx = Bm25Index.write(p0, "doc_id", "text", dir, nBuckets = 8)
      Bm25Index.appendDocsBatch(idx, p1, "doc_id", "text", batchId = 1L)
      Bm25Index.appendDocs(idx, p2, "doc_id", "text")
      Bm25Index.deleteDocs(idx, docs.where($"doc_id" % 11 === 0)
        .select("doc_id"))
      idx
    }
    val idxA = mkIndex("whole")
    val idxB = mkIndex("bucketed")
    val pre = asTuples(Bm25Index.search(idxB, queries, "doc_id", "text",
      topK = 50))
    val whole = Bm25Index.compactDeltas(idxA, filesPerBucket = 2)
    // 8 buckets in groups of 3 → jobs over (0,1,2),(3,4,5),(6,7):
    // exercises an uneven tail group and empty partitions inside groups
    val bucketed = Bm25Index.compactDeltas(idxB, filesPerBucket = 2,
      bucketsPerJob = 3)
    assert(bucketed.version == idxB.version + 1)
    assert(bucketed.nDocs == whole.nDocs && bucketed.sumDl == whole.sumDl)
    def postingRows(i: Bm25Index.Index) =
      i.postings.select($"term", $"doc_id", $"tf", $"dl", $"df",
          $"term_bucket".cast("long"))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(postingRows(bucketed) == postingRows(whole),
      "per-bucket staging must fold the same posting rows")
    def statRows(i: Bm25Index.Index) =
      spark.read.parquet(s"${i.dir}/term_stats.v${i.version}")
        .select($"term", $"df", $"term_bucket".cast("long"))
        .as[(String, Long, Long)].collect().toSet
    assert(statRows(bucketed) == statRows(whole),
      "per-bucket staging must fold the same term-stats sidecar")
    val post = asTuples(Bm25Index.search(bucketed, queries, "doc_id",
      "text", topK = 50))
    assert(post.nonEmpty && post == pre,
      "bucketed compaction must preserve search results")
    assert(post == asTuples(Bm25Index.search(whole, queries, "doc_id",
      "text", topK = 50)))
    // the in-flight refusal guards the bucketed mode identically
    spark.range(1).select(lit(21L).as("batch_id"),
        lit(bucketed.version).as("version"), lit("intent").as("state"),
        lit(7L).as("fp"))
      .coalesce(1).write.mode("append")
      .parquet(s"${idxB.dir}/batch_ledger")
    val fresh = Bm25Index.open(spark, idxB.dir)
    val ex = intercept[IllegalArgumentException] {
      Bm25Index.compactDeltas(fresh, bucketsPerJob = 2)
    }
    assert(ex.getMessage.contains("in-flight"))
  }

  test("ledger fingerprint: batchId reuse with new content throws, a " +
      "true replay skips, legacy rows skip unverified (r15 ADVICE)") {
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 === 1)
    val p2 = docs.where($"doc_id" % 3 === 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-fp").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dir, nBuckets = 8)
    Bm25Index.appendDocsBatch(idx, p1, "doc_id", "text", batchId = 3L)
    val compacted = Bm25Index.compactDeltas(idx)
    val served = asTuples(Bm25Index.search(compacted, queries, "doc_id",
      "text", topK = 50))
    // a TRUE replay (same content) after the republish: skipped, and
    // the fingerprint verifies equal — nothing lands in the new
    // version's batch dirs
    Bm25Index.appendDocsBatch(compacted, p1, "doc_id", "text",
      batchId = 3L)
    assert(!new java.io.File(dir,
      s"postings_batches.v${compacted.version}").exists())
    // batchId REUSE with different content (checkpoint reset / new
    // stream): silently dropping it was the r14 failure mode — now the
    // fingerprint mismatch throws
    val ex = intercept[IllegalStateException] {
      Bm25Index.appendDocsBatch(compacted, p2, "doc_id", "text",
        batchId = 3L)
    }
    assert(ex.getMessage.contains("fingerprint"))
    assert(asTuples(Bm25Index.search(Bm25Index.open(spark, dir), queries,
      "doc_id", "text", topK = 50)) == served,
      "neither the skip nor the throw may mutate the index")
    // a legacy (pre-fingerprint, 3-column) done row skips unverified
    // instead of erroring on the missing column
    spark.range(1).select(lit(4L).as("batch_id"),
        lit(compacted.version).as("version"), lit("done").as("state"))
      .coalesce(1).write.mode("append").parquet(s"$dir/batch_ledger")
    val re = Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    Bm25Index.appendDocsBatch(re, p2, "doc_id", "text", batchId = 4L)
    assert(!new java.io.File(dir,
      s"postings_batches.v${re.version}").exists(),
      "legacy done row must still skip the replay")
  }

  test("ledger fold: one row per batch, entries-equivalent, replay " +
      "semantics intact across the fold (r15 ADVICE)") {
    val p0 = docs.where($"doc_id" % 3 === 0)
    val p1 = docs.where($"doc_id" % 3 === 1)
    val p2 = docs.where($"doc_id" % 3 === 2)
      .select(($"doc_id" + 400000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-fold").toString
    val idx = Bm25Index.write(p0, "doc_id", "text", dir, nBuckets = 8)
    Bm25Index.appendDocsBatch(idx, p1, "doc_id", "text", batchId = 1L)
    Bm25Index.appendDocsBatch(idx, p2, "doc_id", "text", batchId = 2L)
    def ledgerFiles = new java.io.File(dir, "batch_ledger").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = ledgerFiles
    assert(before >= 4, s"two batches should write >= 4 ledger files: $before")
    idx.ledger.fold(minFiles = 1)
    assert(ledgerFiles == 1,
      s"fold must leave one parquet file, found $ledgerFiles")
    // entries survive the fold: a done batch still skips after a
    // republish (fingerprint verified from the folded row), and reuse
    // with new content still throws
    val compacted = Bm25Index.compactDeltas(idx)
    Bm25Index.appendDocsBatch(compacted, p1, "doc_id", "text",
      batchId = 1L)
    assert(!new java.io.File(dir,
      s"postings_batches.v${compacted.version}").exists())
    intercept[IllegalStateException] {
      Bm25Index.appendDocsBatch(compacted, p1, "doc_id", "text",
        batchId = 2L) // batch 2's id with batch 1's content
    }
    // compaction itself folds too (the maintenance-window hook): after
    // more appends, the post-compaction ledger is compact again
    Bm25Index.appendDocsBatch(compacted, p2.limit(5), "doc_id", "text",
      batchId = 5L)
    assert(ledgerFiles >= 2)
  }

  test("postings are denormalized: df/dl on rows match corpus stats") {
    // hand-check one term: its df must equal the number of distinct
    // docs containing it, dl the containing doc's token count
    val p = index.postings.where($"term" === "batch")
      .select("doc_id", "tf", "dl", "df").collect()
    assert(p.nonEmpty)
    val expectDf = docs.where(array_contains(
      filter(TextAnalysis.tokens($"text"), t => t =!= ""), "batch")).count()
    assert(p.forall(_.getLong(3) == expectDf),
      s"df mismatch: ${p.head} vs $expectDf")
    val dl0 = docs.where($"doc_id" === p.head.getLong(0))
      .select(size(filter(TextAnalysis.tokens($"text"), t => t =!= "")))
      .collect()(0).getInt(0)
    assert(p.head.getLong(2) == dl0.toLong)
  }
}
