package graft

class GraftServerSpec extends SparkSpec {

  test("serveRows equals a fresh collect for representative queries; " +
      "repeats hit the cache; invalidate forces a rebuild") {
    val server = new GraftServer(spark)
    // one narrow agg, one join-heavy TPC-H, one windowed query — the
    // encoder path must round-trip decimals, dates, and strings
    val names = Seq("q1_agg", "q_tpch3", "q_tpch1")
    for (name <- names) {
      val fresh = SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      val served = server.serveRows(name, sfDir)
        .map(_.toString).sorted.toSeq
      assert(served == fresh, s"$name served rows diverge")
    }
    val (h1, b1) = server.counters
    assert(b1 == names.size && h1 == 0)
    // repeats: no new builds, rows unchanged
    for (name <- names) {
      val again = server.serveRows(name, sfDir)
        .map(_.toString).sorted.toSeq
      val fresh = SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      assert(again == fresh, s"$name repeat diverges")
    }
    val (h2, b2) = server.counters
    assert(b2 == names.size && h2 == names.size.toLong)
    // serve() returns a usable DataFrame without a new build
    assert(server.serve("q1_agg", sfDir).count() > 0)
    val (h3, b3) = server.counters
    assert(b3 == names.size && h3 == names.size + 1L)
    // invalidate: the next request rebuilds
    server.invalidate("q1_agg", sfDir)
    server.serveRows("q1_agg", sfDir)
    val (_, b4) = server.counters
    assert(b4 == names.size + 1L)
  }

  test("watchIndexes: an index republish is served fresh without " +
      "manual invalidate; unflipped versions still hit the cache") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    import graft.operators.AnnIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft-server-idx").toString
    val emb = Tables.embeddings(spark, sfDir)
    val corpusA = emb.where(col("vec_id") < 40)
    val corpusB = emb.where(col("vec_id") >= 40 && col("vec_id") < 80)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 103)
    def freshRows() = AnnIndex
      .searchExact(AnnIndex.open(spark, dir), queries, k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    AnnIndex.write(corpusA, dir, dim = 64, nCells = 2, stride = 7,
      m = 8, ncodes = 16)
    // a custom registry fronting the index read — the serving shape
    // watchIndexes exists for
    val reg = Map("ann" -> ((s: SparkSession, d: String) =>
      AnnIndex.searchExact(AnnIndex.open(s, d), queries, k = 3,
        nprobe = 2)))
    val server = new GraftServer(spark, reg)
    server.watchIndexes("ann", dir, Seq(dir))
    val a = server.serveRows("ann", dir).map(_.toString).sorted.toSeq
    assert(a == freshRows(), "first serve must match a fresh search")
    // unflipped CURRENT: the repeat hits the cache
    assert(server.serveRows("ann", dir).map(_.toString).sorted.toSeq == a)
    val (h1, b1) = server.counters
    assert(b1 == 1 && h1 == 1, s"expected 1 build / 1 hit, got $b1/$h1")
    // republish: a rebuild over a DIFFERENT corpus flips CURRENT to v2
    AnnIndex.write(corpusB, dir, dim = 64, nCells = 2, stride = 7,
      m = 8, ncodes = 16)
    val b = server.serveRows("ann", dir).map(_.toString).sorted.toSeq
    assert(b == freshRows(), "post-republish serve must match v2")
    assert(b != a, "fixture must make v1 and v2 results differ")
    val (_, b2) = server.counters
    assert(b2 == 2, s"republish must force exactly one rebuild, got $b2")
  }

  test("watchIndexes: a SAME-VERSION mutation (upsert / appendDocs) is " +
      "served fresh — the GEN counter half of the fingerprint (r12)") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, Bm25Index}
    // ANN: upsert never flips CURRENT (it appends cells + tombstones
    // within the live version) — the r11 ADVICE staleness hole: a
    // watcher keyed to CURRENT alone served the pre-upsert listing
    // until the next compaction. The GEN bump must invalidate.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-server-gen").toString
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.where(col("vec_id") < 40)
    val queries = emb.where(col("vec_id") >= 100 && col("vec_id") < 103)
    AnnIndex.write(corpus, dir, dim = 64, nCells = 2, stride = 7,
      m = 8, ncodes = 16)
    def freshRows() = AnnIndex
      .searchExact(AnnIndex.open(spark, dir), queries, k = 3, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val reg = Map("ann" -> ((s: SparkSession, d: String) =>
      AnnIndex.searchExact(AnnIndex.open(s, d), queries, k = 3,
        nprobe = 2)))
    val server = new GraftServer(spark, reg)
    server.watchIndexes("ann", dir, Seq(dir))
    val a = server.serveRows("ann", dir).map(_.toString).sorted.toSeq
    assert(a == freshRows())
    // upsert the 40–79 block: same CURRENT, bumped GEN
    val curBefore = graft.operators.IndexStore.current(spark, dir)
    AnnIndex.upsert(AnnIndex.open(spark, dir),
      emb.where(col("vec_id") >= 40 && col("vec_id") < 80))
    assert(graft.operators.IndexStore.current(spark, dir) == curBefore,
      "fixture requires an in-version mutation (CURRENT must not move)")
    val b = server.serveRows("ann", dir).map(_.toString).sorted.toSeq
    assert(b == freshRows(), "post-upsert serve must see the new rows")
    assert(b != a, "fixture must make the upsert change the top-3")
    val (_, builds) = server.counters
    assert(builds == 2, s"upsert must force exactly one rebuild: $builds")

    // BM25: appendDocs is the IngestPipeline micro-batch mutation
    val bdir = java.nio.file.Files
      .createTempDirectory("graft-server-gen-bm25").toString
    val docs = Tables.documents(spark, sfDir).limit(60)
      .select(col("doc_id"), col("text"))
    val (seed, extra) = (docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 =!= 0))
    Bm25Index.write(seed, "doc_id", "text", bdir, nBuckets = 8)
    val qdocs = docs.limit(3)
    val breg = Map("bm25" -> ((s: SparkSession, d: String) =>
      Bm25Index.search(Bm25Index.open(s, d), qdocs, "doc_id", "text",
        topK = 5)))
    val bserver = new GraftServer(spark, breg)
    bserver.watchIndexes("bm25", bdir, Seq(bdir))
    val s1 = bserver.serveRows("bm25", bdir).map(_.toString).sorted.toSeq
    Bm25Index.appendDocs(Bm25Index.open(spark, bdir), extra,
      "doc_id", "text")
    val s2 = bserver.serveRows("bm25", bdir).map(_.toString).sorted.toSeq
    val fresh = Bm25Index.search(Bm25Index.open(spark, bdir), qdocs,
      "doc_id", "text", topK = 5).collect().map(_.toString).sorted.toSeq
    assert(s2 == fresh, "post-append serve must see appended docs")
    assert(s2 != s1, "fixture must make the append change retrieval")
    val (_, bbuilds) = bserver.counters
    assert(bbuilds == 2, s"append must force exactly one rebuild: $bbuilds")
  }

  test("fused ANN+BM25 → RRF → MMR chain served warm across a " +
      "mid-stream republish: next serve reflects v2 with exactly one " +
      "rebuild (r13, VERDICT r12 item 3)") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, Bm25Index, Similarity}
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val annDir = java.nio.file.Files
      .createTempDirectory("graft-fused-ann").toString
    val bm25Dir = java.nio.file.Files
      .createTempDirectory("graft-fused-bm25").toString
    AnnIndex.write(emb, annDir, dim = 64, nCells = 4, stride = 7,
      kmeansIters = 1, m = 8, ncodes = 16)
    // v1 lexical index over HALF the corpus so the republish below
    // (full corpus) genuinely changes retrieval
    Bm25Index.write(docs.where(col("doc_id") % 2 === 0), "doc_id",
      "text", bm25Dir, nBuckets = 8)
    val qv = emb.where(col("vec_id") < 3)
    val qd = docs.where(col("doc_id") < 3)
    // the COMPLETE serving chain over the persisted indexes — dense
    // leg, lexical leg, RRF fusion, MMR diversification with vectors
    // re-attached from the index's own cells (no brute-force corpus
    // pass anywhere); indexes OPEN per request, which is what lets a
    // CURRENT flip or GEN bump change what the next build plans
    def chain(s: SparkSession, d: String): DataFrame = {
      val ann = AnnIndex.open(s, annDir)
      val lex = Bm25Index.open(s, bm25Dir)
      val dense = AnnIndex.searchExact(ann, qv, k = 20, nprobe = 4)
        .select(col("qid"), col("nid"), col("rank"))
      val lexical = Bm25Index.search(lex, qd, "doc_id", "text", topK = 20)
        .select(col("qid"), col("nid"), col("rank"))
      Similarity.mmrRerankCandidates(
        ann.cells.select(col("vec_id"), col("embedding")),
        Similarity.rrfFuse(Seq(dense, lexical), topK = 10)
          .select(col("qid"), col("nid"), col("rrf").as("rel")),
        k = 5)
    }
    val reg = Map("fused" -> (chain _))
    val server = new GraftServer(spark, reg)
    server.watchIndexes("fused", sfDir, Seq(annDir, bm25Dir))
    def freshRows() = chain(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val v1 = server.serveRows("fused", sfDir).map(_.toString).sorted.toSeq
    assert(v1 == freshRows(), "first fused serve must match fresh chain")
    assert(server.serveRows("fused", sfDir)
      .map(_.toString).sorted.toSeq == v1)
    val (h1, b1) = server.counters
    assert(b1 == 1 && h1 == 1, s"warm repeat must hit: $b1/$h1")
    // REPUBLISH the lexical index mid-stream (CURRENT flips v1 → v2)
    Bm25Index.write(docs, "doc_id", "text", bm25Dir, nBuckets = 8)
    val v2 = server.serveRows("fused", sfDir).map(_.toString).sorted.toSeq
    assert(v2 == freshRows(), "post-republish serve must reflect v2")
    assert(v2 != v1, "fixture must make the republish change the chain")
    val (_, b2) = server.counters
    assert(b2 == 2, s"republish must force exactly ONE rebuild: $b2")
    // and the rebuilt entry is warm again
    assert(server.serveRows("fused", sfDir)
      .map(_.toString).sorted.toSeq == v2)
    val (h3, b3) = server.counters
    assert(b3 == 2 && h3 == 2)
  }

  test("interleaved concurrent serves: every request gets its own " +
      "query's rows, no rebuilds, counters consistent (r14)") {
    // the concurrency half of the serving story (fusedConcurrentMain
    // measures latency; this pins correctness): 8 threads × 3 queries,
    // all hammering one server after a serial cache fill — any
    // cross-request cache mixup or torn entry returns the WRONG rows
    val server = new GraftServer(spark)
    val names = Vector("q1_agg", "q_tpch3", "q_tpch1")
    val refs = names.map { n =>
      n -> server.serveRows(n, sfDir).map(_.toString).sorted.toSeq
    }.toMap
    val (_, bSerial) = server.counters
    assert(bSerial == names.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { t =>
      val name = names(t % names.size)
      val th = new Thread(() => {
        start.await()
        var i = 0
        while (i < 6) {
          val got = server.serveRows(name, sfDir)
            .map(_.toString).sorted.toSeq
          if (got != refs(name))
            errs.add(s"thread $t rep $i: $name served foreign rows")
          i += 1
        }
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(errs.isEmpty, s"plan-cache corruption: ${errs.peek()}")
    val (hits, builds) = server.counters
    assert(builds == names.size,
      s"concurrent serves must never rebuild: $builds")
    assert(hits == 8L * 6L, s"hit accounting: $hits")
  }

  test("serve × mutation: serves racing an appendDocsBatch and a " +
      "republish always return a published state, never a mix (r15, " +
      "VERDICT r14 item 7)") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    import graft.operators.Bm25Index
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val seed = docs.where(col("doc_id") % 3 === 0)
    val extra = docs.where(col("doc_id") % 3 === 1)
    val qdocs = docs.where(col("doc_id") < 3)
    def rowsOf(d: String) =
      Bm25Index.search(Bm25Index.open(spark, d), qdocs, "doc_id", "text",
        topK = 10).collect().map(_.toString).sorted.toSeq
    // the three publishable states, materialized on twin dirs up front
    // (search is a deterministic function of corpus content, so the
    // twins' results are exactly what the live dir may legally serve)
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-servemut-$tag").toString
    val t0 = tmp("s0")
    Bm25Index.write(seed, "doc_id", "text", t0, nBuckets = 8)
    val ref0 = rowsOf(t0)
    val t1 = tmp("s1")
    val i1 = Bm25Index.write(seed, "doc_id", "text", t1, nBuckets = 8)
    Bm25Index.appendDocsBatch(i1, extra, "doc_id", "text", batchId = 1L)
    val ref1 = rowsOf(t1)
    val t2 = tmp("s2")
    Bm25Index.write(docs, "doc_id", "text", t2, nBuckets = 8)
    val ref2 = rowsOf(t2)
    assert(Set(ref0, ref1, ref2).size == 3,
      "fixture must make the three published states distinguishable")
    // the live dir, fronted by a watching server under concurrent load
    val dir = tmp("live")
    Bm25Index.write(seed, "doc_id", "text", dir, nBuckets = 8)
    val reg = Map("bm25" -> ((s: SparkSession, d: String) =>
      Bm25Index.search(Bm25Index.open(s, d), qdocs, "doc_id", "text",
        topK = 10)))
    val server = new GraftServer(spark, reg)
    server.watchIndexes("bm25", dir, Seq(dir))
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until 4).map { t =>
      val th = new Thread(() => {
        var i = 0
        while (!stop.get() && i < 200) {
          val got = server.serveRows("bm25", dir)
            .map(_.toString).sorted.toSeq
          if (got == ref0) seen.add(0)
          else if (got == ref1) seen.add(1)
          else if (got == ref2) seen.add(2)
          else bad.add(s"thread $t rep $i: served a state that is " +
            s"none of the three published references (${got.size} rows)")
          i += 1
        }
      })
      th.start(); th
    }
    // mutations race the serving threads: an in-version batch append
    // (publishes through the ledger done-row + GEN bump), then a full
    // republish (publishes through the CURRENT flip)
    val live = Bm25Index.open(spark, dir)
    Bm25Index.appendDocsBatch(live, extra, "doc_id", "text", batchId = 1L)
    Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    stop.set(true)
    threads.foreach(_.join())
    assert(bad.isEmpty, s"torn serve under mutation: ${bad.peek()}")
    assert(seen.contains(0), "fixture must observe the pre-mutation state")
    // after the dust settles the server serves exactly the final state
    assert(server.serveRows("bm25", dir).map(_.toString).sorted.toSeq
      == ref2, "post-mutation serve must equal the republished state")
  }

  test("two sfDirs cache independently") {
    val server = new GraftServer(spark)
    val a = server.serveRows("q1_agg", sfDir)
    val b = server.serveRows("q1_agg", "/root/testdata/sf0.01")
    assert(a.nonEmpty && b.nonEmpty)
    val (_, builds) = server.counters
    assert(builds == 2)
    // and the bigger scale really returned the bigger aggregate input
    val sumA = a.map(_.getAs[Any]("sum_qty").toString.toDouble).sum
    val sumB = b.map(_.getAs[Any]("sum_qty").toString.toDouble).sum
    assert(sumB > sumA)
  }
}
