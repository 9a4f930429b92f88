package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import sqlImplicits._

  // Two exact dups, one heavy near-dup pair, two unrelated docs.
  private val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val nearDup = base.replace("today", "tonight")
  private lazy val docs = Seq(
    (0L, base),
    (1L, base),
    (2L, nearDup),
    (3L, "completely different content about spark query engines and columnar formats for analytics"),
    (4L, "yet another unrelated document mentioning benchmarks and shuffle partitions in clusters")
  ).toDF("doc_id", "text")

  test("exactGroups finds the exact duplicate pair") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 4)
    val dupGroup = g.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
  }

  test("dropExactDuplicates keeps one representative") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(0L, 2L, 3L, 4L)))
  }

  test("exact dedup edge cases: a hash hot in every partition, a NULL " +
      "text and a string id keep the min-id row, in dropExactDuplicates " +
      "and in the curation chain") {
    val edge = DedupSpec.edgeDocs(spark)
    val hotParts = edge.where($"text" === DedupSpec.hotBody)
      .select(spark_partition_id()).distinct().count()
    assert(hotParts == edge.rdd.getNumPartitions && hotParts > 1,
      "fixture: the hot hash must sit in every input partition")
    val rows = edge.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val expected = rows.groupBy(_._2).values.map(_.minBy(_._1)).toSet
    assert(expected.size == 3 + 1 + 1, "fixture: 3 other bodies, the hot one, NULL")
    for (kept <- Seq(Dedup.dropExactDuplicates(edge, "doc_id", "text"),
        Curation.Chain("text", "doc_id", exactDedup = true)(edge))) {
      assert(kept.columns.toSeq == edge.columns.toSeq)
      assert(kept.collect().map(r =>
        (r.getString(0), r.getString(1), r.getInt(2))).toSet == expected)
    }
  }

  test("minhash near-dups finds exact and near pairs, not unrelated ones") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair must be found")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      s"near-dup pairs must be found, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature jaccard estimates real jaccard") {
    val sigs = Dedup.minhashSignature(docs, "doc_id", "text", numPerm = 128)
    val est = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        Dedup.signatureJaccard($"a.sig", $"b.sig").as("est"))
      .where($"a.doc_id" === 0 && $"b.doc_id" === 2)
      .select("est").as[Double].head()
    // true 3-shingle jaccard of base vs nearDup is ~0.71 (12..13 of 17 differ by 3)
    assert(est > 0.4 && est < 0.95, s"estimate $est should be near true jaccard")
  }

  test("simhash: identical docs identical hash; near-dups close; unrelated far") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) <= 12, s"near-dup hamming ${ham(sh(0L), sh(2L))}")
    assert(ham(sh(0L), sh(3L)) > 12, s"unrelated hamming ${ham(sh(0L), sh(3L))}")
  }

  test("simhash banding has exact recall: banded pairs == all-pairs hamming<=3") {
    // pigeonhole: hamming<=3 over 4 bands of 16 bits forces at least
    // one equal band, so (absent maxBucket truncation) the banded
    // candidate set must contain every qualifying pair
    val docs01 = graft.Tables.documents(spark, sfDir)
    val banded = Dedup.simhashNearDups(docs01, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sigs = Dedup.simhash(docs01, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val brute = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
  }

  test("simhashNearDups surfaces the exact-dup pair") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L && p._1 == 3L))
  }

  test("ngram jaccard pairs within blocks") {
    val blocked = docs.withColumn("lang", lit("en"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
      Seq(col("lang")), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("minhash_sig of an EMPTY non-nullable array is null (codegen-safe)") {
    import graft.functions.{exprs, MinHashSignature}
    val empty = Seq(1).toDF("i")
      .select(filter(array(lit("a")), _ => lit(false)).as("arr"))
    val out = empty.select(
      exprs.toColumn(MinHashSignature(exprs.toExpr(col("arr")), 16)).as("sig"))
      .head()
    assert(out.isNullAt(0))
  }

  test("lshBands rejects bands that do not divide numPerm") {
    intercept[IllegalArgumentException] {
      Dedup.lshBands(col("sig"), numPerm = 64, bands = 12)
    }
  }

  test("shingles produce distinct word n-grams; short docs degrade to whole text") {
    val sh = Seq((1L, "a b")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].head()
    assert(sh == Seq("a b"))
  }

  test("connectedComponents labels a 20-edge chain with its min id") {
    // diameter 20 — needs the pointer-jumping doubling, not just
    // per-round neighbor propagation
    val pairs = (1L until 21L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 21L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("connectedComponents matches local union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // local ground truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> {
        // min id in the component of id
        val r = find(id.toInt)
        (0 until n).filter(x => find(x) == r)
          .filter(x => edges.exists(e => e._1 == x || e._2 == x))
          .min.toLong
      }).toMap
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("connectedComponents with a reliable checkpoint dir matches the local-checkpoint run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      val rnd = new scala.util.Random(11)
      val edges = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }.distinct
        .toDF("id_a", "id_b")
      val local = Dedup.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      val (reliable, metrics) = Dedup.connectedComponentsWithMetrics(
        edges, reliableCheckpointDir = Some(dir))
      assert(reliable.as[(Long, Long)].collect().toMap == local)
      // the reliable path must actually write round snapshots to the dir
      def rddFiles(d: java.io.File): Int =
        Option(d.listFiles()).getOrElse(Array.empty)
          .map(f => if (f.isDirectory) rddFiles(f) else 1).sum
      assert(rddFiles(new java.io.File(dir)) > 0,
        "no checkpoint files written to the reliable dir")
      assert(metrics.labelsChanged.last == 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("connectedComponents telemetry: chain graph converges in O(log n) rounds") {
    // diameter-32 chain: neighbor-min alone would need 32 rounds;
    // pointer jumping doubles collapse distance, so rounds stay
    // logarithmic — the telemetry makes that visible and the early
    // exit fires the round labelsChanged hits 0
    val pairs = (1L until 33L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, metrics) = Dedup.connectedComponentsWithMetrics(pairs)
    assert(labels.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(metrics.rounds == metrics.labelsChanged.size)
    assert(metrics.rounds <= 8,
      s"expected logarithmic convergence, got ${metrics.rounds} rounds: ${metrics.labelsChanged}")
    assert(metrics.labelsChanged.last == 0L)
    // strictly decreasing tail is not guaranteed, but no round after
    // the first may touch more labels than the node count
    assert(metrics.labelsChanged.forall(_ <= 33L))
  }

  test("editDistancePairs finds near-identical docs within a length block") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumped"),  // 2 edits from doc 1
      (3L, "completely different words!!!"), // same block, far away
      (4L, "x")                             // different block
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text", "n_chars",
        maxDist = 5, blockWidth = 10)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 2L)), s"got $pairs")
  }

  test("editDistancePairs maxIdGap bounds candidates to id-adjacent pairs") {
    import org.apache.spark.sql.functions._
    // the replica-corpus screen (r11): a family of mutual near-dups
    // lists C(n,2) pairs — the id-gap cap keeps listing linear by
    // excluding far-id copies deterministically, BEFORE the DP runs
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumped"),   // gap 1 from doc 1
      (9L, "the quick brown fox jumpss"),   // gap 8/7 from docs 1/2
      (10L, "the quick brown fox jumpst")   // gap 1 from doc 9
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    def run(gap: Long) =
      Dedup.editDistancePairs(docs, "doc_id", "text", "n_chars",
          maxDist = 5, blockWidth = 10, maxIdGap = gap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // unbounded (default 0): all close pairs in the block
    val all = run(0L)
    assert(all == Set((1L, 2L), (1L, 9L), (1L, 10L), (2L, 9L), (2L, 10L),
      (9L, 10L)), s"got $all")
    // gap 1: only id-adjacent pairs survive — the far copies never
    // reach the DP (2L,9L has gap 7, 1L,9L gap 8, ...)
    assert(run(1L) == Set((1L, 2L), (9L, 10L)))
    // gap >= max observed gap: identical to unbounded
    assert(run(9L) == all)
    // string ids: the gap subtraction would null-evaluate and silently
    // drop every pair — must reject loudly (unbounded mode still works,
    // ids only need to be comparable there)
    val sdocs = docs.withColumn("doc_id", concat(lit("d"), col("doc_id")))
    assertThrows[IllegalArgumentException] {
      Dedup.editDistancePairs(sdocs, "doc_id", "text", "n_chars",
        maxDist = 5, blockWidth = 10, maxIdGap = 1L)
    }
    assert(Dedup.editDistancePairs(sdocs, "doc_id", "text", "n_chars",
      maxDist = 5, blockWidth = 10).count() == 6L)
  }

  test("editDistanceVerify on LSH candidates keeps only close pairs, banded DP agrees with full") {
    import org.apache.spark.sql.functions._
    // production composition: candidate pairs from any generator,
    // threshold-capped verify on top
    val cands = Seq(
      ("aaaa bbbb cccc", "aaaa bbbb cccx"),  // dist 1
      ("aaaa bbbb cccc", "zzzz yyyy xxxx")   // dist 12 > 3
    ).toDF("text_a", "text_b")
    val kept = Dedup.editDistanceVerify(cands, maxDist = 3)
      .select("text_b", "dist").as[(String, Long)].collect().toSeq
    assert(kept == Seq(("aaaa bbbb cccx", 1L)), s"got $kept")
    // identical pair → dist 0 survives (not confused with the -1 sentinel)
    val same = Seq(("abc", "abc")).toDF("text_a", "text_b")
    assert(Dedup.editDistanceVerify(same, maxDist = 0)
      .select("dist").as[Long].head() == 0L)
  }

  test("dropNearDuplicates keeps cluster representatives and unpaired docs") {
    val docs = Seq((1L, "a"), (2L, "a1"), (3L, "b"), (4L, "c"), (5L, "a2"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs)
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("dedupChunks keeps first occurrences and rebuilds cleaned docs") {
    val docs = Seq(
      (1L, "a b c d"), // chunks [a b][c d] — both first here
      (2L, "a b x y"), // [a b] is boilerplate, [x y] is new
      (3L, "c d") // wholly boilerplate → vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs, "doc_id", "text", chunkSize = 2)
      .select("doc_id", "n_chunks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set((1L, 2L, 2L, "a b c d"), (2L, 2L, 1L, "x y")),
      s"got $out")
  }

  test("dedupChunks preserves order across a removed middle chunk") {
    val docs = Seq(
      (1L, "x1 x2"),
      (2L, "p q x1 x2 r s") // middle chunk removed, ends stitched in order
    ).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs, "doc_id", "text", chunkSize = 2)
      .where($"doc_id" === 2).select("clean_text").as[String].head()
    assert(out == "p q r s", s"got $out")
  }

  test("dedupChunksCdc strips boilerplate that fixed windows mis-align") {
    // the same 600-char boilerplate block at DIFFERENT offsets in two
    // docs: CDC boundaries derive from content, so the block chunks
    // identically in both and the second occurrence is stripped;
    // token-window chunking at different alignments keeps both copies
    val rnd = new scala.util.Random(0xb01)
    def words(n: Int, tag: String) =
      (1 to n).map(_ => s"$tag${rnd.nextInt(100000)}").mkString(" ")
    val boiler = words(100, "boiler")
    val d1 = boiler + " " + words(150, "one")
    val d2 = words(137, "two") + " " + boiler + " " + words(50, "tail")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val cdc = Dedup.dedupChunksCdc(docs, "doc_id", "text")
      .select("doc_id", "n_chunks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 (earlier id) keeps everything; doc 2 loses most boiler bytes
    assert(cdc(1L)._4 == d1)
    val removed = d2.length - cdc(2L)._4.length
    assert(removed > boiler.length / 2,
      s"CDC should strip most of the ${boiler.length}-char block, removed $removed")
    assert(!cdc(2L)._4.contains(boiler.substring(100, 400)),
      "interior of the boilerplate block must be gone")
    // fixed token windows at these offsets share no chunk → nothing removed
    val fixed = Dedup.dedupChunks(docs, "doc_id", "text", chunkSize = 32)
      .where($"doc_id" === 2).select("n_chunks", "n_kept")
      .as[(Long, Long)].head()
    assert(fixed._1 == fixed._2, s"fixed windows should keep all: $fixed")
  }

  test("dropFrequentLines removes every copy of corpus-frequent lines, " +
      "keeps sub-threshold and in-doc repeats, vanishes empty docs") {
    // nav appears in all 4 docs (>= 3: removed EVERYWHERE, including
    // its first occurrence — the policy contrast with dedupChunks);
    // 'promo' in exactly 3 (= minDocs: removed); 'duo' in 2 (kept);
    // doc 4 repeats its own line 3 times — one document of frequency,
    // kept all 3 times; doc 3 is boilerplate-only and vanishes.
    val docs = Seq(
      (1L, "nav bar\npromo text\nalpha body\nduo line"),
      (2L, "nav bar\npromo text\nbeta body\nduo line"),
      (3L, "nav bar\npromo text"),
      (4L, "nav bar\nmine mine\nmine mine\nmine mine")
    ).toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(docs, "doc_id", "text", minDocs = 3)
    val rows = out.select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 4L), s"doc 3 must vanish: $rows")
    assert(rows(1L) == ((1L, 4L, 2L, "alpha body\nduo line")))
    assert(rows(2L) == ((2L, 4L, 2L, "beta body\nduo line")))
    assert(rows(4L) == ((4L, 4L, 3L, "mine mine\nmine mine\nmine mine")))
    // scale shape: frequency from an aggregate + anti join — no
    // window anywhere (the hottest line is corpus-frequent by
    // definition, exactly the partition a window would create)
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"dropFrequentLines must not window:\n$plan")
  }

  test("dedupLinesInDoc keeps the first copy per document, leaves " +
      "cross-document repeats alone, and stays map-only") {
    val docs = Seq(
      (1L, "a\nb\na\nb\nc"), // intra-doc dups collapse to first copies
      (2L, "a\nb\nc"), // repeats docs 1's lines ACROSS docs — F10's job, untouched
      (3L, "x\nx\nx"), // degenerate all-one-line doc
      (4L, "") // empty text splits to one empty line, kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesInDoc(docs, "doc_id", "text")
    val rows = out.select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(rows(1L) == ((1L, 5L, 3L, "a\nb\nc")))
    assert(rows(2L) == ((2L, 3L, 3L, "a\nb\nc")))
    assert(rows(3L) == ((3L, 3L, 1L, "x")))
    assert(rows(4L) == ((4L, 1L, 1L, "")))
    // the contract's scale claim: strictly map-only — no shuffle, no
    // window, no join, no explode-regroup round trip
    val plan = out.queryExecution.executedPlan.toString()
    Seq("Exchange", "Window", "Join", "Generate").foreach(op =>
      assert(!plan.contains(op), s"dedupLinesInDoc must be map-only, found $op:\n$plan"))
  }

  test("paragraph units (sep = \\n\\n): units keep their internal " +
      "newlines through both F10 and F11") {
    // the unit must CROSS single newlines un-split — a multi-line
    // banner is one paragraph, dropped or kept whole
    val banner = "subscribe now\nget the app"
    val docs = Seq(
      (1L, s"$banner\n\nalpha body\nline two\n\n$banner"),
      (2L, s"$banner\n\nbeta body"),
      (3L, s"$banner\n\ngamma body"),
      (4L, "delta body\n\ndelta body\n\nunique tail")
    ).toDF("doc_id", "text")
    // F10: banner appears in 3 distinct docs >= minDocs=3 — every copy
    // (including doc 1's repeat) drops as ONE unit
    val f10 = Dedup.dropFrequentLines(docs, "doc_id", "text",
        minDocs = 3, sep = "\n\n")
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(f10(1L) == ((1L, 1L, "alpha body\nline two")))
    assert(f10(2L) == ((2L, 1L, "beta body")))
    assert(f10(4L) == ((4L, 3L, "delta body\n\ndelta body\n\nunique tail")))
    // F11: doc 4's repeated paragraph collapses to its first copy;
    // doc 1's repeated banner likewise (intra-doc, no corpus stats)
    val f11 = Dedup.dedupLinesInDoc(docs, "doc_id", "text", sep = "\n\n")
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(f11(4L) == ((4L, 2L, "delta body\n\nunique tail")))
    assert(f11(1L) == ((1L, 2L, s"$banner\n\nalpha body\nline two")))
  }

  test("dropListedLines: mined-table screen equals the one-shot op, " +
      "batch and under foreachBatch micro-batches") {
    // the I14 train/serve split applied to F10: mine boilerplate once,
    // screen arriving docs statelessly against the static table
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "nav bar\nalpha body\nduo line"),
      (2L, "nav bar\nbeta body\nduo line"),
      (3L, "nav bar\ngamma body"),
      (4L, "nav bar\ndelta body\nduo line"))
    val docs = rows.toDF("doc_id", "text")
    val mined = Dedup.frequentLines(docs, "doc_id", "text", minDocs = 3)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_lines", "n_kept", "clean_text")
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val oneShot = asMap(Dedup.dropFrequentLines(docs, "doc_id", "text", 3))
    val listed = asMap(Dedup.dropListedLines(docs, "doc_id", "text", mined))
    assert(listed == oneShot)
    // stream the same docs in two micro-batches against the SAME
    // mined table: stateless per-batch screen, union == batch result
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, String)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink ++= Dedup.dropListedLines(batch, "doc_id", "text", mined)
          .select("doc_id", "n_lines", "n_kept", "clean_text")
          .as[(Long, Long, Long, String)].collect()
        ()
      }.start()
    try {
      input.addData(rows.take(2): _*); q.processAllAvailable()
      input.addData(rows.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    assert(sink.map(r => r._1 -> r).toMap == oneShot)
  }

  // F13 exact-substring span dedup: a 10-token span shared by docs 0
  // and 1 at DIFFERENT offsets (chunk-window dedup would miss the
  // alignment), a short doc, an in-document repeat, and a full
  // duplicate pair. Token sets are disjoint across families so no
  // accidental cross-family 8-grams exist.
  private lazy val substrDocs = Seq(
    (0L, "u0a u0b u0c s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u0d"),
    (1L, "v1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v2 v3"),
    (2L, "tiny doc"),
    (3L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8"),
    (4L, "w1 w2 w3 w4 w5 w6 w7 w8"),
    (5L, "w1 w2 w3 w4 w5 w6 w7 w8")
  ).toDF("doc_id", "text")

  private def substrMap(keepFirst: Boolean) =
    Dedup.exactSubstrDedup(substrDocs, "doc_id", "text",
        minLen = 8, keepFirst = keepFirst)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap

  test("exactSubstrDedup keepFirst: first copy survives, later copies " +
      "scrubbed at any offset, short docs pass through") {
    val out = substrMap(keepFirst = true)
    assert(out.size == 6)
    // doc 0 holds the corpus-first occurrence of every shared window
    assert(out(0L) == ((0L, 14L, 14L,
      "u0a u0b u0c s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u0d")))
    // doc 1's copy sits at a different offset and is fully scrubbed
    assert(out(1L) == ((1L, 13L, 3L, "v1 v2 v3")))
    // below minLen: no grams, untouched
    assert(out(2L) == ((2L, 2L, 2L, "tiny doc")))
    // WITHIN-doc repeat: second copy of the 8-gram scrubbed
    assert(out(3L) == ((3L, 17L, 9L, "r1 r2 r3 r4 r5 r6 r7 r8 x")))
    // full-duplicate pair: doc 4 kept whole, doc 5 scrubbed to empty
    // but still PRESENT in the output
    assert(out(4L) == ((4L, 8L, 8L, "w1 w2 w3 w4 w5 w6 w7 w8")))
    assert(out(5L) == ((5L, 8L, 0L, "")))
  }

  test("exactSubstrDedup: the 16-byte binary gram key (the r13 " +
      "shuffle-width default) is result-identical to the hex form") {
    def run(bin: Boolean) =
      Dedup.exactSubstrDedupImpl(substrDocs, "doc_id", "text",
          minLen = 8, keepFirst = true, binaryGramKey = bin)
        .select("doc_id", "n_tokens", "n_kept", "clean_text")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(run(bin = true) == run(bin = false))
  }

  test("exactSubstrDedup: NULL text passes through as the empty-text " +
      "degenerate case, never silently dropped (r13 ADVICE)") {
    val withNull = Seq((0L, Option("a b c d e f g h i")),
        (1L, Option("a b c d e f g h j")), (2L, Option.empty[String]),
        (3L, Option("")))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(withNull, "doc_id", "text", minLen = 8)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // the contract: EVERY input document appears in the output
    assert(out.keySet == Set(0L, 1L, 2L, 3L), s"docs lost: ${out.keySet}")
    // null behaves exactly like empty text: the tokenizer's [''] on
    // empty input makes both the 1-token degenerate doc
    assert(out(2L) == ((2L, 1L, 1L, "")))
    assert(out(2L)._2 == out(3L)._2 && out(2L)._4 == out(3L)._4)
    // and the real docs still dedup normally around them
    assert(out(0L)._3 == 9L && out(1L)._3 == 1L)
  }

  test("exactSubstrDedup keepFirst=false scrubs every copy") {
    val out = substrMap(keepFirst = false)
    assert(out(0L)._4 == "u0a u0b u0c u0d")
    assert(out(1L)._4 == "v1 v2 v3")
    assert(out(3L)._4 == "x")
    assert(out(4L) == ((4L, 8L, 0L, "")))
    assert(out(5L) == ((5L, 8L, 0L, "")))
  }

  test("exactSubstrDedup fuzz: 80 generated docs match an independent " +
      "scalar reference under both policies") {
    // independent oracle: a straightforward single-machine
    // implementation over token vectors (gram map → covered set →
    // rebuild), sharing NO code with the operator
    def reference(corpus: Seq[(Long, String)], minLen: Int,
                  keepFirst: Boolean): Map[Long, (Long, Long, String)] = {
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toVector
      }.toMap
      val occ = scala.collection.mutable.LinkedHashMap
        .empty[String, Vector[(Long, Int)]]
      for ((id, ts) <- toks.toSeq.sortBy(_._1); s <- 0 to ts.length - minLen) {
        val g = ts.slice(s, s + minLen).mkString(" ")
        occ(g) = occ.getOrElse(g, Vector.empty) :+ (id -> s)
      }
      val covered = scala.collection.mutable.Set.empty[(Long, Int)]
      for ((_, os) <- occ if os.length >= 2) {
        val canonical = os.min // (doc asc, start asc) — the min-struct
        for (o <- os if !(keepFirst && o == canonical);
             p <- o._2 until o._2 + minLen) covered += (o._1 -> p)
      }
      toks.map { case (id, ts) =>
        val kept = ts.indices.filterNot(p => covered(id -> p)).map(ts)
        id -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }
    }
    // small vocab + replanted spans force heavy overlap, including
    // whole-doc copies and within-doc repeats
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = (0 until 60).map { id =>
      id.toLong -> Vector.fill(3 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val corpus = base ++ (60 until 80).map { id =>
      // replant a random earlier doc's text, sometimes doubled
      val src = base(rnd.nextInt(base.length))._2
      id.toLong -> (if (rnd.nextBoolean()) src else s"$src $src")
    }
    for (keepFirst <- Seq(true, false)) {
      val expect = reference(corpus, minLen = 4, keepFirst)
      val got = Dedup.exactSubstrDedup(corpus.toDF("doc_id", "text"),
          "doc_id", "text", minLen = 4, keepFirst = keepFirst)
        .select("doc_id", "n_tokens", "n_kept", "clean_text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expect, s"keepFirst=$keepFirst diverged from reference")
    }
  }

  // K37 cross-corpus ExactSubstr decontamination: eval-matching spans
  // scrubbed at any offset, everything else — including
  // training-INTERNAL duplicates, which are F13's job — untouched.
  private lazy val decontamEval = Seq(
    (100L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10")
  ).toDF("doc_id", "text")

  private lazy val decontamTrain = Seq(
    // an 8-token eval suffix embedded at offset 3: span excised, the
    // doc's own tokens survive — per-SPAN, not per-doc
    (0L, "u1 u2 e3 e4 e5 e6 e7 e8 e9 e10 u3"),
    // no eval overlap: byte-identical passthrough
    (1L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),
    // below minLen: no grams, untouched
    (2L, "tiny doc"),
    // verbatim eval copy: fully covered, stays in output at n_kept = 0
    (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),
    // training-internal duplicate of doc 1: NOT scrubbed (the
    // protected-copy logic lives in F13; eval is the only reference)
    (4L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),
    // eval tokens interrupted mid-span: no contiguous 8-window matches
    (5L, "e1 e2 e3 e4 e5 e6 e7 x e8 e9 e10")
  ).toDF("doc_id", "text")

  test("exactSubstrDecontaminate: eval-matching spans excised at any " +
      "offset, non-matching and train-internal dups survive, fully " +
      "covered docs stay at n_kept=0 (K37)") {
    val out = Dedup.exactSubstrDecontaminate(decontamTrain, "doc_id",
        "text", decontamEval, "text", minLen = 8)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // training docs only — the eval suite never reaches the output
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(out(0L) == ((0L, 11L, 3L, "u1 u2 u3")))
    assert(out(1L) == ((1L, 9L, 9L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")))
    assert(out(2L) == ((2L, 2L, 2L, "tiny doc")))
    assert(out(3L) == ((3L, 10L, 0L, "")))
    assert(out(4L) == ((4L, 9L, 9L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")))
    assert(out(5L) == ((5L, 11L, 11L, "e1 e2 e3 e4 e5 e6 e7 x e8 e9 e10")))
  }

  test("exactSubstrDecontaminate: NULL text on either side is the " +
      "empty-text degenerate case; plans no Window; rejects minLen < 2") {
    val train = Seq((0L, Option("e1 e2 e3 e4 e5 e6 e7 e8 e9 e10")),
      (1L, Option.empty[String])).toDF("doc_id", "text")
    val evalN = Seq((9L, Option("e1 e2 e3 e4 e5 e6 e7 e8 e9 e10")),
      (10L, Option.empty[String])).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDecontaminate(train, "doc_id", "text",
        evalN, "text", minLen = 8)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0L, 1L), s"docs lost: ${out.keySet}")
    assert(out(0L) == ((0L, 10L, 0L, "")))
    assert(out(1L) == ((1L, 1L, 1L, "")))
    val plan = Dedup.exactSubstrDecontaminate(decontamTrain, "doc_id",
        "text", decontamEval, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"decontaminate must not window on the gram hash:\n$plan")
    intercept[IllegalArgumentException] {
      Dedup.exactSubstrDecontaminate(decontamTrain, "doc_id", "text",
        decontamEval, "text", minLen = 1)
    }
  }

  test("exactSubstrDecontaminate fuzz: 60 train + 20 eval generated " +
      "docs match an independent scalar reference") {
    def reference(train: Seq[(Long, String)], eval: Seq[String],
                  minLen: Int): Map[Long, (Long, Long, String)] = {
      def toks(t: String) = t.trim.toLowerCase.split("\\s+").toVector
      val evalGrams = eval.map(toks).flatMap(ts =>
        (0 to ts.length - minLen).map(s =>
          ts.slice(s, s + minLen).mkString(" "))).toSet
      train.map { case (id, t) =>
        val ts = toks(t)
        val covered = (0 to ts.length - minLen)
          .filter(s => evalGrams(ts.slice(s, s + minLen).mkString(" ")))
          .flatMap(s => s until s + minLen).toSet
        val kept = ts.indices.filterNot(covered).map(ts)
        id -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }.toMap
    }
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def gen() = Vector.fill(3 + rnd.nextInt(20))(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val evalTexts = (0 until 20).map(_ => gen())
    val train = (0 until 40).map(id => id.toLong -> gen()) ++
      // replant eval text (sometimes embedded) to force real hits
      (40 until 60).map { id =>
        val ev = evalTexts(rnd.nextInt(evalTexts.length))
        id.toLong -> (if (rnd.nextBoolean()) ev else s"${gen()} $ev")
      }
    val expect = reference(train, evalTexts, minLen = 4)
    val got = Dedup.exactSubstrDecontaminate(
        train.toDF("doc_id", "text"), "doc_id", "text",
        evalTexts.zipWithIndex.map { case (t, i) => (i + 1000L, t) }
          .toDF("doc_id", "text"), "text", minLen = 4)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expect, "decontaminate diverged from reference")
  }

  test("exactSubstrDedup plans no Window and rejects minLen < 2") {
    // the duplicated-gram side is Zipf-headed by definition (corpus
    // boilerplate): the keep-first choice must stay an aggregate, not
    // a gram-hash window partition
    val plan = Dedup.exactSubstrDedup(substrDocs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"exactSubstrDedup must not window on the gram hash:\n$plan")
    intercept[IllegalArgumentException] {
      Dedup.exactSubstrDedup(substrDocs, "doc_id", "text", minLen = 1)
    }
  }
}

object DedupSpec {
  val hotBody = "the same viral boilerplate body"

  /** 200 rows over 8 partitions: string ids, one body shared by every
    * row but six (so it sits in every partition), three other bodies
    * (one of them twice), two rows whose text is NULL and a payload
    * column.
    */
  def edgeDocs(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 200).map { i =>
      val text = i match {
        case 7 | 150 => null
        case 3 | 42 | 199 => s"unique body $i"
        case 120 => "unique body 3"
        case _ => hotBody
      }
      (f"d$i%04d", text, i % 7)
    }.toDF("doc_id", "text", "payload").repartition(8)
  }
}
