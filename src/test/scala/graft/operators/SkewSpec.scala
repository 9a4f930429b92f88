package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import sqlImplicits._

  test("saltedJoin matches plain inner join semantics") {
    val large = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(large, small, "k", salts = 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    // multiples of 10 map to key 1, plus i=1 itself → 101 hot rows
    assert(plain.count(_.head == 1L) == 101)
  }

  test("saltedJoin hotCap two-path: hot keys salted, cold keys plain, " +
    "identical rows to the plain join") {
    // key 1 is genuinely hot (101 rows >= hotCap 50), keys 2/3 are cold
    val large = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    val twoPath = Skew.saltedJoin(large, small, "k", salts = 8, hotCap = 50)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(twoPath == plain)
    // cap excludes everything → degenerates to exactly the plain join
    val noHot = Skew.saltedJoin(large, small, "k", salts = 8, hotCap = 1000)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(noHot == plain)
    // cap of 1 makes every key hot → still identical (pure salted path)
    val allHot = Skew.saltedJoin(large, small, "k", salts = 8, hotCap = 1)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(allHot == plain)
  }

  test("AQE splits a skewed sort-merge join partition (OptimizeSkewedJoin fires)") {
    // SURVEY §4 claims AQE handles fact-fact skew at runtime; this
    // proves it on a deliberately skewed key, with thresholds scaled
    // down to test size (production defaults: 256 MB threshold, 5x
    // median factor). saltedJoin remains the tool for the case AQE
    // can't fix: a single key so hot that even one key's rows exceed
    // an executor — AQE splits partitions, never a single key's rows
    // beyond map-output granularity.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // ~95% of fact rows share key 1 → one reduce partition dwarfs
      // the median; id-derived payloads (not constant-foldable, poorly
      // compressible) keep real bytes in the shuffle so the hot
      // partition clears the 32k threshold
      val fact = spark.range(0, 60000).selectExpr(
        "CASE WHEN id % 20 = 0 THEN id % 50 ELSE 1 END AS k",
        "concat(md5(CAST(id AS STRING)), md5(CAST(id + 1 AS STRING))) AS payload")
      val dim = spark.range(0, 50).selectExpr("id AS k", "concat('d', id) AS name")
      val joined = fact.join(dim, "k")
      // run THIS dataframe (not a derived count plan) so its adaptive
      // plan reaches isFinalPlan=true before inspection
      val n = joined.collect().length
      assert(n == 60000, s"inner join must keep every fact row, got $n")
      val finalPlan = joined.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire; final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("keySkewReport surfaces the dominant key first") {
    val df = ((1 to 90).map(_ => 7L) ++ (1 to 10).map(_.toLong)).toDF("k")
    val top = Skew.keySkewReport(df, "k", topN = 1).head()
    assert(top.getLong(0) == 7L)
    assert(top.getLong(1) == 91L) // 90 planted + the 7 from 1..10
  }

  test("hot-gram corpora: capped K15/K28 path matches the window path") {
    // a viral boilerplate trigram planted into HALF the corpus — the
    // case where the gram-keyed window puts half of all (gram, doc)
    // rows into one unsplittable task. hotCap > 0 must produce
    // byte-identical results through the broadcast-hot/cold-join plan.
    val docs = (0L until 200L).map { i =>
      val boiler = if (i % 2 == 0) "click here subscribe " else ""
      (i, s"${boiler}doc $i body token${i % 17} tail${i % 5}")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_grams", "n_dup_grams", "dup_fraction")
        .collect().map(_.toSeq).toSet
    val dupW = rows(Curation.dupNgramFraction(docs, "doc_id", "text", n = 3))
    val dupC = rows(Curation.dupNgramFraction(docs, "doc_id", "text", n = 3,
      hotCap = 50))
    assert(dupC == dupW)
    def nov(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_grams", "n_novel", "novelty")
        .collect().map(_.toSeq).toSet
    val novW = nov(Curation.noveltyShare(docs, "doc_id", "text", n = 3))
    val novC = nov(Curation.noveltyShare(docs, "doc_id", "text", n = 3,
      hotCap = 50))
    assert(novC == novW)
    // plan shape: the capped path must not window over the gram key —
    // the hot gram resolves through a broadcast, the cold join's keys
    // are all bounded below hotCap
    val plan = Curation.dupNgramFraction(docs, "doc_id", "text", n = 3,
      hotCap = 50).queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), s"capped path must not window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"hot grams must resolve via broadcast:\n$plan")
  }

  test("BM25 df never windows over term: planted stopword, values match the window path") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    // 'the' planted in EVERY document — the r8 shape computed df with
    // count().over(Window.partitionBy("term")), putting the whole
    // corpus into one unsplittable window partition for a Zipf-head
    // term. The Bm25 core (bag-bounded statistics row for the query
    // paths; map-side-combined term aggregate + join for the index
    // build) must produce byte-identical values with NO term window.
    val docs = (0L until 120L).map { i =>
      (i, s"the doc $i body token${i % 7} the extra${i % 3}")
    }.toDF("doc_id", "text")
    val bag = Seq("the", "token3")

    // window-shaped reference: the r8 implementation, inlined, corpus
    // scalars included, so it calls nothing under test but the score
    val dt = docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val refScalars = dt.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val refScores = dt
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
      .where(col("term").isin(bag: _*))
      .withColumn("df", count(col("tf")).over(Window.partitionBy("term")))
      .join(broadcast(refScalars))
      .withColumn("s", Bm25.termScore(1.2, 0.75))
      .groupBy("doc_id")
      .agg(sum(col("s")).cast(DoubleType).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(120)
      .collect().map(_.toSeq).toSet

    val scores = TextAnalysis.bm25Scores(docs, "doc_id", "text", bag,
      topK = 120)
    assert(scores.collect().map(_.toSeq).toSet == refScores)
    val scoresPlan = scores.queryExecution.executedPlan.toString()
    assert(!scoresPlan.contains("Window"),
      s"bm25Scores must not window at all:\n$scoresPlan")

    // index build: the (term, doc_id, tf, dl, df) postings that
    // Bm25Index.write publishes are identical to the window reference,
    // and no core relation the build runs holds a Window operator
    val refPost = dt
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
      .withColumn("df", count(col("tf")).over(Window.partitionBy("term")))
      .select("term", "doc_id", "tf", "dl", "df")
      .collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-skew").toString
    Bm25Index.write(docs, "doc_id", "text", dir, nBuckets = 8)
    val idx = Bm25Index.open(spark, dir)
    val post = spark.read.parquet(idx.postingsDir).drop("term_bucket")
    assert(post.collect().map(_.toSeq).toSet == refPost)
    val rel = Bm25.tf(docs, "doc_id", "text", bag = None)
    Seq(Bm25.postings(rel), Bm25.df(rel), Bm25.meta(rel)).foreach { r =>
      val plan = r.queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"),
        s"index build must not window over term:\n$plan")
    }

    // retrieve (r12): NO window at all — the per-query rank goes
    // through the bounded rankTopK aggregate. A qid window would put a
    // query's ENTIRE matched-posting set (corpus-scale under the
    // planted stopword 'the': every query here matches every document)
    // in one unsplittable task. Byte-identity vs the window-ranked
    // reference is pinned below.
    val queries = docs.where(col("doc_id") < 2)
    val ret = TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text",
      topK = 5)
    val retPlan = ret.queryExecution.executedPlan.toString()
    assert(!retPlan.contains("Window"),
      s"bm25Retrieve must not window at all:\n$retPlan")

    // window-shaped reference for the rank stage — the pre-r12
    // implementation, inlined: rank the FULL scored (qid, nid, bm25)
    // relation (recovered via topK ≥ pair count, where the bounded
    // aggregate provably returns every row — BoundedTopKSpec algebra)
    // with row_number() over (bm25 desc, nid), then take 5
    val allScored = TextAnalysis.bm25Retrieve(docs, queries, "doc_id",
      "text", topK = 10000).drop("rank")
    val w5 = Window.partitionBy("qid")
      .orderBy(col("bm25").desc, col("nid"))
    val retRef = allScored.withColumn("rank",
        row_number().over(w5).cast(org.apache.spark.sql.types.LongType))
      .where(col("rank") <= 5)
    assert(ret.collect().map(_.toSeq).toSet ==
      retRef.collect().map(_.toSeq).toSet)

    // Bm25Index.search: same rank-stage discipline — no Window in the
    // search plan, results byte-identical to bm25Retrieve on the same
    // corpus (the Bm25IndexSpec identity, re-checked here under the
    // planted-stopword skew shape)
    val srch = Bm25Index.search(idx, queries, "doc_id", "text", topK = 5)
    val srchPlan = srch.queryExecution.executedPlan.toString()
    assert(!srchPlan.contains("Window"),
      s"Bm25Index.search must not window at all:\n$srchPlan")
    assert(srch.collect().map(_.toSeq).toSet ==
      ret.collect().map(_.toSeq).toSet)
  }

  test("tfidfTopTerm hotCap: capped path matches the window path, no term window") {
    // same disease as BM25 df (a Zipf-head term's window partition is
    // corpus-sized): the capped config must be byte-identical to the
    // window config with no Window over term in its plan
    val docs = (0L until 200L).map { i =>
      (i, s"the common filler the doc $i body token${i % 17} tail${i % 5}")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val win = rows(Curation.tfidfTopTerm(docs, "doc_id", "text"))
    val capped = Curation.tfidfTopTerm(docs, "doc_id", "text", hotCap = 50)
    assert(rows(capped) == win)
    // Window prints as `Window [exprs], [partitionSpec], [orderSpec]` —
    // the PARTITION spec (second bracket group) must be doc_id, never
    // term (term legitimately appears in the rank window's ORDER BY)
    val plan = capped.queryExecution.executedPlan.toString()
    val winLines = plan.linesIterator
      .filter(_.trim.stripPrefix("+- ").startsWith("Window ")).toSeq
    assert(winLines.forall(
        _.matches(""".*\], \[doc_id#\d+L?\], \[.*""")),
      s"capped tfidf may only window by doc_id (top-term rank):\n$plan")
  }

  test("maxHot bounds the broadcast; overflow hot grams route cold, correctly") {
    // TWO viral grams above hotCap but maxHot = 1: only the hotter one
    // may broadcast; the other must flow through the cold join instead
    // of being silently dropped. Results must still match the window
    // path exactly — the absolute cap is a memory bound, not a
    // semantics change.
    val docs = (0L until 200L).map { i =>
      val b1 = if (i % 2 == 0) "click here subscribe " else ""
      val b2 = if (i % 3 == 0) "terms of service " else ""
      (i, s"$b1$b2 doc $i body token${i % 17} tail${i % 5}")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_grams", "n_dup_grams", "dup_fraction")
        .collect().map(_.toSeq).toSet
    val dupW = rows(Curation.dupNgramFraction(docs, "doc_id", "text", n = 3))
    val dupC = rows(Curation.dupNgramFraction(docs, "doc_id", "text", n = 3,
      hotCap = 30, maxHot = 1))
    assert(dupC == dupW)
    def nov(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_grams", "n_novel", "novelty")
        .collect().map(_.toSeq).toSet
    val novW = nov(Curation.noveltyShare(docs, "doc_id", "text", n = 3))
    val novC = nov(Curation.noveltyShare(docs, "doc_id", "text", n = 3,
      hotCap = 30, maxHot = 1))
    assert(novC == novW)
  }

  test("groupSample skew-safe path: planted giant group, identical " +
      "to the window form, bounded aggregate in the plan") {
    // one group owns ~94% of the corpus — the window form sorts it in
    // a single task; the BoundedMinK path must pick the SAME k rows
    // with the same ranks via map-side-bounded partial aggregation,
    // with no Window operator anywhere in the plan.
    val docs = (0L until 170L).map { i =>
      (i, if (i < 160) "viral" else s"src${i % 5}", s"body $i")
    }.toDF("doc_id", "source", "text").repartition(8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "source", "text", "rn")
        .collect().map(_.toSeq).toSet
    val win = rows(Curation.groupSample(docs, "source", "doc_id", 4,
      skewSafe = false))
    val safe = Curation.groupSample(docs, "source", "doc_id", 4)
    assert(rows(safe) == win)
    val plan = safe.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"skew-safe groupSample must not window:\n$plan")
    assert(plan.contains("boundedmink") || plan.contains("BoundedMinK"),
      s"expected the bounded aggregate in the plan:\n$plan")
  }

  test("exact dedup never windows over the content hash: planted " +
      "viral family, results match the window reference") {
    import org.apache.spark.sql.expressions.Window
    // ONE document body shared by 100 of 130 rows — the old
    // row_number-over-Window.partitionBy(md5(text)) form put the
    // whole family into a single unsplittable partition; the r9 form
    // (exactGroups min-id + unique-id semi join) must keep exactly
    // the same representatives with NO window in the plan.
    val docs = (0L until 130L).map { i =>
      (i, if (i < 100) "the same viral boilerplate body" else s"unique doc $i")
    }.toDF("doc_id", "text")
    val wRef = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val ref = docs.withColumn("_rn", row_number().over(wRef))
      .where(col("_rn") === 1).drop("_rn")
      .collect().map(_.toSeq).toSet
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    assert(kept.collect().map(_.toSeq).toSet == ref)
    assert(kept.count() == 31) // 1 family rep + 30 uniques
    val plan = kept.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"dropExactDuplicates must not window at all:\n$plan")
  }

  test("chunk dedup never windows over the chunk hash: planted " +
      "viral chunk, results match the window reference") {
    import org.apache.spark.sql.expressions.Window
    // every doc opens with the same 2-token navigation chunk; the
    // old first-occurrence row_number over Window.partitionBy(h) made
    // that chunk's copies one partition. The r9 min-struct agg +
    // unique-(doc,idx) semi join must rebuild identical documents,
    // and the only windows left may partition by doc_id.
    val docs = (0L until 80L).map { i =>
      (i, s"nav bar body$i text${i % 9} tail$i end${i % 4}")
    }.toDF("doc_id", "text")
    val ch = TextAnalysis.chunkDocs(docs, "doc_id", "text",
      chunkSize = 2, overlap = 0)
    val wDoc = Window.partitionBy("doc_id")
    val wFirst = Window.partitionBy("h")
      .orderBy(col("doc_id"), col("chunk_idx"))
    val ref = ch.withColumn("n_chunks", count(lit(1)).over(wDoc))
      .withColumn("h", md5(col("chunk")))
      .withColumn("rn", row_number().over(wFirst))
      .where(col("rn") === 1)
      .groupBy("doc_id")
      .agg(max(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk"))).as("clean_text"))
      .collect().map(_.toSeq).toSet
    val out = Dedup.dedupChunks(docs, "doc_id", "text", chunkSize = 2)
    assert(out.collect().map(_.toSeq).toSet == ref)
    val plan = out.queryExecution.executedPlan.toString()
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.forall(l => l.contains("doc_id#") && !l.contains(" h#")),
      s"chunk dedup may only window by doc_id:\n$plan")
  }

  test("brute-force top-k never windows over qid: planted mega-corpus " +
      "per query, byte-identical to the window form") {
    import org.apache.spark.sql.expressions.Window
    // Every query's candidate set is the WHOLE corpus by definition of
    // brute force — the old row_number-over-Window.partitionBy(qid)
    // form made each query one corpus-sized unsplittable reducer (AQE
    // cannot split window partitions). The BoundedTopK aggregate path
    // must return byte-identical (qid, nid, score, rank) rows for
    // cosine, L2, and the hard-negative screen, with NO Window
    // operator anywhere in any of the three plans.
    val corpus = (0L until 4000L).map { i =>
      (i, Array((i % 17).toFloat / 17f, ((i * 3) % 23).toFloat / 23f,
        ((i * 7) % 29).toFloat / 29f, 1f))
    }.toDF("vec_id", "embedding").repartition(8)
    val queries = corpus.where($"vec_id" < 3)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def assertNoWindow(df: org.apache.spark.sql.DataFrame, what: String) = {
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"), s"$what must not window:\n$plan")
      assert(plan.toLowerCase.replace("_", "").contains("boundedtopk"),
        s"expected the bounded aggregate in the $what plan:\n$plan")
    }

    // window-form references, built from the SAME scored pair relation
    // the operators construct (norms pre-projected, native dot kernel)
    val c = corpus.withColumn("nrm", Similarity.norm($"embedding"))
    val q = queries.withColumn("nrm", Similarity.norm($"embedding"))
    val pairs = c.as("c")
      .join(broadcast(q.as("q")), $"q.vec_id" =!= $"c.vec_id")
      .select($"q.vec_id".as("qid"), $"c.vec_id".as("nid"),
        (Similarity.dot($"q.embedding", $"c.embedding")
          / ($"q.nrm" * $"c.nrm")).as("cos"),
        Similarity.l2($"q.embedding", $"c.embedding").as("dist"))
    val wCos = Window.partitionBy("qid").orderBy($"cos".desc, $"nid")
    val wDist = Window.partitionBy("qid").orderBy($"dist".asc, $"nid")

    val cosOut = Similarity.bruteForceTopK(corpus, queries, k = 7)
    assert(rows(cosOut) == rows(pairs
      .select($"qid", $"nid", $"cos",
        row_number().over(wCos).cast("long").as("rank"))
      .where($"rank" <= 7)))
    assertNoWindow(cosOut, "bruteForceTopK")

    val l2Out = Similarity.bruteForceTopKL2(corpus, queries, k = 7)
    assert(rows(l2Out) == rows(pairs
      .select($"qid", $"nid", $"dist",
        row_number().over(wDist).cast("long").as("rank"))
      .where($"rank" <= 7)))
    assertNoWindow(l2Out, "bruteForceTopKL2")

    // the G16 screen: positives excluded, floor/ceiling applied, THEN
    // the rank — the window reference replicates the screen inline
    val pos = Seq((0L, 100L), (0L, 200L), (1L, 300L), (2L, 400L))
      .toDF("qid", "nid")
    val hnOut = Similarity.hardNegatives(corpus, queries, pos, k = 7,
      minMargin = Some(0.05), dropAbovePos = true)
    val scored = pairs.select($"qid", $"nid", round($"cos", 6).as("cos"))
    val marked = scored.join(pos.withColumn("is_pos", lit(true)),
        Seq("qid", "nid"), "left")
      .withColumn("is_pos", coalesce($"is_pos", lit(false)))
    val base = marked.where($"is_pos").groupBy("qid")
      .agg(min($"cos").as("pos_min"), max($"cos").as("pos_max"))
    val hnRef = marked.where(!$"is_pos").drop("is_pos")
      .join(base, Seq("qid"), "left")
      .where(($"pos_min".isNull || $"cos" >= round($"pos_min" - 0.05, 6)) &&
        ($"pos_max".isNull || $"cos" <= $"pos_max"))
      .select($"qid", $"nid", $"cos",
        row_number().over(wCos).cast("long").as("rank"))
      .where($"rank" <= 7)
    assert(rows(hnOut) == rows(hnRef))
    assertNoWindow(hnOut, "hardNegatives")
  }

  test("quantized and bucketed rankers never window over qid: LSH, radius-LSH, " +
      "IVF, PQ, SQ, IVF-PQ byte-identical to the window form") {
    import org.apache.spark.sql.expressions.Window
    // The r10 sweep killed the qid window in the brute family; these
    // are the remaining six ranker entry points (VERDICT r10 item 1).
    // pqTopK/sqTopK score EVERY corpus row per query (a flat ADC/SQ
    // scan), so their ranked relation is corpus-sized per query;
    // lshTopK's hot bucket is ≈ corpus/2^planes, ivf's probed cells ≈
    // corpus·nprobe/nCells — all unsplittable window partitions at
    // 10^10 rows. Each operator must be byte-identical to a
    // row_number-window reference over ITS OWN scored relation (the
    // private[operators] *Scored builders — identical scores by
    // construction, so the equality isolates the ranker), with NO
    // Window operator in any executed plan and the bounded aggregate
    // present.
    val corpus = (0L until 4000L).map { i =>
      (i, Array((i % 17).toFloat / 17f, ((i * 3) % 23).toFloat / 23f,
        ((i * 7) % 29).toFloat / 29f, 1f))
    }.toDF("vec_id", "embedding").repartition(8)
    val queries = corpus.where($"vec_id" < 3)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def assertNoWindow(df: org.apache.spark.sql.DataFrame, what: String) = {
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"), s"$what must not window:\n$plan")
      assert(plan.toLowerCase.replace("_", "").contains("boundedtopk"),
        s"expected the bounded aggregate in the $what plan:\n$plan")
    }
    def windowRank(scored: org.apache.spark.sql.DataFrame, scoreCol: String,
                   k: Int) =
      scored.select($"qid", $"nid", col(scoreCol),
        row_number().over(Window.partitionBy("qid")
          .orderBy(col(scoreCol).desc, $"nid")).cast("long").as("rank"))
        .where($"rank" <= k)

    // LSH at planes=1: each bucket holds ≈ half the corpus (the
    // mega-bucket shape)
    val lshOut = Similarity.lshTopK(corpus, queries, k = 7, planes = 1)
    assert(rows(lshOut) ==
      rows(windowRank(Similarity.lshScored(corpus, queries, 1), "cos", 7)))
    assertNoWindow(lshOut, "lshTopK")

    // radius LSH, exhaustive mode (planes=0): the scored relation IS
    // the corpus per query after a loose threshold
    val radOut = Similarity.lshRadiusTopK(corpus, queries, k = 7,
      threshold = 0.2, planes = 0)
    assert(rows(radOut) == rows(
      windowRank(Similarity.lshRadiusScored(corpus, queries, 0.2, 0, 8),
        "cos", 7).select($"qid", $"nid", $"rank")))
    assertNoWindow(radOut, "lshRadiusTopK exhaustive")
    // banded mode
    val radBand = Similarity.lshRadiusTopK(corpus, queries, k = 7,
      threshold = 0.2, planes = 1, probes = 2)
    assert(rows(radBand) == rows(
      windowRank(Similarity.lshRadiusScored(corpus, queries, 0.2, 1, 2),
        "cos", 7).select($"qid", $"nid", $"rank")))
    assertNoWindow(radBand, "lshRadiusTopK banded")

    // IVF: probe selection AND the candidate rank both via the
    // aggregate; probe-set identity vs a window reference proven
    // directly on the bounded (qid, cent) relation
    val cents = Similarity.trainIvfCentroids(corpus, nCells = 4, stride = 7)
    val qCells = queries.as("q").join(broadcast(cents.as("k")))
      .select($"q.vec_id".as("qid"), $"k.cent_id".as("nid"),
        Similarity.cosine($"q.embedding", $"k.cent").as("ccos"))
    assert(rows(Similarity.probeCells(queries, cents, 2)) ==
      rows(windowRank(qCells, "ccos", 2)
        .select($"qid", $"nid".as("cent_id"))))
    val ivfOut = Similarity.ivfTopK(corpus, queries, k = 7, nCells = 4,
      nprobe = 2, centroids = Some(cents))
    assert(rows(ivfOut) ==
      rows(windowRank(Similarity.ivfScored(corpus, queries, cents, 2), "cos", 7)))
    assertNoWindow(ivfOut, "ivfTopK")

    // PQ flat ADC scan (quantized scores are tie-heavy — the nid
    // tiebreak is exercised for real), both refine modes
    val books = Similarity.trainPqCodebooks(corpus, dim = 4, m = 2, ncodes = 8)
    val pqOut = Similarity.pqTopK(corpus, queries, k = 7, dim = 4, m = 2,
      ncodes = 8, refine = 0, codebooks = Some(books))
    assert(rows(pqOut) == rows(
      windowRank(Similarity.pqScored(corpus, queries, books), "acos", 7)
        .select($"qid", $"nid", $"rank")))
    assertNoWindow(pqOut, "pqTopK flat")
    assertNoWindow(Similarity.pqTopK(corpus, queries, k = 7, dim = 4, m = 2,
      ncodes = 8, refine = 2, codebooks = Some(books)), "pqTopK refine")

    // SQ8 flat scan
    val (lo, hi) = Similarity.trainSqBounds(corpus, 4)
    val sqOut = Similarity.sqTopK(corpus, queries, k = 7, dim = 4, refine = 0,
      bounds = Some((lo, hi)))
    assert(rows(sqOut) == rows(
      windowRank(Similarity.sqScored(corpus, queries, lo, hi), "acos", 7)
        .select($"qid", $"nid", $"rank")))
    assertNoWindow(sqOut, "sqTopK flat")

    // IVF-PQ probed ADC scan
    val ivfpqOut = Similarity.ivfPqTopK(corpus, queries, k = 7, dim = 4,
      nCells = 4, nprobe = 2, m = 2, ncodes = 8, refine = 0,
      centroids = Some(cents), codebooks = Some(books))
    assert(rows(ivfpqOut) == rows(
      windowRank(Similarity.ivfPqScored(corpus, queries, cents, books, 2),
        "acos", 7).select($"qid", $"nid", $"rank")))
    assertNoWindow(ivfpqOut, "ivfPqTopK flat")
  }
}
