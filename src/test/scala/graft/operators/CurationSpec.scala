package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val docs = Seq(
    (0L, "the cat sat on the mat", "src0"),
    (1L, "spam spam spam spam spam spam", "src0"),
    (2L, "one two three four five six seven", "src1"),
    (3L, "the cat sat on the mat today", "src1"),
    (4L, "unique words only here now", "src1")
  ).toDF("doc_id", "text", "source")

  test("hashSample is deterministic and monotone in the rate") {
    val ids = spark.range(0, 2000).toDF("doc_id")
    val s10 = Curation.hashSample(ids, "doc_id", 26).collect().map(_.getLong(0)).toSet
    val s10b = Curation.hashSample(ids, "doc_id", 26).collect().map(_.getLong(0)).toSet
    val s50 = Curation.hashSample(ids, "doc_id", 128).collect().map(_.getLong(0)).toSet
    assert(s10 == s10b, "same rate must select the same rows")
    assert(s10.subsetOf(s50), "a higher rate must be a superset (threshold sampling)")
    // ~10.2% and ~50% with binomial slack
    assert(s10.size > 120 && s10.size < 300, s"10% sample sized ${s10.size}")
    assert(s50.size > 850 && s50.size < 1150, s"50% sample sized ${s50.size}")
  }

  test("hashSample boundary rates: 0 keeps nothing, 256 keeps everything") {
    val ids = spark.range(0, 500).toDF("doc_id")
    assert(Curation.hashSample(ids, "doc_id", 0).count() == 0L)
    assert(Curation.hashSample(ids, "doc_id", 256).count() == 500L)
  }

  test("splitAssign partitions every row into exactly one split") {
    val ids = spark.range(0, 1000).toDF("doc_id")
    val counts = ids.select(Curation.splitAssign(col("doc_id")).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000)
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 700, s"train split ${counts("train")}")
  }

  test("groupSample keeps exactly min(k, group size) rows per group") {
    val out = Curation.groupSample(docs, "source", "doc_id", 3)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("src0" -> 2L, "src1" -> 3L))
  }

  test("stratifiedExactSample: Hamilton quotas sum to n, per-stratum " +
      "picks match groupSample at the quota, no window") {
    // strata sized 7/5/3/1 (N=16), budget 10: bases 4/3/1/0 with
    // remainders 6/2/14/10 — the two bumps go to s3 (rem 14) and s4
    // (rem 10), so quotas are 4/3/2/1; s4's single row rides in on a
    // remainder bump from base 0.
    val rows = (0 until 7).map(i => (i.toLong, "s1")) ++
      (0 until 5).map(i => (100L + i, "s2")) ++
      (0 until 3).map(i => (200L + i, "s3")) ++ Seq((300L, "s4"))
    val df = rows.toDF("doc_id", "source").repartition(5)
    val out = Curation.stratifiedExactSample(df, "source", "doc_id", 10)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("s1" -> 4L, "s2" -> 3L, "s3" -> 2L, "s4" -> 1L))
    // within a stratum the picks ARE the k-smallest md5 keys: compare
    // to groupSample at the realized quota
    val s1 = out.where($"source" === "s1")
      .select("doc_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gs = Curation.groupSample(df.where($"source" === "s1"),
        "source", "doc_id", 4)
      .select("doc_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1 == gs)
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"stratified sample must not window:\n$plan")
    // a budget at or above the corpus is the identity, not a sample
    intercept[IllegalArgumentException] {
      Curation.stratifiedExactSample(df, "source", "doc_id", 16)
    }
  }

  test("samplers treat a null group as a legal stratum (null-safe " +
      "reattach joins)") {
    val df = Seq((1L, Option("a")), (2L, Option("a")), (3L, Option.empty[String]),
      (4L, Option.empty[String]), (5L, Option.empty[String]))
      .toDF("doc_id", "source")
    val gs = Curation.groupSample(df, "source", "doc_id", 2)
      .groupBy("source").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(gs == Map(Option("a") -> 2L, None -> 2L), s"groupSample: $gs")
    // identical picks to the window form, null group included
    val win = Curation.groupSample(df, "source", "doc_id", 2, skewSafe = false)
      .select("doc_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val safe = Curation.groupSample(df, "source", "doc_id", 2)
      .select("doc_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(safe == win)
    // Hamilton over N=5, n=3: 'a' base 1 rem 1, null base 1 rem 4 —
    // the bump goes to the null stratum
    val st = Curation.stratifiedExactSample(df, "source", "doc_id", 3)
      .groupBy("source").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(st == Map(Option("a") -> 1L, None -> 2L), s"stratified: $st")
  }

  test("contamination finds shared 5-grams and nothing else") {
    // eval = doc 0; doc 3 shares the 5-gram "the cat sat on the"
    val out = Curation.contamination(docs, "doc_id", "text", col("doc_id") === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((3L, 1L, 2L))) // shares 2 of doc 3's 5-grams
  }

  test("contamination plan is a shingle-keyed join, never a cartesian") {
    val p = Curation.contamination(docs, "doc_id", "text", col("doc_id") === 0)
      .queryExecution.executedPlan
    val cartesian = p.collect {
      case n if n.nodeName.contains("CartesianProduct") ||
        n.nodeName.contains("BroadcastNestedLoop") => n
    }
    assert(cartesian.isEmpty, "contamination must join on the shingle key")
  }

  test("contaminationFraction scores the distinct-shingle overlap share " +
      "and decontaminateByFraction drops only docs at the threshold") {
    // eval = doc 0 ("the cat sat on the mat": distinct 3-shingles
    // {the cat sat, cat sat on, sat on the, on the mat}). Doc 3 adds
    // "today": 5 distinct 3-shingles, 4 of them eval hits → 0.8.
    // Docs 1/2/4 share nothing → 0.0.
    val fr = Curation.contaminationFraction(docs, "doc_id", "text",
        col("doc_id") === 0, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!fr.contains(0L), "eval docs are not scored")
    assert(fr(3L) == ((5L, 4L, 0.8)), s"doc 3 scored ${fr(3L)}")
    assert(fr(1L)._2 == 0L && fr(2L)._2 == 0L && fr(4L)._2 == 0L)
    // threshold straddling: 0.5 drops doc 3 (0.8), 0.9 keeps it; eval
    // doc 0 is excluded from the cleaned corpus either way
    def kept(minFrac: Double) = Curation.decontaminateByFraction(docs,
        "doc_id", "text", col("doc_id") === 0, n = 3, minFrac = minFrac)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept(0.5) == Seq(1L, 2L, 4L))
    assert(kept(0.9) == Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      Curation.decontaminateByFraction(docs, "doc_id", "text",
        col("doc_id") === 0, minFrac = 0.0)
    }
  }

  test("contaminationFraction: a short doc degrades to one whole-text " +
      "shingle and scores 0 or 1 exactly") {
    val tiny = Seq((0L, "alpha beta"), (1L, "alpha beta"), (2L, "gamma"))
      .toDF("doc_id", "text")
    val fr = Curation.contaminationFraction(tiny, "doc_id", "text",
        col("doc_id") === 0, n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(fr(1L) == 1.0, "identical short doc is fully contaminated")
    assert(fr(2L) == 0.0)
  }

  test("contamination family: NULL evalPred counts as corpus-side, " +
      "null-text docs are the zero-gram degenerate (r13 ADVICE)") {
    // doc 1's source is null → evalPred (source = 'eval') is NULL;
    // raw column semantics would exclude it from BOTH join branches
    val d = Seq((0L, "eval", Option("the cat sat on the mat")),
        (1L, null, Option("the cat sat on a rug today")),
        (2L, "web", Option.empty[String]))
      .toDF("doc_id", "source", "text")
    val pred = col("source") === "eval"
    val fr = Curation.contaminationFraction(d, "doc_id", "text", pred, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fr.contains(1L), "null-evalPred doc must be scored as corpus")
    assert(fr(1L) == 2L, s"doc 1 shares {the cat sat, cat sat on}: $fr")
    assert(!fr.contains(2L), "zero-gram (null text) docs have no score")
    val hits = Curation.contamination(d, "doc_id", "text", pred, n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L), "K5 must flag the null-evalPred corpus doc")
    val kept = Curation.decontaminateByFraction(d, "doc_id", "text", pred,
        n = 3, minFrac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // doc 1: 2 of 5 grams hit (0.4 < 0.5) → kept; doc 2 gram-free → kept
    assert(kept == Set(1L, 2L), s"cleaned corpus diverged: $kept")
  }

  test("topBigramShare scores degenerate repetition as 1.0") {
    val out = Curation.topBigramShare(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0) // "spam spam" is every bigram
    assert(out(4L) == 0.25) // 4 distinct bigrams
    assert(out(0L) == 0.2) // 5 distinct bigrams
  }

  test("tfidfTopTerm prefers rare terms and breaks ties on the term") {
    val out = Curation.tfidfTopTerm(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: "spam" occurs 6 times in 1 of 5 docs → dominates
    assert(out(1L) == "spam")
    // doc 0: "the" has tf=2 but df=2; "cat"/"mat"/"on"/"sat" tf=1 df=2;
    // the×5/2=5.0 beats cat×5/2=2.5 → "the"
    assert(out(0L) == "the")
    // doc 2: all terms tf=1 df=1 score 5.0 → lexicographic "five"
    assert(out(2L) == "five")
  }

  test("sampling and splits are stateless: identical assignments on a stream") {
    // hash-keyed sampling/splitting is a pure filter/projection, so the
    // same operators run unchanged under Structured Streaming — the
    // property that lets one pipeline definition serve batch backfill
    // and live ingestion with byte-identical subsets.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(0L until 500L: _*)
    val sampled = Curation.hashSample(input.toDF().withColumnRenamed("value", "doc_id"),
        "doc_id", 26)
      .withColumn("split", Curation.splitAssign(col("doc_id")))
    val q = sampled.writeStream.format("memory").queryName("cur_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cur_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = Curation.hashSample(spark.range(0, 500).toDF("doc_id"), "doc_id", 26)
      .withColumn("split", Curation.splitAssign(col("doc_id"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch, "stream and batch must select identical subsets")
    assert(streamed.nonEmpty)
  }

  test("contamination screens a live stream against a static eval shingle set") {
    // the production decontamination shape for ingestion: the eval
    // benchmark's shingles are a static (broadcastable) side; new docs
    // stream through a stream-static join and flag on overlap.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalGrams = docs.where(col("doc_id") === 0)
      .select(explode(Dedup.shingles(col("text"), 5)).as("gram")).distinct()
    val input = MemoryStream[(Long, String)]
    input.addData(
      (3L, "the cat sat on the mat today"), // shares doc 0's 5-grams
      (2L, "one two three four five six seven"))
    val flagged = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 5)).as("gram"))
      .join(broadcast(evalGrams), "gram")
      // ShingleSet emits distinct grams per doc and the eval side is
      // deduped, so count == countDistinct (which streams can't run)
      .groupBy("doc_id").agg(count(lit(1)).as("n_gram_hits"))
    val q = flagged.writeStream.format("memory").queryName("contam_stream")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("contam_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(3L -> 2L), s"stream flagged $out")
  }

  test("plan shape: hashSample is a pure filter — no exchange, no aggregate") {
    val p = Curation.hashSample(spark.range(0, 1000).toDF("doc_id"), "doc_id", 26)
      .queryExecution.executedPlan
    val heavy = p.collect {
      case n if n.nodeName.contains("Exchange") ||
        n.nodeName.contains("Aggregate") || n.nodeName.contains("Sort") => n
    }
    assert(heavy.isEmpty, s"sampling must stay embarrassingly parallel: $heavy")
  }

  test("packSequences fills packs greedily in id order within a group") {
    val d = Seq(
      (1L, "a b c", "s"),      // 3 tokens, cum 3  → pack 0
      (2L, "d e f g", "s"),    // 4 tokens, cum 7  → pack 0 (starts at 3)
      (3L, "h i j k l", "s"),  // 5 tokens, cum 12 → pack 0 (starts at 7)
      (4L, "m n", "s"),        // 2 tokens, cum 14 → pack 1 (starts at 12)
      (5L, "o p q", "t")       // other group restarts at pack 0
    ).toDF("doc_id", "text", "source")
    val out = Curation.packSequences(d, "source", "doc_id", "text", budgetTokens = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(("s", 1L) -> 0L, ("s", 2L) -> 0L, ("s", 3L) -> 0L,
      ("s", 4L) -> 1L, ("t", 5L) -> 0L))
  }

  test("dupNgramFraction flags shared trigrams and only those") {
    // docs 0 and 3 share the prefix "the cat sat on the mat" → its 4
    // trigrams are duplicated; each doc's remaining trigrams are unique
    val out = Curation.dupNgramFraction(docs, "doc_id", "text", n = 3, minDf = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (4L, 4L), "doc 0: all 4 trigrams shared with doc 3")
    assert(out(3L) == (5L, 4L), "doc 3: 4 of 5 trigrams shared, 'on the mat today' tail unique")
    assert(out(2L)._2 == 0L && out(4L)._2 == 0L, "unique docs have zero dup grams")
    // spam doc: shingles are distinct per doc, so its single repeated
    // trigram occurs in one doc only → not a cross-doc duplicate
    assert(out(1L) == (1L, 0L))
  }

  test("leakageSafeSplit never lets a cluster straddle two splits") {
    // force a multi-doc cluster whose member ids would split apart on
    // their own: pair ids chosen so splitAssign differs across members
    val ids = spark.range(0, 300).toDF("doc_id")
    val own = ids.select(col("doc_id"),
      Curation.splitAssign(col("doc_id")).as("own_split"))
    // clusters of 3 consecutive ids: cluster_id = id - id % 3
    val clusters = ids.select(col("doc_id").as("id"),
      (col("doc_id") - col("doc_id") % 3).as("cluster_id"))
    val out = Curation.leakageSafeSplit(own, "doc_id", clusters)
    val perCluster = out.groupBy("cluster_id")
      .agg(countDistinct("split").as("n_splits")).collect()
    assert(perCluster.forall(_.getLong(1) == 1L), "one split per cluster")
    // the invariant is non-vacuous: member-id splits DO differ somewhere
    val mixed = out.groupBy("cluster_id")
      .agg(countDistinct("own_split").as("n")).where(col("n") > 1).count()
    assert(mixed > 0, "test must contain clusters whose own-id splits differ")
    // unpaired docs (absent from clusters) fall back to their own split
    val solo = Curation.leakageSafeSplit(own, "doc_id",
      clusters.where(col("id") < 0))
    assert(solo.where(col("split") =!= col("own_split")).count() == 0)
  }

  test("tokenBudgetSelect keeps the best docs and respects the budget") {
    val d = Seq(
      // src s: quality rises with "the" density (stopword score), so
      // the ranking is doc3 (6 tok, starts at 0), doc2 (4 tok, starts
      // at 6), doc4, doc1 — budget 8 admits docs 3 and 2 only
      (1L, "x y z", "s"),                  // low quality: no stopwords
      (2L, "the cat the dog", "s"),        // high quality
      (3L, "the fox the hen the owl", "s"),// high quality
      (4L, "q r s t", "s"),                // low quality
      (5L, "the end", "t")                 // other group selected independently
    ).toDF("doc_id", "text", "source")
    val out = Curation.tokenBudgetSelect(d, "source", "doc_id", "text", 8L)
    val kept = out.collect().map(r => r.getLong(1)).toSet
    assert(kept == Set(2L, 3L, 5L),
      s"highest-quality docs within budget, per group: $kept")
    // every kept doc STARTS within budget (packSequences convention)
    assert(out.where(col("cum") - col("n_tokens") >= 8).count() == 0)
  }

  test("weightedSample: w=0 keeps nothing, w>=1 keeps everything, higher w keeps supersets") {
    import org.apache.spark.sql.functions._
    val df = (1L to 400L).toDF("doc_id")
    assert(Curation.weightedSample(df, "doc_id", lit(0.0)).count() == 0)
    assert(Curation.weightedSample(df, "doc_id", lit(1.0)).count() == 400)
    assert(Curation.weightedSample(df, "doc_id", lit(2.5)).count() == 400, "w>1 clamps to keep-all")
    val at25 = Curation.weightedSample(df, "doc_id", lit(0.25))
      .select("doc_id").as[Long].collect().toSet
    val at50 = Curation.weightedSample(df, "doc_id", lit(0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(at25.subsetOf(at50), "thresholds nest: raising w never drops a kept row")
    // ~uniform: the 25% sample should land in a loose band around 100
    assert(at25.size > 60 && at25.size < 140, s"got ${at25.size}")
    // deterministic across invocations
    val again = Curation.weightedSample(df, "doc_id", lit(0.25))
      .select("doc_id").as[Long].collect().toSet
    assert(again == at25)
  }

  test("applyMixWeights downsamples over-represented sources toward uniform") {
    import org.apache.spark.sql.functions._
    // 300 docs of 'big', 20 of 'small': weights 320/(2·300)≈0.53 and
    // 320/(2·20)=8 → 'small' kept whole, 'big' roughly halved
    val df = ((1L to 300L).map(i => (i, "big")) ++ (301L to 320L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val out = Curation.applyMixWeights(df, "doc_id", "source")
    val bySrc = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("small") == 20L, "under-represented source kept in full")
    assert(bySrc("big") > 100L && bySrc("big") < 220L,
      s"over-represented source ~halved, got ${bySrc("big")}")
    // helper columns dropped, weight surfaced
    assert(out.columns.toSet == Set("doc_id", "source", "mix_weight"))
    // deterministic
    assert(Curation.applyMixWeights(df, "doc_id", "source").count() == out.count())
  }

  test("exactKSample returns exactly k deterministic rows and plans as a top-k") {
    val df = (1L to 500L).toDF("doc_id")
    val s1 = Curation.exactKSample(df, "doc_id", 50)
    assert(s1.count() == 50)
    val ids = s1.select("doc_id").as[Long].collect().toSet
    assert(Curation.exactKSample(df, "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet == ids, "deterministic")
    // top-k of a larger k contains the smaller sample (nested prefixes)
    val s2 = Curation.exactKSample(df, "doc_id", 100)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(s2))
    // scale shape: global top-k, not a full sort
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("madOutliers flags exactly the hand-computed outliers") {
    import org.apache.spark.sql.functions._
    // group g: values 10..14 plus spike 100 → median 12.5, deviations
    // (2.5,1.5,.5,.5,1.5,87.5) → MAD 1.5; |x-med| > 3·1.5 flags only 100
    val df = (Seq(10, 11, 12, 13, 14, 100).zipWithIndex.map {
      case (v, i) => (i.toLong, "g", v)
    }).toDF("id", "grp", "v")
    val out = Curation.madOutliers(df, "grp", "v", 3.0)
      .select("id", "v", "med", "mad").collect()
    assert(out.length == 1, s"got ${out.toSeq}")
    assert(out.head.getInt(1) == 100)
    assert(out.head.getDouble(2) == 12.5)
    assert(out.head.getDouble(3) == 1.5)
    // robustness: the spike itself never drags the boundary enough to
    // flag inliers — 14 stays unflagged even at k=1.5
    val k15 = Curation.madOutliers(df, "grp", "v", 1.5)
      .select("v").as[Int].collect().toSet
    assert(!k15.contains(13) && k15.contains(100))
  }

  test("sourceOverlap reports shared distinct n-grams per ordered source pair") {
    val out = Curation.sourceOverlap(docs, "source", "text", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList.sorted
    // src0 distinct grams: doc0 "the cat sat on the mat" -> 4 trigrams;
    // doc1 all-spam -> 1 distinct trigram ("spam spam spam") => 5 total.
    // src1: doc2 -> 5, doc3 -> 5 (doc0's 4 + "the mat today"), doc4 -> 3 => 13.
    // Shared grams: the 4 trigrams of doc0 occur in both sources.
    assert(out == List(("src0", "src1", 4L, 5L), ("src1", "src0", 4L, 13L)))
    val cont = Curation.sourceOverlap(docs, "source", "text", n = 3)
      .where($"src_a" === "src0").select("containment").as[Double].head()
    assert(cont == 4.0 / 5.0)
  }

  test("shardPlan covers every doc once with in-range deterministic shards") {
    val plan = Curation.shardPlan(docs, "doc_id", 4, length($"text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(plan.map(_._2).sum == 5, "every doc lands in exactly one shard")
    assert(plan.forall { case (s, _) => s >= 0 && s < 4 })
    // determinism: same ids → same assignment on a re-run
    val again = Curation.shardPlan(docs, "doc_id", 4, length($"text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(plan.sorted == again.sorted)
    // single shard degenerates to the full corpus
    val one = Curation.shardPlan(docs, "doc_id", 1, lit(1)).collect()
    assert(one.length == 1 && one.head.getLong(1) == 5)
  }

  test("curriculumBuckets cuts equal-count tiers ordered by the score") {
    val df = Seq((1L, 0.1), (2L, 0.2), (3L, 0.3), (4L, 0.4), (5L, 0.5),
      (6L, 0.6), (7L, 0.7), (8L, 0.8)).toDF("doc_id", "score")
    val out = Curation.curriculumBuckets(df, "doc_id", $"score", 4)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L))
  }

  test("curriculumBucketsApprox matches the exact ntile form at high accuracy") {
    val df = Seq((1L, 0.1), (2L, 0.2), (3L, 0.3), (4L, 0.4), (5L, 0.5),
      (6L, 0.6), (7L, 0.7), (8L, 0.8)).toDF("doc_id", "score")
    val approx = Curation.curriculumBucketsApprox(df, $"score", 4,
        accuracy = 1000000)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val exact = Curation.curriculumBuckets(df, "doc_id", $"score", 4)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(approx == exact)
    // one lazy plan: no window, no sort, no eager driver action
    val plan = Curation.curriculumBucketsApprox(df, $"score", 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"bucket assignment must stay narrow:\n$plan")
    // single bucket degenerates to the identity tier
    val one = Curation.curriculumBucketsApprox(df, $"score", 1)
      .select("bucket").as[Long].collect().toSet
    assert(one == Set(1L))
  }

  test("writeSharded round-trips the corpus as deterministic shard dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards")
      .toString + "/docs"
    Curation.writeSharded(docs, "doc_id", 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 5)
    // shard membership matches the pure-function assignment
    val expected = docs
      .select($"doc_id", Curation.shardAssign($"doc_id", 4).as("shard_id"))
      .as[(Long, Long)].collect().toMap
    val got = back.select($"doc_id", $"shard_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    // the same text survives the round trip
    assert(back.select("doc_id", "text").as[(Long, String)].collect().toMap
      == docs.select("doc_id", "text").as[(Long, String)].collect().toMap)
    // hash repartition on shard_id ⇒ a shard never splits across
    // tasks ⇒ exactly one data file per shard directory
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard_id="))
    assert(dirs.nonEmpty)
    dirs.foreach { sd =>
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${sd.getName} has ${files.length} files")
    }
  }

  test("sourceDrift: identical distributions give 0, disjoint give 1") {
    // s0 and s1 emit the same token distribution; s2 is disjoint from
    // the (much larger) rest, so its JS vs rest approaches... compute:
    // with rest mass fully disjoint, JS = 1 exactly.
    val same = Seq(
      (0L, "a b", "s0"), (1L, "a b", "s1"),
      (2L, "x y", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Curation.sourceDrift(same, "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toList.sortBy(_._1)
    // s0 vs rest {a b x y}: p=(.5,.5), q=(.25,.25,.25,.25) over shared
    // support {a,b}: term_p = 2*.5*log2(2*.5/.75) = log2(4/3),
    // term_q = 2*.25*log2(.5/.75) = .5*log2(2/3), residual q-mass .5
    val js01 = 0.5 * (math.log(4.0 / 3) / math.log(2)
      + 0.5 * (math.log(2.0 / 3) / math.log(2)) + 0.5)
    assert(out.map(_._1) == List("s0", "s1", "s2"))
    assert(out.map(_._2) == List(2L, 2L, 2L))
    assert(math.abs(out(0)._3 - js01) < 1e-6 && out(0)._3 == out(1)._3)
    assert(out(2)._3 == 1.0, "disjoint vocabulary must give JS = 1")
  }

  test("refIntegrity counts matched and dangling keys exactly") {
    val l = Seq(1L, 2L, 3L, 3L).toDF("doc_id")
    val r = Seq(2L, 3L, 4L, 5L).toDF("vec_id")
    val row = Curation.refIntegrity(l, "doc_id", r, "vec_id").collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((1L, 2L, 2L)),
      s"got $row") // left-only {1}, right-only {4,5}, matched {2,3}
  }

  test("shard assignment under foreachBatch matches the batch writer") {
    // writeSharded's streaming claim: the assignment is a stateless
    // pure function of the id, so per-micro-batch shard dirs carry
    // exactly the rows the one-shot batch writer would place there
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_shards")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Curation.writeSharded(batch, "doc_id", 4, s"$root/batch-$id")
        ()
      }.start()
    try {
      input.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      input.addData((4L, "d"), (5L, "e"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$root/batch-0")
      .unionAll(spark.read.parquet(s"$root/batch-1"))
      .select($"doc_id", $"shard_id".cast("long")).as[(Long, Long)]
      .collect().toMap
    val expected = (1L to 5L).map(i =>
      i -> Curation.shardAssign(lit(i), 4)).toMap.map { case (i, c) =>
      i -> spark.range(1).select(c).as[Long].head()
    }
    assert(streamed == expected)
  }

  test("snapshotDiff classifies added, removed, modified, unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val neu = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("doc_id", "text")
    val row = Curation.snapshotDiff(old, neu, "doc_id", "text").collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((1L, 1L, 1L, 1L))) // +{4}, -{3}, ~{2}, ={1}
  }

  test("snapshotDiff treats NULL content as a value, not absence") {
    val old = Seq((1L, null: String), (2L, null: String), (3L, "c"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, null: String), (2L, "filled"), (3L, "c"))
      .toDF("doc_id", "text")
    val row = Curation.snapshotDiff(old, neu, "doc_id", "text").collect().head
    // null→null unchanged, null→"filled" modified, "c" unchanged;
    // nothing added or removed — and the classes sum to the key count
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((0L, 0L, 1L, 2L)), s"got $row")
  }

  test("labelCohesion is 1.0 for identical vectors and counts members") {
    val embeds = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 2.0f), 1), (4L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Curation.labelCohesion(embeds, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toList.sorted
    assert(out == List((0, 2L, 1.0), (1, 2L, 1.0)))
  }

  test("noveltyShare: first contributor scores 1, re-paste scores 0") {
    val nd = Seq(
      (1L, "a b c d"), // grams {a b c, b c d} — both first here
      (2L, "a b c d"), // exact re-paste: nothing new
      (3L, "a b c x") // {a b c} seen, {b c x} new → 0.5
    ).toDF("doc_id", "text")
    val out = Curation.noveltyShare(nd, "doc_id", "text", n = 3)
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0),
      (3L, 2L, 1L, 0.5)), s"got $out")
  }

  test("noveltyShare: short docs fall back to the whole-text gram") {
    val nd = Seq((1L, "hi there"), (2L, "hi there")).toDF("doc_id", "text")
    val out = Curation.noveltyShare(nd, "doc_id", "text", n = 3)
      .select("doc_id", "novelty").as[(Long, Double)].collect().toSet
    assert(out == Set((1L, 1.0), (2L, 0.0)), s"got $out")
  }

  test("softDedupWeights: families weigh 1/n, singletons weigh 1, " +
      "alpha dials the correction") {
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters: {1,2} labeled 1; {4,5,6} labeled 4; 3 and 7 unpaired
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("id", "cluster_id")
    val out = Curation.softDedupWeights(docs, clusters, "doc_id")
      .select("doc_id", "cluster_id", "n_cluster", "weight")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 1L, 2L, 0.5), (2L, 1L, 2L, 0.5),
      (3L, 3L, 1L, 1.0),
      (4L, 4L, 3L, 0.333333), (5L, 4L, 3L, 0.333333), (6L, 4L, 3L, 0.333333),
      (7L, 7L, 1L, 1.0)), s"got $out")
    // expected total mass: each family counts ~once
    val mass = out.toSeq.map(_._4).sum
    assert(math.abs(mass - 4.0) < 1e-5, s"total weight $mass != 4 families")
    // alpha = 0 keeps everything at weight 1 (no correction)
    val flat = Curation.softDedupWeights(docs, clusters, "doc_id", alpha = 0.0)
      .select("weight").as[Double].collect()
    assert(flat.forall(_ == 1.0))
    // alpha = 0.5 is the halfway de-emphasis: n^-0.5
    val half = Curation.softDedupWeights(docs, clusters, "doc_id", alpha = 0.5)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(half(4L) == BigDecimal(1.0 / math.sqrt(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("dsirWeights: target-like raw docs outscore off-domain ones; " +
      "n_grams counts word bigrams; deterministic") {
    val docs = Seq(
      // target domain: cooking text
      (1L, "stir the sauce and simmer the sauce gently", "t"),
      (2L, "chop the onions and stir the pan", "t"),
      // raw pool: one cooking-like, one off-domain
      (10L, "stir the sauce and chop the onions", "r"),
      (11L, "quantum flux entangles qubit lattices rapidly", "r")
    ).toDF("doc_id", "text", "side")
    val out = Curation.dsirWeights(docs, "doc_id", "text",
        col("side") === "t", buckets = 256)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // n_grams = token count - 1 per doc
    assert(out(1L)._2 == 7L && out(10L)._2 == 6L && out(11L)._2 == 5L)
    // the cooking-like raw doc must score strictly higher than the
    // off-domain one: its hashed bigrams appear in the target side
    assert(out(10L)._3 > out(11L)._3,
      s"in-domain ${out(10L)._3} !> off-domain ${out(11L)._3}")
    // off-domain weight must be negative (its grams only ever hit the
    // raw side, so ln p_t < ln p_r bucket-wise up to hash collisions)
    assert(out(11L)._3 < 0, s"off-domain weight ${out(11L)._3}")
    // deterministic across runs
    val again = Curation.dsirWeights(docs, "doc_id", "text",
        col("side") === "t", buckets = 256)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out == again)
  }

  test("dsirWeights: kernel fast path is byte-identical to the " +
      "exploded-bigram murmur reference; scoring plan is map-only") {
    // the r10 kernel replaced the explode → bucket-count → broadcast-
    // join → doc-keyed-agg shape (PIPELINE_r10.json's sf30 super-scaler) with a
    // histogram aggregate + map-only scorer; the reference below IS
    // that old shape, so any hash-chain or rounding divergence fails
    val texts = Seq(
      "stir the sauce and simmer the sauce gently",
      "chop the onions and stir the pan",
      "stir the sauce and chop the onions",
      "quantum flux entangles qubit lattices rapidly",
      "naïve café déjà vu — ünïcödé tökens",
      "a a a a a a a a",
      "one two", "single", "",
      "the the the quick quick brown fox")
    val docs = texts.zipWithIndex.map { case (s, i) =>
      (i.toLong, s, if (i % 3 == 0) "t" else "r") }
      .toDF("doc_id", "text", "side")
    val pred = col("side") === "t"
    val (buckets, smoothing) = (64, 1.0)
    val out = Curation.dsirWeights(docs, "doc_id", "text", pred,
      buckets = buckets)
    // old-shape reference, verbatim
    val t = TextAnalysis.tokens(col("text"))
    val base = docs.select(col("doc_id"), pred.as("is_target"), t.as("t"))
      .where(size(col("t")) >= 2)
    val bucketed = base.select(col("doc_id"), col("is_target"),
      explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => pmod(hash(element_at(col("t"), i + 1),
          element_at(col("t"), i + 2)), lit(buckets)).cast("long")))
        .as("bucket"))
    val bstats = bucketed.groupBy("bucket").agg(
      sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("ct"),
      sum(when(!col("is_target"), lit(1L)).otherwise(lit(0L))).as("cr"))
    val totals = docs.select(pred.as("is_target"),
        when(size(t) >= 2, (size(t) - 1).cast("long"))
          .otherwise(lit(0L)).as("n"))
      .agg(sum(when(col("is_target"), col("n")).otherwise(lit(0L))).as("tt"),
        sum(when(!col("is_target"), col("n")).otherwise(lit(0L))).as("tr"))
    val a = lit(smoothing); val ab = lit(smoothing * buckets)
    val lr = round(log((col("ct") + a) / (col("tt") + ab)) -
      log((col("cr") + a) / (col("tr") + ab)), 6)
      .cast(org.apache.spark.sql.types.DecimalType(28, 6))
    val lrTab = bstats.join(broadcast(totals))
      .select(col("bucket"), lr.as("lr"))
    val ref = bucketed.join(broadcast(lrTab), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("sw"))
      .select(col("doc_id"), col("n_grams"),
        round(col("sw").cast("double"), 6).as("log_weight"))
    assert(out.collect().map(_.toSeq).toSet ==
      ref.collect().map(_.toSeq).toSet)
    // the kernel scoring pass must stay a pure projection
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("Join") && !plan.contains("Generate"),
      s"kernel DSIR scoring must be map-only:\n$plan")
  }

  test("dsirWeights: a null target predicate counts into NEITHER " +
      "histogram side but the doc is still scored (kernel == reference)") {
    // r10 ADVICE (medium): the kernel fast path coalesced a null
    // targetPred to false, counting those docs' bigrams into the
    // raw-side histogram and tr total, where the exact path's
    // when/otherwise branches contribute a null-pred row to neither
    // ct/cr nor tt/tr. The contract is the exact path's: null-pred
    // docs are scored against the two distributions but help define
    // neither. lang IS NULL rows under col("lang") === "en" are the
    // production shape.
    val docs = Seq(
      (0L, "stir the sauce and simmer the sauce gently", "t"),
      (1L, "chop the onions and stir the pan", "r"),
      (2L, "stir the sauce and chop the onions", null),
      (3L, "quantum flux entangles qubit lattices rapidly", "r"),
      (4L, "the the the quick quick brown fox", null))
      .toDF("doc_id", "text", "side")
    val pred = col("side") === "t" // null side → null predicate
    val buckets = 64
    val out = Curation.dsirWeights(docs, "doc_id", "text", pred,
      buckets = buckets)
    // murmur exploded reference with the exact path's when/otherwise
    // null semantics (the shape the kernel-identity test pins, on a
    // NULLABLE predicate this time)
    val t = TextAnalysis.tokens(col("text"))
    val base = docs.select(col("doc_id"), pred.as("is_target"), t.as("t"))
      .where(size(col("t")) >= 2)
    val bucketed = base.select(col("doc_id"), col("is_target"),
      explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => pmod(hash(element_at(col("t"), i + 1),
          element_at(col("t"), i + 2)), lit(buckets)).cast("long")))
        .as("bucket"))
    val bstats = bucketed.groupBy("bucket").agg(
      sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("ct"),
      sum(when(!col("is_target"), lit(1L)).otherwise(lit(0L))).as("cr"))
    val totals = docs.select(pred.as("is_target"),
        when(size(t) >= 2, (size(t) - 1).cast("long"))
          .otherwise(lit(0L)).as("n"))
      .agg(sum(when(col("is_target"), col("n")).otherwise(lit(0L))).as("tt"),
        sum(when(!col("is_target"), col("n")).otherwise(lit(0L))).as("tr"))
    val a = lit(1.0); val ab = lit(1.0 * buckets)
    val lr = round(log((col("ct") + a) / (col("tt") + ab)) -
      log((col("cr") + a) / (col("tr") + ab)), 6)
      .cast(org.apache.spark.sql.types.DecimalType(28, 6))
    val lrTab = bstats.join(broadcast(totals))
      .select(col("bucket"), lr.as("lr"))
    val ref = bucketed.join(broadcast(lrTab), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("sw"))
      .select(col("doc_id"), col("n_grams"),
        round(col("sw").cast("double"), 6).as("log_weight"))
    assert(out.collect().map(_.toSeq).toSet ==
      ref.collect().map(_.toSeq).toSet)
    // null-pred docs are present in the output
    val scoredIds = out.select("doc_id").as[Long].collect().toSet
    assert(Set(2L, 4L).subsetOf(scoredIds),
      s"null-pred docs must still be scored, got $scoredIds")
    // and the coalesce-to-false form is genuinely different here: the
    // null-pred docs' grams would land raw-side and shift weights
    val coalesced = Curation.dsirWeights(
      docs.withColumn("side", coalesce(col("side"), lit("r"))),
      "doc_id", "text", pred, buckets = buckets)
    assert(coalesced.collect().map(_.toSeq).toSet !=
      out.collect().map(_.toSeq).toSet,
      "fixture must distinguish null-to-neither from null-to-raw")
  }

  test("semanticDecontam: exact mode drops eval rows and their " +
      "near-dups, keeps the rest; cell mode finds planted leaks") {
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(8)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val evalVec = unit(1)
    val rows = Seq(
      (0L, evalVec),            // the benchmark row itself
      (10L, jitter(evalVec, 0.01f)), // paraphrase-leak: cos ≈ 1
      (11L, unit(42)), (12L, unit(43)), (13L, unit(44))) // clean
    val corpus = rows.toDF("vec_id", "embedding")
    val evalSet = corpus.where(col("vec_id") === 0L)
    val out = Curation.semanticDecontam(corpus, evalSet, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(!out.contains(0L), "eval row must be dropped (self-cos = 1)")
    assert(!out.contains(10L), "the planted leak must be dropped")
    assert(Set(11L, 12L, 13L).subsetOf(out),
      s"clean rows must survive, got $out")
    // cell mode with full probing finds the same leak
    val cellDf = Curation.semanticDecontam(corpus, evalSet,
      threshold = 0.95, nCells = 2, nprobe = 2)
    val cellOut = cellDf.select("vec_id").as[Long].collect().toSet
    assert(cellOut == out, s"cell mode $cellOut != exact $out")
    // probe cells come from the bounded rankTopK aggregate
    // (Similarity.probeCells), never a row_number window over qid
    val cellPlan = cellDf.queryExecution.executedPlan.toString()
    assert(!cellPlan.contains("Window"),
      s"cell-mode decontam must not window:\n$cellPlan")
    // r9: pre-trained centroids (the G3 discipline) — identical result,
    // and the plan loses the centroid-training corpus pass: the only
    // corpus lineage left is the assign + anti-join
    val cents = Similarity.trainIvfCentroids(corpus, 2, stride = 7,
      kmeansIters = 1)
    val pre = Curation.semanticDecontam(corpus, evalSet,
      threshold = 0.95, nCells = 2, nprobe = 2, centroids = Some(cents))
    assert(pre.select("vec_id").as[Long].collect().toSet == cellOut,
      "pre-trained centroids must not change the result")
  }

  test("temperatureMix: alpha dials between natural and uniform; " +
      "monotone; smallest source keeps all") {
    val rows = (0 until 300).map(i =>
      (i.toLong, if (i < 200) "big" else if (i < 280) "mid" else "small"))
      .toDF("doc_id", "source")
    val a1 = Curation.temperatureMix(rows, "doc_id", "source", 1.0)
    assert(a1.count() == 300, "alpha=1 is the identity mix")
    val a05 = Curation.temperatureMix(rows, "doc_id", "source", 0.5)
    val by05 = a05.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by05("small") == 20, "smallest source keeps everything")
    // keep fractions order with size: big keeps a smaller share
    assert(by05("big").toDouble / 200 < by05("mid").toDouble / 80)
    // monotone in alpha: every row kept at 0.5 is kept at 0.8
    val a08 = Curation.temperatureMix(rows, "doc_id", "source", 0.8)
    val k05 = a05.select("doc_id").collect().map(_.getLong(0)).toSet
    val k08 = a08.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k05.subsetOf(k08), "raising alpha must only add rows back")
    // deterministic
    val again = Curation.temperatureMix(rows, "doc_id", "source", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == k05)
    // alpha=0 targets the uniform mix: expected n_min per source
    val a0 = Curation.temperatureMix(rows, "doc_id", "source", 0.0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a0("small") == 20)
    assert(math.abs(a0("big") - 20) <= 12 && math.abs(a0("mid") - 20) <= 12,
      s"alpha=0 should land near n_min per source: $a0")
    intercept[IllegalArgumentException] {
      Curation.temperatureMix(rows, "doc_id", "source", 1.5)
    }
  }

  test("uniMaxQuotas: waterfill caps small sources at maxEpochs, splits " +
      "the surplus equally, conserves the budget exactly") {
    val rows = (0 until 300).map(i =>
      (i.toLong, if (i < 200) "big" else if (i < 280) "mid" else "small"))
      .toDF("doc_id", "source")
    def quotas(b: Long, e: Int) =
      Curation.uniMaxQuotas(rows, "source", b, e).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("capacity"),
            r.getAs[Long]("quota"), r.getAs[Double]("epochs"))).toMap
    // capacities at 2 epochs: big 400, mid 160, small 40 (total 600).
    // budget 300: small capped? share asc [small 40, mid 160, big 400]:
    // share(1)=100 >= 40 -> capped; share(2)=(300-40)/2=130 < 160 ->
    // uncapped; R=260, u=2 -> 130 each
    val q = quotas(300L, 2)
    assert(q("small") == ((20L, 40L, 40L, 2.0)), s"$q")
    assert(q("mid")._3 == 130L && q("big")._3 == 130L, s"$q")
    assert(q.values.map(_._3).sum == 300L, "quotas must sum to the budget")
    assert(q.forall { case (_, (_, cap, quota, _)) => quota <= cap },
      "no source may exceed its epoch capacity")
    // odd remainder goes to the FIRST uncapped source in name order
    // ('big' < 'mid'): 261/2 -> big 131, mid 130
    val q1 = quotas(301L, 2)
    assert(q1("big")._3 == 131L && q1("mid")._3 == 130L, s"$q1")
    assert(q1.values.map(_._3).sum == 301L)
    // budget beyond total capacity: every source serves its capacity
    val qBig = quotas(10000L, 2)
    assert(qBig.forall { case (_, (_, cap, quota, _)) => quota == cap },
      s"$qBig")
    // epochs column: quota/n_docs at 6 dp
    assert(q("mid")._4 == math.rint(130.0 / 80 * 1e6) / 1e6)
    intercept[IllegalArgumentException] {
      Curation.uniMaxQuotas(rows, "source", -1L, 2)
    }
    intercept[IllegalArgumentException] {
      Curation.uniMaxQuotas(rows, "source", 10L, 0)
    }
  }

  test("uniMaxSample: per-source repeats sum exactly to the quota, " +
      "respect the epoch cap, and bump the smallest-md5 docs") {
    val rows = (0 until 300).map(i =>
      (i.toLong, if (i < 200) "big" else if (i < 280) "mid" else "small"))
      .toDF("doc_id", "source")
    // budget 300 @ 2 epochs: small capped at 40 (2.0 epochs), mid/big
    // 130 each (mid: base 1 rem 50; big: base 0 rem 130 — 70 big docs
    // drop entirely, exercising the n_repeats = 0 filter)
    val out = Curation.uniMaxSample(rows, "source", "doc_id", 300L, 2)
    val bySrc = out.groupBy("source")
      .agg(sum("n_repeats").as("served"), count(lit(1)).as("kept"),
        max("n_repeats").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bySrc("small") == ((40L, 20L, 2L)), s"$bySrc")
    assert(bySrc("mid") == ((130L, 80L, 2L)), s"$bySrc")
    assert(bySrc("big") == ((130L, 130L, 1L)), s"$bySrc")
    assert(out.agg(sum("n_repeats")).head().getLong(0) == 300L,
      "total served must equal the budget")
    // the bumped mid docs are exactly its 50 smallest-md5 ids
    val midBumped = out.where($"source" === "mid" && $"n_repeats" === 2L)
      .select("doc_id").as[Long].collect().toSet
    val engineRank = rows.where($"source" === "mid")
      .select($"doc_id", md5($"doc_id".cast("string")).as("k"))
      .orderBy("k", "doc_id").limit(50)
      .select("doc_id").as[Long].collect().toSet
    assert(midBumped == engineRank, "bumps must be the smallest-md5 set")
    // deterministic across runs
    val again = Curation.uniMaxSample(rows, "source", "doc_id", 300L, 2)
      .select("doc_id", "n_repeats").as[(Long, Long)].collect().toSet
    val first = out.select("doc_id", "n_repeats").as[(Long, Long)]
      .collect().toSet
    assert(again == first)
  }

  test("uniMaxSample: string ids keep the per-source sum invariant, " +
      "and empty input returns empty with the contract columns") {
    // non-Long-castable ids: the bump reattach joins on the md5 key,
    // so remainder bumps must still land (a cast-to-Long join would
    // null out and silently serve base*n_docs < quota)
    val rows = (0 until 30).map(i =>
      (s"doc-$i", if (i < 20) "big" else "small"))
      .toDF("doc_id", "source")
    // budget 25 @ 2 epochs: small (10 docs, cap 20) vs big (20 docs):
    // waterfill splits 12/13 with remainder bumps on both sides
    val out = Curation.uniMaxSample(rows, "source", "doc_id", 25L, 2)
    val bySrc = out.groupBy("source").agg(sum("n_repeats").as("served"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.sum == 25L, s"total must equal budget: $bySrc")
    val quotas = Curation.uniMaxQuotas(rows, "source", 25L, 2)
      .select("source", "quota").as[(String, Long)].collect().toMap
    assert(bySrc == quotas, s"per-source served must equal quota: " +
      s"$bySrc vs $quotas")
    // bumps are the smallest-md5 ids of each source (string form)
    val bigBumped = out.where($"source" === "big" && $"n_repeats" >
        quotas("big") / 20).select("doc_id").as[String].collect().toSet
    val engineRank = rows.where($"source" === "big")
      .select($"doc_id", md5($"doc_id").as("k"))
      .orderBy("k", "doc_id").limit((quotas("big") % 20).toInt)
      .select("doc_id").as[String].collect().toSet
    assert(bigBumped == engineRank)
    // empty input: no rows, schema carries n_repeats, no crash
    val empty = Curation.uniMaxSample(rows.where(lit(false)),
      "source", "doc_id", 25L, 2)
    assert(empty.columns.contains("n_repeats") && empty.count() == 0L)
  }

  test("uniMaxShards: epoch copies spread across shards, totals hold, " +
      "membership is deterministic") {
    val rows = (0 until 300).map(i =>
      (i.toLong, if (i < 200) "big" else if (i < 280) "mid" else "small"))
      .toDF("doc_id", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-unimax-shards").toString
    Curation.uniMaxShards(rows, "source", "doc_id",
      budget = 300L, maxEpochs = 2, nShards = 16, path = dir)
    val out = spark.read.parquet(dir)
    assert(out.count() == 300L, "one row per budgeted copy")
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("small" -> 40L, "mid" -> 130L, "big" -> 130L))
    // a doc's two epoch copies land in (generally) different shards:
    // with 16 shards at least one of small's 20 doubled docs must split
    val split = out.where($"source" === "small")
      .groupBy("doc_id").agg(countDistinct($"shard_id").as("ns"))
      .where($"ns" === 2).count()
    assert(split > 0, "epoch copies must be able to spread across shards")
    // deterministic: same write twice -> identical membership
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-unimax-shards2").toString
    Curation.uniMaxShards(rows, "source", "doc_id",
      budget = 300L, maxEpochs = 2, nShards = 16, path = dir2)
    val a = out.select("copy_key", "shard_id")
      .as[(String, Long)].collect().toSet
    val b = spark.read.parquet(dir2).select("copy_key", "shard_id")
      .as[(String, Long)].collect().toSet
    assert(a == b)
  }

  test("dsirWeights: exactHash (md5 oracle) mode preserves invariants " +
      "and gram counts match the fast kernel") {
    val docs = Seq(
      (1L, "stir the sauce and simmer the sauce gently", "t"),
      (2L, "chop the onions and stir the pan", "t"),
      (10L, "stir the sauce and chop the onions", "r"),
      (11L, "quantum flux entangles qubit lattices rapidly", "r")
    ).toDF("doc_id", "text", "side")
    val fast = Curation.dsirWeights(docs, "doc_id", "text",
        col("side") === "t", buckets = 256)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val exact = Curation.dsirWeights(docs, "doc_id", "text",
        col("side") === "t", buckets = 256, exactHash = true)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(fast.keySet == exact.keySet)
    fast.keySet.foreach(k => assert(fast(k)._2 == exact(k)._2,
      s"gram count differs for doc $k"))
    assert(exact(10L)._3 > exact(11L)._3)
    assert(exact(11L)._3 < 0)
  }

  test("dsirWeights: docs under two tokens drop out; params validate") {
    val docs = Seq((1L, "single", "t"), (2L, "two words", "r"))
      .toDF("doc_id", "text", "side")
    val out = Curation.dsirWeights(docs, "doc_id", "text",
      col("side") === "t", buckets = 64)
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    intercept[IllegalArgumentException] {
      Curation.dsirWeights(docs, "doc_id", "text", col("side") === "t",
        buckets = 1)
    }
    intercept[IllegalArgumentException] {
      Curation.dsirWeights(docs, "doc_id", "text", col("side") === "t",
        smoothing = 0.0)
    }
  }
}
