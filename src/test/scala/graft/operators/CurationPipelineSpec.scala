package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The composed end-to-end curation pipeline (quality → dedup →
  * split → decontaminate → sharded write): stage semantics on real
  * corpus data, plus the invariants PipelineBench pins at sf1.
  */
class CurationPipelineSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val out = Curation.curationPipeline(docs, "doc_id", "text")
    .persist()

  test("every surviving doc passes the quality gate") {
    val n = out.where(
      round(TextAnalysis.qualityScore($"text"), 6) < 0.5).count()
    assert(n == 0)
  }

  test("no two surviving docs share identical text (dedup kept first)") {
    val dup = out.groupBy(md5($"text")).count().where($"count" > 1).count()
    assert(dup == 0)
    // keep-first: for every surviving doc there is no smaller-id doc
    // with the same text that also passed quality
    val q = docs.where(round(TextAnalysis.qualityScore($"text"), 6) >= 0.5)
      .select($"doc_id", md5($"text").as("h"))
    val firsts = q.groupBy("h").agg(min("doc_id").as("first_id"))
    val nonFirst = out.select($"doc_id", md5($"text").as("h"))
      .join(firsts, "h").where($"doc_id" =!= $"first_id").count()
    assert(nonFirst == 0)
  }

  test("no train/val survivor shares a 5-gram with any test survivor") {
    val grams = out.select($"doc_id", $"split",
      explode(Dedup.shingles($"text", 5)).as("gram"))
    val evalGrams = grams.where($"split" === "test").select("gram").distinct()
    val leaked = grams.where($"split" =!= "test")
      .join(evalGrams, "gram").count()
    assert(leaked == 0, s"$leaked contaminated grams survived")
  }

  test("test docs are never dropped by decontamination") {
    val q = docs.where(round(TextAnalysis.qualityScore($"text"), 6) >= 0.5)
      .select($"doc_id", md5($"text").as("h"))
    val firsts = q.groupBy("h").agg(min("doc_id").as("doc_id"))
    val expectedTest = q.join(firsts.select("doc_id"), "doc_id")
      .where(Curation.splitAssign($"doc_id") === "test").count()
    assert(out.where($"split" === "test").count() == expectedTest)
  }

  test("pipeline v2 composes the round-8 stack with bounded plan shape") {
    val model = QualityClassifier.train(docs, "text",
      length($"text") > 250, buckets = 512, maxIter = 10)
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 50)
    def v2 = Curation.curationPipelineV2(docs, "doc_id", "text", model,
      merges, dsirTargetPred = $"lang" === "en", gopherMinWords = 5L,
      gopherMinStop = 0L)

    // static plan gate, the PipelineBench discipline: no cartesian,
    // at most the ONE sanctioned nested-loop (DSIR's 1-row totals)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val static = Curation.curationPipelineV2(Tables.documents(s2, sfDir),
      "doc_id", "text", model, merges, dsirTargetPred = col("lang") === "en",
      gopherMinWords = 5L, gopherMinStop = 0L)
      .queryExecution.executedPlan.toString
    val lines = static.linesIterator
      .filterNot(_.contains("ReusedExchange")).toSeq
    assert(!static.contains("CartesianProduct"))
    assert(lines.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"only DSIR's 1-row totals may nested-loop:\n$static")
    assert(lines.count(_.contains("Exchange hashpartitioning")) <= 13,
      s"v2 grew a shuffle:\n$static")

    val rows = v2.persist()
    try {
      // v2 output is a subset of v1 (extra gopher gate only removes)
      val v1Ids = out.select("doc_id")
      assert(rows.join(v1Ids, Seq("doc_id"), "left_anti").count() == 0)
      // every enrichment column is present and well-formed
      val bad = rows.where($"quality_prob".isNull ||
        $"quality_prob" < 0 || $"quality_prob" > 1 ||
        $"log_weight".isNull ||
        $"n_bpe_tokens".isNull || $"n_bpe_tokens" < 1).count()
      assert(bad == 0, "quality_prob/log_weight/n_bpe_tokens malformed")
      // BPE token count is bounded below by the word count
      val w = filter(TextAnalysis.tokens($"text"), t => t =!= "")
      assert(rows.where($"n_bpe_tokens" < size(w)).count() == 0)
      assert(rows.count() > 0, "v2 must keep documents at gate scale")
    } finally rows.unpersist()
  }

  test("pipeline v2 boilerplate stage runs before the filters and " +
      "preserves doc columns") {
    // nav line in every doc; doc 60 clears the 5-word gopher gate ONLY
    // because of the padding (content = 3 words); doc 61 is pure
    // boilerplate. With the mined table in, 60 and 61 must drop and
    // survivors carry cleaned text + their other columns.
    val nav = "home about contact subscribe login register sitemap"
    val body = "the cat sat on the mat and then walked to the door again"
    val planted = (0L until 60L).map(i => (i, s"$nav\n$body number $i", "en")) ++
      Seq((60L, s"$nav\nonly three words", "en"), (61L, nav, "en"))
    val pdocs = planted.toDF("doc_id", "text", "lang")
    val model = QualityClassifier.train(pdocs, "text",
      length($"text") > 40, buckets = 128, maxIter = 5)
    val merges = TextAnalysis.bpeTrain(pdocs, "text", numMerges = 20)
    val mined = Dedup.frequentLines(pdocs, "doc_id", "text", minDocs = 30)
    assert(mined.count() == 1, "exactly the nav line is corpus-frequent")
    val out = Curation.curationPipelineV2(pdocs, "doc_id", "text", model,
      merges, dsirTargetPred = $"lang" === "en", minQuality = 0.0,
      gopherMinWords = 5L, gopherMinStop = 1L, boilerplate = Some(mined))
      .persist()
    try {
      val ids = out.select("doc_id").as[Long].collect().toSet
      assert(!ids.contains(60L),
        "padding-dependent doc must fail the gate once boilerplate is gone")
      assert(!ids.contains(61L), "all-boilerplate doc must vanish")
      assert(ids.nonEmpty)
      // survivors: nav line gone, content intact, lang column preserved
      val bad = out.where($"text".contains(nav) ||
        !$"text".contains("the cat sat") || $"lang" =!= "en").count()
      assert(bad == 0, "cleaned text and carried columns malformed")
    } finally out.unpersist()
  }

  test("pipeline v2 stage -1: raw HTML is extracted before every " +
      "screen, so a nav LIST drops via F10 after extraction (r13)") {
    // the crawl shape: a <ul> nav whose <li> items only become LINES
    // once htmlToText turns block tags into newlines — F10 over the
    // raw HTML sees no line structure at all. Doc 60 clears the 5-word
    // gopher gate ONLY via nav padding; doc 61 is pure nav.
    val nav = "<ul><li>Home</li><li>About Us</li>" +
      "<li>Contact &amp; Help</li></ul>"
    def body(i: Long) = s"<p>the cat sat on the mat and it ate fish " +
      s"&amp; chips by the door number $i</p>"
    val planted = (0L until 60L).map(i => (i, s"$nav${body(i)}", "en")) ++
      Seq((60L, s"$nav<p>only three words</p>", "en"), (61L, nav, "en"))
    val pdocs = planted.toDF("doc_id", "text", "lang")
    // train-time artifacts over EXTRACTED text — the same train/serve
    // discipline as the model and merges
    val extracted = pdocs.withColumn("text",
      TextAnalysis.htmlToText($"text"))
    val model = QualityClassifier.train(extracted, "text",
      length($"text") > 40, buckets = 128, maxIter = 5)
    val merges = TextAnalysis.bpeTrain(extracted, "text", numMerges = 20)
    val mined = Dedup.frequentLines(extracted, "doc_id", "text",
      minDocs = 30).persist()
    try {
      // exactly the three nav <li> lines are corpus-frequent — and the
      // entity decoded, so the mined hash is of "Contact & Help"
      assert(mined.count() == 3, "the three nav list items mine as lines")
      def run(html: Boolean) = Curation.curationPipelineV2(pdocs,
        "doc_id", "text", model, merges,
        dsirTargetPred = $"lang" === "en", minQuality = 0.0,
        gopherMinWords = 5L, gopherMinStop = 1L,
        boilerplate = Some(mined), htmlInput = html)
      val out = run(html = true).persist()
      try {
        val ids = out.select("doc_id").as[Long].collect().toSet
        assert(!ids.contains(60L),
          "nav-padding-dependent doc must fail the gate after stage -1+0")
        assert(!ids.contains(61L), "pure-nav doc must vanish")
        assert(ids.nonEmpty)
        // survivors: no tags, no nav lines, entity decoded, body intact
        val bad = out.where($"text".contains("<") ||
          $"text".contains("Home") || $"text".contains("About Us") ||
          !$"text".contains("fish & chips") ||
          !$"text".contains("the cat sat") || $"lang" =!= "en").count()
        assert(bad == 0, "extracted survivor text malformed")
      } finally out.unpersist()
      // stage -1 is one narrow map: the plan gains ZERO exchanges and
      // ZERO scans over the html-free stage-0 plan (PipelineBench's
      // budget discipline, asserted here at spec scale — same-session
      // comparison, so AQE wrapping cancels out)
      def counts(html: Boolean) = {
        val p = run(html).queryExecution.executedPlan.toString
        val lines = p.linesIterator
          .filterNot(_.contains("ReusedExchange")).toSeq
        (lines.count(_.contains("Exchange hashpartitioning")),
          lines.count(_.contains("Scan ")))
      }
      assert(counts(html = true) == counts(html = false),
        "stage -1 must add no exchange and no scan")
    } finally mined.unpersist()
  }

  test("pipeline v2 K37 leg: eval spans excised before every " +
      "content-derived stage, pure-leak docs drop (r15)") {
    // per-doc UNIQUE vocabulary so the pipeline's own 5-gram test-split
    // decontamination never fires — isolating the external-eval scrub
    def uniq(i: Long) = (0 until 14).map(j => s"tok${i}x$j").mkString(" ")
    // two DISTINCT eval sentences so docs 30/31 share no grams with
    // each other (or any corpus doc) — the internal test-split
    // decontamination stays a no-op whatever splitAssign dealt them
    val leakA =
      "the secret benchmark answer is forty two as printed right here"
    val leakB =
      "another benchmark item states nine hundred answers exactly as shown today"
    val c30 = uniq(30L)
    val planted = (0L until 20L).map(i => (i, uniq(i), "en")) ++
      Seq((30L, s"$c30 $leakA", "en"), // content + leaked eval sentence
        (31L, leakB, "en"))            // pure leak
    val pdocs = planted.toDF("doc_id", "text", "lang")
    val evalTab = Seq((900L, leakA), (901L, leakB)).toDF("doc_id", "text")
    val model = QualityClassifier.train(pdocs, "text",
      length($"text") > 40, buckets = 128, maxIter = 5)
    val merges = TextAnalysis.bpeTrain(pdocs, "text", numMerges = 20)
    def run(scrub: Option[org.apache.spark.sql.DataFrame]) =
      Curation.curationPipelineV2(pdocs, "doc_id", "text", model, merges,
        dsirTargetPred = $"lang" === "en", minQuality = 0.0,
        gopherMinWords = 5L, gopherMinStop = 0L, evalScrub = scrub)
    // without the leg both leak carriers survive with the leak intact
    val off = run(None).persist()
    val on = run(Some(evalTab)).persist()
    try {
      val offTexts = off.select("doc_id", "text")
        .as[(Long, String)].collect().toMap
      assert(offTexts.contains(31L) && offTexts(30L).contains("benchmark"),
        "fixture: without the leg the leak must survive the pipeline")
      val onTexts = on.select("doc_id", "text")
        .as[(Long, String)].collect().toMap
      assert(!onTexts.contains(31L), "pure-leak doc must drop")
      assert(onTexts(30L) == c30,
        s"leaked span must be excised exactly: '${onTexts(30L)}'")
      assert(onTexts.keySet == offTexts.keySet - 31L,
        "the scrub leg must change nothing else about membership")
      // enrichment columns are computed on the SCRUBBED text
      val w = filter(TextAnalysis.tokens($"text"), t => t =!= "")
      assert(on.where($"n_bpe_tokens" < size(w)).count() == 0)
      assert(on.where($"quality_prob".isNull || $"log_weight".isNull)
        .count() == 0)
      // composed plan budget (same-session comparison, so AQE wrapping
      // cancels): the STATIC view multiplies the scrub subtree across
      // the pipeline's downstream consumers (dedup/split/gram branches
      // each re-reference the scrubbed input — the same static-view
      // duplication the F10 stage-0 leg and q_dedup_simhash's budget
      // row document; production materializes a scrubbed corpus once
      // when consumers would re-execute it, the versioned-input
      // discipline). Ceiling pinned at today's count — a failure means
      // the leg grew a NEW shuffle per consumer. Never a cartesian.
      def planOf(scrub: Option[org.apache.spark.sql.DataFrame]) =
        run(scrub).queryExecution.executedPlan.toString
      def hashEx(p: String) = p.linesIterator
        .filterNot(_.contains("ReusedExchange"))
        .count(_.contains("Exchange hashpartitioning"))
      val pOn = planOf(Some(evalTab))
      assert(!pOn.contains("CartesianProduct"))
      assert(hashEx(pOn) - hashEx(planOf(None)) <= 17,
        s"scrub leg grew more than its static-view exchanges:\n$pOn")
    } finally { off.unpersist(); on.unpersist() }
  }

  test("v1 and v2 hold the broadcast-free static plan gates") {
    // the composed jobs' static gates: AQE off and broadcast off, so
    // the counts are the scale-invariant worst-case shape (size
    // estimates grow with sf, and a broadcast that fires here becomes
    // a sort-merge at scale). Ceilings at today's counts: v1 scans the
    // corpus ONCE, since the chain's dedup aggregate carries the kept
    // row and nothing joins back.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the CacheManager is shared across sessions: `out` (v1's very
    // plan) would replace v1 by its cached, broadcast-planned tree
    s2.catalog.clearCache()
    val sdocs = Tables.documents(s2, sfDir)
    val model = QualityClassifier.train(docs, "text",
      length($"text") > 250, buckets = 512, maxIter = 10)
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 50)
    // (hash exchanges, parquet scans, nested-loop joins)
    def census(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      val lines = plan.linesIterator
        .filterNot(_.contains("ReusedExchange")).toSeq
      (lines.count(_.contains("Exchange hashpartitioning")),
        lines.count(_.contains("Scan parquet")),
        lines.count(_.contains("BroadcastNestedLoopJoin")))
    }
    def within(got: (Int, Int, Int), max: (Int, Int, Int)) =
      got._1 <= max._1 && got._2 <= max._2 && got._3 <= max._3
    val v1 = census(Curation.curationPipeline(sdocs, "doc_id", "text"))
    assert(within(v1, (5, 1, 0)), s"v1 census $v1")
    val v2 = census(Curation.curationPipelineV2(sdocs, "doc_id", "text",
      model, merges, dsirTargetPred = col("lang") === "en",
      gopherMinStop = 0L))
    assert(within(v2, (6, 2, 0)), s"v2 census $v2")
  }

  test("sharded write is complete, disjoint, and deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe-shards").toString
    Curation.writeSharded(out, "doc_id", 16, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == out.count())
    assert(back.select("doc_id").distinct().count() == out.count())
    // membership is a pure function of the id
    val m1 = back.select($"doc_id", $"shard_id".cast("long")).as[(Long, Long)]
      .collect().toMap
    val m2 = out.select($"doc_id",
        Curation.shardAssign($"doc_id", 16).as("s")).as[(Long, Long)]
      .collect().toMap
    assert(m1 == m2)
  }
}
