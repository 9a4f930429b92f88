package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}
import graft.operators.Curation
import graft.tools.Measure.{loadavg, time, timed}

/** End-to-end curation-pipeline bench (VERDICT r6 item 4): runs
  * [[Curation.curationPipeline]] (quality → exact dedup → split →
  * decontaminate) through [[Curation.writeSharded]] as ONE job at the
  * given scale factor, prints the static plan census of every variant
  * (CurationPipelineSpec gates v1 and v2; the boilerplate and HTML
  * variants are gated here), and emits JSON artifact lines with the
  * cold (first) and warm (second) wall times, stage cardinalities, and
  * the pinned-protocol context (loadavg, cpus, UTC timestamp).
  *
  * Usage: PipelineBench <sfDir> <outDir>  (env SPARK_GRAFT_CPUS)
  */
object PipelineBench {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PipelineBench <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = GraftSession.cpus
    val spark = Measure.start(GraftSession.local("graft-pipeline-bench"))

    val docs = Tables.documents(spark, sfDir)
    val nShards = 64
    val pipeline = Curation.curationPipeline(docs, "doc_id", "text")

    // plan census of the composed job, counted AQE-off/broadcast-off
    // like PlanBudgetSpec so the static shape is what's measured. A
    // regression is a new shuffle or corpus re-scan that sf-small wall
    // time would never surface. The static census counts the BROADCAST-FREE worst-case shape
    // (threshold −1): size estimates grow with sf, so a broadcast that
    // fires at sf0.1 becomes a sort-merge at sf30 and a size-dependent
    // count would flag legitimate scale behavior as a regression (the
    // r9 sf30 lesson); broadcast-free counts are scale-invariant
    def staticSession() = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2
    }
    def census(tag: String, static: String): (Int, Int, Int) = {
      val lines = static.linesIterator
        .filterNot(_.contains("ReusedExchange")).toSeq
      val hash = lines.count(_.contains("Exchange hashpartitioning"))
      val scans = lines.count(_.contains("Scan parquet"))
      val bnl = lines.count(_.contains("BroadcastNestedLoopJoin"))
      println(s"[pipelinebench] $tag hash=$hash scans=$scans bnl=$bnl")
      (hash, scans, bnl)
    }
    def gate(tag: String, static: String, maxHash: Int, maxScans: Int,
             maxBnl: Int): Unit = {
      val (hash, scans, bnl) = census(tag, static)
      require(hash <= maxHash, s"$tag grew a hash exchange: $hash > $maxHash\n$static")
      require(scans <= maxScans, s"$tag re-scans the corpus: $scans > $maxScans\n$static")
      require(!static.contains("CartesianProduct"), s"$tag must not pair-join:\n$static")
      require(bnl <= maxBnl, s"$tag grew a nested-loop join: $bnl > $maxBnl\n$static")
    }
    census("v1", Curation.curationPipeline(
        Tables.documents(staticSession(), sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString)
    // the first run pays the cold costs (codegen, file listing), the
    // second shows the warm steady state
    def coldWarm(f: => Any): (Double, Double) = (time(f), time(f))

    val loadStart = loadavg
    val (wall, wallWarm) = coldWarm(
      Curation.writeSharded(pipeline, "doc_id", nShards, s"$outDir/shards"))

    // stage cardinalities (cheap: read back the written shards for the
    // output side; input-side counts are one aggregate each)
    val nDocs = docs.count()
    val out = spark.read.parquet(s"$outDir/shards")
    val nOut = out.count()
    val nShardsWritten = out.select("shard_id").distinct().count()
    val bySplit = out.groupBy("split").count().collect()
      .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted.mkString(",")

    val ts = java.time.Instant.now().toString
    println(s"""{"metric":"pipeline_sf_wall","value":$wall,"warm":$wallWarm,"unit":"sec",""" +
      s""""sf_dir":"$sfDir","n_docs_in":$nDocs,"n_docs_out":$nOut,""" +
      s""""n_shards":$nShardsWritten,"splits":{$bySplit},""" +
      s""""cpus":$cpus,"loadavg_start":"$loadStart","loadavg_end":"$loadavg",""" +
      s""""utc":"$ts"}""")

    // ---- pipeline v2 (round 8): + H16 gopher gate, K30 DSIR weight,
    // K32 classifier score, H17 BPE token count. Train-once artifacts
    // come from a bounded 10% hash sample (the production discipline:
    // the model/merges are versioned inputs), timed separately.
    import org.apache.spark.sql.functions._
    import graft.operators.{QualityClassifier, TextAnalysis}
    val ((model, merges), trainWall) = timed {
      val sample = Curation.hashSample(docs, "doc_id", 26)
      val medLen = sample.agg(expr("percentile(length(text), 0.5)"))
        .collect()(0).getDouble(0)
      (QualityClassifier.train(sample, "text",
        length(col("text")) > medLen, buckets = 4096, maxIter = 30),
        TextAnalysis.bpeTrain(sample, "text", numMerges = 200))
    }

    def v2(s: SparkSession) = Curation.curationPipelineV2(
      Tables.documents(s, sfDir), "doc_id", "text", model, merges,
      dsirTargetPred = col("lang") === "en", gopherMinStop = 0L)

    census("v2", v2(staticSession()).queryExecution.executedPlan.toString)

    val load2 = loadavg
    val (wall2, wall2Warm) = coldWarm(
      Curation.writeSharded(v2(spark), "doc_id", nShards, s"$outDir/shards_v2"))
    val out2 = spark.read.parquet(s"$outDir/shards_v2")
    val nOut2 = out2.count()
    val ts2 = java.time.Instant.now().toString
    println(s"""{"metric":"pipeline_v2_sf_wall","value":$wall2,"warm":$wall2Warm,"unit":"sec",""" +
      s""""train_wall":$trainWall,"sf_dir":"$sfDir",""" +
      s""""n_docs_in":$nDocs,"n_docs_out":$nOut2,""" +
      s""""cpus":$cpus,"loadavg_start":"$load2","loadavg_end":"$loadavg",""" +
      s""""utc":"$ts2"}""")

    // ---- pipeline v2 + F10 boilerplate stage 0 (round 9): the corpus
    // carries no newline structure, so synthesize it deterministically
    // (the q_dedup_lines recipe: two every-doc banners + a 1/8-band
    // shared line + the doc's own text), mine the frequent-line table
    // once (train-time — a versioned input like the model and merges,
    // written to disk and read back so the serving plan reads parquet),
    // then run the SAME v2 pipeline over the synthesized corpus twice —
    // without and with stage 0 — so the delta attributes the
    // boilerplate screen itself, not corpus differences.
    import graft.operators.Dedup
    def synth(s: SparkSession) = Tables.documents(s, sfDir)
      .withColumn("text", concat(
        lit("Subscribe to our newsletter\n"), col("text"),
        lit("\nshared line "), (col("doc_id") % 8).cast("string"),
        lit("\nCopyright 2026 Example Corp")))
    val mineWall = time(
      Dedup.frequentLines(synth(spark), "doc_id", "text", minDocs = 50)
        .write.mode("overwrite").parquet(s"$outDir/boilerplate_v1"))
    val mined = spark.read.parquet(s"$outDir/boilerplate_v1")
    val nMined = mined.count()

    def v2b(s: SparkSession, stage0: Boolean) = Curation.curationPipelineV2(
      synth(s), "doc_id", "text", model, merges,
      dsirTargetPred = col("lang") === "en", gopherMinStop = 0L,
      boilerplate = if (stage0) Some(s.read.parquet(s"$outDir/boilerplate_v1"))
                    else None)

    // plan-budget gate on the stage-0 variant: stage 0 may add only
    // its own bounded shape — the line-df anti join is broadcast (the
    // mined table is small by construction), the rebuild agg and the
    // id-keyed reattach are the two extra key-local shuffles
    gate("v2-stage0",
      v2b(staticSession(), stage0 = true).queryExecution.executedPlan.toString,
      maxHash = 10, maxScans = 4, maxBnl = 0)

    val load3 = loadavg
    val wallPlain = time(Curation.writeSharded(v2b(spark, stage0 = false),
      "doc_id", nShards, s"$outDir/shards_v2_plain"))
    val nOutPlain = spark.read.parquet(s"$outDir/shards_v2_plain").count()
    val wallStage0 = time(Curation.writeSharded(v2b(spark, stage0 = true),
      "doc_id", nShards, s"$outDir/shards_v2_stage0"))
    val nOutStage0 = spark.read.parquet(s"$outDir/shards_v2_stage0").count()
    // screen attribution: what stage 0 actually removed, measured once
    // off the screen's own output (cheap aggregate, not in the walls)
    val att = Dedup.dropListedLines(synth(spark), "doc_id", "text", mined)
      .agg(sum(col("n_lines") - col("n_kept")).cast("long"),
        sum(col("n_lines")).cast("long"))
      .collect()(0)
    val ts3 = java.time.Instant.now().toString
    println(s"""{"metric":"pipeline_v2_boilerplate","unit":"sec",""" +
      s""""mine_wall":$mineWall,"wall_plain":$wallPlain,""" +
      s""""wall_stage0":$wallStage0,"sf_dir":"$sfDir",""" +
      s""""n_docs_in":$nDocs,"n_frequent_lines":$nMined,""" +
      s""""lines_dropped":${att.getLong(0)},"lines_total":${att.getLong(1)},""" +
      s""""n_out_plain":$nOutPlain,"n_out_stage0":$nOutStage0,""" +
      s""""cpus":$cpus,"loadavg_start":"$load3","loadavg_end":"$loadavg",""" +
      s""""utc":"$ts3"}""")

    // ---- pipeline v2 + H19 stage -1 (round 13): the corpus arrives
    // as raw CRAWL HTML — a nav <ul> whose <li> items only become F10
    // lines after extraction, tag soup around every paragraph — and
    // the FULL chain (htmlToText → stage 0 line dedup → the v2
    // battery) runs as ONE plan. The frequent-line table is mined over
    // EXTRACTED text (train/serve split, like the model and merges).
    def synthHtml(s: SparkSession) = Tables.documents(s, sfDir)
      .withColumn("text", concat(
        lit("<ul><li>Subscribe to our newsletter</li>" +
          "<li>Copyright 2026 Example Corp</li></ul><p>"),
        col("text"),
        lit("</p><div>shared footer "), (col("doc_id") % 8).cast("string"),
        lit("</div>")))
    val mineWallH = time(Dedup.frequentLines(
        synthHtml(spark).withColumn("text",
          TextAnalysis.htmlToText(col("text"))),
        "doc_id", "text", minDocs = 50)
      .write.mode("overwrite").parquet(s"$outDir/boilerplate_html"))
    val nMinedH = spark.read.parquet(s"$outDir/boilerplate_html").count()

    def v2h(s: SparkSession) = Curation.curationPipelineV2(
      synthHtml(s), "doc_id", "text", model, merges,
      dsirTargetPred = col("lang") === "en", gopherMinStop = 0L,
      boilerplate = Some(s.read.parquet(s"$outDir/boilerplate_html")),
      htmlInput = true)

    // plan budget: stage -1 is one narrow codegen'd map — the chain
    // must hold the v2-stage0 ceilings EXACTLY (no new exchange, no
    // new scan; r13)
    gate("v2-html",
      v2h(staticSession()).queryExecution.executedPlan.toString,
      maxHash = 10, maxScans = 4, maxBnl = 0)

    val load4 = loadavg
    val wallHtml = time(Curation.writeSharded(v2h(spark), "doc_id", nShards,
      s"$outDir/shards_v2_html"))
    val nOutHtml = spark.read.parquet(s"$outDir/shards_v2_html").count()
    val ts4 = java.time.Instant.now().toString
    println(s"""{"metric":"pipeline_v2_html","unit":"sec",""" +
      s""""mine_wall":$mineWallH,"wall_html_chain":$wallHtml,""" +
      s""""wall_stage0_ref":$wallStage0,"sf_dir":"$sfDir",""" +
      s""""n_docs_in":$nDocs,"n_frequent_lines":$nMinedH,""" +
      s""""n_out_html":$nOutHtml,""" +
      s""""cpus":$cpus,"loadavg_start":"$load4","loadavg_end":"$loadavg",""" +
      s""""utc":"$ts4"}""")
    spark.stop()
  }
}
