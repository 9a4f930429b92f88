package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables, TempDirs}
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.tools.Measure.{r3, time}

/** Exact-dedup shape A/B: the unique-id semi join against the one-pass
  * min(struct(id, ...)) aggregate, on the static plan census (AQE off,
  * broadcast off) of v1 and q_curation_pipeline, and on wall time over a
  * one-hot-key input.
  *
  * Usage: DedupShapeAB <sfDir> <nRows> <reps>
  */
object DedupShapeAB {

  def semi(df: DataFrame, id: String, text: String): DataFrame =
    Dedup.dropExactDuplicates(df, id, text)

  def onePass(df: DataFrame, id: String, text: String): DataFrame = {
    val cols = df.columns.toSeq
    val rest = cols.filterNot(_ == id)
    df.groupBy(md5(col(text)).as("__h"))
      .agg(min(struct((id +: rest).map(col): _*)).as("__r"))
      .select(cols.map(c => col("__r").getField(c).as(c)): _*)
  }

  def v1(docs: DataFrame, dedup: (DataFrame, String, String) => DataFrame)
      : DataFrame = {
    val q = docs.where(
      round(TextAnalysis.qualityScore(col("text")), 6) >= 0.5)
    val withSplit = dedup(q, "doc_id", "text")
      .withColumn("split", Curation.splitAssign(col("doc_id")))
    val grams = withSplit.select(col("doc_id"),
      (col("split") === "test").as("is_eval"),
      explode(Dedup.shingles(col("text"), 5)).as("gram"))
    val evalGrams = grams.where(col("is_eval")).select("gram").distinct()
    val contaminated = grams.where(!col("is_eval"))
      .join(evalGrams, "gram").select("doc_id").distinct()
    withSplit.join(contaminated, Seq("doc_id"), "left_anti")
  }

  def qcp(docs: DataFrame, dedup: (DataFrame, String, String) => DataFrame)
      : DataFrame = {
    val filtered = docs.where(
      round(TextAnalysis.qualityScore(col("text")), 6) >= 0.5)
      .select(col("doc_id"), md5(col("text")).as("text"), col("lang"),
        col("n_chars"))
    dedup(filtered, "doc_id", "text")
      .where(Curation.sampleKey(col("doc_id")) < "80")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  def census(df: DataFrame): String = {
    val lines = df.queryExecution.executedPlan.toString.linesIterator
      .filterNot(_.contains("ReusedExchange")).toSeq
    def n(s: String) = lines.count(_.contains(s))
    s"""{"hash":${n("Exchange hashpartitioning")},"scans":${n("Scan ")},""" +
      s""""bnlj":${n("BroadcastNestedLoopJoin")},"smj":${n("SortMergeJoin")},""" +
      s""""sort_agg":${n("SortAggregate")},"sort":${n("Sort [")}}"""
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, nRowsS, repsS) = args
    val spark = Measure.start(GraftSession.local("graft-dedup-shape-ab"))
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    static.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shapes = Seq("semi" -> semi _, "one_pass" -> onePass _)
    for ((name, f) <- shapes) {
      val d = Tables.documents(static, sfDir)
      println(s"""{"census":"v1","shape":"$name","counts":${census(v1(d, f))}}""")
      println(s"""{"census":"q_curation_pipeline","shape":"$name",""" +
        s""""counts":${census(qcp(d, f))}}""")
    }
    // one-hot-key input: 90% of rows share ONE body, spread over every
    // partition; the rest are unique. Bodies are corpus-sized text.
    val nRows = nRowsS.toLong
    val parts = spark.sparkContext.defaultParallelism
    val body = Tables.documents(spark, sfDir).select("text").limit(1)
      .collect()(0).getString(0)
    val dir = TempDirs.tempDir("graft-dedup-ab").toString
    spark.range(0, nRows, 1, parts)
      .select(col("id").as("doc_id"),
        when(col("id") % 10 =!= 0, lit(body))
          .otherwise(concat(lit(body), col("id").cast("string"))).as("text"),
        lit("en").as("lang"))
      .write.mode("overwrite").parquet(dir)
    val hot = spark.read.parquet(dir)
    val expect = 1 + nRows / 10
    for ((name, f) <- shapes) {
      val walls = (1 to repsS.toInt).map { _ =>
        // the noop sink materializes every output column (a count()
        // would let column pruning drop the one-pass struct payload)
        r3(time(f(hot, "doc_id", "text").write.format("noop")
          .mode("overwrite").save()))
      }
      val n = f(hot, "doc_id", "text").count()
      require(n == expect, s"$name kept $n, expected $expect")
      val minId = f(hot, "doc_id", "text").agg(min("doc_id")).collect()(0)
        .getLong(0)
      println(s"""{"one_hot":"$name","rows":$nRows,"partitions":$parts,""" +
        s""""walls_s":[${walls.mkString(",")}],"min_id":$minId,""" +
        s""""census":${census(f(hot.sparkSession.newSession().read.parquet(dir), "doc_id", "text"))}}""")
    }
    spark.stop()
  }
}
