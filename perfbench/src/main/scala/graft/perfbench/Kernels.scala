package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{exprs, BigramPairs, CharHist64}
import graft.operators.TextAnalysis

/** Each public `graft.functions` kernel called alone over the corpus
  * input, cached and repeated to `rows` rows so the kernel, not the
  * scan, does most of the work. A kernel's time is the median of three runs of
  * `SELECT sum(hash(kernel(..)))`; `kernel.baseline_s` is the same
  * query over the raw text, the fixed cost inside every figure.
  */
object Kernels {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def run(spark: SparkSession, dir: String, rows: Int = 10000): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text"), TextAnalysis.tokens(col("text")).as("tok"))
      .repartition(cores).persist(StorageLevel.MEMORY_ONLY)
    val embs0 = spark.read.parquet(s"$dir/embeddings.parquet").select(col("embedding"))
      .repartition(cores).persist(StorageLevel.MEMORY_ONLY)
    // each cached row is repeated on the fly, so every repetition runs
    // the kernel again without holding `rows` rows in memory
    def replicate(df: DataFrame): DataFrame = {
      val copies = math.max(1L, rows / math.max(1L, df.count()))
      df.select(col("*"), explode(sequence(lit(1L), lit(copies))).as("copy"))
    }
    val docs = replicate(docs0)
    val embs = replicate(embs0)
    val merges = TextAnalysis.bpeTrain(docs0, "text", numMerges = 200)

    // a fresh DataFrame per run: re-collecting one would reuse its
    // executed plan and skip the finished shuffle map stage
    def time(query: () => DataFrame): Double = {
      val once = () => { val t = System.nanoTime(); query().collect(); (System.nanoTime() - t) / 1e9 }
      once()
      median(Seq.fill(3)(once()))
    }
    def over(df: DataFrame, k: => Column): Double =
      time(() => df.select(k.as("x")).agg(sum(hash(col("x")))))

    val out = Seq(
      "kernel.baseline_s" -> over(docs, col("text")),
      "kernel.dot_product_s" -> over(embs, expr("dot_product(embedding, embedding)")),
      "kernel.minhash_s" -> over(docs, expr("minhash_sig(tok)")),
      "kernel.simhash_s" -> over(docs, expr("simhash64(tok)")),
      "kernel.bigram_pairs_s" -> time(() => docs
        .select(exprs.toColumn(BigramPairs(exprs.toExpr(col("tok")))).as(Seq("w1", "w2")))
        .agg(sum(hash(col("w1"), col("w2"))))),
      "kernel.gopher_s" -> over(docs, expr("gopher_stats(text)")),
      "kernel.bpe_encode_s" -> over(docs, TextAnalysis.bpeEncode(col("text"), merges)),
      "kernel.lang_id_s" -> over(docs, TextAnalysis.langId(col("text"))),
      "kernel.char_hist_s" -> over(docs, exprs.toColumn(CharHist64(exprs.toExpr(col("text"))))))
    docs0.unpersist(); embs0.unpersist()
    out.toMap
  }
}
