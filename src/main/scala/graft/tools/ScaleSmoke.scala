package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.{Curation, Dedup}
import graft.tools.Measure.timed

/** Scaling smoke for the pipeline operators: replicate the documents
  * corpus N× (each copy's tokens suffixed with the copy index, so
  * copies are NOT near-duplicates of each other and the dedup search
  * space grows honestly with N), then time the operators whose 100 TB
  * behavior matters most. Near-linear wall-time growth here is the
  * empirical check that nothing in the pipeline is quadratic in the
  * corpus — the same property the plan-shape specs assert
  * structurally (SURVEY §4/§6).
  *
  * Usage: ScaleSmoke <sfDir> <mult1,mult2,...>
  * Prints one JSON line per multiplier.
  */
object ScaleSmoke {

  private def replicated(spark: SparkSession, d: String, mult: Int): DataFrame = {
    require(mult >= 1, s"multiplier must be >= 1: $mult")
    val base = Tables.documents(spark, d).select("doc_id", "text", "source")
    // offset copies by max(doc_id)+1, not the row count: sparse or
    // non-zero-based ids would otherwise collide across copies and
    // silently shrink the dedup search space
    val span = base.agg(max(col("doc_id").cast("long"))).head.getLong(0) + 1L
    val copies = (0 until mult).map { k =>
      base.select(
        (col("doc_id") + lit(k * span)).as("doc_id"),
        // suffix every token with the copy index: all shingles become
        // copy-local, so cross-copy pairs never collide in LSH buckets
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_$k")))).as("text"),
        col("source"))
    }
    copies.reduce(_ union _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mults = (if (args.length > 1) args(1) else "1,4").split(",").map(_.trim.toInt)
    val spark = Measure.start(GraftSession.local("graft-scale-smoke"))
    mults.foreach { m =>
      val docs = replicated(spark, sfDir, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count() // materialize the input outside the timings
      val (nExact, tExact) = timed(
        Dedup.dropExactDuplicates(docs, "doc_id", "text").count())
      val (nLsh, tLsh) = timed(
        Dedup.ngramJaccardViaLsh(docs, "doc_id", "text", 0.5).count())
      val (nContam, tContam) = timed(
        Curation.contamination(docs, "doc_id", "text", col("doc_id") % 31 === 0).count())
      val (nSample, tSample) = timed(
        Curation.hashSample(docs, "doc_id", 26).count())
      val (nOverlap, tOverlap) = timed(
        Curation.sourceOverlap(docs, "source", "text").count())
      val (nDrift, tDrift) = timed(
        Curation.sourceDrift(docs, "source", "text").count())
      val (nShard, tShard) = timed(
        Curation.shardPlan(docs, "doc_id", 64, length(col("text"))).count())
      // round-7 additions: the deflate kernel (pure map — must scale
      // exactly with bytes), the corpus-LM scorer (train+score), and
      // the skew-capped gram stats path
      val (nCompress, tCompress) = timed(
        docs.select(graft.operators.TextAnalysis.compressionRatio(col("text"))
            .as("r"))
          .where(col("r").isNotNull).count())
      val (nPerplex, tPerplex) = timed(
        graft.operators.TextAnalysis.bigramDocScore(docs, "doc_id", "text")
          .count())
      val (nNovelty, tNovelty) = timed(
        Curation.noveltyShare(docs, "doc_id", "text", hotCap = 1000).count())
      docs.unpersist()
      println(
        f"""{"mult":$m,"n_docs":$nDocs,"exact_dedup_s":$tExact%.2f,"lsh_pairs_s":$tLsh%.2f,"contamination_s":$tContam%.2f,"hash_sample_s":$tSample%.2f,"source_overlap_s":$tOverlap%.2f,"source_drift_s":$tDrift%.2f,"shard_plan_s":$tShard%.2f,"compress_ratio_s":$tCompress%.2f,"bigram_nll_s":$tPerplex%.2f,"novelty_capped_s":$tNovelty%.2f,"rows":{"exact":$nExact,"lsh":$nLsh,"contam":$nContam,"sample":$nSample,"overlap":$nOverlap,"drift":$nDrift,"shard":$nShard,"compress":$nCompress,"perplex":$nPerplex,"novelty":$nNovelty}}""")
    }
    spark.stop()
  }
}
