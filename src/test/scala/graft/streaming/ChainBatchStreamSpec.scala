package graft.streaming

import graft.SparkSpec
import graft.operators.{AnnIndex, Curation, Dedup, DedupIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** One document set through the batch curation chain's screens
  * (boilerplate → gate → eval-span scrub) and through one
  * [[IngestPipeline]] micro-batch with the same gate, mined table and
  * eval table: both keep the same docs with the same text.
  */
class ChainBatchStreamSpec extends SparkSpec {
  import sqlImplicits._

  private val nav = "home about contact subscribe login register sitemap"
  private val leak = "the benchmark answer is forty two exactly as printed right here"
  private val c1 = "the quick brown fox jumps over the lazy dog and naps in the warm sun"
  private val c2 = "novel streaming document number four carries enough ordinary words to pass the gate"

  // (doc_id, text): ordinary docs, a doc that clears the 5-word gate
  // only on its nav padding (its 3 words carry the stopwords), NULL, empty, whitespace-only,
  // all-boilerplate, pure-leak, and content carrying a leak
  private val docs: Seq[(Long, String)] = Seq(
    10L -> s"$nav\n$c1",
    11L -> c2,
    12L -> s"$nav\nand the rest",
    13L -> null,
    14L -> "",
    15L -> "   ",
    16L -> nav,
    17L -> leak,
    18L -> s"$c2 $leak")

  private def vec(seed: Long): Array[Float] =
    Array.tabulate(8)(i => math.sin(seed * 17 + i * 3).toFloat)

  private val gopher = Curation.gopherGate("text", minWords = 5L, minStop = 1L)
  private val passAll: DataFrame => DataFrame = identity

  /** The survivors of one micro-batch, read back from the clean sink.
    * The near-dup threshold lies above 1, so the dedup screen drops
    * nothing and the sink holds exactly the screens' survivors.
    */
  private def streamed(root: String, gate: DataFrame => DataFrame,
                       minedDir: String, evalDir: String): Map[Long, String] = {
    implicit val sqlCtx = spark.sqlContext
    val (dedupDir, annDir, outDir) = (s"$root/dedup", s"$root/ann", s"$root/out")
    DedupIndex.write(Seq((1L, "an unrelated seed document about river barges"))
        .toDF("doc_id", "text"), "doc_id", "text", dedupDir, numPerm = 64,
      bands = 16, nBuckets = 64, nSigBuckets = 16, filesPerBucket = 1)
    AnnIndex.write(Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding"),
      annDir, dim = 8, nCells = 2, stride = 1, m = 2, ncodes = 2)
    val input = MemoryStream[(Long, String, Array[Float])]
    val q = IngestPipeline.start(input.toDF().toDF("doc_id", "text", "embedding"),
      "doc_id", "text", gate, dedupDir, annDir, outDir, threshold = 1.01,
      checkpointDir = s"$root/ckpt", frequentLinesDir = Some(minedDir),
      evalScrubDir = Some(evalDir))
    try {
      input.addData(docs.map { case (id, t) => (id, t, vec(id)) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(outDir).select("doc_id", "text").as[(Long, String)]
      .collect().toMap
  }

  test("batch chain screens == one ingest micro-batch: same survivors, " +
      "same text, boilerplate before the gate, NULL text as empty text") {
    val root = java.nio.file.Files.createTempDirectory("graft-chain-stream")
    val (minedDir, evalDir) = (s"$root/mined", s"$root/eval")
    Dedup.frequentLines(Seq(
        (900L, s"$nav\npilot content first row"),
        (901L, s"$nav\nanother pilot body"),
        (902L, "third pilot body text")).toDF("doc_id", "text"),
      "doc_id", "text", minDocs = 2)
      .write.parquet(minedDir)
    Seq((800L, leak)).toDF("doc_id", "text").write.parquet(evalDir)

    for ((name, gate) <- Seq("gopher" -> gopher, "pass-all" -> passAll)) {
      val batch = Curation.Chain("text", "doc_id",
          boilerplate = Some(spark.read.parquet(minedDir)), gate = Some(gate),
          evalScrub = Some(spark.read.parquet(evalDir)))(
          docs.toDF("doc_id", "text"))
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      val stream = streamed(s"$root/$name", gate, minedDir, evalDir)
      assert(stream == batch, s"$name gate: stream $stream != batch $batch")

      assert(batch(10L) == c1 && batch(18L) == c2,
        s"$name: boilerplate and the leaked span are stripped")
      assert(!batch.contains(16L) && !batch.contains(17L),
        s"$name: the all-boilerplate and pure-leak docs drop")
      if (name == "gopher")
        assert(batch.keySet == Set(10L, 11L, 18L),
          "the padding-dependent doc fails the gate once its nav line is gone")
      else {
        assert(batch(12L) == "and the rest")
        assert(batch.get(13L).contains(""), "a NULL-text doc flows through as ''")
        assert(batch.get(14L).contains("") && batch.contains(15L),
          "empty and whitespace-only docs pass the screens")
      }
    }
  }
}
