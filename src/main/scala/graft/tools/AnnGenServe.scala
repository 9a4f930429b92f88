package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.TempDirs.tempDir
import graft.operators.{AnnIndex, Similarity}
import graft.tools.Measure.{dropPageCache, median, r3, time, timed, times}

/** The 10^8 ANN serving point (VERDICT r10 item 8). The sfN-replica
  * protocol (AnnServeSmoke) tops out on this VM at 10M vectors: a
  * 100M-row float corpus parquet is ~26 GB against ~20 GB free disk —
  * that bound is real and recorded. The fix queued there lands here:
  * the corpus is a DETERMINISTIC GENERATED relation (spark.range →
  * sin-mixed unit-ish vectors) that never materializes to disk; the
  * bounded artifacts train on a 1% sample (the FAISS practice — cell
  * geometry and codebooks need a distribution, not the corpus), and
  * only the CODES-ONLY index lands on disk (m ints + norm per row,
  * ~6-7 GB at 100M — the dim·4/m compression is exactly why the
  * serving format fits where raw floats cannot).
  *
  * Legs, page cache dropped before each cold run:
  *  - from-disk: searchAdc(refine = 0) over the persisted index —
  *    reads the probed cells' codes only;
  *  - recompute: ivfPqTopK over the generated corpus with the SAME
  *    frozen artifacts — pays generation + assignment + encode per
  *    search but ZERO disk IO, so it UNDERSTATES a real parquet-read
  *    recompute; the index winning against an IO-free recompute is
  *    the conservative form of the claim.
  *
  * Usage: AnnGenServe <millions> [reps]  (env SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_ANN_CELLS, SPARK_GRAFT_ANN_NPROBE)
  */
object AnnGenServe {

  /** Deterministic pseudo-random embedding: 64 sin-mixed dims keyed by
    * vec_id — cluster structure via the coarse term, per-row jitter
    * via the fine term (same family as the ScaleGen jitter).
    */
  private def genEmbedding(id: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(63)), i =>
      (sin(id % 97 * 31 + i * 7) + sin(id * 13 + i) * lit(0.1d))
        .cast(org.apache.spark.sql.types.FloatType))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnGenServe <millions> [reps]")
    val millions = args(0).toInt
    val reps = if (args.length > 1) args(1).toInt else 3
    val n = millions.toLong * 1000000L
    val cpus = GraftSession.cpus
    val spark = Measure.start(GraftSession.local("graft-anngen-serve"))
    import spark.implicits._

    val nCells = sys.env.get("SPARK_GRAFT_ANN_CELLS").map(_.toInt)
      .getOrElse(512)
    val nprobe = sys.env.get("SPARK_GRAFT_ANN_NPROBE").map(_.toInt)
      .getOrElse(4)
    val (stride, k) = (7L, 5)
    def corpus: DataFrame = spark.range(n).toDF("vec_id")
      .repartition(cpus * 4)
      .select(col("vec_id"), genEmbedding(col("vec_id")).as("embedding"))
    // bounded artifacts from a 1% sample — geometry training needs a
    // distribution, not the corpus (the train-once discipline)
    val sample = corpus.where(pmod(col("vec_id"), lit(100L)) === 0L)
    val cents = Similarity.trainIvfCentroids(sample, nCells, stride)
    val books = Similarity.trainPqCodebooks(sample, dim = 64,
      stride = stride, iters = 1)
    val work = tempDir("graft-anngen")
    val filesPerCell = math.max(1, cpus / nprobe)
    val (idx, buildSec) = timed(AnnIndex.write(corpus, s"$work/index",
      dim = 64, nCells = nCells, stride = stride, centroids = Some(cents),
      codebooks = Some(books), storeEmbeddings = false,
      filesPerCell = filesPerCell))
    val indexBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$work/index")
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(p).getLength
    }
    val qLocal = (0L until 10L).map(i => (n + i + 1, // ids outside corpus
        (0 until 64).map(d =>
          (math.sin((i % 97) * 31 + d * 7) + math.sin(i * 13 + d) * 0.1)
            .toFloat).toArray))
      .toDF("vec_id", "embedding")

    def fromDisk() = AnnIndex.searchAdc(idx, qLocal, k, nprobe,
      refine = 0).count()
    def recompute() = Similarity.ivfPqTopK(corpus, qLocal, k, dim = 64,
      nCells = nCells, stride = stride, nprobe = nprobe, refine = 0,
      centroids = Some(cents), codebooks = Some(books)).count()
    fromDisk() // JIT + plan + partition-discovery warmup
    val warmDisk = median(times(reps)(fromDisk()))
    val canDrop = dropPageCache()
    val coldDisk = time(fromDisk())
    val warmRecompute = time(recompute()) // one rep: minutes-scale
    dropPageCache()
    val coldRecompute = time(recompute())
    println(s"""{"metric":"ann_serve_gen","unit":"sec",""" +
      s""""corpus_rows":$n,"generated_corpus":true,"reps":$reps,""" +
      s""""codes_only":true,"refine":0,"page_cache_dropped":$canDrop,""" +
      s""""n_cells":$nCells,"nprobe":$nprobe,""" +
      s""""files_per_cell":$filesPerCell,""" +
      s""""index_build":${r3(buildSec)},""" +
      s""""index_bytes":$indexBytes,""" +
      s""""cold_from_disk":${r3(coldDisk)},""" +
      s""""warm_from_disk":${r3(warmDisk)},""" +
      s""""cold_recompute_gen_ivfpq":${r3(coldRecompute)},""" +
      s""""warm_recompute_gen_ivfpq":${r3(warmRecompute)},""" +
      s""""cold_speedup":${r3(coldRecompute / coldDisk)},""" +
      s""""cpus":"$cpus"}""")
    spark.stop()
  }
}
