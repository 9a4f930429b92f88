package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.TempDirs.tempDir
import graft.operators.{AnnIndex, Similarity}
import graft.tools.Measure.{dropPageCache, median, r3, time, timed, times}

/** Serving-path measurement for the persisted ANN index (G11): the
  * same query batch answered `reps` times by (a) ivfTopK, which
  * re-runs assign-to-centroids over the whole corpus per search, and
  * (b) AnnIndex.searchExact over the cent_id-partitioned on-disk
  * index, which reads only the probed cells. The contrast is the
  * reason the index exists: search cost decouples from corpus size
  * and becomes proportional to nprobe/nCells of it.
  *
  * `mult` replicates the corpus in-memory with deterministic jitter
  * (the ScaleGen recipe) before indexing — at gate-scale corpora both
  * paths are job-overhead-bound and the contrast only appears once
  * the corpus is large enough that scanning it dominates.
  *
  * A 4th arg `cold` switches to the DISK-RESIDENT protocol the index
  * actually exists for: the replicated corpus is materialized to
  * parquet, a codes-only index (the true serving format) is written
  * beside it, the OS page cache is dropped (sync + drop_caches; falls
  * back to a fresh-session-only cold if the write is denied), and each
  * path is timed on its FIRST post-drop run — searchAdc(refine = 0)
  * reads only the probed cell partitions' codes, while the recompute
  * twin (ivfPqTopK over the corpus parquet with the same frozen
  * artifacts) must re-read and re-encode the whole corpus from disk.
  *
  * Usage: AnnServeSmoke <sfDir> [reps] [mult] [cold]  (env SPARK_GRAFT_CPUS)
  */
object AnnServeSmoke {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnServeSmoke <sfDir> [reps] [mult] [cold]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val mult = if (args.length > 2) args(2).toInt else 1
    val coldMode = args.length > 3 && args(3) == "cold"
    val cpus = GraftSession.cpus
    val spark = Measure.start(GraftSession.local("graft-ann-serve"))

    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val span = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val emb = (0 until mult).map { m =>
      base.select((col("vec_id") + lit(m * span)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + sin(col("vec_id") * 31 + i * 7 + lit(m * 13)) * lit(0.01d))
            .cast(org.apache.spark.sql.types.FloatType)).as("embedding"))
    }.reduce(_ unionAll _)
    val queries = emb.where(col("vec_id") < 10)
    val (nCells, stride, nprobe, k) = (16, 7L, 4, 5)

    if (coldMode) { runCold(spark, emb, sfDir, mult, reps, cpus); return }

    val cents = Similarity.trainIvfCentroids(emb, nCells, stride)
    val dir = tempDir("graft-annserve")
    val (idx, buildSec) = timed(AnnIndex.write(emb, dir, dim = 64,
      nCells = nCells, stride = stride, centroids = Some(cents)))

    // warm both paths once, then measure medians
    Similarity.ivfTopK(emb, queries, k, nCells, stride, nprobe,
      centroids = Some(cents)).count()
    AnnIndex.searchExact(idx, queries, k, nprobe).count()
    val recompute = median(times(reps)(
      Similarity.ivfTopK(emb, queries, k, nCells, stride, nprobe,
        centroids = Some(cents)).count()))
    val fromDisk = median(times(reps)(
      AnnIndex.searchExact(idx, queries, k, nprobe).count()))

    println(s"""{"metric":"ann_serve","unit":"sec","sf_dir":"$sfDir",""" +
      s""""mult":$mult,"corpus_rows":${emb.count()},""" +
      s""""reps":$reps,"index_build":$buildSec,""" +
      s""""search_recompute_ivf":$recompute,"search_from_disk":$fromDisk,""" +
      s""""speedup":${(recompute / fromDisk * 100).round / 100.0},""" +
      s""""nprobe":$nprobe,"n_cells":$nCells,"cpus":$cpus}""")
    spark.stop()
  }

  /** The disk-resident protocol: corpus parquet + codes-only index on
    * disk, page cache dropped, each path timed on its first post-drop
    * run. Also reports warm medians for the same configs so the cold
    * premium is attributable.
    */
  private def runCold(spark: SparkSession, embSrc: org.apache.spark.sql.DataFrame,
                      sfDir: String, mult: Int, reps: Int, cpus: Int): Unit = {
    import spark.implicits._
    val nCells = sys.env.get("SPARK_GRAFT_ANN_CELLS").map(_.toInt).getOrElse(16)
    val nprobe = sys.env.get("SPARK_GRAFT_ANN_NPROBE").map(_.toInt).getOrElse(4)
    val (stride, k) = (7L, 5)
    val work = tempDir("graft-anncold")
    // both paths start from PARQUET ON DISK — the serving reality the
    // warm in-memory protocol (above) cannot see
    embSrc.write.mode("overwrite").parquet(s"$work/corpus")
    val corpus = spark.read.parquet(s"$work/corpus")
    val corpusRows = corpus.count()
    val cents = Similarity.trainIvfCentroids(corpus, nCells, stride)
    val books = Similarity.trainPqCodebooks(corpus, dim = 64, stride = stride)
    // filesPerCell sized so a probe of nprobe cells fans out to the
    // full executor width (nprobe * filesPerCell >= cores); at 100 TB
    // cells exceed the 128 MB split size and need no help
    val filesPerCell = math.max(1, cpus / nprobe)
    val (idx, buildSec) = timed(AnnIndex.write(corpus, s"$work/index",
      dim = 64, nCells = nCells, stride = stride, centroids = Some(cents),
      codebooks = Some(books), storeEmbeddings = false,
      filesPerCell = filesPerCell))
    // queries live in a LOCAL relation: query-side input never reads disk
    val qLocal = corpus.where(col("vec_id") < 10)
      .as[(Long, Array[Float])].collect().toSeq.toDF("vec_id", "embedding")
    def fromDisk() = AnnIndex.searchAdc(idx, qLocal, k, nprobe, refine = 0).count()
    def recompute() = Similarity.ivfPqTopK(corpus, qLocal, k, dim = 64,
      nCells = nCells, stride = stride, nprobe = nprobe, refine = 0,
      centroids = Some(cents), codebooks = Some(books)).count()
    fromDisk(); recompute() // JIT + plan warmup
    val warmDisk = median(times(reps)(fromDisk()))
    val warmRecompute = median(times(reps)(recompute()))
    val canDrop = dropPageCache()
    val coldDisk = time(fromDisk())
    dropPageCache()
    val coldRecompute = time(recompute())
    println(s"""{"metric":"ann_serve_cold","unit":"sec","sf_dir":"$sfDir",""" +
      s""""mult":$mult,"corpus_rows":$corpusRows,"reps":$reps,""" +
      s""""codes_only":true,"refine":0,"page_cache_dropped":$canDrop,""" +
      s""""files_per_cell":$filesPerCell,""" +
      s""""index_build":${r3(buildSec)},""" +
      s""""cold_from_disk":${r3(coldDisk)},""" +
      s""""cold_recompute_ivfpq":${r3(coldRecompute)},""" +
      s""""cold_speedup":${r3(coldRecompute / coldDisk)},""" +
      s""""warm_from_disk":${r3(warmDisk)},""" +
      s""""warm_recompute_ivfpq":${r3(warmRecompute)},""" +
      s""""warm_speedup":${r3(warmRecompute / warmDisk)},""" +
      s""""nprobe":$nprobe,"n_cells":$nCells,"cpus":$cpus}""")
    spark.stop()
  }
}
