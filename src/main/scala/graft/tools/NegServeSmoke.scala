package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.TempDirs.tempDir
import graft.operators.{AnnIndex, Similarity}
import graft.tools.Measure.{median, r3, timed, times}

/** Epoch-scale hard-negative mining measurement (G16 serving claim,
  * VERDICT r10 item 6): "an epoch's negatives come off the disk index
  * with NO brute-force corpus pass" is AnnIndexSpec-proven for
  * correctness; this tool prices it at production shape — a large
  * query batch (an epoch's worth of training queries) mined against a
  * large codes-only index vs the brute chain that scores every
  * (query, corpus) pair.
  *
  * Protocol:
  *  1. SANITY GATE at base-corpus scale, run every invocation: the
  *     index chain (searchAdc keepScore, exhaustive probes, full
  *     refine) through hardNegativesFrom must equal hardNegatives'
  *     brute chain EXACTLY — the same identity AnnIndexSpec pins,
  *     re-proven inside the measurement tool (the ServerBench
  *     discipline: the tool gates its own correctness).
  *  2. SCALE LEG: corpus = mult x jittered base written to parquet
  *     (the AnnServeSmoke recipe), codes-only IVF-PQ index beside it;
  *     nQueries local query vectors mined via
  *     searchAdc(refine = 0, keepScore) -> rename acos -> cos (the
  *     explicit estimate-accepted step) -> hardNegativesFrom. The
  *     brute chain runs hardNegatives over the corpus parquet — at
  *     10M x 10k that is 10^11 cosines, so `bruteQueries` bounds the
  *     brute batch and both legs report per-1k-query normalized cost
  *     (the honest comparison; raw wall times also recorded).
  *
  * Usage: NegServeSmoke <sfDir> [mult] [nQueries] [bruteQueries] [reps]
  * (env SPARK_GRAFT_CPUS, SPARK_GRAFT_ANN_CELLS, SPARK_GRAFT_ANN_NPROBE)
  */
object NegServeSmoke {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: NegServeSmoke <sfDir> [mult] [nQueries] [bruteQueries] [reps]")
    val sfDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 1
    val nQueries = if (args.length > 2) args(2).toInt else 10000
    val bruteQueries = if (args.length > 3) args(3).toInt
      else math.min(nQueries, 100)
    val reps = if (args.length > 4) args(4).toInt else 3
    val cpus = GraftSession.cpus
    val spark = Measure.start(GraftSession.local("graft-neg-serve"))
    import spark.implicits._

    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val (k, candDepth) = (5, 100)
    val (margin, dropAbove) = (Some(0.05), true)

    // ---------------- 1. sanity gate (base corpus, embeddings stored,
    // exhaustive probes, full refine — estimates never rank the output)
    val gateDir = tempDir("graft-negserve-gate")
    val gateN = base.count().toInt
    val gateIdx = AnnIndex.write(base, gateDir, dim = 64, nCells = 8,
      stride = 7)
    val gateQ = base.where(col("vec_id") < 5)
    val gatePos = gateQ.select(col("vec_id").as("qid"))
      .select(col("qid"), explode(array(col("qid") + 1, col("qid") + 3))
        .as("nid"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val fromIdx = rows(Similarity.hardNegativesFrom(
      AnnIndex.searchAdc(gateIdx, gateQ, k = gateN, nprobe = 8,
        refine = 1, keepScore = true),
      gatePos, k, margin, dropAbove))
    val brute = rows(Similarity.hardNegatives(base, gateQ, gatePos,
      k, margin, dropAbove))
    require(fromIdx.nonEmpty && fromIdx == brute,
      s"SANITY GATE FAILED: idx=${fromIdx.take(3)} brute=${brute.take(3)}")

    // ---------------- 2. scale leg
    val nCells = sys.env.get("SPARK_GRAFT_ANN_CELLS").map(_.toInt)
      .getOrElse(if (mult >= 50) 256 else 16)
    val nprobe = sys.env.get("SPARK_GRAFT_ANN_NPROBE").map(_.toInt)
      .getOrElse(4)
    val stride = 7L
    val span = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val emb = (0 until mult).map { m =>
      base.select((col("vec_id") + lit(m * span)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + sin(col("vec_id") * 31 + i * 7 + lit(m * 13)) * lit(0.01d))
            .cast(org.apache.spark.sql.types.FloatType)).as("embedding"))
    }.reduce(_ unionAll _)
    val work = tempDir("graft-negserve")
    emb.write.mode("overwrite").parquet(s"$work/corpus")
    val corpus = spark.read.parquet(s"$work/corpus")
    val corpusRows = corpus.count()
    val cents = Similarity.trainIvfCentroids(corpus, nCells, stride)
    val books = Similarity.trainPqCodebooks(corpus, dim = 64, stride = stride)
    val filesPerCell = math.max(1, cpus / nprobe)
    val (idx, buildSec) = timed(AnnIndex.write(corpus, s"$work/index",
      dim = 64, nCells = nCells, stride = stride, centroids = Some(cents),
      codebooks = Some(books), storeEmbeddings = false,
      filesPerCell = filesPerCell))

    // epoch query batch + bounded positives, both LOCAL relations
    // (queries broadcast in every leg — the G1/G16 contract)
    val qAll = corpus.where(col("vec_id") < nQueries)
      .as[(Long, Array[Float])].collect().toSeq
      .sortBy(_._1) // collect order is partition order — pin the
      // brute subset so the artifact reproduces across runs
    val qLocal = qAll.toDF("vec_id", "embedding")
    val qBrute = qAll.take(bruteQueries).toDF("vec_id", "embedding")
    // positives wrap modulo the ID SPAN (mult * span), not the row
    // count: replica ids are base_id + m*span, so with sparse base ids
    // (span > count) a row-count modulus would name nonexistent nids
    // and exclude top-of-range ids from ever being positives,
    // silently weakening the measured screen (r11 ADVICE)
    val idSpan = mult.toLong * span
    def posFor(qs: DataFrame) = qs.select(col("vec_id").as("qid"))
      .select(col("qid"), explode(array(
        pmod(col("qid") + 1, lit(idSpan)),
        pmod(col("qid") + 3, lit(idSpan)))).as("nid"))
    val posAll = posFor(qLocal)
    val posBrute = posFor(qBrute)

    def indexChain(): Long = Similarity.hardNegativesFrom(
      AnnIndex.searchAdc(idx, qLocal, k = candDepth, nprobe = nprobe,
          refine = 0, keepScore = true)
        .withColumnRenamed("acos", "cos"), // estimate explicitly accepted
      posAll, k, margin, dropAbove).count()
    def bruteChain(): Long = Similarity.hardNegatives(corpus, qBrute,
      posBrute, k, margin, dropAbove).count()

    indexChain() // JIT + plan warmup (also first partition discovery)
    val idxMed = median(times(reps)(indexChain()))
    bruteChain()
    val bruteMed = median(times(reps)(bruteChain()))

    val idxPerK = idxMed / nQueries * 1000
    val brutePerK = bruteMed / bruteQueries * 1000
    println(s"""{"metric":"neg_serve","unit":"sec","sf_dir":"$sfDir",""" +
      s""""mult":$mult,"corpus_rows":$corpusRows,"reps":$reps,""" +
      s""""sanity_gate":"pass","codes_only":true,"cand_depth":$candDepth,""" +
      s""""k":$k,"n_queries":$nQueries,"brute_queries":$bruteQueries,""" +
      s""""n_cells":$nCells,"nprobe":$nprobe,""" +
      s""""index_build":${r3(buildSec)},""" +
      s""""index_chain_wall":${r3(idxMed)},""" +
      s""""brute_chain_wall":${r3(bruteMed)},""" +
      s""""index_per_1k_queries":${r3(idxPerK)},""" +
      s""""brute_per_1k_queries":${r3(brutePerK)},""" +
      s""""speedup_per_query":${r3(brutePerK / idxPerK)},""" +
      s""""cpus":$cpus}""")
    spark.stop()
  }
}
