package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.TempDirs.tempDir
import graft.operators.{Bm25Index, TextAnalysis}
import graft.tools.Measure.{median, timed, times}

/** Serving-path measurement for the persisted BM25 index (H18): the
  * same query batch answered `reps` times by (a) bm25Retrieve, which
  * re-tokenizes and re-aggregates the whole corpus per query batch,
  * and (b) Bm25Index.search over the term-bucketed on-disk postings,
  * which reads only the queried terms' buckets. The contrast is the
  * reason the index exists: query cost decouples from corpus size and
  * becomes proportional to the queried vocabulary's posting lists.
  *
  * The corpus is taken at the given sfDir; the index builds once
  * (timed as build_wall — the cost amortized over every later batch).
  *
  * Usage: Bm25ServeSmoke <sfDir> [reps]  (env SPARK_GRAFT_CPUS)
  */
object Bm25ServeSmoke {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Bm25ServeSmoke <sfDir> [reps]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = Measure.start(GraftSession.local("graft-bm25-serve"))

    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val queries = docs.where(col("doc_id") < 3)

    val (index, buildWall) = timed(Bm25Index.write(docs, "doc_id", "text",
      tempDir("graft-bm25-serve"), nBuckets = 64))

    val recompute = times(reps)(TextAnalysis.bm25Retrieve(
      docs, queries, "doc_id", "text", topK = 20).count())
    val fromIndex = times(reps)(Bm25Index.search(
      index, queries, "doc_id", "text", topK = 20).count())

    println(f"""{"metric":"bm25_serve","sf_dir":"$sfDir","n_docs":$nDocs,""" +
      f""""reps":$reps,"build_wall":$buildWall%.3f,""" +
      f""""recompute_med":${median(recompute)}%.3f,""" +
      f""""index_med":${median(fromIndex)}%.3f,""" +
      f""""speedup":${median(recompute) / median(fromIndex)}%.2f,""" +
      f""""cpus":${GraftSession.cpus}}""")
    spark.stop()
  }
}
