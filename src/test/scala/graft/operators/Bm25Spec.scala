package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import graft.tools.Profile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The shared BM25 core: query-term normalization, the corpus passes
  * each front end pays, and the index build's single read of its input.
  */
class Bm25Spec extends SparkSpec {
  import sqlImplicits._

  private lazy val docs = Tables.documents(spark, sfDir)

  /** Spark jobs `body` launches. Jobs are tagged through a local
    * property; a marker job run afterwards flushes the asynchronous
    * listener bus, so every job `body` started has been seen.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tags = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("bm25.spec.tag"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("bm25.spec.tag", "body")
      try body finally sc.setLocalProperty("bm25.spec.tag", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tags.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(tags.contains("marker"), "listener bus never delivered the marker job")
      tags.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty("bm25.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  test("bm25Scores normalizes query terms like corpus tokens") {
    def rows(terms: Seq[String]) =
      TextAnalysis.bm25Scores(docs, "doc_id", "text", terms)
        .collect().map(_.toSeq).toSeq
    val plain = rows(Seq("dup", "join"))
    assert(plain.nonEmpty)
    assert(rows(Seq("DUP", " join ")) == plain)
    Seq(Seq("a b"), Seq(""), Seq("  "), Seq("dup", "x\ty")).foreach { bad =>
      intercept[IllegalArgumentException](
        TextAnalysis.bm25Scores(docs, "doc_id", "text", bad))
    }
  }

  test("bm25Scores builds lazily: constructing the DataFrame runs no job") {
    assert(jobsLaunchedBy(
      TextAnalysis.bm25Scores(docs, "doc_id", "text", Seq("dup", "join"))) == 0)
  }

  test("bm25Retrieve reads a parquet corpus in two passes") {
    val queries = Seq((900001L, "dup join vector"), (900002L, "batch window"))
      .toDF("doc_id", "text")
    val ret = TextAnalysis.bm25Retrieve(docs, queries, "doc_id", "text")
    assert(Profile.executedCensus(ret).scans == 2)
  }

  test("Bm25Index.write reads its input once") {
    val n = 300L
    val reads = spark.sparkContext.longAccumulator("bm25-build-reads")
    // nondeterministic, so Catalyst never duplicates the call per row
    val text = udf { (i: Long) =>
      reads.add(1L)
      s"doc $i term${i % 7} shared tail${i % 3}"
    }.asNondeterministic()
    val corpus = spark.range(n)
      .select(col("id").as("doc_id"), text(col("id")).as("text"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-one-read").toString
    val idx = Bm25Index.write(corpus, "doc_id", "text", dir, nBuckets = 4,
      persistRelation = true)
    assert(reads.value == n)
    assert(idx.nDocs == n && idx.sumDl == 5 * n)
  }
}
