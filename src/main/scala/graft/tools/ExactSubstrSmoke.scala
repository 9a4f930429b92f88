package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Dedup
import graft.tools.Measure.timed

/** Scaling smoke for F13 exactSubstrDedup: run the full scrub over a
  * documents dir and reduce to corpus totals (never collect the
  * rebuilt corpus — it is corpus-sized by definition). Prints one
  * JSON line per rep: wall, docs, tokens in/kept, scrub share, and —
  * r13 — the run's total SHUFFLE BYTES/RECORDS WRITTEN, read from
  * stage task metrics. Bytes are deterministic where wall time is not
  * (wall time swings ~2× with ambient VM load); EXACTSUBSTR_r13 used
  * them to settle the gram-key width (16-byte binary digest).
  *
  * Usage: ExactSubstrSmoke <docsDir> [reps] [minLen]
  * (env SPARK_GRAFT_CPUS; the dir needs only documents.parquet)
  */
object ExactSubstrSmoke {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExactSubstrSmoke <docsDir> [reps] [minLen]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val minLen = if (args.length > 2) args(2).toInt else 8
    val spark = Measure.start(GraftSession.local("graft-exact-substr")
      .config("spark.sql.files.maxPartitionBytes", 32 * 1024 * 1024))

    // shuffle accounting: bytes/records written across completed
    // stages. The listener bus is async — each rep sleeps briefly
    // after its action and reads the deltas, which is exact as long
    // as reps don't overlap (they don't; this is a serial tool).
    val sBytes = new AtomicLong
    val sRecs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          sBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    spark.range(1000).selectExpr("sum(id)").collect() // warm

    (1 to reps).foreach { r =>
      Thread.sleep(1500) // drain listener events from the prior rep
      val (b0, r0) = (sBytes.get, sRecs.get)
      val (row, wall) = timed(Dedup.exactSubstrDedup(docs, "doc_id", "text",
          minLen, keepFirst = true)
        .agg(count(lit(1)).as("docs"), sum("n_tokens").as("toks"),
          sum("n_kept").as("kept"))
        .head())
      Thread.sleep(1500) // drain before reading the deltas
      val (db, dr) = (sBytes.get - b0, sRecs.get - r0)
      // empty corpus: sum() is NULL and getLong would NPE — report it
      // plainly instead (r13 ADVICE); share is skipped at 0 tokens
      // (0/0), which an all-empty-text corpus can also produce
      val nd = row.getLong(0)
      if (nd == 0L || row.isNullAt(1)) {
        println(s"""{"metric":"exact_substr","rep":$r,"docs":$nd,""" +
          s""""error":"empty corpus: no documents/tokens at $dir"}""")
      } else {
        val (nt, nk) = (row.getLong(1), row.getLong(2))
        val share = if (nt == 0L) 0.0 else 1.0 - nk.toDouble / nt
        println(f"""{"metric":"exact_substr","rep":$r,"wall":$wall%.3f,""" +
          f""""docs":$nd,"tokens":$nt,"kept":$nk,""" +
          f""""scrubbed_share":$share%.4f,"minLen":$minLen,""" +
          f""""shuffle_bytes":$db,""" +
          f""""shuffle_records":$dr}""")
      }
    }
  }
}
