package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.TempDirs.tempDir
import graft.operators.{Dedup, DedupIndex}
import graft.streaming.IncrementalDedup
import graft.tools.Measure.{loadavg, median, timed, times}

/** Serving-path measurement for the persisted dedup signature index
  * (F12): the same new-docs batch screened `reps` times by
  * (a) IncrementalDedup.dedupBatch against a raw signature store —
  * which re-reads and re-BANDS the whole store per batch — and
  * (b) DedupIndex.screenBatch over the bucket-partitioned on-disk
  * band keys, which reads only the batch's collision buckets. The
  * contrast is the reason the index exists: per-batch screening cost
  * decouples from store size. `mult` replicates the corpus (ids
  * offset) to grow the store without new testdata, the ScaleGen
  * discipline.
  *
  * Usage: DedupServeSmoke <sfDir> [mult] [reps]  (env SPARK_GRAFT_CPUS)
  */
object DedupServeSmoke {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DedupServeSmoke <sfDir> [mult] [reps]")
    val sfDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 1
    val reps = if (args.length > 2) args(2).toInt else 5
    // SPARK_GRAFT_SHUFFLE: the BM25_SERVE_r13 sizing rule — at 15M
    // docs the minhash build's per-partition token rows outgrow the
    // default heap at 32 partitions; 256 keeps each partition small
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", GraftSession.cpus.toString)
    val spark = Measure.start(GraftSession.local("graft-dedup-serve")
      .config("spark.sql.shuffle.partitions", shuf))

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val span = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val store = (0 until mult).map(k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * span)))
      .reduce(_ unionAll _)
    val nStore = store.count()
    // the batch: 10 fresh ids — 5 exact copies of store docs (drop)
    // and 5 with a salt token appended (mostly keep). Pruning only
    // bites when nBuckets >> batch·bands (the sizing rule in the
    // operator doc): 10 docs × 16 bands = ≤160 of 1024 buckets
    val batch = base.where(col("doc_id") < 10)
      .withColumn("text",
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"),
            lit(" zzsalt"), col("doc_id").cast("string"))))
      .withColumn("doc_id", col("doc_id") + lit(mult * span))

    val dir = tempDir("graft-dedup-serve")
    val (index, buildWall) = timed(DedupIndex.write(store, "doc_id", "text",
      dir, nBuckets = 1024, nSigBuckets = 256))

    // the raw-store baseline pays the store signature pass once here
    // (a real deployment persists sigs), so the timed loop isolates
    // the PER-BATCH cost: full-store re-band + join vs pruned read
    val storeSigs = Dedup.minhashSignature(store, "doc_id", "text")
    storeSigs.write.mode("overwrite").parquet(s"$dir/rawsigs")
    val rawStore = spark.read.parquet(s"$dir/rawsigs")

    val recompute = times(reps)(IncrementalDedup.dedupBatch(
      batch, "doc_id", "text", Some(rawStore)).dropped.count())
    // release() each rep's ScreenResult inside the timed closure — the
    // lifecycle the operator doc mandates; un-released reps accumulate
    // persisted newSigs/cands relations and skew later medians via
    // cache pressure
    val fromIndex = times(reps) {
      val res = DedupIndex.screenBatch(index, batch, "doc_id", "text")
      try res.dropped.count() finally res.release()
    }
    // sanity: identical screening decisions
    val a = IncrementalDedup.dedupBatch(batch, "doc_id", "text",
        Some(rawStore)).dropped
      .select("new_id", "matched_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    val sres = DedupIndex.screenBatch(index, batch, "doc_id", "text")
    val b = sres.dropped
      .select("new_id", "matched_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    val nMatched = sres.dropped.select("matched_id").distinct().count()
    sres.release()
    require(a == b, s"screening divergence: ${a.size} vs ${b.size}")

    // auto-sizing leg (r10): re-derive the bucket counts from this
    // batch's OBSERVED footprints (the DedupIndex.autoSize rule) and
    // measure the same screen — at high `mult` the fixed nSigBuckets
    // saturates (the DEDUP_SERVE_r09 finding) while the auto-sized
    // verify read stays a slice
    val (autoB, autoS) = DedupIndex.autoSize(
      batchDocs = 10L, matchesPerBatch = nMatched, storeDocs = nStore)
    val (autoIndexMed, autoBuildWall) =
      if (autoB == 1024 && autoS == 256) (-1.0, -1.0)
      else {
        val (idx2, bw) = timed(DedupIndex.write(store, "doc_id", "text",
          tempDir("graft-dedup-serve-auto"), nBuckets = autoB,
          nSigBuckets = autoS))
        val med2 = times(reps) {
          val r = DedupIndex.screenBatch(idx2, batch, "doc_id", "text")
          try r.dropped.count() finally r.release()
        }
        val r2 = DedupIndex.screenBatch(idx2, batch, "doc_id", "text")
        val b2 = r2.dropped.select("new_id", "matched_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        r2.release()
        require(b2 == b, "auto-sized index diverges from fixed config")
        (median(med2), bw)
      }

    println(f"""{"metric":"dedup_serve","sf_dir":"$sfDir","mult":$mult,""" +
      f""""n_store":$nStore,"reps":$reps,"build_wall":$buildWall%.3f,""" +
      f""""recompute_med":${median(recompute)}%.3f,""" +
      f""""index_med":${median(fromIndex)}%.3f,""" +
      f""""speedup":${median(recompute) / median(fromIndex)}%.2f,""" +
      f""""n_dropped":${b.size},"n_matched":$nMatched,""" +
      f""""auto_n_buckets":$autoB,"auto_n_sig_buckets":$autoS,""" +
      f""""auto_index_med":$autoIndexMed%.3f,""" +
      f""""auto_build_wall":$autoBuildWall%.3f,"loadavg":"$loadavg",""" +
      f""""utc":"${java.time.Instant.now()}"}""")
    spark.stop()
  }
}
