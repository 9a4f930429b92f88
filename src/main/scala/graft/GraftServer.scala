package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.function.{Function => JFunction}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Resident-server facade over the [[SparkEntry]] registry: memoizes
  * each query's fully planned DataFrame AND its RDD lineage keyed by
  * (query, sfDir), so a repeated request pays neither plan
  * construction (PLANREUSE_r09 measured 12.9 s of analysis +
  * optimization + physical planning across the 22-query TPC-H suite
  * at sf0.1 — what Bench re-pays every rep) nor, on the row-serving
  * path, shuffle re-execution: repeated actions on one RDD lineage
  * serve from the already-written shuffle map outputs (skipped
  * stages), the 1.02 s hot bound the probe measured.
  *
  * This is the deployment shape the per-rep Bench protocol cannot
  * show: a long-lived session serving a repeated analytical workload.
  * Results are identical to a fresh `SparkEntry.queries(name)(spark,
  * sfDir).collect()` — ServerBench gates that per query.
  *
  * Staleness: a cached entry pins the file listing captured at plan
  * time, like any DataFrame. For plain table directories that change
  * underneath (new parquet files), call [[invalidate]]/[[clear]] —
  * the same contract as Spark's own table cache over external files.
  * For the VERSIONED indexes (AnnIndex/Bm25Index/DedupIndex publish
  * through a CURRENT pointer), [[watchIndexes]] closes the loop
  * without manual calls (r11, VERDICT r10 item 5; r12 closed the
  * same-version half): the cached entry fingerprints each watched
  * directory's (CURRENT pointer, GEN mutation counter) at build time
  * and every request re-reads them (two tiny-file reads per dir —
  * negligible next to serving), so BOTH a republish (rebuild/
  * compaction/retrain) and an in-version mutation (upsert/append/
  * delete — every micro-batch of the composed ingest) are picked up
  * on the next serve; a resident server never serves a vacuumed
  * version's file listing or a pre-upsert one.
  *
  * `registry` defaults to the SparkEntry registry; a custom map lets
  * the server front index-reading queries (the watchIndexes use).
  */
class GraftServer(spark: SparkSession,
                  registry: Map[String, (SparkSession, String) => DataFrame] =
                    SparkEntry.queries) {

  private case class Served(df: DataFrame, rdd: RDD[InternalRow],
                            enc: ExpressionEncoder[Row],
                            fp: Seq[(Option[Long], Option[Long])])

  private val cache = new ConcurrentHashMap[(String, String), Served]()
  private val watched = new ConcurrentHashMap[(String, String), Seq[String]]()
  private val hits = new AtomicLong
  private val builds = new AtomicLong

  /** (cache hits, plan builds) since construction — server telemetry. */
  def counters: (Long, Long) = (hits.get, builds.get)

  /** Declare that `name`'s plan reads the versioned index(es) rooted
    * at `dirs`: the cached entry is keyed to each dir's (CURRENT
    * pointer, GEN mutation counter) pair, so BOTH a publish flip
    * (rebuild, compaction, retrain, delta compaction) AND a
    * same-version mutation (upsert, append, delete/tombstone,
    * batch-drop — exactly what IngestPipeline performs every
    * micro-batch) auto-rebuild the plan on the next request — no
    * manual [[invalidate]] needed (the GEN half is r12: CURRENT alone
    * never moved under in-version mutation, so a watching server
    * served the pre-upsert file listing indefinitely). Unversioned/
    * legacy layouts fingerprint as (None, None) and fall back to the
    * manual contract.
    */
  def watchIndexes(name: String, sfDir: String, dirs: Seq[String]): Unit =
    watched.put((name, sfDir), dirs)

  private def fingerprint(dirs: Seq[String]): Seq[(Option[Long], Option[Long])] =
    dirs.map { d =>
      (graft.operators.IndexStore.current(spark, d),
        graft.operators.IndexStore.generation(spark, d))
    }

  private val buildFn: JFunction[(String, String), Served] = {
    case (name, sfDir) =>
      builds.incrementAndGet()
      // fingerprint BEFORE the plan settles: a CURRENT flip racing the
      // (multi-second) build then MISMATCHES on the next request and
      // rebuilds — captured after, the post-flip pointer would match a
      // plan pinned to the pre-flip file listing and serve it forever
      // (r11 review finding)
      val fp = fingerprint(watched.getOrDefault((name, sfDir), Nil))
      val df = registry(name)(spark, sfDir)
      val qe = df.queryExecution
      qe.executedPlan // settle analysis/optimization/planning ONCE
      // one stable lineage for every future request: the per-row copy
      // un-aliases local-mode UnsafeRow reuse, and keeping the SAME
      // child RDD instance preserves the ShuffleDependency objects so
      // re-serves skip the shuffle stages entirely
      val rdd = qe.toRdd.map(_.copy())
      val enc = ExpressionEncoder(RowEncoder.encoderFor(df.schema))
        .resolveAndBind()
      Served(df, rdd, enc, fp)
  }

  private def entry(name: String, sfDir: String): Served = {
    val k = (name, sfDir)
    val pre = cache.get(k)
    if (pre != null &&
        pre.fp == fingerprint(watched.getOrDefault(k, Nil))) {
      hits.incrementAndGet(); pre
    } else {
      if (pre != null) cache.remove(k, pre) // stale version: rebuild
      cache.computeIfAbsent(k, buildFn)
    }
  }

  /** The memoized, fully planned DataFrame — for composition or
    * actions that need Dataset semantics. Repeats skip planning but
    * re-execute shuffles (the t_first bound).
    */
  def serve(name: String, sfDir: String): DataFrame = entry(name, sfDir).df

  /** Collect through the memoized lineage — repeats skip planning AND
    * completed shuffle stages (the t_hot bound). Row values are the
    * ones `DataFrame.collect()` returns (same encoder machinery).
    */
  def serveRows(name: String, sfDir: String): Array[Row] = {
    val e = entry(name, sfDir)
    val deser = e.enc.createDeserializer() // not thread-safe: per call
    e.rdd.collect().map(deser(_))
  }

  def invalidate(name: String, sfDir: String): Unit =
    cache.remove((name, sfDir))

  def clear(): Unit = cache.clear()
}
