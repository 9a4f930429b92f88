package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session memo for materialize-once derived datasets (the
  * persisted partsupp / LSH-pair pipelines). Keys hold the session
  * weakly and two sessions can never collide on a hash. Values are
  * SoftReferences: a cached DataFrame strongly references its own
  * session, so strong values would defeat the weak keys (the
  * WeakHashMap value→key warning) — soft values let the collector
  * clear a dropped session's cache under memory pressure, at the cost
  * of an occasional rebuild. r11 adds a bounded strong LRU over the
  * most-recently-used values (see below): an ACTIVE workload's memo
  * survives full GCs, only cold entries stay collectable.
  */
private[graft] object SessionMemo {
  // bench telemetry: memoized-pipeline cost charges to whichever
  // consumer query runs its build first, so cross-round per-query
  // comparisons trip on attribution noise (the r7 q_semantic_dedup
  // "regression"). Bench diffs these monotonic counters around each
  // run to stamp every query with whether it BUILT a shared relation
  // (paid the pipeline) or HIT one (measured a cache read).
  private val hitCounter = new java.util.concurrent.atomic.AtomicLong
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong
  def counters: (Long, Long) = (hitCounter.get, buildCounter.get)

  // Bounded strong LRU over the memo VALUES (r11): the soft-value
  // design lets a full GC clear entries whose referents are tiny (a
  // plan tree, a collected codebook) but whose REBUILD re-runs a
  // multi-minute training pipeline — the r11 sf3 bench measured a
  // cleared q_ann_recall memo re-training its indexes between
  // round-robin reps (1.1 s hit → ~70 s rebuild medians, sitting-
  // dependent). Pinning the most-recently-used values strongly makes
  // an ACTIVE workload's memo GC-proof, while entries beyond the LRU
  // bound (and any dropped session's, once they age out) fall back to
  // the collectable soft reference — the weak-key design keeps
  // working, the leak is bounded by MaxPinned small objects. The r12
  // A/B of 512 pins against none measured both at ~3.3 s (SURVEY.md).
  private val MaxPinned = 512
  // value → its owning session (weak: the pin must not ADD a session
  // edge — the pinned DataFrame already strongly references its own
  // session, which is why dead sessions need active eviction at all)
  private val pinned =
    new java.util.LinkedHashMap[
        AnyRef, java.lang.ref.WeakReference[SparkSession]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef,
            java.lang.ref.WeakReference[SparkSession]]): Boolean =
        size() > MaxPinned
    }
  private def pin(v: AnyRef, s: SparkSession): Unit =
    pinned.synchronized {
      // Evict pins whose session is STOPPED (r12, r11 ADVICE): a pinned
      // DataFrame reaches its SparkSession, so a stopped session's
      // whole memo — weak-keyed and soft-valued by design — stayed
      // strongly reachable through the pin until 512 newer pins
      // displaced it. A stopped context never serves again; a dropped-
      // but-unstopped session is undetectable while we hold its values
      // (the pin itself defeats the weak key), so that residue stays
      // displacement-bounded as before. O(MaxPinned) driver-side scan
      // per memo access — negligible next to the Spark job the access
      // fronts.
      val it = pinned.entrySet().iterator()
      while (it.hasNext) {
        val sess = it.next().getValue.get()
        if (sess != null && sess.sparkContext.isStopped) it.remove()
      }
      pinned.put(v, new java.lang.ref.WeakReference(s)); ()
    }

  /** Whether `v` is held strongly by the pin LRU. */
  private[graft] def isPinned(v: AnyRef): Boolean =
    pinned.synchronized(pinned.containsKey(v))

  /** One store for every memo value: DataFrames and driver-side
    * training artifacts (PQ codebooks, SQ quantization ranges: bounded
    * values whose builds nonetheless run Spark jobs).
    */
  private val store = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.concurrent.TrieMap[Any, java.lang.ref.SoftReference[AnyRef]]]()

  def apply(s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    any(s, key)(build)

  def any[T <: AnyRef](s: SparkSession, key: Any)(build: => T): T = {
    val perSession = store.synchronized {
      var t = store.get(s)
      if (t == null) {
        t = scala.collection.concurrent.TrieMap
          .empty[Any, java.lang.ref.SoftReference[AnyRef]]
        store.put(s, t)
      }
      t
    }
    perSession.get(key).flatMap(r => Option(r.get())) match {
      case Some(v) => hitCounter.incrementAndGet(); pin(v, s); v.asInstanceOf[T]
      case None =>
        val v = build
        buildCounter.incrementAndGet()
        perSession.put(key, new java.lang.ref.SoftReference[AnyRef](v))
        pin(v, s)
        v
    }
  }
}
