package graft

import org.apache.spark.sql.SparkSession

/** Recommended session wiring for the library: graft's SQL extension
  * surface plus the scale defaults every operator here assumes.
  *
  * The extensions include the `SortedCollect` planner strategy: a
  * `collect()` of a frame whose root is a global sort sorts each
  * partition and merges the sorted runs on the driver, with no
  * range-sampling job and no range shuffle. Every other consumer of
  * such a frame (`toLocalIterator`, `.rdd`, `queryExecution.toRdd`,
  * caching, staged writes) still runs a parallel range-shuffle sort,
  * built inside the operator, at the cost of one extra per-partition
  * sort. [[local]] sessions carry no extensions and keep Spark's plan.
  *
  * Both [[builder]] and [[local]] size Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, default 100) to graft's
  * working set. One pass over the registry fills ~2,170 entries, and
  * the seven perfbench corpus queries more than 100, so under the
  * default LRU bound every class was evicted before its query came
  * round again and each warm pass recompiled (and re-JITted) all of
  * them. The bound is JVM-wide and fixed once: `CodeGenerator` reads
  * it in its static initializer from `SQLConf.get`, so the first
  * session that generates code decides it for every later session in
  * the JVM. A caller's own `.config("spark.sql.codegen.cache.maxEntries",
  * n)` on the returned Builder still overrides it.
  *
  * Returns a Builder so callers can still override anything:
  *
  * {{{
  * val spark = GraftSession.builder("my-pipeline")
  *   .master("yarn")
  *   .config("spark.sql.shuffle.partitions", 2048)
  *   .getOrCreate()
  * }}}
  */
object GraftSession {

  /** Generated-class cache bound: ~1.9x the 2,171 entries one registry
    * pass fills at sf0.001, so the few classes that differ per run age
    * out without evicting the reused ones.
    */
  private[graft] val CodegenCacheEntries = 4096

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // SQL surface: minhash_sig / simhash64 / shingle_set /
      // lsh_band_keys / dot_product / unit_norm / hyperplane_bucket /
      // tensor_pack / tensor_unpack + the codec-elimination rule and
      // the SortedCollect strategy
      .withExtensions(new GraftExtensions)
      // generated-class cache sized to the working set (see above)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // runtime re-planning: partition coalescing + skew-join split
      // are load-bearing for the shuffle-heavy operators (SURVEY §4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Broadcast threshold sized for production executors (multi-GB
      // heaps), not the 10 MB laptop default: filtered dimension
      // slices in the 10–60 MB band (a segment of customer, a brand
      // band of part) hash-join map-side instead of shuffling the
      // fact table they probe. Size-gated — unlike a broadcast()
      // hint this can never OOM on an unexpectedly large side, so it
      // stays safe at 100 TB where the same relations exceed the
      // threshold and AQE falls back to shuffle joins.
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // µs parquet timestamps interop cleanly with arrow/duckdb
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  /** Cores for a local session: SPARK_GRAFT_CPUS, else every core the
    * JVM sees.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The bare local session the mains run on: `local[cpus]`, one
    * shuffle partition per core, no UI. No graft defaults are added
    * except the JVM-wide generated-class cache bound (see above); each
    * main chains the configs it needs.
    */
  def local(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
}
