package graft

import org.apache.spark.sql.SparkSession

/** Recommended session wiring for the library: graft's SQL extension
  * surface plus the scale defaults every operator here assumes.
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

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // SQL surface: minhash_sig / simhash64 / shingle_set /
      // lsh_band_keys / dot_product / unit_norm / hyperplane_bucket /
      // tensor_pack / tensor_unpack + the codec-elimination rule
      .withExtensions(new GraftExtensions)
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
    * shuffle partition per core, no UI. No graft defaults are added;
    * each main chains the configs it needs.
    */
  def local(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
}
