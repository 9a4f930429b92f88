package graft.tools

import graft.SparkSpec

/** Every IndexServe mode at tiny sizes on the shared session: each
  * metric keeps the field set its committed `*_SERVE_r*.json` artifacts
  * were printed with, and each in-tool gate's success path runs.
  * `--cold` is not run here: it writes /proc/sys/vm/drop_caches.
  */
class IndexServeSpec extends SparkSpec {

  private val annServe = Set("metric", "unit", "sf_dir", "mult", "corpus_rows", "reps",
    "index_build", "search_recompute_ivf", "search_from_disk", "speedup", "nprobe",
    "n_cells", "cpus")
  private val annServeGen = Set("metric", "unit", "corpus_rows", "generated_corpus", "reps",
    "codes_only", "refine", "page_cache_dropped", "n_cells", "nprobe", "files_per_cell",
    "index_build", "index_bytes", "cold_from_disk", "warm_from_disk",
    "cold_recompute_gen_ivfpq", "warm_recompute_gen_ivfpq", "cold_speedup", "cpus")
  private val bm25Serve = Set("metric", "sf_dir", "n_docs", "reps", "build_wall",
    "recompute_med", "index_med", "speedup", "cpus")
  private val bm25GenServe = Set("metric", "n_docs", "words_per_doc", "vocab", "build_wall",
    "index_gb", "cold", "warm_med", "recompute_med", "speedup_vs_recompute",
    "warm_resident_med", "n_cold_rows", "page_cache_dropped", "files_read", "files_total",
    "n_buckets", "files_per_bucket", "reps", "shuffle_partitions", "cpus", "driver_mem", "utc")
  private val bm25Elided = Set("max_df_share", "warm_elided_med", "resident_elided_med")
  private val bm25Compacted = Set("compact_groups", "compact_wall", "compact_min_free_gb",
    "warm_compacted_med", "warm_compacted_elided_med")
  private val dedupServe = Set("metric", "sf_dir", "mult", "n_store", "reps", "build_wall",
    "recompute_med", "index_med", "speedup", "n_dropped", "n_matched", "auto_n_buckets",
    "auto_n_sig_buckets", "auto_index_med", "auto_build_wall", "loadavg", "utc")
  private val negServe = Set("metric", "unit", "sf_dir", "mult", "corpus_rows", "reps",
    "sanity_gate", "codes_only", "cand_depth", "k", "n_queries", "brute_queries", "n_cells",
    "nprobe", "index_build", "index_chain_wall", "brute_chain_wall", "index_per_1k_queries",
    "brute_per_1k_queries", "speedup_per_query", "cpus")

  private def serve(args: String*): Map[String, Any] = {
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val fields = IndexServe.run(spark, args)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cached
    assert(leaked.isEmpty, s"RDDs left persisted: $leaked")
    val names = fields.map(_._1)
    assert(names.distinct == names, s"a field printed twice: $names")
    assert(Measure.json(fields).startsWith("{\"metric\":"))
    fields.toMap
  }

  private def assertFields(out: Map[String, Any], metric: String, expected: Set[String]) = {
    assert(out("metric") == metric)
    assert(out.keySet == expected,
      s"missing ${expected -- out.keySet}, extra ${out.keySet -- expected}")
  }

  test("ann over an sf replica prints ann_serve") {
    val out = serve("ann", sfDir, "--reps", "1", "--mult", "2")
    assertFields(out, "ann_serve", annServe)
    assert(out("mult") == 2)
  }

  test("ann over a generated corpus prints ann_serve_gen, its cold fields null without --cold") {
    val out = serve("ann", "--gen-rows", "5000", "--reps", "1", "--cells", "8")
    assertFields(out, "ann_serve_gen", annServeGen)
    assert(out("corpus_rows") == 5000L && out("n_cells") == 8)
    assert(out("page_cache_dropped") == false)
    Seq("cold_from_disk", "cold_recompute_gen_ivfpq", "cold_speedup")
      .foreach(f => assert(out(f) == None, f))
  }

  test("bm25 over an sf table prints bm25_serve") {
    assertFields(serve("bm25", sfDir, "--reps", "1"), "bm25_serve", bm25Serve)
  }

  test("bm25 over a sliced, compacted generated corpus passes the pruned-read gate") {
    val out = serve("bm25", "--gen-rows", "4000", "--reps", "1", "--buckets", "16",
      "--files-per-bucket", "1", "--slices", "2", "--max-df-share", "0.5",
      "--compact-groups", "16")
    assertFields(out, "bm25_gen_serve", bm25GenServe ++ bm25Elided ++ bm25Compacted)
    val (read, total) = (out("files_read").asInstanceOf[Int], out("files_total").asInstanceOf[Long])
    assert(read > 0 && read <= total, s"$read of $total files read")
  }

  test("dedup screens identically from the raw store and the index, and restores --shuffle") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // the 10-doc batch over the 500-doc store auto-sizes to 1 band
    // bucket (a full read: the store is too small for pruning to pay):
    // the fixed 1024 and the auto-sized index are both built and screened
    val out = serve("dedup", sfDir, "--reps", "1", "--shuffle", "3")
    assert(spark.conf.get(key) == before)
    assertFields(out, "dedup_serve", dedupServe)
    assert(out("n_dropped").asInstanceOf[Int] > 0)
    assert(out("auto_n_buckets") == 1 && out("auto_index_med") != None)
  }

  test("neg passes its base-scale sanity gate") {
    val out = serve("neg", sfDir, "--reps", "1", "--queries", "5", "--brute-queries", "5")
    assertFields(out, "neg_serve", negServe)
    assert(out("sanity_gate") == "pass")
  }

  test("flags outside a mode or its corpus source are rejected before any work") {
    Seq(Seq("dedup", "--gen-rows", "10"), Seq("neg", sfDir, "--cold"),
      Seq("bm25", sfDir, "--cold"), Seq("bm25", sfDir, "--slices", "2"),
      Seq("bm25", sfDir, "--buckets", "16"), Seq("bm25", sfDir, "--files-per-bucket", "1"),
      Seq("dedup", sfDir, "--batch", "1"), Seq("dedup", sfDir, "--buckets", "16"),
      Seq("ann", "--gen-rows", "10", "--mult", "2"), Seq("ann", sfDir, "--celss", "8"),
      Seq("ann"), Seq("ann", sfDir, "--gen-rows", "10"), Seq("neg", sfDir, "--batch", "2"),
      Seq("knn", sfDir))
      .foreach(args => intercept[IllegalArgumentException](IndexServe.run(spark, args)))
  }
}
