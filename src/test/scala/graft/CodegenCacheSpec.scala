package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.tools.Measure.compiled

/** Spark's generated-class cache holds graft's working set, so a
  * second pass over the same plans compiles nothing. Under Spark's
  * default bound (100 entries, LRU) a pass over more than 100 classes
  * evicts each one before it comes round again and recompiles them all.
  * TestSession applies GraftSession's bound, as the first session in
  * the JVM must.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Classes compiled by the first and by the second run of `pass`. */
  private def twice(pass: => Unit): (Long, Long) =
    (compiled(pass)._2, compiled(pass)._2)

  test("150 distinct one-class plans: the second pass compiles nothing") {
    val (first, second) = twice((0 until 150).foreach { i =>
      spark.range(10).select((col("id") * lit(7919L) + lit(i)).as("v")).collect()
    })
    assert(first > 100, s"the pass must outgrow Spark's default bound: $first")
    assert(second == 0, s"$second of $first classes recompiled")
  }

  test("the perfbench corpus queries: the second pass reuses their classes") {
    val corpus = Seq("q_embed_neardup", "q_dedup_minhash", "q_dedup_simhash",
      "q_bpe_tokenize", "q_bigram_lm", "q_gopher_rules", "q_lang_id")
    val (first, second) = twice(corpus.foreach(q => SparkEntry.queries(q)(spark, sfDir).collect()))
    // Not 0: adaptive execution numbers whole-stage codegen stages per
    // run and the id is part of the generated source, so a stage that
    // gets a new id recompiles identical code (4 classes in some runs).
    // At Spark's default bound every class of the pass recompiles: it
    // touches more than 100 (107 in perfbench's corpus pass).
    assert(second <= 8, s"$second of $first classes recompiled")
  }
}
