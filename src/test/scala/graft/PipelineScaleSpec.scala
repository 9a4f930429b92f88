package graft

import org.apache.spark.sql.functions._

/** Scale-safety contract for the LLM-pipeline suite, in the spirit of
  * BroadcastSafetySpec: corpus tables (documents/embeddings) grow with
  * sf, so
  *  - LSH/banding paths must never force-broadcast a corpus scan and
  *    must never degenerate into a cartesian pair join;
  *  - the only corpus-reading broadcasts allowed are provably-bounded
  *    subsets (the `vec_id < 10` query set), visible as a pushed
  *    filter on the broadcast side's scan;
  *  - the explicit exhaustive modes (planes=0 gate configs) are the
  *    one sanctioned cartesian, and stay confined to those queries.
  */
class PipelineScaleSpec extends SparkSpec {

  private lazy val noAutoBc = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def plan(name: String) =
    SparkEntry.queries(name)(noAutoBc, sfDir).queryExecution.executedPlan

  private val lshQueries =
    Seq("q_dedup_minhash", "q_ngram_jaccard", "q_dedup_simhash")

  test("LSH dedup paths never broadcast or cross-join the corpus") {
    lshQueries.foreach { q =>
      val p = plan(q)
      val badBroadcast = p.collect {
        case b if b.nodeName.contains("BroadcastExchange") &&
          b.collectLeaves().exists(_.toString.contains("documents.parquet")) => b
      }
      assert(badBroadcast.isEmpty, s"$q force-broadcasts a documents scan")
      val cartesian = p.collect {
        case n if n.nodeName.contains("CartesianProduct") ||
          n.nodeName.contains("BroadcastNestedLoop") => n
      }
      assert(cartesian.isEmpty, s"$q contains a cartesian pair join")
    }
  }

  test("similarity broadcasts only bounded query subsets of the corpus") {
    Seq("q_ann_bruteforce", "q_ann_ivf", "q_ann_lsh").foreach { q =>
      plan(q).collect {
        case b if b.nodeName.contains("BroadcastExchange") => b
      }.foreach { b =>
        b.collectLeaves().map(_.toString)
          .filter(_.contains("embeddings.parquet"))
          .foreach { leaf =>
            assert(leaf.contains("LessThan(vec_id,10)"),
              s"$q broadcasts an unbounded embeddings scan:\n$leaf")
          }
      }
    }
  }

  test("curation queries never broadcast or cross-join the corpus") {
    // the K-suite reads the same sf-scaling corpus tables; same
    // contract as the LSH paths (contamination's eval side is a
    // filtered corpus subset here — at scale it is an external
    // benchmark set, so it must not be FORCE-broadcast either way)
    Seq("q_contamination", "q_tfidf_top", "q_embed_cohesion",
      "q_pack_sequences", "q_repetition", "q_sample_group_topk",
      "q_dup_ngrams", "q_split_leakage_safe", "q_token_budget",
      "q_surprisal").foreach { q =>
      val p = plan(q)
      val badBroadcast = p.collect {
        case b if b.nodeName.contains("BroadcastExchange") &&
          b.collectLeaves().exists(l =>
            l.toString.contains("documents.parquet") ||
              l.toString.contains("embeddings.parquet")) &&
          // scalar aggregates (tfidf's doc-count row) are bounded
          !b.exists {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
              a.groupingExpressions.isEmpty
            case _ => false
          } => b
      }
      assert(badBroadcast.isEmpty, s"$q force-broadcasts a corpus scan")
      // scalar single-row joins (tfidf's broadcast doc count) plan as
      // BroadcastNestedLoop with a grouping-free aggregate build side
      // — bounded by construction, not a cartesian blow-up
      def scalarBuild(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
        n.children.exists(_.exists {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
            a.groupingExpressions.isEmpty
          case _ => false
        })
      val cartesian = p.collect {
        case n if n.nodeName.contains("CartesianProduct") ||
          (n.nodeName.contains("BroadcastNestedLoop") && !scalarBuild(n)) => n
      }
      assert(cartesian.isEmpty, s"$q contains a cartesian join")
    }
  }

  test("the exhaustive gate config is the only cartesian in the suite") {
    val exhaustive = plan("q_embed_neardup").collect {
      case n if n.nodeName.contains("CartesianProduct") => n
    }
    assert(exhaustive.nonEmpty,
      "q_embed_neardup (planes=0) should be an explicit all-pairs join")
    // the production config stays bucket-local
    val prod = operators.Similarity.cosineNearDups(
      Tables.embeddings(noAutoBc, sfDir), threshold = 0.9,
      planes = 6, probes = 2).queryExecution.executedPlan
    val cartesian = prod.collect {
      case n if n.nodeName.contains("CartesianProduct") ||
        n.nodeName.contains("BroadcastNestedLoop") => n
    }
    assert(cartesian.isEmpty, "production LSH config must stay bucket-local")
  }
}
