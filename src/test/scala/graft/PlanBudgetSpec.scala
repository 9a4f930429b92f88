package graft

/** Plan-shape budgets for headline queries: every entry pins the
  * number of shuffles (hash + range exchanges) and parquet scans its
  * plan is allowed, at today's values. A failure here means a code
  * change quietly added a shuffle or an extra pass over a source
  * table — exactly the regressions that are invisible at sf0.01 and
  * dominate at 100 TB. Budgets are ceilings: a plan that gets BETTER
  * passes (tighten the row when it does).
  *
  * AQE is disabled for the count so the budget sees the static plan
  * (AQE only ever removes exchanges at runtime, never adds).
  */
class PlanBudgetSpec extends SparkSpec {

  private lazy val session = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // The CacheManager is shared across newSession()s: if another suite
    // already ran a query whose memoized upstream was persisted, our
    // identical subtree would be substituted with an InMemoryRelation
    // whose stringified cached plan inflates the exchange/scan counts
    // (budgets would then depend on suite execution ORDER). Start from
    // a cold cache so every budget measures the fresh static plan.
    s.catalog.clearCache()
    s
  }

  // query -> (max hash exchanges, max range exchanges, max parquet scans)
  private val budgets: Seq[(String, (Int, Int, Int))] = Seq(
    "q1_agg" -> (1, 1, 1), // one agg shuffle + output sort
    "q_tpch3" -> (1, 0, 3), // dims broadcast; one agg shuffle
    "q_tpch5" -> (1, 1, 7), // 6-table join, one agg shuffle; the 7th
    // scan is the FIXED-25-row nation table appearing on both dim legs
    // (r9 early-ASIA restriction) — column pruning projects the two
    // legs differently, so ReuseExchange can't collapse them; a
    // bounded-dim rescan, free at any sf
    "q_tpch17" -> (1, 0, 2), // window reuses the agg partitioning
    "q_tpch21" -> (2, 0, 2), // SINGLE lineitem scan + ONE fact shuffle
    // (repartition reused by both aggs — r8 two-agg form) + supplier
    "q_dedup_exact" -> (1, 1, 1), // one md5-keyed shuffle
    "q_dedup_minhash" -> (2, 1, 3), // band shuffle + verify, no explode join
    "q_sample_hash" -> (0, 1, 1), // pure filter: NO shuffle at all
    "q_topn_per_group" -> (1, 1, 1), // one window shuffle
    "q_asof_join" -> (2, 1, 2), // union+window single-shuffle shape
    "q_tfidf_top" -> (3, 1, 2), // tokenize once + window df; 2nd scan is the zero-column doc count
    "q_surprisal" -> (3, 1, 1), // ONE tokenize pass, stats re-aggregated from it
    "q_bm25" -> (3, 0, 2), // the Bm25 core: the bag-filtered tf
    // aggregate + the bagStats term aggregate (≤ |bag|+1 keys after
    // map-side combine, broadcast as one row) + the doc-keyed score
    // agg, then TakeOrdered. The trade: the eager off-plan stats
    // collect became an in-plan pass, so the static plan shows 2 corpus
    // scans where it showed 1, while total corpus passes stay at 2
    // and building the DataFrame runs no job
    "q_dup_ngrams" -> (2, 1, 1), // window-over-gram: ONE corpus scan
    "q_source_overlap" -> (4, 1, 1), // r16: ONE shingle pass collapsing
    // into the source-set histogram; the extra hash exchanges beyond
    // the gram agg (histogram, pair expansion, n_grams window) all
    // carry <= 2^n_sources (or n_sources^2) rows — the r15 form's 3
    // exchanges included a SECOND corpus-scale shingle pass instead
    "q_shard_plan" -> (1, 1, 1), // pure map + one agg
    "q_source_drift" -> (5, 1, 1), // ONE tokenize pass feeds all aggs
    "q_dedup_simhash" -> (6, 1, 6), // static view: 6 signature consumers;
    // the SessionMemo persist collapses them to ONE runtime scan (Profile census)
    "q_bigram_lm" -> (2, 1, 1), // zip_with pairs: ONE corpus scan
    "q_embed_neardup" -> (0, 1, 1), // exhaustive oracle mode: no hash shuffle
    "q_edit_distance" -> (0, 1, 2), // len-blocked self-join (gate mode)
    "q_tpch11" -> (1, 1, 3), // 3 scans = 3 TABLES (partsupp/supplier/nation);
    // the partsupp agg itself is computed once
    "q_table_profile" -> (5, 1, 5), // 5 per-column branches, each one
    // column-pruned scan + one distinct-valued shuffle; no Expand (below)
    "q_ann_index" -> (3, 1, 3), // serving path (r10/r11: probe + rank
    // are bounded aggregates, no Window anywhere); the PRUNED cells
    // scan + TWO scans of the bounded QUERY BATCH (the aggregate probe
    // rank drops qe, so it re-attaches by one bounded join — a
    // query-relation rescan, free at any corpus scale; the cells scan
    // stays pruned and single); probes broadcast, never the corpus
    "q_ann_lsh" -> (2, 1, 2), // r11 sweep: bucket join (queries
    // broadcast) + the BoundedTopK rank agg; corpus + queries scans
    "q_ann_ivf" -> (3, 1, 3), // r11 sweep: probe-cell agg + rank agg +
    // assignment; every rank a bounded aggregate, no qid window
    "q_compress_ratio" -> (0, 1, 1), // pure codegen map: NO shuffle
    "q_gopher_rules" -> (0, 1, 1), // rule battery: pure codegen map, NO shuffle
    "q_soft_dedup" -> (4, 1, 2), // clusters come back lineage-cut (the CC
    // loop materializes internally), so the static plan is ONE corpus
    // scan + the id join / size agg / weight joins
    "q_dsir_weights" -> (2, 1, 3), // r8 reshape: bucket stats from a
    // map-side-combined bounded agg (shuffle ≤ buckets·tasks) and the
    // per-doc score aggregated straight off the gram stream with the
    // 4096-row (bucket, lr) table broadcast — no gram-cardinality
    // shuffle anywhere. Cost moved to scans: two explode passes + the
    // narrow no-explode totals pass, the right trade at every scale
    // (scans pipeline at scan speed; gram shuffles do not)
    "q_semantic_decontam" -> (0, 1, 2), // broadcast-NL ANTI join: the
    // eval suite broadcasts, the corpus never shuffles
    "q_bpe_tokenize" -> (0, 1, 1), // encode is a pure codegen map (the
    // train pass runs once at build and memoizes; scoring plans NO
    // shuffle at all)
    "q_bm25_index" -> (3, 1, 2), // SEARCH plan only (build memoized):
    // pruned postings scan + query tokenize scan; qt distinct + score
    // agg + the bounded rank agg (r12: no qid window anywhere)
    "q_mmr_rerank" -> (3, 1, 3), // brute-force candidate window +
    // vector re-attach + per-query greedy groupByKey; 3 bounded
    // embedding scans
    "q_dedup_lines" -> (3, 1, 2), // line-df agg shuffle + anti-join
    // distribution + the doc-keyed rebuild agg; the line lineage
    // feeds both the frequency branch and the anti-join LHS, so the
    // corpus scans twice — the dsir trade: two pipelined scans beat
    // persisting an exploded relation; no window anywhere (the
    // hottest line is corpus-frequent by definition)
    "q_sample_stratified_exact" -> (1, 1, 2), // the BoundedMinK agg
    // shuffle only; quota join broadcast; the pick side and the
    // reattach side each scan the corpus once (the bounded count
    // table is collected before this plan exists)
    "q_unimax_sample" -> (1, 1, 2), // the K34 fill shape: ONE
    // BoundedMinK agg shuffle for the remainder bumps; plan table
    // broadcast (collected before this plan exists); main + fill
    // sides each scan the corpus once
    "q_unimax_quotas" -> (1, 1, 1), // ONE map-side-combined
    // groupBy(source) shuffle; every waterfill window runs on the
    // bounded per-source table (SinglePartition exchanges over
    // |sources| rows, not counted here and not corpus-scaled)
    "q_contam_fraction" -> (3, 1, 2), // K36: eval-gram distinct + the
    // probe join's corpus-gram side + per-doc count agg; the eval side
    // broadcasts at runtime (bounded suite), corpus scans twice (eval
    // branch + corpus branch of the one shingle lineage)
    "q_exact_substr" -> (5, 1, 3), // F13: gram-df agg + gram join-back
    // + coverage distinct + token-key join + doc rebuild agg — every
    // exchange key-bounded, no gram-hash window; 3 scans = token pass
    // + the gram lineage feeding both the aggregate and the join-back
    // (the F10/dsir trade: pipelined re-scans beat persisting an
    // exploded gram relation)
    "q_decontam_scrub" -> (3, 1, 3), // K37: F13's coverage/rebuild
    // lineage with the dup-gram aggregate REPLACED by the bounded
    // eval gram set — eval-gram distinct + coverage distinct + doc
    // rebuild agg; the probe join and the (doc_id,pos) join broadcast
    // (eval suite and covered set are bounded); 3 scans = token pass
    // + train-gram pass + the eval branch's one scan
    "q_dedup_lines_doc" -> (0, 1, 1), // F11 is strictly map-only: one
    // corpus scan, zero hash exchanges; the range exchange is the
    // gate's output orderBy
    "q_hard_negatives" -> (3, 1, 6), // positives distinct + baseline
    // agg + rank aggregate; queries/positives/baseline all broadcast —
    // the CORPUS never hash-shuffles (the three hash exchanges move
    // qid-keyed bounded relations). 6 scans of the one embeddings
    // table: candidate pairs, the baseline's corpus side (r16: a
    // hash-pruned equi-join scan that REPLACED the second full
    // |corpus|×|queries| BNLJ cosine pass — one static scan MORE, one
    // corpus-scale pair pass FEWER at runtime), query side ×3 (the
    // baseline now attaches query embeddings by its own bounded
    // broadcast), and the positives build — every one but the
    // candidate pass is bounded by the query/positive sets
    "q_bigram_perplexity" -> (13, 1, 10) // static view: the stats lineage
    // appears in the pair-join branch, the HEAD-table branch (r8: seen
    // heads with novel continuations take c1 from a w1-keyed head
    // join, not coalesce-to-0), and the vocab-scalar branch — all
    // collapse onto the ONE SessionMemo-persisted stats relation at
    // runtime + ONE probe scan. Only pairs MISSING the (w1,w2) join
    // re-shuffle on w1 (the seen/unseen split), so the runtime corpus
    // cost stays one full shuffle + the unseen fraction
  )

  budgets.foreach { case (q, (maxHash, maxRange, maxScans)) =>
    test(s"$q stays within its shuffle/scan budget ($maxHash/$maxRange/$maxScans)") {
      val plan = SparkEntry.queries(q)(session, sfDir)
        .queryExecution.executedPlan.toString
      // a ReusedExchange line embeds the original exchange's text —
      // count only lines that EXECUTE an exchange / scan
      val lines = plan.linesIterator.filterNot(_.contains("ReusedExchange"))
        .toSeq
      val hash = lines.count(_.contains("Exchange hashpartitioning"))
      val range = lines.count(_.contains("Exchange rangepartitioning"))
      val scans = lines.count(_.contains("Scan parquet"))
      assert(hash <= maxHash,
        s"$q grew a hash exchange: $hash > $maxHash — new shuffle in the plan")
      assert(range <= maxRange,
        s"$q grew a range exchange: $range > $maxRange")
      assert(scans <= maxScans,
        s"$q reads a source table more often: $scans > $maxScans scans")
    }
  }

  test("q_table_profile never plans an Expand (multi-distinct row replication)") {
    // the round-6 regression: 5 countDistincts in ONE aggregate made
    // Catalyst Expand every lineitem row 6× into a single shuffle
    val plan = SparkEntry.queries("q_table_profile")(session, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"q_table_profile must stay per-column single-distinct:\n$plan")
  }
}
