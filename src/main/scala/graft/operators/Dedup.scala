package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every candidate-generation step is *bucket-local* —
  * work is shuffled by (band, hash) or (band, bits) keys and pairs are
  * only formed inside a bucket (capped by maxBucket). There is never a
  * global cross join, so cost is O(data) + O(sum of bucket^2) which
  * LSH keeps tiny. Sketches are computed by the single-pass native
  * expressions in graft.functions (FNV64+splitmix hashing, multiply-
  * add permutations); bucket keys use Catalyst xxhash64.
  */
object Dedup {

  /** Fan a small-file scan out to all cores before compute-heavy
    * per-row work (shingling, sketching, vector bucketing and pair
    * scoring in Similarity). A single parquet file scans
    * as one partition; without this every sketch below runs on one
    * core. At real scale inputs arrive in many partitions and the
    * round-robin exchange is a no-op cost-wise (it moves ids+text
    * once, far cheaper than serializing the compute).
    */
  private[operators] def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles inspects the plan without executing it (df.rdd under
    // AQE would materialize upstream stages). Raw scans of fewer
    // files than cores get spread out; derived plans (joins/aggs
    // upstream) already carry shuffle parallelism and pass through.
    val files = df.inputFiles.length
    if (files > 0 && files < target) df.repartition(target) else df
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups: content hash → representative (min id) + count.
    * One shuffle keyed by the 128-bit content hash; at 100 TB the md5
    * key keeps shuffle rows tiny regardless of document size.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).cast(LongType).as("keep_id"),
           count(lit(1)).as("n_dups"))

  /** Keep one representative per exact-duplicate group.
    *
    * r9 de-skew (the H12/K15 lesson applied here): the old form
    * ranked rows inside `Window.partitionBy(md5(text))`, so a
    * boilerplate document with 10^9 copies became ONE corpus-scale
    * window partition no engine can split. Now the representative
    * set comes from [[exactGroups]] — a map-side-combined aggregate
    * where the hottest family collapses to one row per map partition
    * before it ever shuffles — and survivors are a semi join on the
    * UNIQUE id key, which cannot skew (each id appears once per
    * side). Costs a second corpus scan; at 100 TB two scans beat one
    * unsplittable reducer (the DSIR trade, SURVEY K30).
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(exactGroups(docs, idCol, textCol).select(col("keep_id")),
      col(idCol).cast(LongType) === col("keep_id"), "left_semi")

  // -------------------------------------------------------------- minhash

  /** Word n-gram shingles (default 3) of the lowercased text,
    * distinct. Native single-pass expression (the composed
    * transform/slice/concat_ws form generated enough Java that
    * Janino compile time dominated cold query latency).
    */
  def shingles(text: Column, n: Int = 3): Column = {
    import graft.functions.{exprs, ShingleSet}
    exprs.toColumn(ShingleSet(
      exprs.toExpr(TextAnalysis.tokens(text)), n))
  }

  /** MinHash signature via the MinHashSignature Catalyst expression:
    * the whole numPerm-wide sketch in one narrow pass per document —
    * no explode, no shuffle (the composed explode+64-aggregate form
    * costs an exchange; at 100 TB that exchange IS the job).
    */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       numPerm: Int = 64, shingleN: Int = 3): DataFrame = {
    import graft.functions.{exprs, MinHashSignature}
    fanOut(docs).select(col(idCol).as("doc_id"),
      exprs.toColumn(MinHashSignature(
        exprs.toExpr(shingles(col(textCol), shingleN)), numPerm)).as("sig"))
  }

  /** LSH band keys: signature split into `bands` bands of
    * numPerm/bands rows; each band hashed to one bucket key. Same
    * hashing as minhashCandidates (the LshBandKeys expression) so
    * Column-API callers and the pipeline land in identical buckets.
    */
  def lshBands(sig: Column, numPerm: Int, bands: Int): Column = {
    require(bands >= 1 && bands <= numPerm && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    import graft.functions.{exprs, LshBandKeys}
    val keys = exprs.toColumn(LshBandKeys(exprs.toExpr(sig), bands))
    transform(keys, (k, i) => struct(i.as("band"), k.as("bh")))
  }

  /** All (a &lt; b) pairs from a sorted id array, as array expressions. */
  private def pairsOf(ids: Column): Column = {
    val sorted = sort_array(ids)
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, greatest(size(sorted) - i - 1, lit(0))),
        y => struct(x.as("id_a"), y.as("id_b")))))
  }

  /** Candidate pairs from LSH: docs sharing any band bucket.
    *
    * One shuffle keyed by (band, bandhash), buckets aggregated with
    * collect_list and expanded to pairs with array expressions — no
    * self-join, so signatures are computed exactly once. Buckets
    * larger than `maxBucket` are dropped: a bucket that a sizable
    * fraction of the corpus hashes into carries no similarity signal
    * and would otherwise produce quadratic pairs (the LSH skew
    * guard — at 100 TB this bound is what keeps the reduce side
    * finite under adversarial/degenerate content).
    */
  def minhashCandidates(sigs: DataFrame, numPerm: Int = 64, bands: Int = 16,
                        maxBucket: Int = 256): DataFrame = {
    require(bands >= 1 && bands <= numPerm && numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    // native band hashing (one mix64 chain per band) + posexplode:
    // (pos, value) = (band, bucket key)
    val bandKeys = {
      import graft.functions.{exprs, LshBandKeys}
      exprs.toColumn(LshBandKeys(exprs.toExpr(col("sig")), bands))
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(bandKeys).as(Seq("band", "bh")))
    banded.groupBy("band", "bh")
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Estimated Jaccard from signatures: fraction of agreeing perms. */
  def signatureJaccard(sigA: Column, sigB: Column): Column =
    (size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b)).cast(DoubleType)
      / size(sigA).cast(DoubleType))

  /** One shingling pass for the candidate+verify pipelines:
    * (doc_id, shset, sig), persisted MEMORY_AND_DISK. The three
    * consumers (band keys, verify side A, verify side B) would
    * otherwise each recompute tokenize→shingle→sketch over the whole
    * corpus — at 100 TB that triples the dominant CPU cost. Persisting
    * trades one disk-backed materialization for the recomputes;
    * carrying the sets through the band shuffle instead would multiply
    * shuffle volume by `bands`, which is the worse trade. Blocks age
    * out LRU with the session (same lifecycle Spark ML's LSH models
    * accept).
    */
  private def shinglesAndSig(docs: DataFrame, idCol: String, textCol: String,
                             numPerm: Int, shingleN: Int): DataFrame = {
    import graft.functions.{exprs, MinHashSignature}
    fanOut(docs)
      .select(col(idCol).as("doc_id"), shingles(col(textCol), shingleN).as("shset"))
      .select(col("doc_id"), col("shset"),
        exprs.toColumn(MinHashSignature(exprs.toExpr(col("shset")), numPerm)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Exact-Jaccard verify over candidate pairs: candidates are
    * typically tiny relative to the corpus, so AQE broadcasts them and
    * the persisted set relation streams map-side through both
    * attachment joins — no shuffle of set data.
    */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame,
                            setCol: String, threshold: Double): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("id_a"), col(setCol).as("set_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col(setCol).as("set_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast(DoubleType) /
          size(array_union(col("set_a"), col("set_b"))).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Full MinHash-LSH near-dup pipeline: candidates with exact shingle
    * Jaccard >= threshold (verification joins shingle sets back on the
    * candidate pairs only, never all pairs). Shingles are computed
    * exactly once (see shinglesAndSig).
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, numPerm: Int = 64,
                      bands: Int = 16, shingleN: Int = 3): DataFrame = {
    val prepped = shinglesAndSig(docs, idCol, textCol, numPerm, shingleN)
    val cands = minhashCandidates(prepped.select("doc_id", "sig"), numPerm, bands)
    verifyJaccard(cands, prepped, "shset", threshold)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: bit i is the sign of the
    * per-token vote on bit i of the token hash. Computed by the
    * SimHash64 Catalyst expression in one narrow pass — no explode,
    * no shuffle (see MinHashSignature note above).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.{exprs, SimHash64}
    fanOut(docs).select(col(idCol).as("doc_id"),
      exprs.toColumn(SimHash64(
        exprs.toExpr(TextAnalysis.tokens(col(textCol))))).as("simhash"))
  }

  /** SimHash near-dup candidates: 4 bands of 16 bits — any pair with
    * hamming distance <= 3 must agree on at least one band
    * (pigeonhole), so bucketing by band value finds all of them with a
    * bucket-local join; verified by bit_count(xor) <= maxHamming.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame =
    simhashNearDupsFromSigs(simhash(docs, idCol, textCol), maxHamming, maxBucket)

  /** Near-dup pairs from precomputed `simhash()` signatures — callers
    * that also consume the signatures directly (e.g. to report hamming
    * distances) compute/persist them once instead of re-hashing the
    * corpus inside this operator.
    */
  def simhashNearDupsFromSigs(sigs: DataFrame,
                              maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    // r16 (guide §2.4): the signature RIDES the bucket rows, so pair
    // expansion emits (id, simhash) for both sides directly and the
    // hamming verify is a pure map — the r15 shape re-attached
    // signatures with TWO id-keyed shuffled joins (each recomputing
    // the corpus sig projection). Bucket rows carry one extra long;
    // sort_array on struct(doc_id, simhash) orders by the unique
    // doc_id, so pair order is unchanged.
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("bits"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    val sorted = sort_array(col("entries"))
    val pairs = flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, greatest(size(sorted) - i - 1, lit(0))),
        y => struct(x.getField("doc_id").as("id_a"),
          x.getField("simhash").as("sh_a"),
          y.getField("doc_id").as("id_b"),
          y.getField("simhash").as("sh_b")))))
    banded.groupBy("band", "bits")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("entries"))
      .where(size(col("entries")).between(2, maxBucket))
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        bit_count(col("p.sh_a").bitwiseXOR(col("p.sh_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Exact n-gram Jaccard verify pass over LSH candidate pairs: the
    * cheap-candidates → exact-verify composition. Bands are widened
    * (rows-per-band = 2 → s-curve threshold ≈ 0.18) so recall at low
    * thresholds stays high while the pair count remains bucket-local.
    * At 100 TB the shuffle keys are (band, bandhash) then the two
    * candidate-id join keys — never a quadratic block.
    */
  def ngramJaccardViaLsh(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double, numPerm: Int = 64,
                         bands: Int = 32, n: Int = 3): DataFrame = {
    val prepped = shinglesAndSig(docs, idCol, textCol, numPerm, n)
    val cands = minhashCandidates(prepped.select("doc_id", "sig"), numPerm, bands)
    verifyJaccard(cands, prepped, "shset", threshold)
  }

  /** Character/word n-gram Jaccard over blocked candidate pairs.
    * Blocking keys (e.g. (lang, length bucket)) bound bucket sizes so
    * the within-bucket pair join stays local; at 100 TB the blocking
    * key is the shuffle key.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], threshold: Double,
                        n: Int = 3): DataFrame = {
    val prepped = fanOut(docs).select(col(idCol).as("doc_id"),
      shingles(col(textCol), n).as("grams"),
      struct(blockCols: _*).as("blk"))
    val a = prepped.as("a")
    val b = prepped.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("jaccard",
        size(array_intersect(col("a.grams"), col("b.grams"))).cast(DoubleType) /
          size(array_union(col("a.grams"), col("b.grams"))).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------- cluster + canonical

  /** Connected components over near-dup pairs — the clustering step a
    * production dedup pipeline ends with: pairs → cluster ids → one
    * canonical document per cluster.
    *
    * Min-label propagation with pointer jumping, iterated to a fixed
    * point: each round takes the min label over direct neighbors,
    * then jumps every label through its own label (label ←
    * label(label)), and the loop ends when no label changes — checked
    * with one scalar count per round, the same per-iteration action
    * every Spark iterative algorithm (Lloyd, GraphX Pregel) pays.
    * Convergence needs at most diameter rounds (neighbor-min alone
    * moves the min one hop per round; the jump usually collapses
    * chains much faster); `maxRounds` is a runaway bound and
    * non-convergence raises rather than returning wrong clusters.
    * Every round is a fixed number of shuffle joins keyed by id/label
    * — O(E) per round, no quadratic block anywhere, the standard
    * distributed-CC shape at 100 TB.
    *
    * Each round runs exactly ONE Spark action: the round's label
    * table is lazily persisted and the convergence count is the job
    * that materializes it — the blocking driver round-trips per
    * iteration (the real per-round cost at 100 TB, where every job
    * carries scheduler + stage-launch latency) stay at one. The cut
    * itself still happens every round — a lazy cut replaces the
    * logical plan immediately, which is what stops the
    * self-referencing round plans growing exponentially — with
    * `reliableCheckpointDir` unset the cut is a `localCheckpoint`
    * (fast, but an executor loss mid-iteration kills the job); pass a
    * distributed-FS dir on a real cluster and every round lands in
    * reliable storage, so lost executors recompute from the last
    * round instead of from zero.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`,
    * cluster_id = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
                          reliableCheckpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithMetrics(pairs, maxRounds, reliableCheckpointDir)._1

  /** Convergence telemetry for one connectedComponents run: rounds
    * executed and labels changed per round (monotone non-increasing on
    * typical graphs; the final 0 is the fixed-point proof). At 100 TB
    * the per-round `count` is a blocking driver job — this is the
    * number to watch when tuning maxRounds, so it is returned rather
    * than buried in logs.
    */
  final case class CcMetrics(rounds: Int, labelsChanged: Seq[Long])

  /** One round-boundary lineage cut: reliable `checkpoint` against
    * `dir` when set (survives executor loss), `localCheckpoint`
    * otherwise. Lazy cuts (`eager = false`) still replace the logical
    * plan with a flat LogicalRDD immediately — which is what stops the
    * self-referencing round plans growing exponentially — but defer
    * materialization to the round's one counting action instead of
    * spending a dedicated job here.
    */
  private def roundCheckpoint(df: DataFrame, dir: Option[String],
                              eager: Boolean = true): DataFrame =
    dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir stores an FS-qualified, UUID-suffixed child
        // (e.g. file:/dir/<uuid>), so equality against `d` never holds
        // — match on the parent-path substring or every round would
        // mkdir a fresh UUID directory
        val marker = d.stripSuffix("/") + "/"
        if (!sc.getCheckpointDir.exists(_.contains(marker)))
          sc.setCheckpointDir(d)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** [[connectedComponents]] plus its [[CcMetrics]]. */
  def connectedComponentsWithMetrics(
      pairs: DataFrame, maxRounds: Int = 50,
      reliableCheckpointDir: Option[String] = None): (DataFrame, CcMetrics) = {
    val edges = roundCheckpoint(pairs
      .select(col("id_a").cast(LongType).as("u"), col("id_b").cast(LongType).as("v"))
      .unionAll(pairs
        .select(col("id_b").cast(LongType).as("u"), col("id_a").cast(LongType).as("v"))),
      reliableCheckpointDir)
    var labels = roundCheckpoint(
      edges.select(col("u").as("id")).distinct().withColumn("label", col("id")),
      reliableCheckpointDir)
    val changedPerRound = Seq.newBuilder[Long]
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("lv")), "v")
        .groupBy(col("u").as("id")).agg(min(col("lv")).as("nl"))
      // neighbor-min merge, then one pointer jump through the merged
      // table. (A second jump per round was tried and REGRESSED:
      // convergence here is bound by graph diameter through the
      // neighbor-min step — the min travels one hop per round — so
      // extra jumps only compress label-tree depth, which is already
      // shallow, while tripling per-round compute.) Both cuts are
      // LAZY: the single `changed` count below is the round's one
      // Spark action and materializes m + next in the same job —
      // per-round blocking driver round-trips stay at one — while the
      // flat LogicalRDD plans keep the self-referencing lineage from
      // growing exponentially.
      val m = roundCheckpoint(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nl"), col("label"))).as("label")),
        reliableCheckpointDir, eager = false)
      val next = roundCheckpoint(m.as("a")
        .join(m.select(col("id").as("jid"), col("label").as("jl")).as("b"),
          col("a.label") === col("jid"), "left")
        .select(col("a.id").as("id"), coalesce(col("jl"), col("a.label")).as("label")),
        reliableCheckpointDir, eager = false)
      changed = next
        .join(labels.select(col("id"), col("label").as("prev")), "id")
        .where(col("label") =!= col("prev")).count()
      changedPerRound += changed
      labels = next
      round += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds")
    (labels.select(col("id"), col("label").as("cluster_id")),
      CcMetrics(round, changedPerRound.result()))
  }

  /** Canonical corpus after near-dup clustering: every document whose
    * id is its cluster's representative (the min id), plus every
    * document in no pair at all. One anti-join keyed by id.
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String,
                         clusters: DataFrame): DataFrame =
    docs.join(
      clusters.where(col("id") =!= col("cluster_id"))
        .select(col("id").cast(LongType).as(idCol)),
      Seq(idCol), "left_anti")

  /** Edit-distance verification of candidate pairs (F8 production
    * path): keep pairs within `maxDist` Levenshtein edits. The
    * threshold form of Spark's levenshtein runs the banded DP —
    * O(len·maxDist) per pair instead of O(len²) — and composes with
    * any candidate generator (LSH bands, simhash buckets), so the
    * quadratic kernel only ever runs on bucket-local candidates.
    * Expects `text_a`/`text_b` columns; appends `dist`.
    */
  def editDistanceVerify(pairs: DataFrame, maxDist: Int): DataFrame =
    pairs
      .withColumn("dist",
        levenshtein(col("text_a"), col("text_b"), maxDist).cast(LongType))
      // threshold-exceeded is surfaced as -1; 0 (identical) is a keep
      .where(col("dist") >= 0)

  /** Edit-distance near-dup pairs under deterministic length blocking
    * (F8 gate mode): candidates are pairs in the same `blockWidth`-char
    * length band — a plain equi-join both engines compute identically,
    * which is what makes this config fully oracle-checkable (LSH
    * banding gives no closed-form guarantee for edit distance). A real
    * run at scale narrows the blocks or feeds LSH candidates through
    * editDistanceVerify instead; near-dups whose lengths straddle a
    * band boundary are missed by construction (documented tradeoff).
    */
  /** Chunk-level exact dedup with document reconstruction (F9): split
    * every document into fixed-size non-overlapping token chunks,
    * keep only the corpus-wide FIRST occurrence (by doc_id, then
    * chunk position) of each chunk, and rebuild the cleaned document
    * from its surviving chunks in original order — the intra-corpus
    * boilerplate-removal pass (repeated headers/footers/navigation
    * text) that doc-level dedup cannot express: it edits documents
    * instead of dropping them. A document whose every chunk appeared
    * earlier vanishes entirely (it contributed nothing new).
    *
    * Scale shape: one chunk explode; first-occurrence is a
    * map-side-combined min-per-hash aggregate reattached by a semi
    * join on the unique (doc, idx) key (r9 — never a chunk-hash
    * window, whose hottest boilerplate chunk would be one
    * unsplittable partition); rebuild is one doc-keyed aggregation.
    * Never all-pairs, cost linear in corpus size.
    */
  /** Shared first-occurrence-keeps + rebuild pass over any chunked
    * (doc_id, chunk_idx, chunk) relation; `sep` is what the chunker
    * removed between chunks ("" for CDC's exact partition, " " for
    * token windows).
    */
  private def dedupChunked(ch: DataFrame, sep: String): DataFrame = {
    // r9 de-skew: first-occurrence-per-hash used to be a row_number
    // over Window.partitionBy("h") — a navigation chunk repeated in
    // every document put the whole corpus's copies into one
    // unsplittable window partition (the H12/K15 hot-head shape).
    // The winner per hash is a map-side-combined
    // min(struct(doc_id, chunk_idx)) aggregate (same total order as
    // the old orderBy), and survivors are a semi join — skew handled
    // by AQE at the join, never a window.
    //
    // r16 (guide §2.4): callers now deliver n_chunks pre-explode (it
    // is just the chunk-array size — a free map column), which deletes
    // the doc_id window's full chunk-stream shuffle+sort; and the
    // semi join is keyed on h (with the (doc, idx) equality as a
    // residual condition against the unique winner row), so it shares
    // the hash exchange the winner aggregate already pays instead of
    // re-shuffling the stream by (doc_id, chunk_idx).
    val hashed = ch.withColumn("h", md5(col("chunk")))
    val first = hashed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      .select(col("h").as("f_h"), col("f.doc_id").as("f_doc"),
        col("f.chunk_idx").as("f_idx"))
    hashed.join(first,
        col("h") === col("f_h") &&
          col("doc_id") === col("f_doc") && col("chunk_idx") === col("f_idx"),
        "left_semi")
      .groupBy("doc_id")
      .agg(max(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk"))).as("clean_text"))
  }

  def dedupChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 32): DataFrame = {
    // chunkDocs' shape with the chunk COUNT carried from the
    // pre-explode array (dedupChunked needs it; the public chunkDocs
    // schema stays untouched for its own oracle-pinned consumers)
    val stride = chunkSize
    val toks = TextAnalysis.tokens(col(textCol))
    val ch = docs.select(col(idCol).as("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)),
          lit(stride))).as("s0"),
        col("t"),
        (floor((greatest(size(col("t")) - 1, lit(0))) / stride) + 1)
          .cast(LongType).as("n_chunks"))
      .select(col("doc_id"),
        (col("s0") / stride).cast(LongType).as("chunk_idx"),
        concat_ws(" ", slice(col("t"), col("s0") + 1, lit(chunkSize)))
          .as("chunk"),
        col("n_chunks"))
    dedupChunked(ch, sep = " ")
  }

  /** [[dedupChunks]] over content-defined boundaries (F9 ∘ H15): the
    * same first-occurrence-keeps + rebuild pass, but chunk edges come
    * from the text's own rolling hash, so boilerplate repeated at
    * DIFFERENT positions in different documents still lands in
    * byte-identical chunks and dedups — fixed token windows only
    * catch repeats that happen to share alignment. Rebuild joins with
    * "" because CDC chunks partition the raw text exactly.
    */
  def dedupChunksCdc(docs: DataFrame, idCol: String, textCol: String,
                     targetSize: Int = 64, minSize: Int = 16,
                     maxSize: Int = 256): DataFrame = {
    // chunkDocsCdc's shape + the pre-explode chunk count (see
    // dedupChunks — the public operator's schema stays untouched)
    val chunks = TextAnalysis.cdcChunks(col(textCol), targetSize,
      minSize, maxSize)
    val ch = docs
      .select(col(idCol).as("doc_id"), chunks.as("cs"))
      .select(col("doc_id"), size(col("cs")).cast(LongType).as("n_chunks"),
        posexplode(col("cs")).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("chunk"), col("n_chunks"))
    dedupChunked(ch, sep = "")
  }

  /** Corpus-frequency line filter (F10): drop EVERY copy of any line
    * that occurs in at least `minDocs` distinct documents, and rebuild
    * each document from its surviving lines in original order — the
    * CCNet/RefinedWeb-style line-level boilerplate screen (navigation
    * bars, cookie banners, copyright footers repeat across a site's
    * pages). The policy deliberately differs from F9's
    * first-occurrence-keeps: boilerplate's first occurrence is still
    * boilerplate, so corpus-frequent lines are removed everywhere,
    * while a line repeated WITHIN one document counts one document of
    * frequency and survives. A document whose every line is
    * boilerplate vanishes (it carried no content).
    *
    * Returns (doc_id, n_lines, n_kept, clean_text).
    *
    * Scale shape: one posexplode; per-line document frequency is a
    * map-side-combined distinct aggregate on md5(line) — never a
    * line-hash window, whose hottest partition would be the most
    * corpus-frequent line by definition (the H12/K15 hot-head shape);
    * removal is an anti join on the hash key, which AQE can
    * skew-split; the rebuild aggregation is keyed by doc_id and
    * bounded by lines-per-document. Never all-pairs, cost linear in
    * corpus size. `sep` is the split regex AND the rebuild joiner
    * (default "\n"; use "\n\n+"-style units upstream by pre-splitting
    * if paragraph granularity is wanted).
    */
  def dropFrequentLines(docs: DataFrame, idCol: String, textCol: String,
                        minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be at least 2: $minDocs")
    val ln = explodeLines(docs, idCol, textCol, sep)
    val frequent = ln.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .where(col("line_df") >= minDocs)
      .select("h")
    rebuildWithout(ln, frequent, sep)
  }

  /** Intra-document repeated-line removal (F11): within EACH document,
    * keep only the first occurrence of every distinct line and rebuild
    * the text in original order — the removal step behind the Gopher
    * `dup_line_fraction` statistic (H16 measures it; this repairs it).
    * Complementary to [[dropFrequentLines]]: F10 removes lines that
    * repeat ACROSS documents (boilerplate, every copy dropped), F11
    * removes lines that repeat WITHIN one document (scraper stutter,
    * chat-log echo, template loops — first copy kept, it carried the
    * content). Reference behavior: text cleaning utilities in
    * python/pyarrow compute (no direct twin; semantics follow Rae et
    * al. 2021 §A1.1's repetition screens).
    *
    * Returns (doc_id, n_lines, n_kept, clean_text) — the F10 shape, so
    * the two compose/interchange in pipeline stage 0.
    *
    * Scale shape: strictly MAP-ONLY — one higher-order array filter
    * per row (`array_position(ls, l) = i+1` keeps exactly the first
    * occurrence), no explode, no shuffle, no corpus aggregation.
    * Per-row cost is O(lines²) string compares bounded by
    * lines-per-document; at 100 TB this pipelines inside whatever scan
    * the caller already pays. `sep` is the split REGEX and the rebuild
    * JOINER (same contract and default "\n" as F10 — pre-split
    * upstream for paragraph units).
    */
  def dedupLinesInDoc(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    // split materialized behind a projection boundary so the lambda's
    // array_position probes an attribute, not a re-evaluated split
    // (multiple references keep CollapseProject from inlining it back)
    val kept = filter(col("ls"), (l, i) => array_position(col("ls"), l) === i + 1)
    docs.select(col(idCol).as("doc_id"), split(col(textCol), sep).as("ls"))
      .select(col("doc_id"),
        size(col("ls")).cast(LongType).as("n_lines"),
        size(kept).cast(LongType).as("n_kept"),
        array_join(kept, sep).as("clean_text"))
  }

  /** [[dropFrequentLines]] against a PRE-COMPUTED frequent-line set
    * (one `h` = md5(line) column) — the ingest-time form: a corpus
    * pass mines the boilerplate table once (`frequentLines`), then
    * every new batch or micro-batch is screened map-side against it
    * with no corpus aggregation in the per-batch plan. The I14
    * train/serve split applied to F10.
    */
  def dropListedLines(docs: DataFrame, idCol: String, textCol: String,
                      frequent: DataFrame, sep: String = "\n"): DataFrame =
    rebuildWithout(explodeLines(docs, idCol, textCol, sep),
      frequent.select("h"), sep)

  /** The mining half of the split: the frequent-line table
    * ((h, line_df) rows with line_df ≥ minDocs) for [[dropListedLines]]. */
  def frequentLines(docs: DataFrame, idCol: String, textCol: String,
                    minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be at least 2: $minDocs")
    explodeLines(docs, idCol, textCol, sep).groupBy("h")
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .where(col("line_df") >= minDocs)
  }

  private def explodeLines(docs: DataFrame, idCol: String, textCol: String,
                           sep: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), sep).as("ls"))
      .withColumn("n_lines", size(col("ls")).cast(LongType))
      .select(col("doc_id"), col("n_lines"),
        posexplode(col("ls")).as(Seq("line_idx", "line")))
      .withColumn("h", md5(col("line")))

  private def rebuildWithout(ln: DataFrame, dropHashes: DataFrame,
                             sep: String): DataFrame =
    ln.join(dropHashes, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(max(col("n_lines")).as("n_lines"),
        count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          s => s.getField("line"))).as("clean_text"))

  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        lenCol: String, maxDist: Int,
                        blockWidth: Int = 10,
                        maxIdGap: Long = 0L): DataFrame = {
    require(blockWidth > 0 && maxDist >= 0, "blockWidth > 0, maxDist >= 0")
    require(maxIdGap >= 0, s"maxIdGap must be >= 0: $maxIdGap")
    // the gap predicate subtracts ids: on a string/UUID id column the
    // subtraction null-evaluates and would silently drop EVERY pair —
    // fail loudly instead (ids only need to be comparable when the gap
    // cap is off; r11 review finding)
    require(maxIdGap == 0 ||
      docs.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"maxIdGap needs a numeric id column; $idCol is " +
        s"${docs.schema(idCol).dataType.simpleString}")
    // r15 counting filter (guide §1.2 — cheap screen before the
    // expensive kernel): a 64-bucket character histogram per doc, L1
    // per pair. L1 > 2·maxDist proves dist > maxDist (one edit moves
    // the histogram by at most 2; bucketing/saturation only shrink
    // L1), so the banded DP — O(len·maxDist) per pair — runs only on
    // pairs whose character mix is already edit-close. Same surviving
    // pairs, same dist values; the screen is ~64 byte ops vs ~len·21
    // DP cells, and two random same-length-band texts fail it with
    // high probability.
    val hist = {
      import graft.functions.{exprs, CharHist64}
      exprs.toColumn(CharHist64(exprs.toExpr(col("t"))))
    }
    val blocked = docs.select(col(idCol), col(textCol).as("t"),
      floor(col(lenCol) / blockWidth).as("blk"))
      .withColumn("hst", hist)
    val a = blocked.select(col(idCol).as("id_a"), col("t").as("text_a"),
      col("blk"), col("hst").as("h_a"))
    val b = blocked.select(col(idCol).as("id_b"), col("t").as("text_b"),
      col("blk"), col("hst").as("h_b"))
    // maxIdGap > 0 bounds candidates to id-adjacent pairs — the
    // ingestion-window screen for replica-heavy corpora: pair LISTING
    // is inherently quadratic in copy multiplicity (a family of n
    // mutual near-dups has C(n,2) pairs — no plan shape fixes output
    // size), so a corpus where whole slices repeat (re-crawls,
    // ScaleGen-style replication) pairs every copy with every other.
    // Bounding the id gap keeps listing linear while cluster-then-
    // canonical (F6 over LSH candidates) remains the full-corpus
    // production path. The gap predicate sits INSIDE the join, so the
    // Levenshtein DP only ever runs on gap-surviving pairs.
    val gapOk = if (maxIdGap > 0) col("id_b") - col("id_a") <= maxIdGap
                else lit(true)
    val histOk = {
      import graft.functions.{exprs, HistL1}
      exprs.toColumn(HistL1(exprs.toExpr(col("h_a")), exprs.toExpr(col("h_b")))) <=
        2 * maxDist
    }
    editDistanceVerify(
      a.join(b, Seq("blk")).where(col("id_a") < col("id_b") && gapOk && histOk),
      maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exact-substring span dedup (F13): remove every duplicated token
    * span of at least `minLen` tokens from the corpus and rebuild each
    * document from its surviving tokens in original order — the
    * ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed at token granularity
    * with `minLen`-gram anchors instead of a suffix array: a span of
    * >= minLen tokens is duplicated iff every one of its minLen-token
    * windows is duplicated, so scrubbing all tokens covered by a
    * duplicated window removes exactly the maximal duplicated spans.
    * Fills the gap the rest of the ladder leaves open: F1–F8 drop or
    * pair whole documents, F9/CDC drops whole chunks at chunk
    * boundaries, F10/F11 need line structure — this edits out exact
    * repeats of any length >= minLen at ANY offset, including repeats
    * WITHIN one document.
    *
    * `keepFirst = true` (the paper's policy) spares the corpus-order
    * first occurrence of each duplicated window (min by (doc_id,
    * start)), so one copy of each repeated span survives; note the
    * kept copy is chosen per WINDOW, so when a window of a long
    * duplicated span also occurs earlier elsewhere on its own, the
    * "first" copy of the long span can still lose that window — the
    * semantics are per-gram and deterministic. `keepFirst = false`
    * scrubs every copy (the decontamination-style variant).
    *
    * Returns (doc_id, n_tokens, n_kept, clean_text); a document whose
    * every token is covered stays in the output with n_kept = 0 and
    * clean_text = "" (callers decide whether to drop empties).
    *
    * Scale shape: one gram explode (rows = corpus tokens); duplicated
    * grams found by a map-side-combined (count, min(struct)) aggregate
    * on md5(gram) — never a gram-hash window, whose hottest partition
    * would be the most boilerplate gram by definition; the
    * occurrences-side join back is a hash join on the gram key (AQE
    * skew-splittable; the dup side is one row per hash); coverage is
    * an exploded (start → minLen positions) set, distinct-ed on the
    * (doc_id, pos) key, then one left join + doc-keyed rebuild
    * aggregation bounded by tokens-per-document. Never all-pairs,
    * cost O(corpus tokens); the gram relation is evaluated twice
    * (aggregate + join back) — at 100 TB persist it or accept two
    * scan-bound passes, as with F10's line relation.
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 8,
                       keepFirst: Boolean = true): DataFrame =
    // binary gram key (r13): settled on SHUFFLE BYTES, which are
    // bit-deterministic where this box's wall time is not — at 1.5M
    // docs / 81M tokens the 16-byte digest writes 6.86 GB vs the hex
    // form's 8.72 GB, a 21% cut of the operator's total shuffle,
    // identical on every rep (EXACTSUBSTR_r13). At 10^13 tokens that
    // is ~230 TB of avoided shuffle width. Results are identical (the
    // digest never reaches the output).
    exactSubstrDedupImpl(docs, idCol, textCol, minLen, keepFirst,
      binaryGramKey = true)

  /** [[exactSubstrDedup]] with the gram-key width exposed for the
    * shuffle-bytes A/B (EXACTSUBSTR_r13): `binaryGramKey` shuffles the
    * internal digest as unhex(md5) — 16 bytes — instead of the 32-char
    * hex string. The digest never reaches the output, so results are
    * identical either way (spec-pinned); only shuffle width differs.
    */
  private[graft] def exactSubstrDedupImpl(
      docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, keepFirst: Boolean,
      binaryGramKey: Boolean): DataFrame = {
    require(minLen >= 2, s"minLen must be at least 2: $minLen")
    def gramHash(c: Column): Column =
      if (binaryGramKey) unhex(md5(c)) else md5(c)
    // NULL text coalesces to '' (r13 ADVICE): tokens(null) is a null
    // array, whose posexplode would silently DROP the row — breaking
    // the every-document-stays contract above. With the coalesce such
    // docs pass through as the empty-text degenerate case (the
    // tokenizer yields [''] on empty input, so n_tokens = n_kept = 1
    // and clean_text = '' — identical to a doc whose text IS '');
    // the oracle mirrors the coalesce.
    val toks = esTokens(docs, idCol, textCol)
    val tok = esTokPos(toks)
    val gr = esGramStarts(toks, minLen, gramHash)
    val dup = gr.groupBy("h")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("s"))).as("f"))
      .where(col("c") >= 2)
      .select(col("h"), col("f.doc_id").as("f_doc"), col("f.s").as("f_s"))
    val starts = gr.join(dup, "h")
    val removable =
      if (keepFirst)
        starts.where(!(col("doc_id") === col("f_doc") && col("s") === col("f_s")))
      else starts
    esScrubRebuild(tok, removable, minLen)
  }

  /** Cross-corpus ExactSubstr span decontamination (K37): remove from
    * every TRAINING document each token span of >= `minLen` tokens
    * that occurs verbatim anywhere in the EVAL corpus, and rebuild the
    * document from its surviving tokens in original order — the
    * PaLM/GPT-4-era SUBSEQUENCE decontamination (e.g. Chowdhery et al.
    * 2022 §6.2's contamination analysis made surgical), sitting
    * between K5/K36 (drop or keep WHOLE training docs on eval overlap)
    * and F13 (scrub only self-repeats within the training corpus):
    * the leaked benchmark sentence is excised, the rest of the
    * document survives. Same gram-anchor identity as F13: a span of
    * >= minLen tokens matches the eval corpus iff every one of its
    * minLen-token windows does, so scrubbing all tokens covered by an
    * eval-matching window removes exactly the maximal eval-matching
    * spans (no keepFirst here — the protected copy lives in the eval
    * suite, so EVERY training occurrence scrubs, F13's
    * keepFirst=false policy).
    *
    * Returns (doc_id, n_tokens, n_kept, clean_text) over the TRAINING
    * docs only — the F13 shape; a fully-covered document stays in the
    * output with n_kept = 0 and clean_text = "" (callers decide
    * whether to drop empties). NULL text coalesces to '' on both
    * sides (the F13/K5 contract).
    *
    * Scale shape: the eval side is a fixed benchmark suite (MBs), so
    * its distinct gram-hash set is bounded and the probe join is
    * AQE-broadcastable — K5's broadcast-probe shape with F13's
    * coverage/rebuild lineage; the training side pays one gram explode
    * (rows = training tokens) and the (doc_id, pos)-keyed rebuild
    * aggregate bounded by tokens-per-document. No corpus-sized gram
    * aggregate at all (F13's dup-gram count is replaced by the eval
    * set), no window anywhere; cost O(training tokens) + O(eval
    * tokens). The gram key is the 16-byte binary digest
    * (EXACTSUBSTR_r13's settled shuffle-width choice).
    */
  def exactSubstrDecontaminate(docs: DataFrame, idCol: String,
                               textCol: String, evalDocs: DataFrame,
                               evalTextCol: String,
                               minLen: Int = 8): DataFrame = {
    require(minLen >= 2, s"minLen must be at least 2: $minLen")
    def gramHash(c: Column): Column = unhex(md5(c))
    val toks = esTokens(docs, idCol, textCol)
    val tok = esTokPos(toks)
    val gr = esGramStarts(toks, minLen, gramHash)
    // the bounded eval gram set: distinct minLen-gram hashes over the
    // suite — no fanOut (the eval side is small by contract), distinct
    // BEFORE the join so a gram repeated across eval docs probes once
    val evalGrams = evalDocs
      .select(TextAnalysis.tokens(coalesce(col(evalTextCol), lit("")))
        .as("t"))
      .where(size(col("t")) >= minLen)
      .select(explode(transform(
        sequence(lit(1), size(col("t")) - minLen + 1),
        s => gramHash(concat_ws(" ", slice(col("t"), s, lit(minLen))))))
        .as("h"))
      .distinct()
    esScrubRebuild(tok, gr.join(evalGrams, "h"), minLen)
  }

  /** The shared F13/K37 token relation: (doc_id, n_tokens, pos, tok),
    * pos 1-based, NULL text coalesced to '' (see exactSubstrDedupImpl).
    */
  private def esTokens(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    fanOut(docs).select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("t"))

  private def esTokPos(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"), size(col("t")).cast(LongType).as("n_tokens"),
        posexplode(col("t")))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).cast(LongType).as("pos"), col("col").as("tok"))

  /** minLen-gram starts (1-based), hashed; docs shorter than minLen
    * contribute no grams and pass through untouched.
    */
  private def esGramStarts(toks: DataFrame, minLen: Int,
                           gramHash: Column => Column): DataFrame =
    toks.where(size(col("t")) >= minLen)
      .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("t")) - minLen + 1),
          s => struct(s.cast(LongType).as("s"),
            gramHash(concat_ws(" ", slice(col("t"), s, lit(minLen)))).as("h"))))
        .as("g"))
      .select(col("doc_id"), col("g.s").as("s"), col("g.h").as("h"))

  /** Coverage + rebuild shared by F13/K37: expand each removable gram
    * start to its minLen positions, distinct on (doc_id, pos), then
    * one left join + doc-keyed aggregation bounded by
    * tokens-per-document. One pass keeps fully-scrubbed docs:
    * collect_list skips the null-marked (covered) tokens, count(when)
    * counts the survivors.
    */
  private def esScrubRebuild(tok: DataFrame, removable: DataFrame,
                             minLen: Int): DataFrame = {
    val covered = removable
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + minLen - 1)).as("pos"))
      .distinct()
      .withColumn("rm", lit(true))
    tok.join(covered, Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(when(col("rm").isNull, lit(1))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("rm").isNull, struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("clean_text"))
  }
}
