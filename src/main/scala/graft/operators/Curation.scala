package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators for large-scale training-data pipelines:
  * deterministic sampling/splitting, benchmark decontamination,
  * repetition scoring, TF-IDF term extraction, embedding cohesion.
  *
  * Everything here is reproducible by construction — sampling and
  * splits key off a content hash (md5 of the id), never off RNG state,
  * so a re-run, a different cluster size, or a different engine
  * produces the identical subset. That property is what makes the
  * operators oracle-checkable AND what a production pipeline needs to
  * make experiments repeatable across 100 TB reshuffles.
  *
  * All operators are pure DataFrame compositions: narrow maps plus the
  * minimal key-local shuffles (no driver collects, no UDFs, no
  * cartesians), so they distribute like any other relational query.
  */
object Curation {

  /** Deterministic sampling key in [00,ff]: the first md5 hex byte of
    * the id rendered as a decimal string. Uniform over ids, stable
    * across engines (identical builtin in DuckDB for the oracle).
    */
  def sampleKey(id: Column): Column = substring(md5(id.cast(StringType)), 1, 2)

  /** Keep ~rate256/256 of rows, chosen deterministically by id. */
  def hashSample(df: DataFrame, idCol: String, rate256: Int): DataFrame = {
    require(rate256 >= 0 && rate256 <= 256, s"rate256 out of range: $rate256")
    // 256 must mean "keep everything": its hex "100" is 3 chars and
    // would compare lexicographically BELOW most 2-char keys
    if (rate256 == 256) df
    else df.where(sampleKey(col(idCol)) < lit(f"$rate256%02x"))
  }

  /** Weighted deterministic sampling (K18): keep a row with
    * probability min(weight, 1), decided by comparing a 16-bit hash
    * key of the id against the per-row threshold — the quality-score
    * / temperature-resampling primitive behind "sample good documents
    * more". Like hashSample it is a pure filter: no shuffle, no RNG
    * state, identical subset at any cluster size, and weight >= 1
    * means "always keep" exactly.
    *
    * Resolution is 1/65536 (4 hex chars); fixed-width lowercase hex
    * compares lexicographically == numerically, which is what makes
    * the DuckDB oracle a verbatim mirror.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val key = substring(md5(col(idCol).cast(StringType)), 1, 4)
    val thr = floor(least(weight, lit(1.0)) * 65536).cast(LongType)
    df.where(thr >= 65536 || key < format_string("%04x", thr))
  }

  /** Apply source-mixing weights (K20): resample the corpus so every
    * source contributes ~equally — the uniform-target rebalance
    * composed end to end: per-source keep probability
    * n_total / (n_sources · n_source) capped at 1, applied via
    * weightedSample. The weight is an exact integer ratio (one IEEE
    * division, identical across engines) and ×65536 is a pure
    * exponent shift, so the kept subset is engine-exact. Group counts
    * are one map-side-combined agg broadcast back; the sample itself
    * is a pure filter.
    */
  def applyMixWeights(df: DataFrame, idCol: String, sourceCol: String): DataFrame = {
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n_src"))
    val totals = df.agg(count(lit(1)).as("n_total"),
      countDistinct(sourceCol).as("n_sources"))
    val weighted = df
      .join(broadcast(counts), sourceCol)
      .join(broadcast(totals))
      .withColumn("mix_weight", col("n_total").cast(DoubleType) /
        (col("n_sources") * col("n_src")).cast(DoubleType))
    weightedSample(weighted, idCol, col("mix_weight"))
      .drop("n_src", "n_total", "n_sources")
  }

  /** Temperature-based source mixing (K33): resample the corpus so
    * source i's expected share follows the exponentiated distribution
    * p_i ∝ n_i^alpha — the multilingual-LM sampling recipe (Lample &
    * Conneau, 2019): alpha=1 keeps natural proportions (no-op),
    * alpha=0 flattens to the K20 uniform target, values between trade
    * low-resource coverage against fidelity to the natural mix.
    * Realized without replacement by per-source keep fraction
    * f_i = (n_i/n_min)^(alpha−1): the smallest source keeps
    * everything, larger sources downsample with exponent alpha−1 ≤ 0.
    *
    * The fraction rounds to 6 dp BEFORE the 16-bit threshold so the
    * kept subset is engine-exact even across libm pow
    * implementations. Composes [[weightedSample]]: a pure
    * deterministic filter — no RNG, no shuffle beyond two bounded
    * broadcast aggregates — so the subset is identical at any cluster
    * size, and monotone in alpha per source (raising alpha only adds
    * rows back).
    */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
                     alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n_src"))
    val mn = counts.agg(min("n_src").as("n_min"))
    val weighted = df
      .join(broadcast(counts), sourceCol)
      .join(broadcast(mn))
      .withColumn("mix_weight",
        round(pow(col("n_src").cast(DoubleType) / col("n_min").cast(DoubleType),
          alpha - 1.0), 6))
    weightedSample(weighted, idCol, col("mix_weight"))
      .drop("n_src", "n_min")
  }

  /** UniMax epoch-capped source quotas (K35): allocate a token/doc
    * budget as UNIFORMLY as possible across sources, capping every
    * source at `maxEpochs` passes over its data — the UniMax sampling
    * recipe (Chung et al., 2023), the deterministic-budget complement
    * to [[temperatureMix]]'s n^α keep fractions: temperature trades
    * low-resource coverage smoothly, UniMax maximizes it under an
    * explicit repetition ceiling (past a few epochs, repeats hurt).
    *
    * Closed-form waterfill instead of UniMax's iterative statement:
    * with capacities c_i = n_i·maxEpochs ASCENDING, source r is capped
    * iff c_r ≤ (B − P(r−1)) / (m − r + 1) (budget left after filling
    * every smaller source, split over the rest); the flag is
    * prefix-guarded (min over ranks ≤ r) so the boundary is exact, and
    * everything past the boundary gets the equal share. Integerized
    * exactly: the remainder R mod u goes one doc each to the first
    * (source-ascending) uncapped sources, so Σ quota = min(B, Σ c)
    * with no source over its capacity. Returns one row per source:
    * (source, n_docs, capacity, quota, epochs = quota/n_docs @ 6 dp).
    *
    * Scale shape: ONE map-side-combined groupBy(source) count; every
    * window after it runs on the bounded per-source table (the K34
    * quota-table justification — rows = |sources|, not |corpus|).
    * Materialize the quotas with [[groupSample]]'s per-source
    * BoundedMinK fill (k = quota) exactly as K34 fills strata.
    */
  def uniMaxQuotas(df: DataFrame, sourceCol: String, budget: Long,
                   maxEpochs: Int): DataFrame = {
    require(budget >= 0, s"budget out of range: $budget")
    require(maxEpochs >= 1, s"maxEpochs out of range: $maxEpochs")
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("capacity", col("n_docs") * maxEpochs)
    val byCap = Window.orderBy(col("capacity").asc, col("source").asc)
    val all = Window.partitionBy()
    val ranked = counts
      .withColumn("r", row_number().over(byCap))
      .withColumn("prefix", sum(col("capacity")).over(byCap))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("share_r",
        (lit(budget).cast(DoubleType) - (col("prefix") - col("capacity"))) /
          (col("m") - col("r") + 1))
      .withColumn("is_capped",
        min(when(col("capacity") <= col("share_r"), 1).otherwise(0))
          .over(byCap.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)) === 1)
      .withColumn("capped_sum",
        sum(when(col("is_capped"), col("capacity")).otherwise(0L)).over(all))
      .withColumn("n_uncapped",
        sum(when(col("is_capped"), 0L).otherwise(1L)).over(all))
      .withColumn("ru", row_number().over(
        Window.partitionBy("is_capped").orderBy(col("source").asc)))
    val remaining = lit(budget) - col("capped_sum")
    ranked
      .withColumn("quota",
        when(col("is_capped"), col("capacity"))
          .otherwise(floor(remaining / col("n_uncapped")) +
            when(col("ru") <= remaining % col("n_uncapped"), 1L)
              .otherwise(0L)).cast(LongType))
      .withColumn("epochs",
        round(col("quota").cast(DoubleType) / col("n_docs"), 6))
      .select("source", "n_docs", "capacity", "quota", "epochs")
  }

  /** Materialize [[uniMaxQuotas]] as per-document repetition counts
    * (K35's serve half): every source serves quota_i documents WITH
    * repetition — each of its n_i documents repeats base = quota_i
    * div n_i times, and the (quota_i mod n_i) smallest-md5 documents
    * repeat once more, so Σ n_repeats per source == quota_i exactly,
    * no document repeats more than maxEpochs times, and the bumped
    * set is the deterministic K21 hash order. Documents in sources
    * whose quota rounds to zero epochs drop. Returns the input row +
    * `n_repeats` (≥ 1); the training-data writer explodes it (or
    * feeds a repeat-aware loader).
    *
    * Scale shape: the quota table collects driver-side (bounded —
    * one row per source, the K34 sanction) and broadcasts back; the
    * remainder fill is the K34-shaped BoundedMinKeys aggregate keyed
    * by source (buffer = max remainder, under one source's doc count
    * by construction), never a corpus-keyed window. Ids of any type
    * work — bumps reattach by md5 key, and an empty input returns
    * empty with the n_repeats column present.
    */
  def uniMaxSample(df: DataFrame, sourceCol: String, idCol: String,
                   budget: Long, maxEpochs: Int): DataFrame = {
    val spark = df.sparkSession
    val plan = uniMaxQuotas(df, sourceCol, budget, maxEpochs).collect()
      .map { r =>
        val (n, q) = (r.getAs[Long]("n_docs"), r.getAs[Long]("quota"))
        (r.getAs[Any]("source"), q / n, q % n)
      }
    // empty input → empty plan; keep the output contract (input rows +
    // n_repeats) without tripping on the empty max below
    val maxRem = plan.map(_._3).maxOption.getOrElse(0L).toInt
    import scala.jdk.CollectionConverters._
    val planDf = spark.createDataFrame(
      plan.map { case (g, b, rm) => org.apache.spark.sql.Row(g, b, rm) }
        .toSeq.asJava,
      StructType(Seq(df.schema(sourceCol).copy(name = "_grp"),
        StructField("_base", LongType, nullable = false),
        StructField("_rem", LongType, nullable = false))))
    val pick = org.apache.spark.sql.functions.udaf(
      new graft.functions.BoundedMinKeys(math.max(maxRem, 1)))
    // rem-smallest md5 keys per source; slice(_, 1, 0) is empty, so a
    // zero-remainder source simply bumps nobody. The bump set carries
    // the md5 KEY, not a Long id, so any id type (string doc ids
    // included) reattaches exactly — a cast-to-Long join would null
    // out non-numeric ids and silently drop every remainder bump. The
    // Long slot is only the deterministic tiebreak among duplicate
    // ids (xxhash64 of the string form, never null for non-null ids).
    val bumped = df
      .select(md5(col(idCol).cast(StringType)).as("_k"),
        xxhash64(col(idCol).cast(StringType)).as("_sid"), col(sourceCol))
      .groupBy(sourceCol).agg(pick(col("_k"), col("_sid")).as("_keys"))
      .join(broadcast(planDf), col(sourceCol) <=> col("_grp"))
      .select(col("_grp").as("_bgrp"),
        explode(slice(col("_keys"), lit(1), col("_rem").cast(IntegerType)))
          .as("_bkey"))
    df.join(broadcast(planDf), df(sourceCol) <=> col("_grp"), "inner")
      .join(bumped, df(sourceCol) <=> col("_bgrp") &&
        md5(df(idCol).cast(StringType)) === col("_bkey"), "left")
      .withColumn("n_repeats",
        (col("_base") + when(col("_bkey").isNotNull, 1L).otherwise(0L))
          .cast(LongType))
      .where(col("n_repeats") >= 1)
      .drop("_grp", "_base", "_rem", "_bgrp", "_bkey")
  }

  /** The UniMax mixture materialized as training shards in ONE job
    * (K35's write half, composing [[uniMaxSample]] with
    * [[writeSharded]]): each document's n_repeats explode to one row
    * per epoch copy (`repeat_idx` ∈ 1..n_repeats) and shard on the
    * deterministic composite key id#repeat_idx — so the copies of a
    * repeated document SPREAD across shards instead of colliding into
    * one (a trainer consuming shards sequentially sees a repeat in a
    * different shard, the epoch-interleaving layout), while shard
    * membership stays a pure function of (id, copy) with
    * writeSharded's resume/retry determinism. Output rows carry the
    * input columns + repeat_idx + copy_key (the shard key, kept so a
    * resuming trainer can re-derive membership) + shard_id; Σ rows
    * per source == the waterfilled quota by construction.
    */
  def uniMaxShards(df: DataFrame, sourceCol: String, idCol: String,
                   budget: Long, maxEpochs: Int, nShards: Int,
                   path: String): Unit =
    writeSharded(
      uniMaxSample(df, sourceCol, idCol, budget, maxEpochs)
        .withColumn("repeat_idx",
          explode(sequence(lit(1L), col("n_repeats"))))
        .drop("n_repeats")
        .withColumn("copy_key",
          concat(col(idCol).cast(StringType), lit("#"),
            col("repeat_idx").cast(StringType))),
      "copy_key", nShards, path)

  /** Exact-size deterministic sample (K21): the k rows with the
    * smallest md5 key — "uniform without replacement" with a hash in
    * place of the RNG. Plans as TakeOrderedAndProject: per-partition
    * top-k then a driver merge of k·partitions rows, never a full
    * sort — the global-quota complement to groupSample's per-group k.
    */
  def exactKSample(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 0, s"k out of range: $k")
    df.orderBy(md5(col(idCol).cast(StringType)), col(idCol)).limit(k)
  }

  /** Robust outlier detection (K19): flag rows whose value deviates
    * from its group median by more than k times the group MAD (median
    * absolute deviation) — the robust-statistics twin of z-scoring,
    * immune to the outliers it hunts. Two exact-percentile
    * aggregations on the group key plus broadcast-joinable group
    * stats (one row per group): at 100 TB the shuffles carry
    * (group, value) pairs only.
    *
    * All arithmetic is exact in double for integer inputs (medians of
    * integers are integers or .5), so membership of the k·MAD filter
    * is engine-independent.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val v = col(valueCol).cast(DoubleType)
    val med = df.groupBy(groupCol)
      .agg(percentile(v, lit(0.5)).as("med"))
    val withMed = df.join(broadcast(med), groupCol)
    val mad = withMed.groupBy(groupCol)
      .agg(percentile(abs(v - col("med")), lit(0.5)).as("mad"))
    withMed.join(broadcast(mad), groupCol)
      .where(abs(v - col("med")) > lit(k) * col("mad"))
  }

  /** Deterministic train/val/test assignment by id hash. Boundaries
    * are hex prefixes: [00,cc) train ≈ 79.7%, [cc,e6) val ≈ 10.2%,
    * [e6,ff] test ≈ 10.2%.
    */
  def splitAssign(id: Column): Column = {
    val k = sampleKey(id)
    when(k < "cc", "train").when(k < "e6", "val").otherwise("test")
  }

  /** Deterministic k-per-group subsample (reservoir-sampling analog
    * with a hash in place of the RNG): rank rows in each group by
    * their md5 key and keep the first k.
    *
    * Default (skewSafe): the rank comes from the bounded
    * [[graft.functions.BoundedMinK]] aggregate — every map partition
    * contributes at most k survivors per group before the shuffle,
    * so a group with 10^9 rows costs O(partitions·k) shuffled rows
    * instead of one corpus-scale window partition (the H12/K15
    * hot-head shape, pre-empted here); winners reattach by a semi
    * join on the UNIQUE id key, which cannot skew. skewSafe = false
    * keeps the one-scan row_number window — byte-identical output
    * (SkewSpec), the cheaper plan when group sizes are known bounded.
    */
  def groupSample(df: DataFrame, groupCol: String, idCol: String, k: Int,
                  skewSafe: Boolean = true): DataFrame = {
    if (!skewSafe) {
      val w = Window.partitionBy(groupCol)
        .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
      return df.withColumn("rn", row_number().over(w).cast(LongType))
        .where(col("rn") <= k)
    }
    val pick = org.apache.spark.sql.functions.udaf(
      new graft.functions.BoundedMinK(k))
    // reattach by (group, id) — the unique pair key even when ids are
    // only unique within their group
    val kept = df
      .select(md5(col(idCol).cast(StringType)).as("_k"),
        col(idCol).cast(LongType).as("_sid"), col(groupCol))
      .groupBy(groupCol).agg(pick(col("_k"), col("_sid")).as("_ids"))
      .select(col(groupCol).as("_grp"),
        posexplode(col("_ids")).as(Seq("_pos", "_id")))
    // null-SAFE group equality: a null group is a legal stratum for
    // groupBy (and for the window form), so the reattach join must
    // not silently drop its winners
    df.join(kept, df(groupCol) <=> col("_grp") &&
        col(idCol).cast(LongType) === col("_id"), "inner")
      .withColumn("rn", (col("_pos") + 1).cast(LongType))
      .drop("_grp", "_pos", "_id")
  }

  /** Stratified exact-count sample (K34): allocate a global budget of
    * exactly `n` rows across strata in proportion to stratum size —
    * largest-remainder (Hamilton) rounding, so the quotas sum to
    * exactly n and no stratum deviates from its exact proportional
    * share by a full row — then fill each stratum's quota with its
    * quota-smallest md5(id) keys. The exact-count complement to
    * [[applyMixWeights]]/[[temperatureMix]]'s probabilistic keep
    * fractions: "give me exactly 1M documents, mixed like the corpus"
    * with a deterministic, engine-independent answer.
    *
    * Allocation is pure integer arithmetic (base = ⌊n·n_g/N⌋ via
    * BigInt, remainders compared as n·n_g mod N) over the bounded
    * per-stratum count table (collected driver-side — the K33 group
    * sanction), so an oracle can mirror it exactly; remainder ties
    * break by stratum size desc, then the stratum key's string form.
    * Selection reuses [[graft.functions.BoundedMinK]] sized at the
    * LARGEST quota: map-side buffers stay O(strata · max-quota) per
    * task and the shuffle carries O(partitions · quota) rows per
    * stratum — no stratum, however dominant, lands one corpus-sized
    * window partition. For budgets so large that max-quota itself
    * strains executor memory, the fraction-based samplers above are
    * the right tool; this operator targets the exact-count regime.
    *
    * Returns the sampled rows with `rn` (1-based rank within the
    * stratum). Requires n < |corpus| — an exact "sample" of the whole
    * corpus is the identity and is rejected rather than ranked.
    */
  def stratifiedExactSample(df: DataFrame, groupCol: String, idCol: String,
                            n: Long): DataFrame = {
    require(n > 0, s"sample size must be positive: $n")
    val spark = df.sparkSession
    // bounded: one row per stratum (the K20/K33 collect sanction)
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("n_g"))
      .collect().map(r => (r.get(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    require(n < total, s"budget $n must be under the corpus size $total " +
      "- sampling the whole corpus is the identity")
    val bigN = BigInt(total)
    val alloc = counts.map { case (g, ng) =>
      val prod = BigInt(n) * ng
      (g, ng, (prod / bigN).toLong, prod % bigN)
    }
    val extra = (n - alloc.map(_._3).sum).toInt
    val bumped = alloc
      .sortBy { case (g, ng, _, rem) => (-rem, -ng, String.valueOf(g)) }
      .zipWithIndex
      .map { case ((g, _, base, _), i) =>
        (g, base + (if (i < extra) 1L else 0L)) }
      .filter(_._2 > 0)
    val maxQuota = bumped.map(_._2).max.toInt
    import scala.jdk.CollectionConverters._
    val quotas = spark.createDataFrame(
      bumped.map { case (g, q) => org.apache.spark.sql.Row(g, q) }
        .toSeq.asJava,
      StructType(Seq(df.schema(groupCol).copy(name = "_grp"),
        StructField("_quota", LongType, nullable = false))))
    val pick = org.apache.spark.sql.functions.udaf(
      new graft.functions.BoundedMinK(maxQuota))
    val kept = df
      .select(md5(col(idCol).cast(StringType)).as("_k"),
        col(idCol).cast(LongType).as("_sid"), col(groupCol))
      .groupBy(groupCol).agg(pick(col("_k"), col("_sid")).as("_ids"))
      .join(broadcast(quotas), col(groupCol) <=> col("_grp"))
      .select(col("_grp"),
        posexplode(slice(col("_ids"), lit(1), col("_quota").cast(IntegerType)))
          .as(Seq("_pos", "_id")))
    // null-safe on the group key: a null stratum keeps its quota
    df.join(kept, df(groupCol) <=> col("_grp") &&
        col(idCol).cast(LongType) === col("_id"), "inner")
      .withColumn("rn", (col("_pos") + 1).cast(LongType))
      .drop("_grp", "_pos", "_id")
  }

  /** Benchmark decontamination: n-gram overlap between an eval subset
    * (`evalPred` rows) and the rest of the corpus. Returns one row per
    * contaminated corpus doc: how many eval docs it shares an n-gram
    * with, and how many distinct n-grams hit.
    *
    * Scale shape: the join key is the shingle, so candidate generation
    * is bucket-local — never all-pairs. In production the eval side is
    * a fixed benchmark suite (MBs), so its shingle set stays small and
    * AQE broadcasts it; nothing here forces a broadcast of an
    * sf-scaling input.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    evalPred: Column, n: Int = 5): DataFrame = {
    // a NULL evalPred is neither side of the corpus/eval split: the
    // raw column would exclude the doc from BOTH branches (dropped
    // from the audit entirely) — coalesce to false so such docs are
    // corpus docs, the conservative read (r13 ADVICE). Docs with no
    // n-gram (shorter than n tokens, or null/empty text) have nothing
    // to probe and are absent from the output by construction.
    val grams = docs.select(col(idCol).as("doc_id"),
      coalesce(evalPred, lit(false)).as("is_eval"),
      explode(Dedup.shingles(col(textCol), n)).as("gram"))
    val evalGrams = grams.where(col("is_eval"))
      .select(col("doc_id").as("eval_id"), col("gram"))
    val corpusGrams = grams.where(!col("is_eval")).select("doc_id", "gram")
    corpusGrams.join(evalGrams, "gram")
      .groupBy("doc_id")
      .agg(countDistinct("eval_id").as("n_eval_docs"),
        countDistinct("gram").as("n_gram_hits"))
  }

  /** Fraction-threshold contamination scoring (K36): for every
    * NON-eval document, the share of its distinct n-gram shingles
    * that also appear anywhere in the eval subset — the GPT-3/PaLM
    * family's decontamination statistic, where a document counts as
    * dirty only when a large FRACTION of it overlaps a benchmark
    * (K5's [[contamination]] counts raw hits; one shared idiom there
    * flags a 10k-token document). Returns
    * (doc_id, n_grams, n_hits, hit_frac); hit_frac is one IEEE
    * double division of two exact integer counts, so the score is
    * bit-identical cross-engine.
    *
    * Scale shape: same as K5 — the join key is the shingle, the eval
    * side is a fixed benchmark suite (MBs) whose distinct gram set
    * AQE broadcasts, so the corpus gram stream never shuffles for
    * the probe; the only corpus-keyed exchange is the per-doc count
    * aggregation. Shingles are per-document DISTINCT by construction
    * (ShingleSet), so counts need no second dedup pass.
    */
  def contaminationFraction(docs: DataFrame, idCol: String, textCol: String,
                            evalPred: Column, n: Int = 3): DataFrame = {
    // NULL evalPred → corpus side (coalesce false), as in K5; zero-gram
    // docs (shorter than n tokens, null/empty text) are absent from
    // the output by construction — they have no fraction to score
    // (0/0) and nothing to leak (r13 ADVICE)
    val grams = docs.select(col(idCol).as("doc_id"),
      coalesce(evalPred, lit(false)).as("is_eval"),
      explode(Dedup.shingles(col(textCol), n)).as("gram"))
    val evalGrams = grams.where(col("is_eval"))
      .select("gram").distinct().withColumn("hit", lit(true))
    grams.where(!col("is_eval"))
      .join(evalGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("hit"), lit(1))).as("n_hits"))
      .withColumn("hit_frac",
        col("n_hits").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** The screen over [[contaminationFraction]]: drop every non-eval
    * document whose eval-overlap fraction reaches `minFrac`, keep the
    * rest (eval rows themselves are excluded — the output is the
    * cleaned TRAINING corpus). K5's any-hit `decontaminate` is the
    * conservative benchmark-protection default; this is the
    * published-recipe alternative when any-hit is too destructive
    * (web corpora share idioms with every benchmark at some n).
    */
  def decontaminateByFraction(docs: DataFrame, idCol: String, textCol: String,
                              evalPred: Column, n: Int = 3,
                              minFrac: Double = 0.5): DataFrame = {
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"minFrac must be in (0, 1]: $minFrac")
    val dirty = contaminationFraction(docs, idCol, textCol, evalPred, n)
      .where(col("hit_frac") >= minFrac)
      .select(col("doc_id").as("_dirty_id"))
    // NULL evalPred rows are corpus docs (see contaminationFraction)
    // and must stay in the cleaned-training output
    docs.where(!coalesce(evalPred, lit(false)))
      .join(dirty, col(idCol) === col("_dirty_id"), "left_anti")
  }

  /** Gopher-style repetition signal: the share of a doc's word
    * bigrams taken by its single most frequent bigram. High values
    * flag boilerplate/degenerate text. Exact integer ratio (cast to
    * double at the end) so the score is bit-identical cross-engine.
    */
  def topBigramShare(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r16 (guide §2.4, remove shuffles outright): the signal is
    // strictly per-document — max bigram multiplicity over total
    // bigram count — so it never needed the exploded (doc, gram)
    // relation and its two corpus-scale exchanges (the r15 shape).
    // Sort the row's own bigram array and take the longest equal run:
    // identical integers (multiset of bigrams is unchanged), ONE
    // map-only pass, zero shuffles at any corpus size.
    val t = TextAnalysis.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), t.as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"),
        array_sort(transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i + 1),
            element_at(col("t"), i + 2)))).as("g"))
      .select(col("doc_id"),
        // run-length fold: (prev gram, current run, best run); null
        // prev starts every array, <=> keeps the compare null-safe
        (aggregate(col("g"),
          struct(lit(null).cast(StringType).as("prev"),
            lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x <=> acc("prev"), acc("run") + lit(1L))
              .otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc("best"), run).as("best"))
          })("best").cast(DoubleType) /
          size(col("g")).cast(DoubleType)).as("top_bigram_share"))
  }

  /** Highest-TF-IDF term per document. IDF is the exact rational
    * N/df (no log) so the score — tf·N/df in IEEE doubles — is
    * bit-identical across engines; ranking ties break on the term.
    *
    * Tokenize-once (hotCap = 0, the gate config): the corpus is
    * scanned and exploded exactly once into (doc, term) counts; df
    * comes from a term-keyed WINDOW count over that relation rather
    * than a separate aggregate + join (a branch aggregate re-tokenizes
    * the corpus — the optimizer prunes each branch differently, so
    * their exchange subtrees never unify and every branch pays its own
    * scan). The doc-count scalar is a zero-column parquet count
    * (footer metadata, no text IO), broadcast. Plan: one heavy scan,
    * three key-local shuffles.
    *
    * hotCap > 0 is the 100 TB config — the K15 lesson applied to the
    * term key (the r9 BM25 df fix, in option form): a Zipf-head term's
    * window partition is corpus-sized and unsplittable, so per-term
    * stats come from a map-side-combined aggregate with the top
    * `maxHot` hot terms broadcast and the cold remainder joined
    * (AQE-skew-splittable); SkewSpec proves capped == window.
    */
  def tfidfTopTerm(docs: DataFrame, idCol: String, textCol: String,
                   hotCap: Int = 0, maxHot: Int = 1 << 20): DataFrame = {
    val ex = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = withKeyStats(tf, "term", hotCap, maxHot)
      .drop("first_id")
      .join(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast(DoubleType) / col("df").cast(DoubleType))
    // r16: the per-doc argmax is ONE hash aggregate, not a row_number
    // window — the window form paid a full sort of the (doc, term)
    // relation on (doc_id, tfidf, term) just to keep rank 1. min_by
    // over the lexicographic (−tfidf, term) key picks the same row
    // (highest tfidf, term-asc tiebreak; negate is an exact IEEE sign
    // flip, and tfidf is never NaN — tf·N/df over positive integers).
    scored.groupBy("doc_id")
      .agg(min_by(struct(col("term"), col("tfidf")),
        struct(negate(col("tfidf")), col("term"))).as("best"))
      .select(col("doc_id"), col("best.term").as("term"),
        col("best.tfidf").as("tfidf"))
  }

  /** Sequence packing: assign docs to fixed token-budget packs by
    * running token count, per group (the prep step between chunking
    * and tokenizer batching in a training pipeline). A doc lands in
    * the pack its first token falls into, so packs fill greedily in
    * id order and the assignment is deterministic. Parallel across
    * groups — each group's running sum is one window partition; at
    * 100 TB the group key is (source, shard) so no partition is ever
    * a corpus-wide sequential scan.
    */
  def packSequences(docs: DataFrame, groupCol: String, idCol: String,
                    textCol: String, budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, s"token budget must be positive: $budgetTokens")
    val toks = docs.select(col(groupCol).as("grp"), col(idCol).as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
    val w = Window.partitionBy("grp").orderBy("doc_id")
    toks.withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / lit(budgetTokens.toDouble))
          .cast(LongType))
      .select(col("grp").as(groupCol), col("doc_id"), col("pack_id"),
        col("n_tokens"))
  }

  /** Cross-document duplicated n-gram share (the corpus-level twin of
    * [[topBigramShare]]'s within-doc signal): for each document, the
    * fraction of its distinct word n-grams that occur in at least
    * `minDf` documents corpus-wide. High values flag boilerplate and
    * template text that per-doc filters cannot see.
    *
    * Scale shape: the corpus is shingled ONCE; the document frequency
    * is a count window over the gram key (one gram-keyed shuffle —
    * an aggregate+self-join spelling shingles the corpus twice), then
    * one doc-keyed aggregate. Never all-pairs. Counts are exact
    * integers, so the final ratio is a bit-identical cross-engine
    * double.
    */
  /** Each (doc_id, gram) row annotated with its gram's corpus stats
    * (df, first_id) — the shared primitive behind K15/K28, in two
    * plan shapes:
    *
    * hotCap = 0 (default): a gram-keyed window. One corpus scan, but a
    * window partition holds EVERY row of its gram — a viral
    * boilerplate gram in 10% of docs puts 10% of all rows in one task,
    * and no AQE rule can split a window partition (the J2 hot-key
    * failure, in window form).
    *
    * hotCap > 0: skew-resistant. Per-gram stats come from a hash
    * aggregate (map-side partial combine: a hot gram contributes one
    * row per map task to the shuffle, never its row count). The
    * broadcast hot set is the top `maxHot` grams by df among those at
    * df >= hotCap — the ≤ rows/hotCap bound alone does not guarantee
    * broadcastability at 100 TB (hotCap ≈ 10⁴ admits ~10⁸ grams), so
    * the absolute cap bounds driver/broadcast memory regardless of
    * corpus size. Broadcast rows get stats map-side with no shuffle;
    * everything else (cold grams plus any hot overflow past maxHot)
    * takes the shuffle join, where the hottest key's df is at most the
    * maxHot-th largest — on a heavy-tailed web corpus the head IS the
    * skew, so with maxHot ≈ 10⁶ the residual join is effectively
    * skew-free while the broadcast stays tens of MB.
    */
  private def withGramStats(grams: DataFrame, hotCap: Int,
                            maxHot: Int = 1 << 20): DataFrame =
    withKeyStats(grams, "gram", hotCap, maxHot)

  /** The generalized form: key-frequency stats attached to every row,
    * for any key column (grams for K15/K28, terms for K7 TF-IDF).
    */
  private def withKeyStats(rows: DataFrame, keyCol: String, hotCap: Int,
                           maxHot: Int): DataFrame = {
    if (hotCap <= 0)
      return rows
        .withColumn("df", count(lit(1)).over(Window.partitionBy(keyCol)))
        .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy(keyCol)))
    val stats = rows.groupBy(keyCol)
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("first_id"))
    val hot = stats.where(col("df") >= hotCap)
      .orderBy(col("df").desc, col(keyCol)).limit(maxHot)
    val marked = rows.join(broadcast(hot), Seq(keyCol), "left")
    marked.where(col("df").isNotNull)
      .unionByName(marked.where(col("df").isNull).drop("df", "first_id")
        .join(stats.join(broadcast(hot.select(keyCol)), Seq(keyCol), "left_anti"),
          keyCol))
  }

  def dupNgramFraction(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minDf: Int = 2, hotCap: Int = 0,
                       maxHot: Int = 1 << 20): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1: $minDf")
    require(maxHot >= 1, s"maxHot must be >= 1: $maxHot")
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.shingles(col(textCol), n)).as("gram"))
    // shingles are pre-distinct per doc, so the per-gram row count IS
    // the document frequency
    withGramStats(grams, hotCap, maxHot)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_fraction",
        col("n_dup_grams").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** Train/val/test split that cannot leak near-duplicates across the
    * boundary: the split key is the document's near-dup cluster id
    * (from [[Dedup.connectedComponents]]) instead of its own id, so a
    * whole cluster always lands in one split — the fix for the classic
    * eval-contamination failure where a test doc's near-copy sits in
    * train. Unpaired documents fall back to their own id and split
    * exactly like [[splitAssign]].
    *
    * One id-keyed left join; the split itself stays a pure hash
    * filter, so the assignment is reproducible across engines and
    * cluster sizes.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String,
                       clusters: DataFrame): DataFrame =
    docs.join(
        clusters.select(col("id").cast(LongType).as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("split",
        splitAssign(coalesce(col("cluster_id"), col(idCol).cast(LongType))))

  /** Token-budget corpus selection: per group, keep the
    * highest-quality documents until the group's token budget is
    * exhausted — the "best data under a fixed training budget" step of
    * a data-mixing pipeline. A document is kept if it STARTS within
    * budget (same greedy convention as [[packSequences]]). Ranking
    * uses the 6-dp-rounded quality score (cross-engine exact, see
    * TextAnalysis.qualityScore) with the id as tiebreak, so the
    * selected set is deterministic. One window per group — at 100 TB
    * the group key is (source, shard), never the whole corpus.
    */
  def tokenBudgetSelect(docs: DataFrame, groupCol: String, idCol: String,
                        textCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"token budget must be positive: $budgetTokens")
    val scored = docs.select(col(groupCol).as("grp"), col(idCol).as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
      round(TextAnalysis.qualityScore(col(textCol)), 6).as("quality"))
    val w = Window.partitionBy("grp")
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored.withColumn("cum", sum("n_tokens").over(w))
      .where(col("cum") - col("n_tokens") < budgetTokens)
      .select(col("grp").as(groupCol), col("doc_id"), col("n_tokens"),
        col("quality"), col("cum"))
  }

  /** Cross-source n-gram overlap matrix (K22): for every ordered
    * source pair (a, b), how many of a's distinct word n-grams also
    * occur in b, and the containment ratio |grams(a) ∩ grams(b)| /
    * |grams(a)| — the corpus-composition screen behind "is src_b a
    * re-crawl/subset of src_a" and the source-level twin of
    * [[dupNgramFraction]]'s per-document signal.
    *
    * Scale shape (r16, guide §2.3/§2.4): the corpus is shingled ONCE
    * into a gram-keyed `collect_set(source)` (collect_set dedups, so
    * Catalyst folds the distinct into the partial aggregate — one
    * shuffle whose rows are (gram, ≤n_sources array)), and that
    * relation immediately collapses into a SOURCE-SET HISTOGRAM:
    * `groupBy(sorted srcs).count()`, at most 2^n_sources rows (and
    * partial aggregation shrinks it to that bound per map task before
    * the exchange). Everything downstream — ordered-pair expansion AND
    * the per-source denominators — runs over the tiny histogram, so
    * the gram-scale relation has exactly ONE consumer and is never
    * re-shingled (the r15 plan showed the dual consumers re-running
    * the corpus scan when ReuseExchange declined to unify the two
    * differently-pruned subtrees). n_grams(a) rides beside each pair
    * row via a src_a-partitioned window over the ≤ n_sources² expanded
    * rows (bounded by construction). Counts are exact integers → the
    * ratio is a bit-identical cross-engine double.
    */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val bySrc = docs.select(col(sourceCol).as("source"),
        explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy("gram")
      // sort_array canonicalizes the set (collect_set order is
      // partition-dependent) so equal source sets histogram together
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val hist = bySrc.groupBy("srcs").agg(count(lit(1)).as("cnt"))
    // ordered pairs INCLUDING the (a, a) diagonal: the diagonal row's
    // sum is exactly n_grams(a) (every gram of a counts once), so one
    // expansion feeds both outputs and no second gram-scale pass exists
    val expanded = hist
      .select(explode(col("srcs")).as("src_a"), col("srcs"), col("cnt"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"), col("cnt"))
      .groupBy("src_a", "src_b").agg(sum(col("cnt")).as("c"))
    val w = Window.partitionBy("src_a")
    expanded
      .withColumn("n_grams",
        max(when(col("src_a") === col("src_b"), col("c"))).over(w))
      .where(col("src_a") =!= col("src_b"))
      .select(col("src_a"), col("src_b"), col("c").as("n_shared"),
        col("n_grams"),
        (col("c").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("containment"))
  }

  /** Hash-range shard id in [0, nShards): the first 16 bits of
    * md5(id) scaled onto the shard count — the deterministic,
    * coordination-free assignment for writing a training corpus as N
    * balanced output shards. A pure map (no global sort, no
    * row_number), so it holds at any scale and any executor count,
    * and the same id lands in the same shard across engines and runs.
    */
  def shardAssign(id: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 65536,
      s"nShards out of range [1, 65536]: $nShards")
    floor(conv(substring(md5(id.cast(StringType)), 1, 4), 16, 10)
      .cast(LongType) * nShards / lit(65536.0)).cast(LongType)
  }

  /** Shard-plan profile (K23): per hash-range shard, the document
    * count and total payload — the pre-write balance check that shows
    * no shard is pathologically hot before a 100 TB output job
    * commits to the layout. One shard-keyed aggregate.
    */
  def shardPlan(df: DataFrame, idCol: String, nShards: Int,
                payload: Column): DataFrame =
    df.select(shardAssign(col(idCol), nShards).as("shard_id"),
        payload.as("payload"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("payload").as("payload"))

  /** Write a corpus as `nShards` hash-range shards (the output job
    * [[shardPlan]] profiles): shard id becomes a partition column and
    * the data is hash-repartitioned on it, which maps every shard
    * wholly into exactly one task (shards may share a task, but a
    * shard never splits) — so each `shard_id=N/` directory is a
    * single-file, self-contained, deterministic slice of the corpus.
    * Re-running on the same ids — any cluster size, any row order —
    * produces identical shard membership, which is what makes
    * shard-level resume/retry of a downstream trainer safe. Works
    * identically in foreachBatch — the assignment is a stateless pure
    * function of the id — with one path per micro-batch (overwrite
    * mode would clobber a shared root; CurationSpec proves
    * batch/stream shard-membership equality).
    */
  def writeSharded(df: DataFrame, idCol: String, nShards: Int,
                   path: String): Unit =
    df.withColumn("shard_id", shardAssign(col(idCol), nShards))
      .repartition(nShards, col("shard_id"))
      .write.partitionBy("shard_id").mode("overwrite").parquet(path)

  /** The end-to-end corpus-curation job — the workload this engine
    * exists for, composed as ONE declarative plan: quality gate →
    * exact dedup (keep-first by content hash) → split assignment →
    * eval-overlap decontamination (any train/val doc sharing an
    * `ngram`-gram with a test doc is dropped) → ready for
    * [[writeSharded]]. Every stage is the already-gated operator
    * (q_quality_score / q_dedup_exact / q_split_assign /
    * q_contamination / q_shard_plan semantics); this is their
    * production composition, benched at sf1 by tools/PipelineBench.
    *
    * Scale shape: narrow quality filter on the scan; dedup shuffles
    * (hash, id) not text; the contamination join is gram-keyed with
    * eval grams deduplicated first (never all-pairs); the final
    * anti-join is id-keyed. No driver actions anywhere in the plan.
    */
  def curationPipeline(docs: DataFrame, idCol: String, textCol: String,
                       minQuality: Double = 0.5, ngram: Int = 5): DataFrame = {
    val q = docs.where(
      round(TextAnalysis.qualityScore(col(textCol)), 6) >= minQuality)
    val keep = q.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol)).select(idCol)
    val withSplit = q.join(keep, idCol)
      .withColumn("split", splitAssign(col(idCol)))
    val grams = withSplit.select(col(idCol),
      (col("split") === "test").as("is_eval"),
      explode(Dedup.shingles(col(textCol), ngram)).as("gram"))
    val evalGrams = grams.where(col("is_eval")).select("gram").distinct()
    val contaminated = grams.where(!col("is_eval"))
      .join(evalGrams, "gram").select(idCol).distinct()
    withSplit.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The round-8 production composition (pipeline v2): the full
    * modern curation stack as ONE declarative plan —
    * Gopher rule battery (H16, map-only predicate) → heuristic
    * quality gate (H2) → exact dedup → split assignment →
    * eval-overlap decontamination (all from [[curationPipeline]]) →
    * DSIR domain weight (K30, joined back id-keyed) → trained quality
    * classifier score (K32, map-only with the model broadcast) →
    * real BPE token count (H17, map-only kernel). The classifier
    * model and BPE merges are TRAINED ONCE upfront (on a bounded
    * sample — the production discipline: training artifacts are
    * versioned inputs, not per-run work) and ride in as parameters.
    *
    * Scale shape: everything map-only except the four key-local
    * shuffles the semantics require (content-hash dedup, gram-keyed
    * decontamination, DSIR's bucket stats, and the id-keyed
    * weight/score joins). Output columns: the doc row + split,
    * log_weight (null→0 for sub-bigram docs), quality_prob,
    * n_bpe_tokens — exactly what a training-data writer shards.
    */
  /** `evalScrub` (r15, VERDICT r14 item 5): when set, the K37
    * cross-corpus ExactSubstr decontamination
    * ([[Dedup.exactSubstrDecontaminate]] against this immutable eval
    * table — a DataFrame carrying `textCol`, the benchmark suite) runs
    * right after the Gopher gate and BEFORE dedup/split/5-gram
    * decontamination — the same position the streaming ingest gives it
    * (after the F10 screen, before the dedup screen), so the content
    * hash, quality score, split grams, classifier score, and BPE token
    * count all read the text a training run would actually see:
    * verbatim eval sentences (≥ `evalScrubMinLen` tokens) are excised
    * from every gated doc. A doc whose every token is eval-covered
    * drops here (pure leaked benchmark); empty-text docs pass (nothing
    * was leaked — the NULL contract). Scale shape: the eval gram set
    * is bounded (benchmark-suite-sized, broadcast probe — no
    * corpus-wide gram aggregate, the K37 contract), and the join-back
    * duplicates only the map-only gated-scan prefix (the F10 stage-0
    * trade), never the dedup/decontamination lineage.
    */
  def curationPipelineV2(docs: DataFrame, idCol: String, textCol: String,
      model: org.apache.spark.ml.classification.LogisticRegressionModel,
      merges: Seq[(String, String)], dsirTargetPred: Column,
      minQuality: Double = 0.5, ngram: Int = 5, dsirBuckets: Int = 4096,
      gopherMinWords: Long = 50L, gopherMinStop: Long = 2L,
      boilerplate: Option[DataFrame] = None,
      htmlInput: Boolean = false,
      evalScrub: Option[DataFrame] = None,
      evalScrubMinLen: Int = 8): DataFrame = {
    // r13 stage −1 (optional): crawl extraction. When the corpus is
    // raw HTML, every downstream screen reads distorted statistics —
    // tags and attribute soup inflate word counts past the Gopher
    // gate, entity escapes perturb shingles and content hashes, and
    // F10's line dedup sees no line structure at all (block tags, not
    // newlines, delimit the boilerplate). htmlToText (H19) runs FIRST,
    // as one narrow codegen'd map that pipelines inside the scan —
    // zero new shuffles, zero new scans (plan budget unchanged,
    // PipelineBench gate) — so stage 0's frequent-line table is mined
    // over, and matched against, EXTRACTED text: the same train/serve
    // discipline as the model and merges.
    val input =
      if (htmlInput)
        docs.withColumn(textCol, TextAnalysis.htmlToText(col(textCol)))
      else docs
    // r9 stage 0 (optional): line-level boilerplate removal against a
    // pre-mined frequent-line table (F10's train/serve split — the
    // table is a versioned input like the model and merges). Runs
    // BEFORE every filter, because boilerplate distorts the very
    // statistics the filters read (a nav-bar-padded doc can clear the
    // word-count gate on padding alone); text downstream is the
    // cleaned text, other doc columns re-attach by the id-keyed join,
    // and an all-boilerplate doc drops here.
    val base = boilerplate.fold(input) { freq =>
      val cleaned = Dedup.dropListedLines(input, idCol, textCol, freq)
        .select(col("doc_id").as(idCol), col("clean_text").as(textCol))
      input.drop(textCol).join(cleaned, idCol)
    }
    val g = base.where(TextAnalysis.gopherPass(col(textCol), gopherMinWords,
      minStop = gopherMinStop))
    // K37 span scrub (r15): see scaladoc — excise verbatim eval spans
    // from the gated docs BEFORE every content-derived stage, so the
    // hash dedup, quality gate, split grams, and scores read scrubbed
    // text (the streaming ingest's screen position). Join-back
    // duplicates only the map-only gated scan, the F10 trade.
    val scrubbed = evalScrub.fold(g) { ev =>
      g.drop(textCol).join(
        Dedup.exactSubstrDecontaminate(g, idCol, textCol, ev,
            textCol, evalScrubMinLen)
          .where(col("n_kept") > 0 || col("n_tokens") === 0)
          .select(col("doc_id").as(idCol),
            col("clean_text").as(textCol)),
        idCol)
    }
    val clean = curationPipeline(scrubbed, idCol, textCol, minQuality,
      ngram)
    val weights = dsirWeights(base, idCol, textCol, dsirTargetPred,
        dsirBuckets)
      .select(col("doc_id").as(idCol), col("log_weight"))
    val scored = QualityClassifier.scoreAll(clean, model, textCol)
    scored.join(weights, Seq(idCol), "left")
      .withColumn("log_weight", coalesce(col("log_weight"), lit(0.0)))
      .withColumn("n_bpe_tokens",
        size(TextAnalysis.bpeEncode(col(textCol), merges)).cast(LongType))
  }

  /** Curriculum quartile/decile buckets (K24): rank documents by a
    * quality-style score and cut them into `nBuckets` equal-count
    * tiers (ntile) — the assignment step of curriculum training
    * schedules ("train on easy/clean tiers first"). Deterministic:
    * the order key is (score, id).
    *
    * The exact global ntile is a single ordered window — right for
    * gate-sized corpora and for the per-group form (pass a
    * pre-partitioned df and wrap in groups). At 100 TB the same
    * contract is served by approxQuantile boundary cuts + a map-only
    * bucket lookup; the exact form here is also the oracle for that
    * approximation.
    */
  def curriculumBuckets(df: DataFrame, idCol: String, score: Column,
                        nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    val w = Window.orderBy(score.asc, col(idCol).asc)
    df.withColumn("bucket", ntile(nBuckets).over(w).cast(LongType))
  }

  /** The scale form of [[curriculumBuckets]]: bucket boundaries from
    * a percentile_approx aggregate (one wide pass, nBuckets−1 doubles,
    * broadcast back), then a map-only array-expression lookup assigns
    * `bucket` = 1 + #cuts strictly below the score. No global window,
    * no sort, no driver action — the whole thing is one lazy plan that
    * recomputes boundaries on each execution, so it composes into
    * pipelines/foreachBatch like every other operator here. `accuracy`
    * is percentile_approx's knob (error ≤ 1/accuracy of rank); raise
    * it past the corpus size for exact boundaries, matching the ntile
    * form up to boundary-tie placement.
    */
  def curriculumBucketsApprox(df: DataFrame, score: Column, nBuckets: Int,
                              accuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    require(accuracy >= 1, s"accuracy must be positive: $accuracy")
    val scored = df.withColumn("__cb_score", score.cast(DoubleType))
    if (nBuckets == 1) return scored.withColumn("bucket", lit(1L))
      .drop("__cb_score")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cuts = scored.agg(percentile_approx(col("__cb_score"),
      array(probs.map(lit): _*), lit(accuracy)).as("__cb_cuts"))
    scored.crossJoin(broadcast(cuts)) // 1 row × (nBuckets−1) doubles
      .withColumn("bucket",
        (lit(1) + size(filter(col("__cb_cuts"), c => c < col("__cb_score"))))
          .cast(LongType))
      .drop("__cb_score", "__cb_cuts")
  }

  /** Corpus-drift monitor (K25): per source, the Jensen–Shannon
    * divergence (base-2, in [0, 1]) between that source's unigram
    * token distribution and the rest of the corpus — the "did the mix
    * shift / is this source an outlier" screen run before a source is
    * admitted into a training blend.
    *
    * No full-outer over the vocabulary: for tokens a source never
    * emits, the JS term degenerates to the rest-distribution mass, so
    * JS = ½·Σ_present p·log2(2p/(p+q)) + ½·(Σ_present q·log2(2q/(p+q))
    * + (1 − Σ_present q)) and every sum ranges over the (source,
    * token) rows that exist. Plan: one tokenize pass → (source, token)
    * counts → token-keyed join with the global counts re-aggregated
    * from the same relation → per-source sum. Per-source totals are
    * broadcast; p and q are exact integer ratios; the final JS is
    * rounded to 6 dp (log2 reductions agree cross-engine well inside
    * that boundary). Needs ≥2 sources (the rest-distribution is
    * otherwise empty).
    */
  def sourceDrift(docs: DataFrame, sourceCol: String, textCol: String)
      : DataFrame = {
    // the explicit not-null filters make every consumer branch carry
    // the same scan subtree (join-key constraint propagation would
    // otherwise add isnotnull to only some branches and break
    // ReuseExchange, re-scanning the corpus per consumer)
    val bySrc = docs.select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "" && col("source").isNotNull &&
        col("token").isNotNull)
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    val byTok = bySrc.groupBy("token").agg(sum("cnt").as("g_cnt"))
    val tot = bySrc.groupBy("source").agg(sum("cnt").as("n_src"))
    val nAll = tot.agg(sum("n_src").as("n_all"))
    val p = col("cnt").cast(DoubleType) / col("n_src").cast(DoubleType)
    val q = (col("g_cnt") - col("cnt")).cast(DoubleType) /
      (col("n_all") - col("n_src")).cast(DoubleType)
    bySrc.join(byTok, "token")
      .join(broadcast(tot), "source")
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("n_src"),
        (p * log2(lit(2) * p / (p + q))).as("term_p"),
        when(q > 0, q * log2(lit(2) * q / (p + q))).otherwise(lit(0.0))
          .as("term_q"),
        q.as("q_mass"))
      .groupBy("source")
      .agg(first("n_src").as("n_tokens"),
        round((sum("term_p") + sum("term_q") + (lit(1.0) - sum("q_mass")))
          * lit(0.5), 6).as("js_divergence"))
  }

  /** Referential-integrity audit (K26): given two keyed relations
    * (documents ↔ embeddings, docs ↔ media, facts ↔ dims), one summary
    * row of matched / left-only / right-only distinct keys — the
    * dangling-pointer screen a multi-table training pipeline runs
    * before a join silently drops rows. Two distinct-aggregates and a
    * key-keyed full-outer join; no driver action, scales like any
    * key-keyed aggregate.
    */
  def refIntegrity(left: DataFrame, leftKey: String,
                   right: DataFrame, rightKey: String): DataFrame = {
    // keys keep their native type (a Long re-cast would silently null
    // string/uuid keys and report garbage); NULL keys can never match
    // and are excluded so the audit is about real keys
    val l = left.select(col(leftKey).as("k")).where(col("k").isNotNull)
      .distinct().withColumn("l", lit(1))
    val r = right.select(col(rightKey).as("k")).where(col("k").isNotNull)
      .distinct().withColumn("r", lit(1))
    l.join(r, Seq("k"), "full_outer")
      .agg(
        sum(when(col("r").isNull, 1L).otherwise(0L)).as("left_only"),
        sum(when(col("l").isNull, 1L).otherwise(0L)).as("right_only"),
        sum(when(col("l").isNotNull && col("r").isNotNull, 1L)
          .otherwise(0L)).as("matched"))
  }

  /** Corpus snapshot diff (K27): one summary row of added / removed /
    * modified / unchanged document counts between two corpus versions
    * — the change audit run before an incremental retrain ("did the
    * refresh really only touch the sources we expected"). Content
    * equality is md5 of the content column (string or binary — no
    * lossy re-cast), so the shuffle carries (id, 32-byte hash), never
    * the documents; one id-keyed full-outer join + global aggregate.
    * Row presence is tracked with explicit markers — NULL content is
    * a value (null-safe compared), not absence.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    def keyed(df: DataFrame, side: String) =
      df.select(col(idCol).as("k"), md5(col(contentCol)).as(s"h_$side"),
        lit(1).as(s"p_$side"))
    val both = col("p_old").isNotNull && col("p_new").isNotNull
    keyed(oldSnap, "old").join(keyed(newSnap, "new"), Seq("k"), "full_outer")
      .agg(
        sum(when(col("p_old").isNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("p_new").isNull, 1L).otherwise(0L)).as("removed"),
        sum(when(both && !(col("h_old") <=> col("h_new")), 1L)
          .otherwise(0L)).as("modified"),
        sum(when(both && (col("h_old") <=> col("h_new")), 1L)
          .otherwise(0L)).as("unchanged"))
  }

  /** Embedding-space cohesion per label: each label's centroid, then
    * the mean cosine of members to their centroid — the standard
    * cluster-quality / label-noise screen over an embedded corpus.
    * Decomposes into pos-keyed partial aggregates (no vectors are
    * ever collected): explode to (label, pos, x), average into the
    * centroid, dot each vector against it, reduce per label.
    */
  def labelCohesion(embeds: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    val ex = embeds.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("xf").cast(DoubleType).as("x"))
    val cent = ex.groupBy("label", "pos").agg(avg("x").as("c"))
    val cnorm = cent.groupBy("label").agg(sqrt(sum(col("c") * col("c"))).as("cn"))
    val perVec = ex.join(cent, Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(col("x") * col("c")).as("dv"),
        sqrt(sum(col("x") * col("x"))).as("vn"))
    perVec.join(cnorm, "label")
      .select(col("label"), (col("dv") / (col("vn") * col("cn"))).as("cos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(avg("cos"), 6).as("avg_cos"))
  }

  /** Per-document novelty share (K28): the fraction of a document's
    * distinct n-grams that it is the FIRST document to contribute,
    * ordering by id (= ingestion order) — the marginal-contribution
    * screen behind "does this source add anything the corpus doesn't
    * already have". A doc of fresh text scores ~1, boilerplate
    * re-paste scores ~0; unlike pairwise dedup it prices partial
    * overlap against the whole accumulated corpus, not one neighbor.
    * Exact integer ratio → engine-exact double. Scale shape: one
    * shingle pass; first-contributor resolved with a gram-keyed
    * window min (one shuffle, no self-join), then one doc-keyed
    * aggregation. Never all-pairs.
    */
  /** Repeat-aware soft-dedup sampling weights (K29): instead of hard
    * near-dup removal, every document is weighted n^(−alpha) by its
    * near-dup cluster size n — the "count a family once" sampling
    * correction (UniMax-style repeat-aware mixing). alpha = 1 makes a
    * 10-copy family weigh exactly one document in expectation; hard
    * dedup is the alpha→∞ limit, keep-everything is alpha = 0. Weights
    * compose directly with [[weightedSample]] to draw the corrected
    * corpus.
    *
    * `clusters` is the (id, cluster_id) relation from
    * [[Dedup.connectedComponents]] over any pair generator (LSH,
    * SemDeDup, media near-dup); unpaired documents fall back to their
    * own id, i.e. singleton weight 1. Scale shape: one id-keyed left
    * join against the (small) paired-docs relation, one cluster-keyed
    * map-side-combined count, one join back — no window over cluster
    * members, so a viral million-copy family costs its row count in
    * shuffle, never one reducer (AQE splits the join's hot key; the
    * aggregate is already partial-combined).
    */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame, idCol: String,
                       alpha: Double = 1.0): DataFrame = {
    require(alpha >= 0.0, s"alpha must be >= 0: $alpha")
    val withC = docs.select(col(idCol).as("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val sizes = withC.groupBy("cluster_id").agg(count(lit(1)).as("n_cluster"))
    val n = col("n_cluster").cast(DoubleType)
    // alpha = 1 is exact division (not pow) so the rounded weight is
    // bit-identical to the oracle's 1.0/n — pow can differ in the last
    // ulp across libm implementations
    val w = if (alpha == 1.0) lit(1.0) / n else pow(n, -alpha)
    withC.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_cluster"),
        round(w, 6).as("weight"))
  }

  def noveltyShare(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, hotCap: Int = 0,
                   maxHot: Int = 1 << 20): DataFrame = {
    require(maxHot >= 1, s"maxHot must be >= 1: $maxHot")
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.shingles(col(textCol), n)).as("gram"))
    withGramStats(grams, hotCap, maxHot)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("doc_id") === col("first_id")).cast(LongType)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** DSIR importance weights (K30): hashed-n-gram importance
    * resampling — the published recipe for pulling raw-corpus
    * documents toward a target domain (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023).
    * Word bigrams hash into `buckets` feature buckets; the target and
    * raw sides each induce an add-`smoothing` distribution over
    * buckets; every document scores
    * `log w(d) = Σ_b c_db · (ln p̂_target(b) − ln p̂_raw(b))` and the
    * weights feed [[weightedSample]] / rank selection to draw the
    * shifted corpus.
    *
    * Determinism: per-bucket log-ratios round to 6 dp and the per-doc
    * sum runs in exact DECIMAL (order-independent) — the H14
    * discipline — so scores are bit-identical cross-engine.
    *
    * Scale shape (fast path): TWO NARROW SCANS and nothing else. The
    * per-side bucket histogram is ONE bounded aggregate (the
    * DsirHistogram kernel walks each doc's token array in compiled
    * code; each map task ships a single 2·buckets-long buffer, so the
    * shuffle is O(tasks) regardless of corpus size); gram totals are
    * its row sums. The bounded (≤ buckets) scaled log-ratio table
    * then rides into the DsirScore codegen kernel as a reference
    * object and scoring is a MAP-ONLY projection — no doc-keyed
    * shuffle, no exploded bigram relation (the previous shape
    * materialized O(corpus tokens) gram rows twice; PIPELINE_r10.json at 300×
    * measured it as pipeline v2's super-scaling stage). The
    * histogram collect is ≤ 2·buckets longs, the centroid sanction.
    * `buckets` dials feature-hash resolution, not memory.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 4096,
                  smoothing: Double = 1.0,
                  exactHash: Boolean = false): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets out of range [2, 65536]: $buckets")
    require(smoothing > 0.0, s"smoothing must be > 0: $smoothing")
    val t = TextAnalysis.tokens(col(textCol))
    val a = lit(smoothing)
    val ab = lit(smoothing * buckets)
    // Feature hashing, two interchangeable kernels (the A10
    // approx-default / exact-oracle pattern): the default buckets each
    // bigram with murmur3 over the token PAIR (seed-chained exactly as
    // the SQL `pmod(hash(t[i], t[i+1]), buckets)` — spec-pinned).
    // `exactHash` keeps the exploded md5 form, which the DuckDB oracle
    // mirrors digit-for-digit; both are deterministic everywhere, they
    // just draw different (equally uniform) bucket assignments.
    if (exactHash) {
      // r15 (guide §1.2, measured): the exact-md5 path now runs the
      // SAME two-narrow-scans shape as the fast path — the kernels
      // gained an md5Mode that hashes each bigram exactly as the SQL
      // form conv(substring(md5(concat_ws(' ', w1, w2)), 1, 4), 16,
      // 10) % buckets. The previous shape exploded the corpus into an
      // O(corpus tokens) bucket stream whose three consumers (bucket
      // histogram, side totals, scoring join) did NOT share work at
      // runtime (OPTIMIZATION_r15.md peek: ReusedExchange=0, six corpus scans
      // in the executed plan) — the md5-per-gram pass ran three times.
      // Now: one bounded histogram aggregate (O(tasks) buffers on the
      // wire) + one map-only scoring projection; no explode, no joins,
      // no doc-keyed shuffle. Scaled-long scoring == the DECIMAL(28,6)
      // sum digit-for-digit (micro-unit integers, |sum| << 2^53 — the
      // fast path's established argument), and the lr table is built
      // by the SAME Spark expressions over the collected histogram
      // (the centroid-sanctioned bounded collect), so round/Decimal
      // semantics are unchanged. Oracle-gated (q_dsir_weights).
      //
      // EAGERNESS CONTRACT (r16, VERDICT r15 #4): this exactHash path
      // runs Spark jobs AT PLAN-CONSTRUCTION TIME (the .head() and
      // .collect() below) — it does NOT compose into foreachBatch or
      // other lazy pipelines the way curriculumBucketsApprox
      // advertises. That is deliberate and confined: exactHash=true
      // exists only for the DuckDB oracle gate (q_dsir_weights); every
      // composed consumer (the curation pipeline, streaming ingest)
      // uses the default lazy murmur3 path below, which builds no
      // driver-side table. Callers needing a lazy exact-md5 form
      // should memoize the lr table per (session, input) instead.
      val spark = docs.sparkSession
      import graft.functions.{exprs, DsirHistAgg, DsirScore}
      val base = docs
        .select(col(idCol).as("doc_id"), targetPred.as("is_target"), t.as("t"))
        .where(size(col("t")) >= 2)
      val hist = base.where(col("is_target").isNotNull)
        .agg(exprs.toColumn(
          DsirHistAgg(exprs.toExpr(col("t")), exprs.toExpr(col("is_target")),
            buckets, md5Mode = true).toAggregateExpression()).as("h"))
        .head().getSeq[Long](0)
      val tt = hist.view.slice(0, buckets).sum
      val tr = hist.view.slice(buckets, 2 * buckets).sum
      import scala.jdk.CollectionConverters._
      val statsDf = spark.createDataFrame(
        (0 until buckets).map(b => org.apache.spark.sql.Row(
          b.toLong, hist(b), hist(buckets + b))).asJava,
        StructType(Seq(StructField("bucket", LongType, nullable = false),
          StructField("ct", LongType, nullable = false),
          StructField("cr", LongType, nullable = false))))
      val lrExpr = round(
        log((col("ct") + a) / (lit(tt) + ab)) -
          log((col("cr") + a) / (lit(tr) + ab)), 6)
        .cast(DecimalType(28, 6))
      val lrScaled = new Array[Long](buckets)
      statsDf.select(col("bucket"), lrExpr.as("lr")).collect().foreach { r =>
        lrScaled(r.getLong(0).toInt) =
          r.getDecimal(1).movePointRight(6).longValueExact()
      }
      val sw = exprs.toColumn(
        DsirScore(exprs.toExpr(col("t")), lrScaled.toSeq, buckets,
          md5Mode = true))
      return base.select(col("doc_id"),
        (size(col("t")) - 1).cast(LongType).as("n_grams"),
        round(sw.cast(DoubleType) / lit(1000000L), 6).as("log_weight"))
    }
    val spark = docs.sparkSession
    // a null target predicate row is SCORED but counted into NEITHER
    // histogram side nor total — the exact path's when/otherwise
    // branches send it to neither ct/cr nor tt/tr (r10 ADVICE: the
    // previous coalesce-to-false here silently counted those docs'
    // grams raw, diverging from the documented contract whenever
    // targetPred is nullable)
    val base = docs
      .select(col(idCol).as("doc_id"), targetPred.as("is_target"), t.as("t"))
      .where(size(col("t")) >= 2)
    import graft.functions.{exprs, DsirHistAgg, DsirScore}
    val hist = base.where(col("is_target").isNotNull)
      .agg(exprs.toColumn(
        DsirHistAgg(exprs.toExpr(col("t")), exprs.toExpr(col("is_target")),
          buckets).toAggregateExpression()).as("h"))
      .head().getSeq[Long](0)
    val tt = hist.view.slice(0, buckets).sum
    val tr = hist.view.slice(buckets, 2 * buckets).sum
    // the log-ratio stays a Spark expression over a local bounded
    // table so its round/Decimal semantics are byte-identical to the
    // exact path's; untouched buckets get an lr too but no gram ever
    // indexes them
    import scala.jdk.CollectionConverters._
    val statsDf = spark.createDataFrame(
      (0 until buckets).map(b => org.apache.spark.sql.Row(
        b.toLong, hist(b), hist(buckets + b))).asJava,
      StructType(Seq(StructField("bucket", LongType, nullable = false),
        StructField("ct", LongType, nullable = false),
        StructField("cr", LongType, nullable = false))))
    val lr = round(
      log((col("ct") + a) / (lit(tt) + ab)) -
        log((col("cr") + a) / (lit(tr) + ab)), 6)
      .cast(DecimalType(28, 6))
    val lrScaled = new Array[Long](buckets)
    statsDf.select(col("bucket"), lr.as("lr")).collect().foreach { r =>
      lrScaled(r.getLong(0).toInt) =
        r.getDecimal(1).movePointRight(6).longValueExact()
    }
    // map-only scoring: the scaled-long sum is exact (multiples of
    // 1e-6; |sum| << 2^53), so /1e6 then round(…, 6) equals the exact
    // path's DECIMAL-sum-then-round digit-for-digit
    val sw = exprs.toColumn(
      DsirScore(exprs.toExpr(col("t")), lrScaled.toSeq, buckets))
    base.select(col("doc_id"),
      (size(col("t")) - 1).cast(LongType).as("n_grams"),
      round(sw.cast(DoubleType) / lit(1000000L), 6).as("log_weight"))
  }

  /** Semantic eval-set decontamination (K31): drop from the corpus
    * every vector whose embedding cosine against ANY eval/benchmark
    * vector reaches `threshold` — the embedding-space twin of the
    * 5-gram decontamination (K7/K12). Paraphrased or re-formatted
    * eval leakage that shares no exact n-grams still co-locates in
    * embedding space, so a production pipeline runs both screens.
    *
    * `nCells <= 1` is the exact mode: the (benchmark-sized) eval set
    * broadcasts and ONE BroadcastNestedLoopJoin LEFT ANTI pass keeps
    * exactly the corpus rows with no eval hit — also the plan you
    * want at 100 TB when the eval suite is MBs: no corpus shuffle, no
    * pair materialization, embarrassingly parallel over corpus
    * partitions. `nCells > 1` prunes compute by IVF co-assignment:
    * the corpus assigns to cells once (map-only NearestCentroid),
    * each eval vector probes its `nprobe` nearest cells, and the
    * cosine check runs only inside probed cells; recall is governed
    * by nprobe/nCells as in every IVF search (spec-planted dupes;
    * the exact mode is the oracle gate).
    */
  /** `centroids`: pre-trained IVF centroids for the `nCells > 1` path
    * (the G3 trainIvfCentroids discipline, r9) — repeated decontam
    * passes against a fixed corpus reuse one trained set instead of
    * paying a centroid-training corpus pass per call. Ignored in exact
    * mode.
    */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame,
                       threshold: Double, nCells: Int = 0, nprobe: Int = 4,
                       stride: Long = 7, iters: Int = 1,
                       centroids: Option[DataFrame] = None): DataFrame = {
    import Similarity.cosine
    if (nCells <= 1) {
      val ev = evalSet.select(col("embedding").as("e_q"))
      corpus.join(broadcast(ev),
        cosine(col("embedding"), col("e_q")) >= threshold, "left_anti")
    } else {
      val cents = centroids.getOrElse(
        Similarity.trainIvfCentroids(corpus, nCells, stride, iters))
      val assigned = Similarity.assignToCentroids(corpus, cents)
      // (ccos desc, cent_id) probe cells through the bounded rankTopK
      // aggregate — no qid window — with e_q re-attached by qid
      val probes = VectorSearch.probes(evalSet, cents, nprobe,
          evalSet.select(col("vec_id").as("qid"), col("embedding").as("e_q")))
        .select(col("e_q"), col("cent_id"))
      val hits = assigned.as("c").join(broadcast(probes.as("p")),
          col("p.cent_id") === col("c.cent_id") &&
            cosine(col("c.embedding"), col("p.e_q")) >= threshold,
          "left_semi")
        .select(col("vec_id"))
      corpus.join(hits, Seq("vec_id"), "left_anti")
    }
  }
}
