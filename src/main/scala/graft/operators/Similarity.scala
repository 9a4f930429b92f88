package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Three tiers, as a real pipeline would deploy them:
  *  - brute-force cosine top-k: the exact baseline. Query set is
  *    broadcast; corpus streams through once. Correct at any corpus
  *    size as long as the query set is small.
  *  - random-hyperplane LSH: corpus bucketed by sign-pattern (multi-
  *    probe for near-dup recall); only same-bucket candidates scored.
  *    Shuffle keyed by bucket.
  *  - IVF: corpus partitioned into k-means cells (Lloyd-refined
  *    deterministic seeds), queries probe nprobe nearest cells.
  *    Centroids live on the driver between Lloyd steps (k·dim
  *    doubles, the one sanctioned collect — SURVEY §4); cell
  *    assignment is a map-only projection via the NearestCentroid
  *    expression. At 100 TB cells can also be written as partitioned
  *    parquet for pruned reads.
  *
  * All vector math runs in the codegen'd kernels of
  * graft.functions.VectorRuntime (double accumulation) — the
  * higher-order-function form (`zip_with`+`aggregate`) evaluates a
  * lambda per element outside codegen and was the bench hotspot.
  */
object Similarity {
  import Dedup.fanOut
  import VectorSearch.{cos, exactQueries, normed, pairs, probedPairs, Pq}

  /** Sequential-order double dot product of two float-array columns
    * (native kernel; same accumulation order as the previous
    * zip_with/aggregate form, so values are bit-identical).
    */
  def dot(a: Column, b: Column): Column = {
    import graft.functions.{exprs, DotProduct}
    exprs.toColumn(DotProduct(exprs.toExpr(a), exprs.toExpr(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine of two float-array columns; see the three-argument form
    * for the zero-vector case.
    */
  def cosine(a: Column, b: Column): Column = cosine(dot(a, b), norm(a), norm(b))

  /** Cosine from a pair's dot product and the two norms. A zero
    * vector has no direction, so a zero-norm side scores NULL: it never
    * passes a threshold and never ranks ([[rankTopK]] drops null
    * scores). `try_divide` makes that hold under ANSI mode too, where
    * a plain division by the zero norm product throws DIVIDE_BY_ZERO.
    */
  def cosine(dotAB: Column, normA: Column, normB: Column): Column =
    try_divide(dotAB, normA * normB)

  /** Skew-proof per-query top-k over a scored (qid, nid, score) pair
    * relation: the [[graft.functions.BoundedTopK]] bounded aggregate
    * keyed by qid instead of `row_number() OVER (PARTITION BY qid)`.
    * The window form co-locates each query's ENTIRE candidate set in
    * one task — for the brute-force rankers that set IS the corpus, an
    * unsplittable reducer at 10^10 rows (the H12/K3 hot-partition
    * shape; AQE cannot split window partitions) — while the aggregate
    * reduces map-side, so the shuffle carries O(partitions·k) rows per
    * query and the k-wide explode of the finished array is bounded.
    * Output (qid, nid, score, rank) is byte-identical to the window
    * form (SkewSpec: planted mega-corpus proof, no Window in plan).
    *
    * Null scores/nids are dropped before the aggregate (the udaf input
    * encoder is non-nullable — a null embedding's null cosine would
    * fail at runtime); the window form ordered nulls last, so the two
    * differ only when a partition holds fewer than k non-null rows,
    * and a null-scored "hit" was never a meaningful answer (r10
    * ADVICE).
    */
  private[operators] def rankTopK(pairs: DataFrame, k: Int, desc: Boolean,
                                  scoreName: String): DataFrame = {
    // r15: native TypedImperativeAggregate (primitive arrays, direct
    // InternalRow reads) instead of the udaf(BoundedTopK) Aggregator,
    // whose per-row encoder round-trip + Vector append measured as 60%
    // of q_mmr_rerank's brute-force ranking at sf3 (OPTIMIZATION_r15.md).
    // Ordering, tiebreaks and output schema are byte-identical
    // (SkewSpec/SimilaritySpec pin them).
    import graft.functions.exprs
    def pick(s: Column, i: Column): Column = exprs.toColumn(
      graft.functions.TopKAgg(exprs.toExpr(s), exprs.toExpr(i), k, desc)
        .toAggregateExpression())
    pairs.where(col(scoreName).isNotNull && col("nid").isNotNull)
      .groupBy("qid").agg(pick(col(scoreName), col("nid")).as("_hits"))
      .select(col("qid"), posexplode(col("_hits")).as(Seq("_pos", "_h")))
      .select(col("qid"), col("_h.nid").as("nid"),
        col("_h.score").as(scoreName),
        (col("_pos") + 1).cast(LongType).as("rank"))
  }

  /** Exact brute-force cosine top-k for a (small, broadcast) query set.
    * One pass over the corpus, per-query top-k via the bounded
    * [[rankTopK]] aggregate (never a corpus-sized window partition).
    *
    * `roundCosTo >= 0` rounds the cosine to that many decimals BEFORE
    * the rank (nid breaks ties, as always). Ranks that feed a
    * downstream engine-exact contract — RRF fusion sums 1/(60+rank)
    * terms — should use 6, the repo-wide float boundary: a raw-double
    * near-tie can rank-flip between engines and shift the fused order.
    * Default keeps raw doubles (the exact-oracle gates mirror DuckDB's
    * unrounded ordering byte-for-byte).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     roundCosTo: Int = -1): DataFrame = {
    val joined = pairs(normed(fanOut(corpus)), exactQueries(queries))(
      (if (roundCosTo >= 0) round(cos, roundCosTo) else cos).as("cos"))
    rankTopK(joined, k, desc = true, "cos")
  }

  /** Euclidean distance via the native kernel (sequential squared-diff
    * accumulation — the association DuckDB's list_distance shares).
    */
  def l2(a: Column, b: Column): Column = {
    import graft.functions.{exprs, L2Distance}
    exprs.toColumn(L2Distance(exprs.toExpr(a), exprs.toExpr(b)))
  }

  /** Exact brute-force L2 top-k (G8) — the metric twin of
    * bruteForceTopK for embeddings that are NOT unit-normalized, where
    * cosine and Euclidean ranks genuinely differ. Same scale shape:
    * one corpus pass against broadcast queries, per-query bounded
    * [[rankTopK]] aggregate (ascending distance).
    */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = pairs(fanOut(corpus),
      queries.select(col("vec_id").as("qid"), col("embedding")))(
      l2(col("q.embedding"), col("c.embedding")).as("dist"))
    rankTopK(joined, k, desc = false, "dist")
  }

  /** Random-hyperplane signature: `planes` deterministic pseudo-random
    * hyperplanes; sign pattern packed into a long bucket key. Native
    * expression — one pass over the vector (its dimension is taken from
    * the array itself).
    */
  def hyperplaneBucket(vec: Column, planes: Int, seed: Int = 0): Column = {
    import graft.functions.{exprs, HyperplaneBucket}
    exprs.toColumn(HyperplaneBucket(exprs.toExpr(vec), planes, seed))
  }

  /** `df` with the `bucket` of its embedding in probe table `seed`. */
  private def bucketed(df: DataFrame, planes: Int, seed: Int = 0): DataFrame =
    df.withColumn("bucket", hyperplaneBucket(col("embedding"), planes, seed))

  /** LSH ANN: same-bucket candidates only, then exact cosine + top-k.
    * Recall is tunable by `planes` (fewer planes → bigger buckets).
    * The per-query rank is the bounded [[rankTopK]] aggregate: a hot
    * bucket holds ≈ corpus/2^planes rows, so at low `planes` a query's
    * candidate window partition is corpus-scale — the same
    * unsplittable-reducer shape the brute family shed in r10.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8): DataFrame =
    rankTopK(lshScored(corpus, queries, planes), k, desc = true, "cos")

  /** The scored (qid, nid, cos) same-bucket candidate relation behind
    * [[lshTopK]] — exposed for the SkewSpec window-vs-aggregate
    * byte-identity proofs.
    */
  private[operators] def lshScored(corpus: DataFrame, queries: DataFrame,
                                   planes: Int): DataFrame =
    pairs(bucketed(normed(fanOut(corpus)), planes),
      bucketed(exactQueries(queries), planes),
      col("q.bucket") === col("c.bucket"))(cos.as("cos"))

  /** Radius-bounded ANN via multi-probe hyperplane LSH: candidates
    * collide with the query in ANY of `probes` independent hyperplane
    * sets, exact cosine keeps those within the radius
    * (cos >= threshold), and the k closest survivors are ranked.
    *
    * The recall dial is (planes, probes): a pair at angle θ is missed
    * with probability (1-(1-θ/π)^planes)^probes, so few planes + many
    * probes drives radius-recall toward 1 while every probe table
    * stays one bucket-keyed shuffle (queries broadcast — corpus never
    * reshuffles). Radius search is the LSH sweet spot: top-k *of the
    * whole corpus* needs every far neighbor too, which no bucketing
    * preserves, but "all neighbors within cos t" is exactly what the
    * collision probability bounds.
    */
  def lshRadiusTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    threshold: Double, planes: Int = 1, probes: Int = 8): DataFrame =
    // radius-filtered, but a loose threshold leaves the relation
    // corpus-sized — rank via the bounded aggregate, never a window
    rankTopK(lshRadiusScored(corpus, queries, threshold, planes, probes),
      k, desc = true, "cos")
      .select(col("qid"), col("nid"), col("rank"))

  /** The radius-filtered scored (qid, nid, cos) relation behind
    * [[lshRadiusTopK]] (planes <= 0 = the exhaustive ground-truth
    * mode) — exposed for the SkewSpec byte-identity proofs.
    */
  private[operators] def lshRadiusScored(corpus: DataFrame, queries: DataFrame,
                                         threshold: Double,
                                         planes: Int, probes: Int): DataFrame = {
    val c = normed(fanOut(corpus))
    val q = exactQueries(queries)
    if (planes <= 0) {
      // exhaustive mode (planes=0): score every corpus row against the
      // broadcast query set — the configuration ground-truth runs and
      // the exact-oracle gate use (same role as ivfTopK probing every
      // cell). One corpus pass, no probe tables to deduplicate;
      // identical output to a full-recall LSH config.
      return pairs(c, q)(cos.as("cos")).where(col("cos") >= threshold)
    }
    val cand = (0 until probes).map { s =>
      pairs(bucketed(c, planes, s), bucketed(q, planes, s),
          col("q.bucket") === col("c.bucket"))(
        col("q.embedding").as("qe"), col("c.embedding").as("ce"),
        col("q.nrm").as("qn"), col("c.nrm").as("cn"))
    }.reduce(_ unionAll _).dropDuplicates("qid", "nid")
    cand
      .withColumn("cos", cosine(dot(col("qe"), col("ce")), col("qn"), col("cn")))
      .where(col("cos") >= threshold)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Deterministic seed centroids: corpus rows with vec_id ≡ 0 mod
    * stride, capped at nCells.
    */
  def seedCentroids(corpus: DataFrame, nCells: Int, stride: Long): DataFrame =
    corpus.where(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))

  /** Driver-side centroid matrix: (cent_id sorted asc, unit-normalized
    * double vector). Bounded at k·dim doubles.
    */
  private def collectCentroids(cents: DataFrame): Array[(Long, Array[Double])] =
    cents.select(col("cent_id").cast(LongType),
        col("cent").cast(org.apache.spark.sql.types.ArrayType(DoubleType)))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), if (n > 0) v.map(_ / n) else v)
      }
      .sortBy(_._1)

  /** Map-only cell assignment: argmax cosine against the collected
    * centroid matrix via the NearestCentroid expression (ties → the
    * smallest cent_id, matching the windowed form it replaces). The
    * corpus×k broadcast join + row_number window this replaces
    * materialized k rows per corpus row and shuffled them — at scale
    * that exchange was the whole cost of a Lloyd step.
    */
  def assignToCentroids(corpus: DataFrame, cents: DataFrame,
                        keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.{exprs, NearestCentroid}
    val m = collectCentroids(cents)
    val idLookup = typedlit(m.map(_._1).toSeq)
    val pos = exprs.toColumn(NearestCentroid(
      exprs.toExpr(col("embedding")),
      m.map(_._2.toSeq).toSeq))
    fanOut(corpus)
      .withColumn("cent_id", element_at(idLookup, pos + 1))
      // `keep` rides extra columns (e.g. index-resident metadata)
      // through the map-only assignment — no join, no shuffle
      .select((Seq("vec_id", "embedding", "cent_id") ++ keep).map(col): _*)
  }

  /** k-means centroids: deterministic seeds refined by `iters` Lloyd
    * steps. Each step is a map-only assignment (NearestCentroid) +
    * per-dimension mean (posexplode → partial-agg groupBy(cell,dim) →
    * re-pack ordered array) — the shuffle carries only k·dim partial
    * means per map partition, never vectors to the driver beyond the
    * k·dim centroid collect. Cells that lose all members drop out
    * (k shrinks), standard Lloyd behavior.
    *
    * Unlike [[graft.operators.Dedup.connectedComponents]], this loop
    * needs no checkpoint wiring: every iteration's assignToCentroids
    * collects the k·dim centroid matrix to the driver, so the next
    * iteration's lineage is (corpus scan + literal centroids) — depth
    * constant in `iters`, and an executor loss mid-step just re-runs
    * that one bounded step from the source scan.
    */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, stride: Long,
                      iters: Int = 2): DataFrame = {
    val fanned = fanOut(corpus)
    var cents = seedCentroids(corpus, nCells, stride)
    for (_ <- 0 until iters) {
      val assigned = assignToCentroids(fanned, cents)
      cents = assigned
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"),
          transform(col("pm"), s => s.getField("m").cast(FloatType)).as("cent"))
    }
    cents
  }

  /** IVF ANN: corpus partitioned into k-means cells; queries probe the
    * `nprobe` nearest cells. At 100 TB the assigned corpus is written
    * as cell-partitioned parquet so probes prune to nprobe/k of the
    * data on disk.
    *
    * Default `kmeansIters` is 1 (changed from 2 in round 2): centroid
    * quality shifts cell boundaries but never correctness of
    * exhaustive probing; raise it when sub-exhaustive recall matters
    * more than index-build latency.
    */
  /** Train the IVF index: k-means centroids pinned as a LOCAL relation
    * (k·dim floats — bounded), so reusing them never re-executes the
    * iterative Lloyd lineage. Production separates this train step
    * from search — train once per corpus version, search many times.
    */
  def trainIvfCentroids(corpus: DataFrame, nCells: Int = 16, stride: Long = 7,
                        kmeansIters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansCentroids(corpus, nCells, stride, kmeansIters)
      .select(col("cent_id").cast(LongType), col("cent"))
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("cent_id", "cent")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, stride: Long = 7, nprobe: Int = 4,
              kmeansIters: Int = 1, centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, nCells, stride, kmeansIters))
    // per-query candidates = the probed cells' content ≈
    // corpus·nprobe/nCells rows — an unsplittable multi-GB window
    // partition at 10^10 rows (the AnnIndex.searchExact analysis);
    // the bounded aggregate reduces it map-side instead
    rankTopK(ivfScored(corpus, queries, cents, nprobe), k, desc = true, "cos")
  }

  /** Per-query probe-cell selection: the `nprobe` most query-cosine
    * centroids, (ccos desc, cent_id) deterministic — via the bounded
    * [[rankTopK]] aggregate so no plan anywhere windows by qid (the
    * relation is |q|·nCells rows, small, but uniformity keeps the
    * window audit trivially true).
    */
  private[operators] def probeCells(queries: DataFrame, cents: DataFrame,
                                    nprobe: Int): DataFrame = {
    val qCells = queries.as("q").join(broadcast(cents.as("k")))
      .select(col("q.vec_id").as("qid"),
        col("k.cent_id").as("nid"),
        cosine(col("q.embedding"), col("k.cent")).as("ccos"))
    rankTopK(qCells, nprobe, desc = true, "ccos")
      .select(col("qid"), col("nid").as("cent_id"))
  }

  /** The scored (qid, nid, cos) probed-cell candidate relation behind
    * [[ivfTopK]] — exposed for the SkewSpec byte-identity proofs.
    */
  private[operators] def ivfScored(corpus: DataFrame, queries: DataFrame,
                                   cents: DataFrame, nprobe: Int): DataFrame =
    probedPairs(normed(assignToCentroids(corpus, cents)),
      VectorSearch.probes(queries, cents, nprobe, exactQueries(queries)))(
      cos.as("cos"))

  /** Product-quantization codebooks: the embedding space split into
    * `m` subspaces of dim/m dimensions, each clustered into `ncodes`
    * L2 centroids (deterministic seeds, Lloyd-refined). Returned as
    * the m × ncodes × (dim/m) matrix both PQ expressions take.
    *
    * Scale shape: each Lloyd iteration is ONE map-only encode pass
    * (PqEncode) plus one (m, code, pos)-keyed partial-mean shuffle; the
    * driver collects only dim·ncodes partial means per iteration (the
    * same bounded sanctioned collect as the IVF centroid matrix —
    * SURVEY §4), never vectors. Codes that lose all members keep their
    * previous centroid, standard Lloyd behavior.
    */
  def trainPqCodebooks(corpus: DataFrame, dim: Int, m: Int = 8,
                       ncodes: Int = 16, stride: Long = 7,
                       iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must be divisible by m $m")
    require(ncodes > 0, s"ncodes must be positive: $ncodes")
    val sub = dim / m
    val seeds = corpus.where(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(ncodes)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length > 0, "corpus has no seed rows for PQ training")
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      seeds.map(v => v.slice(s * sub, (s + 1) * sub)))
    val fanned = fanOut(corpus)
    for (_ <- 0 until iters) {
      val enc = fanned.withColumn("codes",
        Pq(books.map(_.map(_.toSeq).toSeq).toSeq).encode(col("embedding")))
      val upd = enc
        .select(col("codes"),
          posexplode(col("embedding").cast(ArrayType(DoubleType)))
            .as(Seq("p", "v")))
        .select((col("p") / sub).cast(IntegerType).as("m"),
          pmod(col("p"), lit(sub)).as("pos"),
          element_at(col("codes"), (col("p") / sub).cast(IntegerType) + 1)
            .as("code"),
          col("v"))
        .groupBy("m", "code", "pos").agg(avg("v").as("c"))
        .collect() // bounded: ≤ dim·ncodes rows regardless of corpus size
      books = books.map(_.map(_.clone()))
      upd.foreach { r =>
        books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
    }
    books.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** PQ ANN (asymmetric distance): the corpus is encoded to m small
    * integer codes per vector (a dim·4/m-fold memory cut — the reason
    * PQ is the 100 TB serving format), each query carries a flattened
    * LUT of subspace-dot-products, and scoring a corpus row is m table
    * adds instead of a dim-wide dot. The top refine·k approximate
    * candidates per query are re-ranked with exact cosine (id-keyed
    * join against the corpus, candidate set broadcast); refine <= 0
    * skips re-ranking and returns approximate ranks directly.
    *
    * The approximate cosine uses the PQ reconstruction on the corpus
    * side only: <q, x̂> / (‖q‖·‖x̂‖), with ‖x̂‖² reconstructed from a
    * squared-norm LUT through the same PqAdc kernel.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             m: Int = 8, ncodes: Int = 16, stride: Long = 7,
             iters: Int = 2, refine: Int = 4,
             codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val books = codebooks.getOrElse(
      trainPqCodebooks(corpus, dim, m, ncodes, stride, iters))
    // the flat ADC scan scores EVERY corpus row per query — the rank
    // must be the bounded aggregate, or each query's window partition
    // is the entire corpus (the r10 brute-family fix, applied here)
    VectorSearch.refined(corpus, queries, pqScored(corpus, queries, books),
      k, refine).select(col("qid"), col("nid"), col("rank"))
  }

  /** The flat-ADC scored (qid, nid, acos) relation behind [[pqTopK]] —
    * exposed for the SkewSpec byte-identity proofs.
    */
  private[operators] def pqScored(corpus: DataFrame, queries: DataFrame,
                                  books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val pq = Pq(books)
    pairs(pq.encoded(fanOut(corpus), Seq("vec_id")), pq.queries(queries))(pq.acos)
  }

  /** Scalar-quantization bounds (G13): per-dimension corpus min/max —
    * ONE posexplode aggregate collapsing to `dim` (lo, hi) pairs, the
    * bounded driver-side artifact (same sanction as the centroid
    * matrix). Train once per corpus version, encode/search many.
    */
  def trainSqBounds(corpus: DataFrame, dim: Int): (Seq[Double], Seq[Double]) = {
    val rows = fanOut(corpus)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast(DoubleType)).as("lo"),
        max(col("v").cast(DoubleType)).as("hi"))
      .orderBy("pos").collect()
    require(rows.length == dim,
      s"corpus dimensionality ${rows.length} != declared dim $dim")
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** SQ8 scalar-quantized ANN (G13): every dimension uniformly
    * quantized to one byte between the corpus per-dimension min/max —
    * 4× compression with NO codebook training, the standard middle
    * point between raw floats and PQ on the recall/compression curve.
    * The asymmetric score  q·deq(c) = Σᵢ qᵢ·loᵢ + Σᵢ (qᵢΔᵢ)·cᵢ  splits
    * into a per-query bias plus a weighted byte dot-product, so the
    * scan multiplies dim bytes per row against a broadcast per-query
    * weight vector (all codegen'd higher-order array functions — no
    * UDFs); the top refine·k candidates re-rank exactly like PQ.
    * Degenerate dimensions (hi == lo) encode to 0 and dequantize to
    * lo exactly.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             refine: Int = 4,
             bounds: Option[(Seq[Double], Seq[Double])] = None): DataFrame = {
    val (lo, hi) = bounds.getOrElse(trainSqBounds(corpus, dim))
    require(lo.length == dim && hi.length == dim,
      s"bounds length ${lo.length}/${hi.length} != dim $dim")
    // flat SQ scan = corpus-sized scored relation per query; bounded
    // aggregate rank (see pqTopK)
    VectorSearch.refined(corpus, queries, sqScored(corpus, queries, lo, hi),
      k, refine).select(col("qid"), col("nid"), col("rank"))
  }

  /** The flat-SQ scored (qid, nid, acos) relation behind [[sqTopK]] —
    * exposed for the SkewSpec byte-identity proofs.
    */
  private[operators] def sqScored(corpus: DataFrame, queries: DataFrame,
                                  lo: Seq[Double], hi: Seq[Double]): DataFrame = {
    val delta = lo.zip(hi).map { case (l, h) =>
      if (h > l) (h - l) / 255.0 else 0.0
    }
    val loL = typedlit(lo)
    val dL = typedlit(delta)
    def encode(e: Column): Column =
      zip_with(zip_with(e, loL, (x, l) => x.cast(DoubleType) - l), dL,
        (d, dl) => when(dl > lit(0d),
          least(greatest(round(d / dl, 0), lit(0d)), lit(255d)))
          .otherwise(lit(0d)).cast(IntegerType))
    def dequant(codes: Column): Column =
      zip_with(zip_with(codes, dL, (c, dl) => c.cast(DoubleType) * dl), loL,
        (v, l) => v + l)
    def arraySum(a: Column): Column =
      aggregate(a, lit(0d), (acc, x) => acc + x)
    val enc = fanOut(corpus)
      .select(col("vec_id"), encode(col("embedding")).as("codes"))
      .withColumn("anrm",
        sqrt(arraySum(transform(dequant(col("codes")), v => v * v))))
    val q = queries.select(col("vec_id").as("qid"),
      zip_with(col("embedding"), dL,
        (qe, dl) => qe.cast(DoubleType) * dl).as("w"),
      arraySum(zip_with(col("embedding"), loL,
        (qe, l) => qe.cast(DoubleType) * l)).as("bias"),
      norm(col("embedding")).as("qnrm"))
    pairs(enc, q)(
      cosine(col("q.bias") + arraySum(zip_with(col("q.w"), col("c.codes"),
        (wi, ci) => wi * ci.cast(DoubleType))), col("q.qnrm"), col("c.anrm"))
        .as("acos"))
  }

  /** MMR diversified re-rank (G15): maximal marginal relevance
    * (Carbonell & Goldstein, SIGIR 1998) — the standard fix for
    * near-duplicate-saturated retrieval results: greedily select
    * argmax over remaining candidates of
    * `λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`, so each pick
    * trades relevance against redundancy with what's already chosen.
    * λ=1 degenerates to plain top-k; λ=0 is pure diversification.
    *
    * Scale shape: candidate generation is any ANN/top-n pass (here the
    * brute-force-exact top-n, 6-dp-rounded — swap in the index for
    * production); the greedy loop itself is inherently sequential PER
    * QUERY over a BOUNDED n-candidate set, so it runs as a typed
    * flatMapGroups keyed by query — thousands of queries parallelize
    * across the cluster, each group doing O(n²·dim) local float math.
    * Pairwise sims replicate the DotProduct kernel's accumulation
    * order bit-for-bit and round 6 dp before the argmax, with
    * (score desc, nid asc) tie-breaks, so the selection sequence is
    * engine-exact and the gate oracle mirrors it as k unrolled
    * argmax stages in SQL.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int, n: Int,
                lambda: Double = 0.5): DataFrame = {
    require(n >= k, s"need n >= k: k=$k n=$n")
    mmrRerankCandidates(corpus,
      bruteForceTopK(corpus, queries, n, roundCosTo = 6)
        .select(col("qid"), col("nid"), col("cos").as("rel")),
      k, lambda)
  }

  /** MMR over a CALLER-SUPPLIED candidate relation `(qid, nid, rel)` —
    * the production serving chain: `AnnIndex.searchAdc` +
    * `Bm25Index.search` → [[rrfFuse]] (its `rrf` column as `rel`) →
    * this re-rank, composing entirely over the persisted indexes with
    * no brute-force corpus pass anywhere (the r8 form hardcoded
    * [[bruteForceTopK]] for candidates, which re-scored the whole
    * corpus even when an index had already produced the candidates).
    * Candidate vectors re-attach by one id-keyed corpus join with the
    * bounded candidate set broadcast (the exactReRank discipline);
    * when the corpus relation is a partition-pruned index read, that
    * join never touches unprobed cells.
    */
  def mmrRerankCandidates(corpus: DataFrame, candidates: DataFrame, k: Int,
                          lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"need k >= 1: k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val cand = candidates.select(col("qid"), col("nid"), col("rel"))
    val cv = corpus.select(col("vec_id").as("nid"), col("embedding").as("e"))
      .join(broadcast(cand), "nid")
      .select(col("qid"), col("nid"), col("rel"), col("e"))
    val spark = cv.sparkSession
    import spark.implicits._
    cv.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        val cs = it.map(t => (t._2, t._3, t._4)).toArray
        mmrGreedy(cs, k, lambda).iterator.zipWithIndex
          .map { case (nid, i) => (qid, nid, (i + 1).toLong) }
      }
      .toDF("qid", "nid", "rank")
  }

  private def round6(v: Double): Double =
    // valueOf (the Double.toString shortest-decimal form), NOT
    // new BigDecimal (exact binary expansion): Spark's Round uses the
    // former, and on doubles whose shortest decimal ends in ...5 at
    // the 7th digit the two round differently — this helper must match
    // the expression layer bit-for-bit (r8 ADVICE). NaN and ±Inf pass
    // through unchanged, as they do through Spark's round.
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** JVM cosine replicating the DotProduct kernel's sequential
    * float→double accumulation, so group-local pairwise sims are
    * bit-identical to the expression layer (and the DuckDB mirror).
    */
  private def cosJvm(a: Array[Float], b: Array[Float]): Double = {
    var num = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      num += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    num / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Greedy MMR over one query's candidates: returns nids in selection
    * order. maxSim(∅) = 0, every score rounds 6 dp before comparison,
    * ties break on nid — the exact contract the SQL oracle unrolls.
    * Scores and sims compare in Spark SQL's double order (NaN greatest,
    * -0.0 == 0.0), the order the candidate rank already used, so a
    * zero-vector candidate (NaN cosine) still yields k distinct picks.
    */
  private def mmrGreedy(cs: Array[(Long, Double, Array[Float])], k: Int,
                        lambda: Double): Seq[Long] = {
    import graft.functions.SqlDoubleOrder.{compare => cmpSql}
    val m = cs.length
    val sims = Array.ofDim[Double](m, m)
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        val s = round6(cosJvm(cs(i)._3, cs(j)._3))
        sims(i)(j) = s; sims(j)(i) = s
        j += 1
      }
      i += 1
    }
    val taken = new Array[Boolean](m)
    // true max over selected — a candidate anti-correlated with every
    // pick keeps its NEGATIVE redundancy term (textbook MMR, and what
    // the unrolled oracle computes); only the empty set scores as 0
    val maxSim = Array.fill(m)(Double.NegativeInfinity)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (out.length < math.min(k, m)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var bestNid = Long.MaxValue
      var c = 0
      while (c < m) {
        if (!taken(c)) {
          val red = if (out.isEmpty) 0.0 else maxSim(c)
          val score = round6(lambda * cs(c)._2 - (1 - lambda) * red)
          val cmp = if (best < 0) 1 else cmpSql(score, bestScore)
          if (cmp > 0 || (cmp == 0 && cs(c)._1 < bestNid)) {
            best = c; bestScore = score; bestNid = cs(c)._1
          }
        }
        c += 1
      }
      taken(best) = true
      out += cs(best)._1
      var u = 0
      while (u < m) {
        if (!taken(u) && cmpSql(sims(u)(best), maxSim(u)) > 0)
          maxSim(u) = sims(u)(best)
        u += 1
      }
    }
    out.toSeq
  }

  /** IVF-PQ: the composed billion-scale index shape — the corpus is
    * partitioned into IVF cells AND PQ-encoded, a query probes its
    * `nprobe` nearest cells and ADC-scans only those rows (nprobe/k of
    * the data, m table adds per row), then the top refine·k candidates
    * re-rank exactly. At 100 TB the encoded corpus is written as
    * cell-partitioned parquet: the probe prunes partitions on disk and
    * each scanned row is m ints, not dim floats.
    *
    * Both index halves are train-once (pass `centroids`/`codebooks`);
    * nprobe = nCells and a deep refine degrade gracefully to exact
    * search, which is what the spec pins.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nCells: Int = 16, stride: Long = 7, nprobe: Int = 4,
                m: Int = 8, ncodes: Int = 16, iters: Int = 2,
                refine: Int = 4,
                centroids: Option[DataFrame] = None,
                codebooks: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val cents = centroids.getOrElse(trainIvfCentroids(corpus, nCells, stride))
    val books = codebooks.getOrElse(
      trainPqCodebooks(corpus, dim, m, ncodes, stride, iters))
    // probed-cell candidates ≈ corpus·nprobe/nCells per query — the
    // bounded aggregate, never a qid window (see ivfTopK)
    VectorSearch.refined(corpus, queries,
      ivfPqScored(corpus, queries, cents, books, nprobe), k, refine)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** The probed-cell ADC scored (qid, nid, acos) relation behind
    * [[ivfPqTopK]] — exposed for the SkewSpec byte-identity proofs.
    */
  private[operators] def ivfPqScored(corpus: DataFrame, queries: DataFrame,
                                     cents: DataFrame,
                                     books: Seq[Seq[Seq[Double]]],
                                     nprobe: Int): DataFrame = {
    val pq = Pq(books)
    // LUT computed once per query row, joined onto its nprobe cells
    probedPairs(
      pq.encoded(assignToCentroids(corpus, cents), Seq("vec_id", "cent_id")),
      VectorSearch.probes(queries, cents, nprobe, pq.queries(queries)))(pq.acos)
  }

  /** SemDeDup-style semantic near-duplicate pairs: k-means cells as
    * the blocking structure (the clustering IS the candidate
    * generator), exact pairwise cosine within a cell only. The
    * complementary blocking to [[cosineNearDups]]'s hyperplane
    * buckets: cells adapt to the data distribution, so dense regions
    * — where semantic duplicates live — get finer blocking than any
    * fixed random-projection grid.
    *
    * nCells <= 1 is the explicit exhaustive mode for ground truth and
    * the exact-oracle gate — a distributed all-pairs cartesian (the
    * shape cosineNearDups' planes=0 mode uses; a constant-key
    * equi-join would hash every row into ONE partition and serialize
    * the O(n²) scoring on a single core). Production runs nCells ≈
    * corpus/10⁵ so a cell's pair count stays bounded. Cross-cell
    * duplicate pairs are the recall cost of the blocking, exactly as
    * in the SemDeDup recipe (near-identical vectors co-assign except
    * on a cell boundary).
    */
  def semanticNearDups(corpus: DataFrame, threshold: Double,
                       nCells: Int = 16, stride: Long = 7, iters: Int = 1,
                       centroids: Option[DataFrame] = None): DataFrame = {
    val paired = if (nCells <= 1) {
      val fanned = fanOut(corpus)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", norm(col("embedding")))
      fanned.as("a").join(fanned.as("x"), col("a.vec_id") < col("x.vec_id"))
    } else {
      val cents = centroids.getOrElse(
        trainIvfCentroids(corpus, nCells, stride, iters))
      val withCell = assignToCentroids(corpus, cents)
        .withColumn("nrm", norm(col("embedding")))
      withCell.as("a").join(withCell.as("x"),
        col("a.cent_id") === col("x.cent_id") &&
          col("a.vec_id") < col("x.vec_id"))
    }
    paired
      .select(col("a.vec_id").as("id_a"), col("x.vec_id").as("id_b"),
        cosine(dot(col("a.embedding"), col("x.embedding")),
          col("a.nrm"), col("x.nrm")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** The canonical corpus after semantic dedup: near-dup pairs from
    * [[semanticNearDups]] clustered by connected components, every
    * non-representative member dropped — the full SemDeDup recipe as
    * one composition. Returns the surviving rows of `corpus`.
    */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    nCells: Int = 16, stride: Long = 7, iters: Int = 1,
                    centroids: Option[DataFrame] = None): DataFrame = {
    val pairs = semanticNearDups(corpus, threshold, nCells, stride, iters,
      centroids)
    val clusters = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    Dedup.dropNearDuplicates(corpus, "vec_id", clusters)
  }

  /** Embedding-cosine near-duplicate pairs via multi-probe LSH
    * buckets: candidates collide in any of `probes` independent
    * hyperplane sets, then exact cosine verifies.
    */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
                     planes: Int = 6, probes: Int = 2): DataFrame = {
    // multi-probe: `probes` independent hyperplane sets; a pair is a
    // candidate if it collides in ANY set. Miss probability for a pair
    // at angle θ is ((1-(1-θ/π)^planes))^probes — two probe tables cut
    // the single-table miss rate quadratically for ~2x the bucketing
    // cost (still one shuffle per probe table, each bucket-local).
    val fanned = fanOut(corpus).withColumn("nrm", norm(col("embedding")))
    if (planes <= 0) {
      // exhaustive verify mode (planes=0): every unordered pair scored
      // once — O(n²) by construction, for ground-truth runs and the
      // exact-oracle gate on bounded corpora (the role ivfTopK's
      // probe-all-cells config plays). A near-full-recall LSH config
      // (planes=1, probes≥2) covers the same pairs but generates them
      // `probes` times over and pays a wide dedup shuffle; when the
      // intent is "all pairs", say so and pay one partition-pair pass.
      // Production near-dup stays at planes >= 4.
      // r15 (guide §1/§2): the threshold test rides INSIDE the join
      // condition, AFTER the id test, and the surviving pairs project
      // the recomputed cosine directly. The previous shape left the
      // threshold as a post-join filter, which Catalyst pushed into
      // the BNLJ condition as the FIRST conjunct — the 64-dim dot ran
      // for every ordered pair, including the half the cheap id
      // compare rejects. Cheap-conjunct-first halves the pass
      // (OPTIMIZATION_r15.md: 27.9 → 13.3 s at sf3; rows identical — same
      // conjunction, reordered). Survivors re-evaluate the dot once
      // more in the projection (and the round), a vanishing cost at
      // near-dup selectivity.
      val cosAX = cosine(dot(col("a.embedding"), col("x.embedding")),
        col("a.nrm"), col("x.nrm"))
      fanned.as("a").join(fanned.as("x"),
          col("a.vec_id") < col("x.vec_id") && cosAX >= threshold)
        .select(col("a.vec_id").as("id_a"), col("x.vec_id").as("id_b"),
          round(cosAX, 6).as("cos"))
    } else {
      val candidate = (0 until probes).map { s =>
        val b = bucketed(fanned, planes, s)
        b.as("a").join(b.as("x"),
            col("a.bucket") === col("x.bucket") && col("a.vec_id") < col("x.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("x.vec_id").as("id_b"),
            col("a.embedding").as("e_a"), col("x.embedding").as("e_b"),
            col("a.nrm").as("n_a"), col("x.nrm").as("n_b"))
      }.reduce(_ unionAll _).dropDuplicates("id_a", "id_b")
      candidate
        .withColumn("cos",
          cosine(dot(col("e_a"), col("e_b")), col("n_a"), col("n_b")))
        .where(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }
  }

  /** Reciprocal-rank fusion (G10): combine N retriever rankings
    * (qid, nid, rank) into one hybrid ranking by
    * score(q, d) = Σ_r 1 / (k + rank_r(q, d)), the standard fusion of
    * a lexical (BM25) and a vector (ANN) retriever. Rank-based, so no
    * score calibration across retrievers is needed; a document missing
    * from one list simply contributes nothing. Each contribution is
    * rounded to 6 dp and summed as decimal, so the fused score is
    * order-independent and engine-exact. Scale shape: the inputs are
    * already per-query top-k lists (rows ≈ |queries|·k·|retrievers|),
    * one (qid, nid)-keyed aggregation, one qid-keyed window.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val all = rankings
      .map(_.select(col("qid"), col("nid"), col("rank")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("nid"))
    all
      .withColumn("c",
        round(lit(1.0) / (col("rank") + lit(k.toDouble)), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("qid", "nid")
      .agg(sum(col("c")).cast(DoubleType).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= topK)
  }

  /** Hard-negative mining (G16): for each query, the `k` corpus
    * vectors most cosine-similar to it that are NOT among its labeled
    * positives — the negative-construction pass of contrastive
    * retriever/embedding training (DPR, Karpukhin et al. EMNLP 2020;
    * denoising per RocketQA, Qu et al. NAACL 2021). `positives` is a
    * bounded (qid, nid) relevance relation; self-pairs (nid == qid)
    * are ignored on both the positive and candidate side (a vector is
    * trivially similar to itself — not a trainable pair).
    *
    * Two optional screens against the query's OWN positive similarity
    * baseline, every comparison at the repo-wide 6-dp float boundary
    * so membership is engine-independent:
    *   - `minMargin`: keep cos >= (least-similar positive) − margin —
    *     the hardness floor (an easy negative teaches nothing);
    *   - `dropAbovePos`: drop negatives STRICTLY more similar than the
    *     most similar positive — the false-negative denoiser (a
    *     candidate outscoring every labeled positive is likely an
    *     unlabeled positive).
    * Queries with no positives (after self-pair removal) have no
    * baseline; both screens pass-through for them. `rank` is dense
    * 1..k among survivors, (cos desc, nid) deterministic.
    *
    * Scale shape: queries and positives are bounded broadcast
    * relations (the G1 contract); candidate generation is one corpus
    * pass; the positive-baseline aggregate runs over ≤ |positives|
    * rows keyed by qid. The corpus relation feeds both the candidate
    * and baseline sides (two pruned scans of (vec_id, embedding) — at
    * corpus scales where the re-read dominates, generate candidates
    * with ivfTopK/AnnIndex.search and feed them through the same
    * screens; the final rank is the bounded [[rankTopK]] aggregate
    * either way, never a corpus-sized window partition).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    positives: DataFrame, k: Int,
                    minMargin: Option[Double] = None,
                    dropAbovePos: Boolean = false): DataFrame = {
    val c = normed(fanOut(corpus))
    val q = exactQueries(queries)
    val joined = pairs(c, q)(round(cos, 6).as("cos"))
    // r16: the baseline only needs the BOUNDED positive pairs, so score
    // them directly — one corpus scan hash-pruned by the broadcast
    // positive set (|pos| cosines) — instead of deriving it by filtering
    // a SECOND full |corpus|×|queries| cosine pass out of `joined`
    // (Catalyst shares no exchange between the two consumers; the pair
    // scan ran twice). Same cosine expression over the same embedding
    // and norm values as `joined`, so the baseline is bit-identical:
    // pos ∩ scored-pairs = pos rows with qid ∈ queries ∧ nid ∈ corpus,
    // exactly what the two inner joins below keep.
    // broadcast the BARE id-pair set (not pair-with-embedding — |pos|
    // can be ≫ |queries|, and a per-pair query embedding would scale
    // the broadcast by dim); query embeddings attach by a second
    // bounded broadcast keyed qid.
    val pos = distinctPositives(positives)
    val base = c.as("c")
      .join(broadcast(pos.as("p")), col("p.nid") === col("c.vec_id"))
      .join(broadcast(q.as("q")), col("p.qid") === col("q.qid"))
      .select(col("p.qid").as("qid"), round(cos, 6).as("cos"))
      .groupBy("qid")
      .agg(min(col("cos")).as("pos_min"), max(col("cos")).as("pos_max"))
    screenNegatives(joined, positives, k, minMargin, dropAbovePos,
      baseOverride = Some(base))
  }

  /** [[hardNegatives]] over a CALLER-SUPPLIED scored candidate
    * relation (qid, nid, cos) — the production serving form, the G15
    * mmrRerankCandidates discipline applied here: candidates come
    * from `AnnIndex.searchExact`/`searchAdc` or any retriever, so
    * mining negatives for a training epoch never pays a brute-force
    * corpus pass. `candidates` must be (qid, nid)-distinct (union
    * legs through rrfFuse or a max-cos agg first). Positive pairs
    * PRESENT in the relation form the baseline and are excluded from
    * the output; positive pairs the retriever cut contribute no
    * baseline — pass a deeper top-n, or score the bounded positive
    * set explicitly and union it in, when the baseline must be
    * exact. cos is re-rounded to 6 dp on entry so any caller's raw
    * doubles meet the same engine-exact comparison boundary.
    */
  def hardNegativesFrom(candidates: DataFrame, positives: DataFrame,
                        k: Int, minMargin: Option[Double] = None,
                        dropAbovePos: Boolean = false): DataFrame =
    screenNegatives(
      candidates.select(col("qid"), col("nid"),
        round(col("cos"), 6).as("cos")),
      positives, k, minMargin, dropAbovePos)

  /** The shared screen: mark positives in the scored pair relation
    * (baseline side), aggregate the per-qid baseline, apply the floor
    * and ceiling, rank the survivors with the bounded [[rankTopK]]
    * aggregate (map-side partials — a corpus-sized candidate relation
    * never lands on one reducer). Positives and baseline broadcast.
    */
  private def distinctPositives(positives: DataFrame): DataFrame =
    positives.select(col("qid"), col("nid"))
      .where(col("qid") =!= col("nid")).distinct()

  private def screenNegatives(scored: DataFrame, positives: DataFrame,
                              k: Int, minMargin: Option[Double],
                              dropAbovePos: Boolean,
                              baseOverride: Option[DataFrame] = None): DataFrame = {
    val pos = distinctPositives(positives)
    val marked = scored
      .join(broadcast(pos.withColumn("is_pos", lit(true))),
        Seq("qid", "nid"), "left")
      .withColumn("is_pos", coalesce(col("is_pos"), lit(false)))
    // baseOverride: a caller that can score the bounded positive set
    // directly (hardNegatives) passes the (qid, pos_min, pos_max)
    // baseline in, so `marked` — the expensive scored pair relation —
    // is consumed ONCE; the default derives it by filtering `marked`
    // (hardNegativesFrom, where candidates are already a bounded
    // retriever output and the double consumer is cheap).
    val base = baseOverride.getOrElse(marked.where(col("is_pos"))
      .groupBy("qid")
      .agg(min(col("cos")).as("pos_min"), max(col("cos")).as("pos_max")))
    val floor = minMargin.fold(lit(true))(m =>
      col("pos_min").isNull || col("cos") >= round(col("pos_min") - m, 6))
    val ceil = if (!dropAbovePos) lit(true)
      else col("pos_max").isNull || col("cos") <= col("pos_max")
    val survivors = marked.where(!col("is_pos")).drop("is_pos")
      .join(broadcast(base), Seq("qid"), "left")
      .where(floor && ceil)
      .select(col("qid"), col("nid"), col("cos"))
    rankTopK(survivors, k, desc = true, "cos")
  }
}
