package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one Okapi BM25 core behind every front end: the recompute
  * paths ([[TextAnalysis.bm25Scores]], [[TextAnalysis.bm25Retrieve]])
  * and the persisted index ([[Bm25Index]] build, appends and search)
  * derive tf, df and the corpus scalars here and nowhere else.
  *
  * The corpus scalars ride a `""` SENTINEL term: every document with at
  * least one token contributes one sentinel row carrying its length,
  * so the same per-term aggregate that counts a term's documents (df)
  * counts the documents (n_docs) and sums their lengths (sum_dl) on the
  * sentinel key. No query term is ever `""` (query tokens drop empties
  * and bag terms are normalized and checked), so the sentinel cannot
  * collide with a real term.
  *
  * Skew: every aggregate is keyed either by a key that CONTAINS doc_id
  * or by term with map-side combine; nothing windows over term, so a
  * Zipf-head term ("the") never concentrates a corpus-sized partition
  * on one reducer (SkewSpec).
  */
private[operators] object Bm25 {

  private val sentinel = col("term") === ""

  /** A document's [[TextAnalysis.tokens]] with empties dropped. */
  private def terms(text: Column): Column =
    filter(TextAnalysis.tokens(text), t => t =!= "")

  /** A document's terms behind one sentinel; no rows for a token-less
    * document. A conditional array rather than a row filter: a filter
    * on the token-array size is pushed below the tokenizing projection
    * and would tokenize every document twice.
    */
  private def withSentinel(toks: Column): Column =
    when(size(toks) > 0, concat(array(lit("")), toks)).otherwise(toks)

  /** The (doc_id, dl, term, tf) relation plus one (doc_id, dl, "", 1)
    * sentinel row per document with at least one token. dl attaches
    * before the explode (the token-array size, no doc-keyed window);
    * tf is a composite-keyed count whose key contains doc_id. `bag`
    * (a `term` column) keeps only its terms through a broadcast semi
    * join before the aggregate, which also drops the sentinel rows.
    */
  def tf(corpus: DataFrame, idCol: String, textCol: String,
         bag: Option[DataFrame]): DataFrame = {
    val rows = corpus
      .select(col(idCol).as("doc_id"),
        terms(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"),
        explode(withSentinel(col("toks"))).as("term"))
    bag.fold(rows)(b =>
        rows.join(broadcast(b.select("term")), Seq("term"), "left_semi"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
  }

  /** Per-term (term, df, sum_dl) over rows that are distinct per
    * (document, term) and carry a `dl` column: df for every real term,
    * and on the sentinel df = n_docs and sum_dl = the corpus token
    * total. One map-side-combined aggregate, never a term window.
    */
  private def termStats(rows: DataFrame): DataFrame =
    rows.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("dl")).as("sum_dl"))

  /** Fold [[termStats]] into ONE row (n_docs, sum_dl, dfs) with the
    * real terms' df in the `dfs` map. Always exactly one row: an empty
    * input folds to (0, 0, {}).
    */
  private def scalars(stats: DataFrame): DataFrame =
    stats.agg(
      coalesce(sum(when(sentinel, col("df"))), lit(0L)).as("n_docs"),
      coalesce(sum(when(sentinel, col("sum_dl"))), lit(0L)).as("sum_dl"),
      map_from_entries(collect_list(
        when(!sentinel, struct(col("term"), col("df"))))).as("dfs"))

  /** The posting rows of an unfiltered [[tf]] relation: no sentinel. */
  def postings(tfRel: DataFrame): DataFrame = tfRel.where(!sentinel)

  /** (term, df) of an unfiltered [[tf]] relation, sentinel excluded. */
  def df(tfRel: DataFrame): DataFrame =
    termStats(tfRel).where(!sentinel).select("term", "df")

  /** The one (n_docs, sum_dl) row of an unfiltered [[tf]] relation,
    * aggregated from its sentinel rows alone.
    */
  def meta(tfRel: DataFrame): DataFrame =
    scalars(termStats(tfRel.where(sentinel))).select("n_docs", "sum_dl")

  /** Corpus scalars and the df of every `bag` term, lazily, in one
    * narrow pass over each document's DISTINCT terms plus its sentinel;
    * the semi join keeps ≤ |bag| + 1 keys per task before any shuffle.
    * Returns the single [[scalars]] row, for a broadcast cross join.
    */
  private def bagStats(corpus: DataFrame, textCol: String,
                       bag: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    val keep = bag.select("term").union(Seq("").toDF("term"))
    val rows = corpus
      .select(terms(col(textCol)).as("toks"))
      .select(size(col("toks")).cast(LongType).as("dl"),
        explode(withSentinel(array_distinct(col("toks")))).as("term"))
      .join(broadcast(keep), Seq("term"), "left_semi")
    scalars(termStats(rows))
  }

  /** The bag's scoring rows (doc_id, dl, term, tf, n_docs, sum_dl, df)
    * recomputed from the corpus: the bag-filtered [[tf]] relation with
    * the [[bagStats]] row cross-joined on and df looked up from its
    * bounded map — two lazy corpus passes.
    */
  def bagPostings(corpus: DataFrame, idCol: String, textCol: String,
                  bag: DataFrame): DataFrame =
    tf(corpus, idCol, textCol, Some(bag))
      .crossJoin(broadcast(bagStats(corpus, textCol, bag)))
      .withColumn("df", col("dfs")(col("term")))
      .drop("dfs")

  /** The distinct (qid, term) query-term relation: each query row's
    * non-empty tokens form its term bag.
    */
  def queryTerms(queries: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    queries.select(col(idCol).as("qid"),
        explode(terms(col(textCol))).as("term"))
      .distinct()

  /** Per-term Okapi BM25 contribution. All inputs are exact integers
    * (tf, df, dl, n_docs, sum_dl), the arithmetic is a fixed expression
    * tree mirrored verbatim by the SQL oracle, and the result is
    * rounded to 6 dp and cast to decimal so the per-document sum is
    * order-independent and exact.
    */
  def termScore(k1: Double, b: Double): Column = {
    val nd = col("n_docs").cast(DoubleType)
    val idf = log(lit(1.0) +
      (nd - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    // dl / avgdl as (dl * n_docs) / sum_dl — one division, exact ints in
    val dlNorm = col("dl").cast(DoubleType) * nd / col("sum_dl").cast(DoubleType)
    val tfD = col("tf").cast(DoubleType)
    round(idf * tfD * lit(k1 + 1.0)
      / (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlNorm)), 6)
      .cast(DecimalType(18, 6))
  }

  /** The query-by-example scoring tail: scored posting rows (doc_id,
    * term, tf, dl, df, n_docs, sum_dl) meet the broadcast (qid, term)
    * relation, self-matches drop, term scores sum per (qid, nid), and
    * each query keeps its top k through the bounded
    * [[Similarity.rankTopK]] aggregate, NOT a qid window: a Zipf-head
    * query term matches corpus-scale postings, so
    * `row_number() OVER (PARTITION BY qid)` would co-locate that query's
    * whole candidate set in one unsplittable task. Requires integral
    * ids (the repo-wide vec_id/doc_id contract); ties break on nid.
    */
  def rank(postings: DataFrame, qt: DataFrame, k1: Double, b: Double,
           topK: Int): DataFrame = {
    val scored = postings
      .join(broadcast(qt.select("qid", "term")), "term")
      .where(col("doc_id") =!= col("qid"))
      .withColumn("s", termScore(k1, b))
      .groupBy(col("qid"), col("doc_id").as("nid"))
      .agg(sum(col("s")).cast(DoubleType).as("bm25"))
    Similarity.rankTopK(scored, topK, desc = true, "bm25")
  }
}
