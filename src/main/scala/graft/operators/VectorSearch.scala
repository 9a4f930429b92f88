package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one vector-search core behind every query-side ANN ranker in
  * [[Similarity]] and every [[AnnIndex]] search: the scored pair
  * relation, the PQ columns and the exact re-rank are built here and
  * nowhere else.
  *
  * A pair relation joins corpus rows (alias `c`, keyed `vec_id`) with a
  * BROADCAST query or probe side (alias `q`, keyed `qid`) on an
  * optional extra condition plus `qid ≠ nid`, and emits
  * (qid, nid, <score>). Exact scores read norms projected once per row
  * on each side ([[normed]], [[exactQueries]]), so a pair costs one dot
  * (same expressions evaluated N+Q times instead of N·Q — values
  * unchanged). This join is the one seam a fused pair-top-k operator
  * replaces. The all-pairs self-joins ([[Similarity.cosineNearDups]],
  * [[Similarity.semanticNearDups]]) are not query joins and stay out.
  */
private[operators] object VectorSearch {
  import Similarity.{cosine, dot, norm, rankTopK}

  /** `rows` with the norm of its embedding projected as `nrm`. */
  def normed(rows: DataFrame): DataFrame =
    rows.withColumn("nrm", norm(col("embedding")))

  /** The exact-scoring query side: (qid, embedding, nrm). */
  def exactQueries(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding"),
      norm(col("embedding")).as("nrm"))

  /** Exact cosine of a pair over [[normed]] corpus rows and
    * [[exactQueries]] rows; NULL when either side is a zero vector
    * ([[Similarity.cosine]]).
    */
  def cos: Column =
    cosine(dot(col("q.embedding"), col("c.embedding")), col("q.nrm"), col("c.nrm"))

  /** The one query-pair join: corpus rows against the broadcast query
    * side on `on` and `qid ≠ nid`, projected to (qid, nid, score...).
    */
  def pairs(corpus: DataFrame, queries: DataFrame, on: Column = lit(true))
           (score: Column*): DataFrame =
    corpus.as("c")
      .join(broadcast(queries.as("q")), on && col("q.qid") =!= col("c.vec_id"))
      .select(col("q.qid").as("qid") +: col("c.vec_id").as("nid") +: score: _*)

  /** A query side (`side`, keyed qid) fanned out onto each query's
    * `nprobe` probe cells ([[Similarity.probeCells]]): bounded at
    * |queries|·nprobe rows.
    */
  def probes(queries: DataFrame, cents: DataFrame, nprobe: Int,
             side: DataFrame): DataFrame =
    Similarity.probeCells(queries, cents, nprobe).join(side, "qid")

  /** [[pairs]] restricted to the probed cells: the cent_id-keyed join of
    * cell-assigned corpus rows against a [[probes]] relation.
    */
  def probedPairs(cells: DataFrame, probes: DataFrame)(score: Column*): DataFrame =
    pairs(cells, probes, col("q.cent_id") === col("c.cent_id"))(score: _*)

  /** PQ codebooks (m × ncodes × dim/m) and every column built from them. */
  final case class Pq(books: Seq[Seq[Seq[Double]]]) {
    import graft.functions.{exprs, PqAdc, PqEncode, PqLut}

    /** The m-code encoding of an embedding column. */
    def encode(e: Column): Column =
      exprs.toColumn(PqEncode(exprs.toExpr(e), books))

    private def adc(codes: Column, lut: Column): Column =
      exprs.toColumn(PqAdc(exprs.toExpr(codes), exprs.toExpr(lut)))

    /** ‖x̂‖ of encoded rows: the squared-norm LUT ‖book[m][c]‖²,
      * flattened like the query LUT, through the same ADC kernel.
      */
    private def anrm(codes: Column): Column =
      sqrt(adc(codes, typedlit(books.flatMap(_.map(_.map(x => x * x).sum)))))

    /** `rows` projected to `lead`, `codes`, `rest`, then `anrm`. */
    def encoded(rows: DataFrame, lead: Seq[String],
                rest: Seq[String] = Nil): DataFrame =
      rows.select(lead.map(col) ++
          (encode(col("embedding")).as("codes") +: rest.map(col)): _*)
        .withColumn("anrm", anrm(col("codes")))

    /** The ADC query side: (qid, lut, qnrm), one LUT per query row. */
    def queries(queries: DataFrame): DataFrame =
      queries.select(col("vec_id").as("qid"),
        exprs.toColumn(PqLut(exprs.toExpr(col("embedding")), books)).as("lut"),
        norm(col("embedding")).as("qnrm"))

    /** The approximate cosine <q, x̂> / (‖q‖·‖x̂‖) of a pair over
      * [[encoded]] corpus rows and [[queries]] rows: m table adds.
      */
    def acos: Column =
      cosine(adc(col("c.codes"), col("q.lut")), col("q.qnrm"), col("c.anrm"))
        .as("acos")
  }

  /** The refine tail of every quantized ranker: `refine <= 0` ranks the
    * scored (qid, nid, acos) relation directly — (qid, nid, acos, rank);
    * otherwise its top refine·k candidates re-rank with exact cosine
    * against `corpus` — (qid, nid, cos, rank). The approximate score is
    * always `acos` and the exact one `cos`, so a consumer joining ANN
    * outputs by schema never mistakes an estimate for an exact cosine.
    * Both ranks are the bounded [[Similarity.rankTopK]] aggregate.
    */
  def refined(corpus: DataFrame, queries: DataFrame, scored: DataFrame,
              k: Int, refine: Int): DataFrame =
    if (refine <= 0) rankTopK(scored, k, desc = true, "acos")
    else exactReRank(corpus, queries,
      rankTopK(scored, refine * k, desc = true, "acos").select("qid", "nid"), k)

  /** Exact-cosine re-rank of a (qid, nid) candidate set: candidates join
    * back to the full-precision corpus (id-keyed, the small candidate set
    * broadcast), query vectors attach by a second bounded broadcast, and
    * each query keeps its top k — bounded at refine·k rows per query, the
    * aggregate anyway, so no ranker plan windows by qid.
    */
  private def exactReRank(corpus: DataFrame, queries: DataFrame,
                          cand: DataFrame, k: Int): DataFrame = {
    val rer = normed(corpus.select(col("vec_id").as("nid"), col("embedding")))
      .as("c")
      .join(broadcast(cand), "nid")
      .join(broadcast(exactQueries(queries).as("q")), "qid")
      .select(col("qid"), col("nid"), cos.as("cos"))
    rankTopK(rer, k, desc = true, "cos")
  }
}
