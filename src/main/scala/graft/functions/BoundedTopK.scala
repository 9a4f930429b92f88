package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._
import org.apache.spark.sql.Encoder

/** Spark SQL's double ordering (SQLOrderingUtil): -0.0 ties 0.0, NaN
  * is the greatest value and equal to itself. Every JVM-side ranking
  * that must agree with a SQL sort compares through this.
  */
object SqlDoubleOrder {
  @inline def compare(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1
    else if (x == y) 0
    else java.lang.Double.compare(x, y)
}

/** One (score, id) candidate flowing into [[BoundedTopK]]. */
case class ScoredId(score: Double, id: Long)

/** One ranked survivor: position in the finished array is rank−1. */
case class TopKHit(nid: Long, score: Double)

/** Bounded per-group top-k by numeric score: keeps the k best
  * (score, id) pairs — best-score-first per `desc`, id ascending as
  * the tiebreak — in a buffer that can NEVER exceed 2k elements,
  * regardless of group size.
  *
  * This is [[BoundedMinK]]'s numeric-score sibling, built for the
  * brute-force similarity rankers: `row_number() OVER (PARTITION BY
  * qid ORDER BY cos DESC, nid)` on the query×corpus pair relation
  * puts the ENTIRE corpus in each query's window partition — one
  * unsplittable reducer per query at 10^10 corpus rows, and AQE
  * cannot split window partitions. As an aggregate the top-k reduces
  * map-side: every partition contributes at most k survivors per
  * query, so the shuffle carries O(partitions·k) rows per qid and the
  * merge tree is associative all the way up. The finished array
  * carries the score, so winners need no re-join against the pair
  * relation (unlike BoundedMinK's id-only output).
  *
  * Score ordering matches Spark SQL's double sort ordering exactly
  * (−0.0 == 0.0 as a tie; NaN greater than everything, so NaN ranks
  * FIRST under desc — the same order the window form produced), and
  * equal scores break by id ascending.
  */
class BoundedTopK(k: Int, desc: Boolean = true)
    extends Aggregator[ScoredId, Seq[ScoredId], Seq[TopKHit]]
    with Serializable {
  require(k > 0, s"k must be positive: $k")

  import SqlDoubleOrder.{compare => cmpSql}

  private val ord: Ordering[ScoredId] = new Ordering[ScoredId] {
    override def compare(a: ScoredId, b: ScoredId): Int = {
      val c = if (desc) cmpSql(b.score, a.score) else cmpSql(a.score, b.score)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }

  private def trim(b: Seq[ScoredId]): Seq[ScoredId] =
    if (b.length <= k) b
    else b.sorted(ord).take(k)

  override def zero: Seq[ScoredId] = Vector.empty

  override def reduce(b: Seq[ScoredId], a: ScoredId): Seq[ScoredId] = {
    val nb = b :+ a
    if (nb.length >= 2 * k) trim(nb) else nb
  }

  override def merge(b1: Seq[ScoredId], b2: Seq[ScoredId]): Seq[ScoredId] =
    trim(b1 ++ b2)

  /** k best hits, best first — position i is rank i + 1, matching the
    * window form's row_number over (score desc|asc, id). */
  override def finish(b: Seq[ScoredId]): Seq[TopKHit] =
    b.sorted(ord).take(k).map(e => TopKHit(e.id, e.score))

  override def bufferEncoder: Encoder[Seq[ScoredId]] =
    ExpressionEncoder[Seq[ScoredId]]()
  override def outputEncoder: Encoder[Seq[TopKHit]] =
    ExpressionEncoder[Seq[TopKHit]]()
}

/** Primitive-buffer state for [[TopKAgg]]: parallel score/id arrays of
  * capacity 2k, compacted to the k best (by the SQL double ordering,
  * id-ascending tiebreak) whenever full. After the first compaction
  * the k-th survivor is remembered as a threshold so strictly-worse
  * rows are rejected in two compares, no allocation — the common case
  * once a partition has warmed up.
  */
final class TopKState(val k: Int, val desc: Boolean) {
  var scores: Array[Double] = new Array[Double](2 * k)
  var ids: Array[Long] = new Array[Long](2 * k)
  var size: Int = 0
  // threshold = current k-th best (valid only when thrValid): an
  // incoming element strictly AFTER it in sort order can never make
  // the final top k, because k elements at-or-before it already exist
  private var thrScore: Double = 0.0
  private var thrId: Long = 0L
  private var thrValid: Boolean = false

  import SqlDoubleOrder.{compare => cmpSql}

  /** Full (score, id) ordering: best first. */
  @inline private def cmp(s1: Double, i1: Long, s2: Double, i2: Long): Int = {
    val c = if (desc) cmpSql(s2, s1) else cmpSql(s1, s2)
    if (c != 0) c else java.lang.Long.compare(i1, i2)
  }

  def add(score: Double, id: Long): Unit = {
    if (thrValid && cmp(score, id, thrScore, thrId) > 0) return
    scores(size) = score
    ids(size) = id
    size += 1
    if (size == scores.length) compact()
  }

  /** Sort the buffer (best first) and keep the k best. */
  def compact(): Unit = {
    if (size <= k) return
    // indirect sort via index permutation (insertion into sorted prefix
    // would be O(n·k); buffer is tiny — 2k — so a full sort is fine)
    val idx = Array.range(0, size)
    // java.util sort of boxed Integer would allocate; hand-roll a
    // binary-insertion sort over the 2k ints instead (k is small for
    // every ranker in the repo: 3..100)
    var i = 1
    while (i < size) {
      val v = idx(i)
      val vs = scores(v); val vi = ids(v)
      var lo = 0; var hi = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(scores(idx(mid)), ids(idx(mid)), vs, vi) <= 0) lo = mid + 1
        else hi = mid
      }
      var j = i
      while (j > lo) { idx(j) = idx(j - 1); j -= 1 }
      idx(lo) = v
      i += 1
    }
    val ns = new Array[Double](2 * k)
    val ni = new Array[Long](2 * k)
    var o = 0
    while (o < k) { ns(o) = scores(idx(o)); ni(o) = ids(idx(o)); o += 1 }
    scores = ns; ids = ni; size = k
    thrScore = ns(k - 1); thrId = ni(k - 1); thrValid = true
  }

  /** k best entries, best first, as (scores, ids) truncated arrays. */
  def finishSorted(): (Array[Double], Array[Long], Int) = {
    compact()
    // compact() is a no-op when size <= k: sort whatever is there
    val idx = Array.range(0, size)
    var i = 1
    while (i < size) {
      val v = idx(i)
      val vs = scores(v); val vi = ids(v)
      var lo = 0; var hi = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(scores(idx(mid)), ids(idx(mid)), vs, vi) <= 0) lo = mid + 1
        else hi = mid
      }
      var j = i
      while (j > lo) { idx(j) = idx(j - 1); j -= 1 }
      idx(lo) = v
      i += 1
    }
    val n = math.min(k, size)
    val os = new Array[Double](n)
    val oi = new Array[Long](n)
    var o = 0
    while (o < n) { os(o) = scores(idx(o)); oi(o) = ids(idx(o)); o += 1 }
    (os, oi, n)
  }
}

/** Native bounded per-group top-k: the [[BoundedTopK]] Aggregator's
  * semantics (same SQL double ordering, same id tiebreak, same
  * array<struct<nid,score>> output — byte-identical results) as a
  * TypedImperativeAggregate over primitive arrays. The udaf Aggregator
  * form deserializes every input row into a ScoredId case class and
  * appends to an immutable Vector — at brute-force ranker volume
  * (|queries|·|corpus| rows) that encoder+allocation path dominated
  * the whole query (OPTIMIZATION_r15.md: rankTopK was 7.2 of q_mmr_rerank's
  * 12.0 s at sf3). Here update() reads the two primitives straight
  * from the InternalRow and the warmed-up common case rejects a row
  * on two compares with zero allocation.
  */
case class TopKAgg(score: Expression, id: Expression, k: Int, desc: Boolean,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKState] {
  require(k > 0, s"k must be positive: $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("nid", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "bounded_top_k"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double score, bigint id), got ($l, $r)")
    }

  override def createAggregationBuffer(): TopKState = new TopKState(k, desc)

  override def update(buffer: TopKState, input: InternalRow): TopKState = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) {
        buffer.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
      }
    }
    buffer
  }

  override def merge(b1: TopKState, b2: TopKState): TopKState = {
    var i = 0
    while (i < b2.size) { b1.add(b2.scores(i), b2.ids(i)); i += 1 }
    b1
  }

  override def eval(buffer: TopKState): Any = {
    val (ss, ii, n) = buffer.finishSorted()
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) { rows(i) = InternalRow(ii(i), ss(i)); i += 1 }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKState): Array[Byte] = {
    buffer.compact()
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buffer.size)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new TopKState(k, desc)
    var i = 0
    while (i < n) { st.add(bb.getDouble, bb.getLong); i += 1 }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1))
}
