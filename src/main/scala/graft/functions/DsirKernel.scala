package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3HashFunction, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the DSIR fast path (K30): both the bucket
  * histogram and the per-document score walk a document's token array
  * ONCE in compiled code, hashing each word bigram exactly as the SQL
  * form `pmod(hash(t[i], t[i+1]), buckets)` does — Spark's `hash` is
  * seed-chained murmur3 (h = m3(t[i+1], m3(t[i], 42))), null tokens
  * leave the running hash untouched, and the final int takes pmod.
  * Replacing the exploded-bigram relation (O(corpus tokens) rows
  * shuffled TWICE: bucket-count pass + broadcast-join scoring pass)
  * with these kernels makes DSIR two narrow scans: one histogram
  * aggregation whose shuffle is O(tasks) 2·buckets-long buffers, and
  * one map-only projection — no doc-keyed shuffle at all. The sf30
  * attribution that motivated this (PIPELINE_r10.json) measured the
  * exploded gram stream (~80M rows at 1.5M docs) as pipeline v2's
  * super-scaling stage.
  */
object DsirRuntime {

  /** murmur3 of one token under `seed`, matching Spark's hash(). */
  private def m3(s: UTF8String, seed: Long): Long =
    Murmur3HashFunction.hash(s, StringType, seed)

  /** Σ over bigrams of lrScaled(bucket) — the per-doc DSIR score in
    * exact 1e-6-scaled long arithmetic. Arrays with < 2 elements
    * score 0 (callers filter them out anyway).
    */
  def score(arr: ArrayData, lr: Array[Long], buckets: Int): Long = {
    val n = arr.numElements()
    if (n < 2) return 0L
    var acc = 0L
    // hash(a, b) chains: inner seed for a is always 42
    var prev = if (arr.isNullAt(0)) 42L else m3(arr.getUTF8String(0), 42L)
    var i = 1
    while (i < n) {
      val isNull = arr.isNullAt(i)
      val u = if (isNull) null else arr.getUTF8String(i)
      val h = (if (isNull) prev else m3(u, prev)).toInt
      acc += lr(((h % buckets) + buckets) % buckets)
      prev = if (isNull) 42L else m3(u, 42L)
      i += 1
    }
    acc
  }

  /** Accumulate one document's bigram buckets into `hist` (target
    * side at [0, buckets), raw side at [buckets, 2·buckets)) —
    * straight off the columnar ArrayData, no String round-trips.
    */
  def addToHistogram(hist: Array[Long], arr: ArrayData,
                     isTarget: Boolean, buckets: Int): Unit = {
    val n = arr.numElements()
    if (n < 2) return
    val off = if (isTarget) 0 else buckets
    var prev = if (arr.isNullAt(0)) 42L else m3(arr.getUTF8String(0), 42L)
    var i = 1
    while (i < n) {
      val isNull = arr.isNullAt(i)
      val u = if (isNull) null else arr.getUTF8String(i)
      val h = (if (isNull) prev else m3(u, prev)).toInt
      hist(off + ((h % buckets) + buckets) % buckets) += 1L
      prev = if (isNull) 42L else m3(u, 42L)
      i += 1
    }
  }

  // ---- exact-md5 mode (r15): the oracle-mirrored hash ----
  // bucket = conv(substring(md5(concat_ws(' ', w1, w2)), 1, 4), 16, 10)
  //          % buckets
  // i.e. the first 16 bits of the md5 of the space-joined bigram. The
  // digest is streamed over the two tokens' UTF-8 bytes plus the
  // joiner (digest(a ++ b) == update(a); update(b)), so no per-gram
  // String/concat allocation. concat_ws semantics for null tokens
  // (skip the null AND its joiner) are mirrored, though split() never
  // produces null tokens in practice.

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SPACE = " ".getBytes("UTF-8")

  /** First 16 bits of md5(concat_ws(" ", a, b)) mod buckets. */
  private def md5Bucket(a: UTF8String, b: UTF8String, buckets: Int): Int = {
    val md = md5Local.get()
    md.reset()
    if (a != null) {
      md.update(a.getBytes)
      if (b != null) md.update(SPACE)
    }
    if (b != null) md.update(b.getBytes)
    val d = md.digest()
    (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % buckets
  }

  /** [[score]] under the exact-md5 bucket hash. Bigrams walk every
    * adjacent pair (including null-token pairs, mirroring the exploded
    * form, where concat_ws just skips nulls).
    */
  def scoreMd5(arr: ArrayData, lr: Array[Long], buckets: Int): Long = {
    val n = arr.numElements()
    if (n < 2) return 0L
    var acc = 0L
    var i = 1
    while (i < n) {
      val a = if (arr.isNullAt(i - 1)) null else arr.getUTF8String(i - 1)
      val b = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      acc += lr(md5Bucket(a, b, buckets))
      i += 1
    }
    acc
  }

  /** [[addToHistogram]] under the exact-md5 bucket hash. */
  def addToHistogramMd5(hist: Array[Long], arr: ArrayData,
                        isTarget: Boolean, buckets: Int): Unit = {
    val n = arr.numElements()
    if (n < 2) return
    val off = if (isTarget) 0 else buckets
    var i = 1
    while (i < n) {
      val a = if (arr.isNullAt(i - 1)) null else arr.getUTF8String(i - 1)
      val b = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      hist(off + md5Bucket(a, b, buckets)) += 1L
      i += 1
    }
  }
}

/** dsir_score(array<string>) → bigint: Σ over word bigrams of the
  * 1e-6-scaled per-bucket log-ratio. The lr table is bounded
  * (≤ `buckets` entries) and rides into codegen as a reference
  * object, so scoring is a map-only projection.
  */
case class DsirScore(child: Expression, lrScaled: Seq[Long], buckets: Int,
                     md5Mode: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dsir_score"

  @transient private lazy val tab: Array[Long] = lrScaled.toArray

  private def fn: String = if (md5Mode) "scoreMd5" else "score"

  override protected def nullSafeEval(a: Any): Any =
    if (md5Mode) DsirRuntime.scoreMd5(a.asInstanceOf[ArrayData], tab, buckets)
    else DsirRuntime.score(a.asInstanceOf[ArrayData], tab, buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("dsirLr", tab, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DsirRuntime.$fn($a, $t, $buckets);")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScore =
    copy(child = newChild)
}

/** Whole-corpus per-side bucket histogram as ONE bounded native
  * aggregate: the buffer is a 2·buckets long array (target side
  * first), merged elementwise — each map task ships one
  * ~16·buckets-byte buffer instead of its exploded bigram stream, so
  * the histogram costs one narrow scan + an O(tasks) shuffle at any
  * corpus size. Native TypedImperativeAggregate (not a udaf
  * Aggregator) so update reads the token ArrayData directly — the
  * encoder round-trip to Seq[String] measured ~1.5× of the pass at
  * 1.5M docs.
  */
case class DsirHistAgg(tokens: Expression, isTarget: Expression, buckets: Int,
                       md5Mode: Boolean = false,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  require(buckets >= 2, s"buckets must be >= 2: $buckets")

  override def children: Seq[Expression] = Seq(tokens, isTarget)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dsir_histogram"

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, isTarget.dataType) match {
      case (ArrayType(StringType, _), BooleanType) =>
        TypeCheckResult.TypeCheckSuccess
      case (tl, tr) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, boolean), got ($tl, $tr)")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](2 * buckets)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val arr = tokens.eval(input)
    if (arr != null) {
      val tgt = isTarget.eval(input)
      if (md5Mode)
        DsirRuntime.addToHistogramMd5(buffer, arr.asInstanceOf[ArrayData],
          tgt != null && tgt.asInstanceOf[Boolean], buckets)
      else
        DsirRuntime.addToHistogram(buffer, arr.asInstanceOf[ArrayData],
          tgt != null && tgt.asInstanceOf[Boolean], buckets)
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DsirHistAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DsirHistAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DsirHistAgg =
    copy(tokens = newChildren(0), isTarget = newChildren(1))
}
