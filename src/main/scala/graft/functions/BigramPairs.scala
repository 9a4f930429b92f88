package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** bigram_pairs(array<string>) → rows (w1, w2): each adjacent token
  * pair of the array, in order — the native generator behind the H11/
  * H14 bigram family.
  *
  * Replaces the `zip_with(slice(t,1,n−1), slice(t,2,n−1), struct) →
  * explode` chain (r16, guide §1.2 per-task work): that form copies
  * the token array twice, runs a lambda per element OUTSIDE
  * whole-stage codegen, and allocates a struct per bigram before the
  * explode even starts — measured as ~90% of q_bigram_lm at sf3
  * (blm_pairs 5.08 s vs blm_tokens 0.63 s, OPTIMIZATION_r16.md). This emits
  * each pair straight off the child array: no slices, no struct array,
  * no per-element lambda. Row semantics are identical: arrays with
  * < 2 elements yield nothing, element i pairs with element i+1.
  */
case class BigramPairs(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("w1", StringType, nullable = true),
    StructField("w2", StringType, nullable = true)))

  override def prettyName: String = "bigram_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) Nil
    else new Iterator[InternalRow] {
      private val n = arr.numElements()
      private var i = 0
      // single reused row, downstream copies into unsafe rows (the
      // same contract the built-in explode relies on)
      private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      override def hasNext: Boolean = i < n - 1
      override def next(): InternalRow = {
        row.update(0, arr.getUTF8String(i))
        row.update(1, arr.getUTF8String(i + 1))
        i += 1
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BigramPairs =
    copy(child = newChild)
}
