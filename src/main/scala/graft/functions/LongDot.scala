package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd exact Σ aᵢ·bᵢ over two `array<bigint>` columns — the integer
  * twin of [[FloatDot]], and the same lesson: the
  * `aggregate`+`zip_with` higher-order form is interpreted per row (lambda
  * variables, one allocated intermediate array per pair), which dominated
  * the multimodal semantic-dedup candidate verify at ~5 µs/candidate;
  * pairwise scoring belongs inside WholeStageCodegen at 100 TB.
  *
  * Exactness: pure int64 products and adds, identical to the higher-order
  * fold on equal-length inputs (all callers pass fixed-dim features). A
  * LENGTH MISMATCH or a NULL ELEMENT yields NULL — exactly the replaced
  * form's behaviour (`zip_with` null-pads the shorter array, the null
  * product poisons the fold), so a ragged pair can never pass a downstream
  * cosine filter with a silently partial dot.
  */
case class LongDot(left: Expression, right: Expression)
  extends BinaryRowKernel[ArrayData, ArrayData, java.lang.Long] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def kernel(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }
}
