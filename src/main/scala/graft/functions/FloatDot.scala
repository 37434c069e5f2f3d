package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd Σ aᵢ·bᵢ over two `array<float>` columns, accumulating in double
  * left-to-right (bit-identical to a sequential fold, so oracle results are
  * unchanged). Replaces the `zip_with`+`aggregate` higher-order form, whose
  * lambda interpretation dominated the similarity-search benchmarks —
  * vector scoring belongs inside WholeStageCodegen at 100 TB.
  *
  * A LENGTH MISMATCH or a NULL ELEMENT yields NULL — the replaced form's
  * contract (`zip_with` null-pads the shorter array, a null product
  * poisons the fold), so a ragged pair can never pass a downstream cosine
  * filter with a silently partial dot; `float_dot` takes outside SQL
  * input.
  */
case class FloatDot(left: Expression, right: Expression)
  extends BinaryRowKernel[ArrayData, ArrayData, java.lang.Double] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def kernel(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}
