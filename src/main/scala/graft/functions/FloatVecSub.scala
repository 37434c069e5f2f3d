package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd element-wise float difference `a − b` over two `array<float>`
  * columns — the residual computation of the IVF-PQ coding pass
  * (`v − c_cell` per corpus vector). Semantics identical to the
  * interpreted `zip_with(a, b, (x, y) => x - y)` it replaces, INCLUDING
  * zip_with's ragged contract (the LongDot lesson): the output has
  * max(|a|, |b|) elements and a position missing from (or null in) either
  * side yields null, so ragged pairs degrade exactly as before rather
  * than silently truncating. Float arithmetic, so values are
  * bit-identical. */
case class FloatVecSub(left: Expression, right: Expression)
  extends BinaryRowKernel[ArrayData, ArrayData, ArrayData] {

  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def kernel(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) null
        else java.lang.Float.valueOf(a.getFloat(i) - b.getFloat(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
