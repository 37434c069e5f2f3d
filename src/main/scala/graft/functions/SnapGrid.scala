package graft.functions

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd snap of a float/double vector to the exact 1e-4 grid held as
  * ×100 integers (1e-6 units) — the shared coordinate discipline of every
  * integer-exact quantizer. Semantics identical to the interpreted
  * `transform(c, x => floor(x.cast("double") * 1e4 + 0.5).cast("long") * 100L)`
  * it replaces (float→double widening is exact; Spark `floor(double)` IS
  * `(long) Math.floor`, and the ×100 long multiply wraps identically):
  * that lambda evaluated ~4 interpreted expression nodes per embedding
  * element on every corpus scan of the integer KNN/MMR/matryoshka family.
  * Null elements pass through as null (as the `transform` lambda's cast
  * chain did). The output type and the float/double branch follow the
  * RESOLVED child type, which is why this stays an expression class. */
case class SnapGrid(child: Expression) extends UnaryRowKernel[ArrayData, ArrayData] {

  override def inputTypes =
    Seq(GraftColumnBridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType)))

  private def childType: ArrayType = child.dataType.asInstanceOf[ArrayType]

  override def dataType: DataType = ArrayType(LongType, childType.containsNull)

  override def kernel(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val out = new Array[Any](n)
    val isFloat = childType.elementType == FloatType
    val hasNull = childType.containsNull
    var i = 0
    while (i < n) {
      out(i) =
        if (hasNull && input.isNullAt(i)) null
        else {
          val d = if (isFloat) input.getFloat(i).toDouble else input.getDouble(i)
          java.lang.Long.valueOf(Math.floor(d * 1.0E4 + 0.5).toLong * 100L)
        }
      i += 1
    }
    new GenericArrayData(out)
  }
}
