package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd ADC (asymmetric distance computation) lookup-sum — the
  * per-(corpus row × query) hot kernel of the PQ/IVF-PQ scans:
  * Σ_s dtable[s][codes[s]], the m table lookups that stand in for a full
  * d-dimensional distance. Replaces the interpreted
  * `aggregate(zip_with(dt, codes, (t, c) -> element_at(t, c + 1)), …)`
  * lambda tree (the [[FloatDot]]/[[LongDot]] lesson applied to the third
  * and last higher-order kernel on a scan-sized frame).
  *
  * Semantics are identical to the higher-order form, including its null
  * poisoning: a code outside its table's range (element_at past the end),
  * a null code, table or table entry (element_at yields null) or a
  * codes/table length mismatch (zip_with null padding) yields NULL, not a
  * partial sum; accumulation is the same left-to-right double fold.
  */
case class AdcDist(left: Expression, right: Expression)
  extends BinaryRowKernel[ArrayData, ArrayData, java.lang.Double] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))

  override def kernel(dt: ArrayData, codes: ArrayData): java.lang.Double = {
    if (dt.numElements() != codes.numElements()) return null
    var acc = 0.0
    var s = 0
    while (s < dt.numElements()) {
      val t = dt.getArray(s) // null for a null table
      if (t == null || codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (c < 0 || c >= t.numElements() || t.isNullAt(c)) return null
      acc += t.getDouble(c)
      s += 1
    }
    acc
  }
}
