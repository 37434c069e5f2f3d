package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd one-pass symmetric-int8 quantization summary
  * `struct<scale, q_min, q_max, q_sum, n_sat>` over an `array<float>`
  * embedding. Semantics identical to the declarative chain it replaces —
  * `scale = array_max(transform(emb, abs(x.cast(double))))`,
  * `q = quantizeInt8(emb, scale)` (qᵢ = clamp(⌊xᵢ/scale·127 + 0.5⌋, ±127),
  * zeros when scale = 0), then `array_min(q)`, `array_max(q)`,
  * `aggregate(q, 0L, +)`, `size(filter(q, abs(x) === 127L))` — which
  * re-walked the vector SEVEN times through interpreted lambdas (two
  * transforms, one fold, one filter) per corpus row. Double op order
  * inside each element is unchanged (x→double / scale · 127.0 + 0.5,
  * floor, clamp), so every value is bit-identical. Null elements follow
  * the replaced forms: skipped by min/max/scale, a single null poisons
  * the fold's sum (q_sum NULL), never counted saturated. Empty array:
  * scale/q_min/q_max NULL, q_sum 0, n_sat 0. */
case class Int8QuantStats(child: Expression)
    extends UnaryRowKernel[ArrayData, InternalRow] {

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = true),
    StructField("q_min", LongType, nullable = true),
    StructField("q_max", LongType, nullable = true),
    StructField("q_sum", LongType, nullable = true),
    StructField("n_sat", LongType, nullable = false)))

  override def kernel(input: ArrayData): InternalRow = {
    val n = input.numElements()
    // pass 1: scale = max |x| over non-null elements (null if none)
    var scale = 0.0
    var sawVal = false
    var i = 0
    while (i < n) {
      if (!input.isNullAt(i)) {
        val a = Math.abs(input.getFloat(i).toDouble)
        if (!sawVal || a > scale) scale = a
        sawVal = true
      }
      i += 1
    }
    if (!sawVal) {
      // empty (or all-null) vector: transform yields no/only-null q values
      return InternalRow(null, null, null,
        if (n == 0) java.lang.Long.valueOf(0L) else null,
        0L)
    }
    // pass 2: quantize each element under scale; fold the four stats
    var qMin = 0L
    var qMax = 0L
    var sawQ = false
    var qSum = 0L
    var sumNull = false
    var nSat = 0L
    i = 0
    while (i < n) {
      // the when(scale === 0.0, 0L) branch ignores the element entirely,
      // so a null element still quantizes to 0 under a zero scale
      if (scale != 0.0 && input.isNullAt(i)) {
        sumNull = true // null + acc poisons the aggregate fold
      } else {
        val q =
          if (scale == 0.0) 0L
          else {
            var f = Math.floor(input.getFloat(i).toDouble / scale * 127.0 + 0.5).toLong
            if (f > 127L) f = 127L
            if (f < -127L) f = -127L
            f
          }
        if (!sawQ || q < qMin) qMin = q
        if (!sawQ || q > qMax) qMax = q
        sawQ = true
        qSum += q
        if (q == 127L || q == -127L) nSat += 1L
      }
      i += 1
    }
    InternalRow(scale,
      if (sawQ) java.lang.Long.valueOf(qMin) else null,
      if (sawQ) java.lang.Long.valueOf(qMax) else null,
      if (sumNull) null else java.lang.Long.valueOf(qSum),
      nSat)
  }
}
