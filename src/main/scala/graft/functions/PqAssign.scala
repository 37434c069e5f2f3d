package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd product-quantization assignment — the per-row hot loop of
  * `Knn.pqCodesWith` / `pqKnnWith` / `ivfPqKnnWith` (every corpus vector
  * scores m×k centroid candidates), previously an interpreted
  * `transform`/`aggregate`/`zip_with` lambda tree. Semantics are
  * bit-identical to that higher-order form (KnnSpec's planted-cluster and
  * recall pins run against the same outputs):
  *  - per-element squared diff computed in FLOAT, accumulated in double,
  *    candidates scanned in codebook order;
  *  - strict-< argmin with the first candidate forced (`c == -1` arm), so
  *    ties break toward the lower code and an all-NaN row codes to 0
  *    deterministically instead of poisoning downstream `element_at`;
  *  - per-subspace codebook lengths may differ (an emptied Lloyd cell
  *    shrinks ONE codebook).
  * The codebooks ride with the expression — m·k·dim floats shipped once
  * per task, not re-built per row. `books(s)(c)` = centroid c of
  * subspace s. */
case class PqAssign(child: Expression, books: Seq[Seq[Array[Float]]])
  extends UnaryRowKernel[ArrayData, InternalRow] {

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("err", DoubleType, nullable = false)))

  @transient private lazy val cb: Array[Array[Array[Float]]] =
    books.map(_.map(_.clone).toArray).toArray

  /** struct(codes: array<int>, err: double) as an InternalRow. */
  override def kernel(emb: ArrayData): InternalRow = {
    val m = cb.length
    val sub = cb(0)(0).length
    val v = emb.toFloatArray()
    val codes = new Array[Int](m)
    var err = 0.0
    var s = 0
    while (s < m) {
      val cents = cb(s)
      val off = s * sub
      var best = -1
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var j = 0
        val lim = math.min(cent.length, math.max(v.length - off, 0))
        while (j < lim) {
          val diff = v(off + j) - cent(j) // float math, like the HOF form
          d += (diff * diff).toDouble
          j += 1
        }
        if (best == -1 || d < bestD) { best = c; bestD = d }
        c += 1
      }
      codes(s) = best
      err += bestD
      s += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(codes), err)
  }
}
