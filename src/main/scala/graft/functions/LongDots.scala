package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd exact integer dot products of one snapped `array<bigint>`
  * vector against a LITERAL query matrix, all in ONE row-local pass:
  * out[q] = Σᵢ queries(q)(i)·v(i), `array<bigint>` of length nQueries.
  *
  * This is the candidate-generation kernel of the MMR re-ranker
  * (`ext_sim_mmr`): the corpus scan scores every row against the whole
  * broadcast-literal query set with zero shuffles and zero per-query
  * re-reads — the [[IntCellAssign]] literal-matrix discipline applied to
  * inner products instead of distances. Exactness: inputs are 1e-6-unit
  * snapped longs, products ≤ dim·(2·10⁶)² ≪ 2⁶³, so the fold is exact
  * integer arithmetic any engine replays bit-for-bit.
  *
  * The inner loop bounds by the query row's length so a ragged input
  * can't read past the vector. */
case class LongDots(child: Expression, queries: Seq[Array[Long]])
    extends UnaryRowKernel[ArrayData, ArrayData] {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val matrix: Array[Array[Long]] = queries.toArray

  override def kernel(v: ArrayData): ArrayData = {
    val out = new Array[Long](matrix.length)
    var q = 0
    while (q < matrix.length) {
      val row = matrix(q)
      val n = math.min(row.length, v.numElements())
      var acc = 0L
      var i = 0
      while (i < n) { acc += row(i) * v.getLong(i); i += 1 }
      out(q) = acc
      q += 1
    }
    new GenericArrayData(out)
  }
}
