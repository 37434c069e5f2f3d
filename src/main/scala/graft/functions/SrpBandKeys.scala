package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData, XXH64, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd sign-random-projection band keys over one `array<float>`
  * embedding: returns `array<bigint>` of length `bands`, where band b's key
  * packs `bitsPerBand` hyperplane-sign bits (bit r set iff
  * Σᵢ vᵢ·w(plane, i) > 0 for plane = b·bitsPerBand + r).
  *
  * Replaces the declarative two-shuffle form (posexplode × plane explode →
  * groupBy (id, plane) → groupBy (id, band)), which materializes
  * n·d·nPlanes narrow rows through two exchanges just to compute a per-row
  * value — all band keys now come out of ONE codegen'd pass over the row,
  * zero shuffles, zero fan-out (the FloatDot pattern). Kept bit-identical
  * to that form (`KernelRefs.lshBandKeysRef`, pinned by KnnSpec):
  *  - weights w(plane, i) = (pmod(xxhash64('graft-lsh', plane, i), 20001)
  *    − 10000) / 10000 with plane/i hashed as INTs (the composed form's
  *    column types), via the same XXH64 primitives Spark's xxhash64 uses;
  *  - the projection accumulates v.toDouble · w left-to-right in `i` order,
  *    the exact FP-addition order of the composed form's partial-agg sum;
  *  - null elements contribute nothing (sum-over-nulls semantics);
  *  - an EMPTY embedding yields NULL (not bands all-zero keys): the
  *    composed form posexplodes an empty array into no rows at all, so a
  *    zero-length vector must produce no band keys downstream — exploding
  *    NULL emits nothing, and empty-embedding docs never collide with each
  *    other in bucket 0 of every band.
  */
case class SrpBandKeys(child: Expression, bands: Int, bitsPerBand: Int)
    extends UnaryRowKernel[ArrayData, ArrayData] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // null input OR empty input array
  override def inputTypes = Seq(ArrayType(FloatType))
  override def prettyName: String = "srp_band_keys"

  /** xxhash64 state after folding the constant 'graft-lsh' prefix (seed 42),
    * computed by Spark's own expression so the byte-level hashing semantics
    * can never drift from the composed form. */
  private lazy val prefixHash: Long =
    XxHash64(Seq(Literal("graft-lsh")), 42L).eval(null).asInstanceOf[Long]

  override def kernel(arr: ArrayData): ArrayData = {
    val d = arr.numElements()
    if (d == 0) return null
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < bitsPerBand) {
        val hp = XXH64.hashInt(b * bitsPerBand + r, prefixHash)
        var dot = 0.0
        var i = 0
        while (i < d) {
          if (!arr.isNullAt(i)) {
            var m = XXH64.hashInt(i, hp) % 20001L
            if (m < 0) m += 20001L
            dot += arr.getFloat(i).toDouble * ((m - 10000L).toDouble / 10000.0)
          }
          i += 1
        }
        if (dot > 0) key |= 1L << r
        r += 1
      }
      keys(b) = key
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}
