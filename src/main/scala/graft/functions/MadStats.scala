package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd per-group median/MAD/outlier fold — the row-local core of
  * [[graft.operators.Robust.madOutliers]]. Input: ONE group's value
  * histogram as a SORTED array of (value, hn) structs (domain-bounded by
  * the caller's contract — the array is the size of the group's value
  * DOMAIN, never its row count). Output: struct(n, med, mad, n_outliers).
  *
  * An EMPTY histogram, a NULL entry or a negative count yields NULL (no
  * median exists; the caller's `collect_list` never builds any of them).
  *
  * Semantics are bit-identical to the relational window/join form it
  * replaced (the oracle SQL and both query hashes pin this):
  *  - n = Σ hn; med = the LOWER median — the first value whose cumulative
  *    count reaches ⌈n/2⌉ = (n+1) div 2 (exact integer rank, no float
  *    quantile);
  *  - the deviation histogram |v − med| is folded IN PLACE (two pointers
  *    walking outward from the median — values below it meet values above
  *    it in sorted |dev| order, so the MAD rank pick needs no re-sort and
  *    no allocation beyond two cursors);
  *  - n_outliers = Σ hn over |v − med| > factor·mad.
  * The relational form scheduled ~10 tiny stages (two windows, five joins)
  * per call — pure latency on a histogram-sized frame; this fold does the
  * same integer arithmetic in one pass per group. */
case class MadStats(child: Expression, factor: Int)
    extends UnaryRowKernel[ArrayData, InternalRow] {

  override def inputTypes = Seq(ArrayType(StructType(Seq(
    StructField("v", LongType), StructField("hn", LongType)))))

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("med", LongType, nullable = false),
    StructField("mad", LongType, nullable = false),
    StructField("n_outliers", LongType, nullable = false)))

  override def nullable: Boolean = true

  /** (n, med, mad, n_outliers) off a sorted (value, hn) histogram. */
  override def kernel(arr: ArrayData): InternalRow = {
    val k = arr.numElements()
    if (k == 0) return null
    val vs = new Array[Long](k)
    val hs = new Array[Long](k)
    var n = 0L
    var i = 0
    while (i < k) {
      if (arr.isNullAt(i)) return null
      val row = arr.getStruct(i, 2)
      vs(i) = row.getLong(0); hs(i) = row.getLong(1); n += hs(i)
      if (hs(i) < 0) return null
      i += 1
    }
    // lower median: first value whose cumulative count reaches ⌈n/2⌉
    val rank = (n + 1) / 2
    var cum = 0L
    var mi = 0
    while (cum + hs(mi) < rank) { cum += hs(mi); mi += 1 }
    val med = vs(mi)
    // MAD: the same rank pick over |v − med|, merged from two sorted runs
    // (left of the median reversed, right of it forward)
    var lo = mi // next candidate below (walks left), dev = med − vs(lo)
    var hi = mi // next candidate above (walks right), dev = vs(hi) − med
    var cum2 = 0L
    var mad = 0L
    var done = false
    while (!done) {
      val dLo = if (lo >= 0) med - vs(lo) else Long.MaxValue
      val dHi = if (hi < k) vs(hi) - med else Long.MaxValue
      if (dLo == dHi) { // same deviation from both sides: one histogram bin
        cum2 += hs(lo) + (if (hi != lo) hs(hi) else 0L)
        if (cum2 >= rank) { mad = dLo; done = true } else { lo -= 1; hi += 1 }
      } else if (dLo < dHi) {
        cum2 += hs(lo)
        if (cum2 >= rank) { mad = dLo; done = true } else lo -= 1
      } else {
        cum2 += hs(hi)
        if (cum2 >= rank) { mad = dHi; done = true } else hi += 1
      }
    }
    // outlier mass beyond factor·MAD
    val bound = factor.toLong * mad
    var out = 0L
    i = 0
    while (i < k) {
      val dev = math.abs(vs(i) - med)
      if (dev > bound) out += hs(i)
      i += 1
    }
    InternalRow(n, med, mad, out)
  }
}
