package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
  * MOSS local document fingerprinting scheme) as ONE codegen'd row-local
  * pass: hash every k-gram of the text with the repo's rolling polynomial
  * ((acc·31 + char) mod P — [[RollingHash]]'s fold, so the DuckDB twin is
  * the same `list_reduce`), slide a w-window over the gram-hash sequence,
  * and keep each window's RIGHTMOST minimum. Guarantee: any shared
  * substring of length ≥ k + w − 1 yields at least one shared fingerprint,
  * while only ~2/(w+1) of the grams are kept — the bounded-sample
  * substring-match index full shingling can't afford at corpus scale.
  *
  * Returns the selected hashes in position order, one entry per selected
  * POSITION (the rightmost-min argmin is monotone non-decreasing as the
  * window slides, so "new argmin ⇒ append" dedups positions exactly).
  * A document with fewer than w grams winnows its single truncated
  * window; fewer than k characters ⇒ empty array. All arithmetic is
  * exact long mod P — bit-identical in any engine.
  *
  * Character convention — CODE POINTS, the contract shared with
  * [[RollingHash]]: the kernel decodes the string to its code-point
  * sequence once (`String.codePoints`, surrogate pairs collapse to
  * one gram character) and grams index THAT sequence, so gram values and
  * positions agree with a code-point engine (DuckDB's `text[i:j]`) and
  * with Spark's own code-point `length()` on ANY text, astral included —
  * not just BMP. On ASCII/BMP input the decoded array equals the char
  * sequence, so hashes are unchanged from the earlier code-unit kernel;
  * the decode adds one int array per row (gram-hash arrays of the same
  * length already dominate the allocation).
  *
  * O(n·w) with w a small constant; zero shuffles at any corpus size —
  * the per-doc fan-in that makes the downstream pair join |selected|-
  * sized instead of |grams|-sized. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, modulus: Long)
    extends UnaryRowKernel[UTF8String, ArrayData] {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def kernel(text: UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val ng = cps.length - k + 1
    if (ng <= 0) return new GenericArrayData(Array.emptyLongArray)
    val h = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 31L + cps(i + j)) % modulus; j += 1 }
      h(i) = acc
      i += 1
    }
    val nw = math.max(ng - w + 1, 1)
    val out = new Array[Long](nw)
    var nOut = 0
    var last = -1
    var st = 0
    while (st < nw) {
      val end = math.min(st + w - 1, ng - 1)
      var best = st
      var j = st
      while (j <= end) { if (h(j) <= h(best)) best = j; j += 1 }
      if (best != last) { out(nOut) = h(best); nOut += 1; last = best }
      st += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }
}
