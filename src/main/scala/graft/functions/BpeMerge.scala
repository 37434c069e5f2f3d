package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy byte-pair-encoding merge loop — the actual BPE tokenization
  * algorithm (rank-priority adjacent-pair merging, the GPT-2 `merges.txt`
  * scheme) behind [[BpeMergeCount]] and [[BpeEncode]]. The merge TABLE
  * is caller-supplied: a real deployment loads its tokenizer's ranked
  * merge list; specs use a tiny fixture table. Only the piece COUNT surfaces — the count is what
  * window packing and length stats consume. */
object BpeMerge {

  /** rank map keyed "left right" (the merges.txt line format), value =
    * priority (lower merges first). */
  def rankMap(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + " " + b, Int.box(i))
    }
    m
  }

  /** BPE pieces of ONE token: start from single characters (codepoints),
    * repeatedly merge the adjacent pair with the lowest rank — leftmost
    * occurrence first on rank ties — until no pair is in the table. Greedy
    * rank order makes the result independent of scan direction — the
    * property that makes real BPE deterministic. */
  def mergeToken(tok: String, rank: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    val pieces = new java.util.ArrayList[String](tok.length)
    if (tok.isEmpty) return pieces
    var i = 0
    while (i < tok.length) {
      val n = Character.charCount(tok.codePointAt(i))
      pieces.add(tok.substring(i, i + n))
      i += n
    }
    var merging = pieces.size > 1
    while (merging) {
      var bestIdx = -1
      var bestRank = Integer.MAX_VALUE
      var j = 0
      while (j < pieces.size - 1) {
        val r = rank.get(pieces.get(j) + " " + pieces.get(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) merging = false
      else {
        pieces.set(bestIdx, pieces.get(bestIdx) + pieces.get(bestIdx + 1))
        pieces.remove(bestIdx + 1)
        merging = pieces.size > 1
      }
    }
    pieces
  }

  /** BPE piece count of ONE token — [[mergeToken]]'s size. */
  def countToken(tok: String, rank: java.util.HashMap[String, Integer]): Long =
    mergeToken(tok, rank).size.toLong

  /** Piece count over a whitespace-tokenized string (split keeps empty
    * tokens, which count 0 — the [[BpeCount]] convention). */
  def count(s: String, rank: java.util.HashMap[String, Integer]): Long = {
    var total = 0L
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        total += countToken(s.substring(start, i), rank)
        start = i + 1
      }
      i += 1
    }
    total
  }

  /** First id of the merged-piece range: one past the Unicode codepoint
    * space, so single-codepoint ids (= the codepoint) and merged-piece ids
    * (= this + merge rank of the string) can never collide. */
  final val MergedIdBase: Long = 0x110000L

  /** Deterministic piece→id table derived from the merge list alone — the
    * stand-in for a tokenizer's vocab file. Single-codepoint pieces id as
    * their codepoint; a merged piece ids as [[MergedIdBase]] + the LOWEST
    * rank producing its string (two merges may build the same string, e.g.
    * (a,bc) and (ab,c); keying the id by string keeps encode a pure
    * function of the piece sequence). */
  def idMap(merges: Seq[(String, String)]): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + b, java.lang.Long.valueOf(MergedIdBase + i + 1))
    }
    m
  }
}

/** Codegen'd exact BPE piece count under a caller-supplied merge table —
  * the "real tokenizer" plug for the `tokenCount` slot on
  * [[graft.operators.TrainPrep.packWindows]] / `tokenQuantiles` /
  * `corpusPrep` (the chars/4 [[BpeCount]] proxy stays the oracle-
  * expressible default; real BPE counts are not ANSI-SQL-expressible, so
  * plans built on this column are spec-pinned, not oracle-gated). One
  * call into [[BpeMerge.count]] per row — no per-row interpretation of
  * the expression tree. */
case class BpeMergeCount(child: Expression, merges: Seq[(String, String)])
  extends UnaryRowKernel[UTF8String, Long] {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType

  @transient private lazy val rank: java.util.HashMap[String, Integer] =
    BpeMerge.rankMap(merges)

  override def kernel(text: UTF8String): Long = BpeMerge.count(text.toString, rank)
}

/** Codegen'd BPE ENCODE under a caller-supplied merge table: text →
  * array of token ids (the tokenizer's train-then-apply product, where
  * [[BpeMergeCount]] surfaces only the count). Ids follow
  * [[BpeMerge.idMap]]'s derived-vocab scheme — codepoint for single-
  * codepoint pieces, [[BpeMerge.MergedIdBase]]+rank for merged ones — so
  * the id sequence is a pure function of (text, merge list):
  * whitespace-tokenize, greedy-merge each token, map pieces to ids. Empty
  * tokens (doubled spaces, edges) emit nothing — the [[BpeMerge.count]]
  * convention. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
  extends UnaryRowKernel[UTF8String, ArrayData] {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val rank = BpeMerge.rankMap(merges)
  @transient private lazy val ids = BpeMerge.idMap(merges)

  override def kernel(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = new java.util.ArrayList[java.lang.Long](s.length / 4 + 4)
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        val pieces = BpeMerge.mergeToken(s.substring(start, i), rank)
        var j = 0
        while (j < pieces.size) {
          val p = pieces.get(j)
          out.add(
            if (p.codePointCount(0, p.length) == 1) p.codePointAt(0).toLong
            else ids.get(p)) // multi-codepoint pieces only arise from merges
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    val arr = new Array[Long](out.size)
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    UnsafeArrayData.fromPrimitiveArray(arr)
  }
}
