package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maximum-likelihood Viterbi encoding under a unigram-LM piece table
  * ([[graft.operators.Unigram]]) — the BpeEncode pattern: the trained
  * model rides the expression as a literal, evaluation is one per-row pass
  * (both evaluation paths call [[UnigramViterbi.Encoder]]), so
  * encoding shuffles nothing at any corpus size.
  *
  * Scores are the model's INTEGER log-micronats, so the per-text total is
  * an exact long sum — deterministic on any engine or partitioning. Ties
  * prefer the longer last piece (smaller split point), then earlier
  * backpointers — a total, deterministic order. Characters outside the
  * piece table encode as id −1 with a fixed UNK penalty. */
object UnigramViterbi {

  final val UnkMicro = -200000L

  final class Encoder(pieces: Seq[(String, Long)]) extends Serializable {
    private val idOf: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      pieces.zipWithIndex.foreach { case ((p, _), i) => m.putIfAbsent(p, Int.box(i)) }
      m
    }
    private val microOf: Array[Long] = pieces.map(_._2).toArray
    private val maxLen: Int = if (pieces.isEmpty) 1 else pieces.map(_._1.length).max

    /** Segment every space-separated word of `text`; returns
      * (ids, score_micro, n_unk). */
    def encode(text: String): InternalRow = {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      var score = 0L
      var unk = 0L
      var start = 0
      val n = text.length
      while (start <= n) {
        var end = text.indexOf(' ', start)
        if (end < 0) end = n
        if (end > start) {
          val (s, u) = viterbi(text.substring(start, end), ids)
          score += s; unk += u
        }
        start = end + 1
      }
      InternalRow(new GenericArrayData(ids.toArray), score, unk)
    }

    /** Viterbi over one word's segmentation lattice: integer scores, ties
      * prefer the longer last piece. Appends ids; returns (score, nUnk). */
    private def viterbi(word: String, out: scala.collection.mutable.ArrayBuffer[Long]): (Long, Long) = {
      val n = word.length
      val best = Array.fill[Long](n + 1)(Long.MinValue)
      val back = Array.fill[Int](n + 1)(-1)
      val pick = Array.fill[Int](n + 1)(-2) // piece id of the arc ending at j
      best(0) = 0L
      var j = 1
      while (j <= n) {
        var i = math.max(0, j - maxLen)
        while (i < j) {
          if (best(i) != Long.MinValue) {
            val cand = word.substring(i, j)
            val hit = idOf.get(cand)
            val (micro, id) =
              if (hit != null) (microOf(hit.intValue()), hit.intValue())
              else if (j - i == 1) (UnkMicro, -1)
              else (Long.MinValue, -2)
            if (id != -2) {
              val s = best(i) + micro
              // strictly better, or equal score with a longer last piece
              if (s > best(j) || (s == best(j) && i < back(j))) {
                best(j) = s; back(j) = i; pick(j) = id
              }
            }
          }
          i += 1
        }
        j += 1
      }
      // backtrack (single chars always score, so best(n) is reachable)
      val rev = scala.collection.mutable.ArrayBuffer.empty[Int]
      var pos = n
      while (pos > 0) { rev += pick(pos); pos = back(pos) }
      var unk = 0L
      var r = rev.length - 1
      while (r >= 0) {
        val id = rev(r)
        if (id == -1) unk += 1
        out += id.toLong
        r -= 1
      }
      (best(n), unk)
    }
  }
}

case class UnigramEncode(child: Expression, pieces: Seq[(String, Long)])
  extends UnaryRowKernel[UTF8String, InternalRow] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("score_micro", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false)))

  @transient private lazy val encoder = new UnigramViterbi.Encoder(pieces)

  override def kernel(text: UTF8String): InternalRow = encoder.encode(text.toString)
}

/** Fused encode-fidelity audit — the `ext_unigram_encode` contract
  * (lossless decode round-trip, zero unks, exact score sum, single-char
  * Viterbi-optimality floor, piece-count bounds) as ONE codegen'd row-local
  * pass over (text, encode struct). The relational form it replaces walked
  * three interpreted higher-order chains per row (decode `transform` +
  * `array_join`, score `aggregate`, per-char map-lookup `aggregate`) —
  * HOFs never enter whole-stage codegen, and at bench scale they cost 2–3×
  * the encode itself. Semantics preserved exactly on realizable rows:
  *  - decode compares pieces IN PLACE against the space-stripped text (no
  *    string rebuild); an unk id fails the round-trip AND contributes the
  *    same +1 sentinel to the score sum as the column form's `lit(1L)`;
  *  - the char floor uses the same −10¹²-clamped single-char micros; a
  *    character with no single-char piece fails the floor (the column form
  *    nulled the conjunct — both can only happen off the self-trained
  *    fixture, where the oracle asserts nothing);
  *  - empty/whitespace-only docs audit true with n_pieces = 0.
  * The audit's decode/score arithmetic is independent of the Viterbi DP it
  * checks — only the piece TABLE is shared, as in the column form. */
case class UnigramAudit(left: Expression, right: Expression,
                        pieces: Seq[(String, Long)])
  extends BinaryRowKernel[UTF8String, InternalRow, InternalRow] {

  override def inputTypes = Seq(StringType, StructType(Seq(
    StructField("ids", ArrayType(LongType)),
    StructField("score_micro", LongType),
    StructField("n_unk", LongType))))

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  @transient private lazy val pieceArr: Array[String] = pieces.map(_._1).toArray
  @transient private lazy val microArr: Array[Long] = pieces.map(_._2).toArray
  @transient private lazy val charMicro: java.util.HashMap[Integer, java.lang.Long] = {
    val m = new java.util.HashMap[Integer, java.lang.Long]()
    pieces.foreach { case (p, mi) =>
      if (p.nonEmpty && p.codePointCount(0, p.length) == 1)
        m.put(Int.box(p.codePointAt(0)), java.lang.Long.valueOf(math.max(mi, -1000000000000L)))
    }
    m
  }

  /** struct(n_chars: long, ok: boolean) as an InternalRow. */
  override def kernel(text: UTF8String, e: InternalRow): InternalRow = {
    val s = text.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch != ' ') sb.append(ch)
      i += 1
    }
    val st = sb.toString
    val nChars = st.codePointCount(0, st.length).toLong
    val ids = e.getArray(0)
    val scoreMicro = e.getLong(1)
    val nUnk = e.getLong(2)
    val nPieces = ids.numElements()
    var pos = 0
    var decodedOk = true
    var scoreSum = 0L
    var k = 0
    while (k < nPieces) {
      val id = ids.getLong(k)
      if (id < 0L || id >= pieceArr.length) {
        decodedOk = false
        scoreSum += 1L // the column form's unk sentinel
      } else {
        val p = pieceArr(id.toInt)
        if (decodedOk) {
          if (st.startsWith(p, pos)) pos += p.length
          else decodedOk = false
        }
        scoreSum += microArr(id.toInt)
      }
      k += 1
    }
    if (pos != st.length) decodedOk = false
    var charScore = 0L
    var missing = false
    var ci = 0
    while (ci < st.length) {
      val cp = st.codePointAt(ci)
      val m = charMicro.get(Int.box(cp))
      if (m == null) missing = true else charScore += m.longValue()
      ci += Character.charCount(cp)
    }
    val floorOk = nChars == 0L || (!missing && scoreMicro >= charScore)
    val boundOk =
      if (nChars == 0L) nPieces == 0 else nPieces >= 1 && nPieces <= nChars
    val ok = nUnk == 0L && decodedOk && scoreMicro == scoreSum && floorOk && boundOk
    InternalRow(nChars, ok)
  }
}
