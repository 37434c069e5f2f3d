package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd per-character rolling polynomial hash:
  * fp = fold over code points of ((acc · mult + cp) mod modulus).
  * Semantics identical to the SQL form
  * `aggregate(transform(sequence(1,length(s)), i -> ascii(substr(s,i,1))), …)`
  * (character = code point; all arithmetic exact in 64-bit), but compiled —
  * the interpreted higher-order chain evaluates ~4 expression nodes per
  * character. */
case class RollingHash(child: Expression, mult: Long, modulus: Long)
  extends UnaryRowKernel[UTF8String, Long] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def kernel(text: UTF8String): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * mult + cp) % modulus
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Codegen'd "count whitespace tokens ∈ set": semantics identical to
  * `size(filter(split(s, ' '), t -> t.isin(words)))` (split keeps empty
  * tokens; the sets never contain ""), but one compiled scan instead of an
  * interpreted lambda chain per token. */
case class TokenSetCount(child: Expression, words: Seq[String])
  extends UnaryRowKernel[UTF8String, Long] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  @transient private lazy val wordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override def kernel(text: UTF8String): Long = {
    val s = text.toString
    var cnt = 0L
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (wordSet.contains(s.substring(start, i))) cnt += 1
        start = i + 1
      }
      i += 1
    }
    cnt
  }
}

/** Codegen'd BPE-ish subword estimate: Σ over whitespace tokens of
  * ⌈codePointLen/4⌉, in ONE scan of the string. Semantics identical to the
  * higher-order form `aggregate(split(s,' '), 0L, (acc,t) ->
  * acc + ceil(length(t)/4.0))` — split keeps empty tokens (they add 0) and
  * `length` counts code points, both reproduced here — but compiled: the
  * interpreted HOF materializes the token array and walks ~4 expression
  * nodes per token, on the hot path of four queries. */
case class BpeCount(child: Expression) extends UnaryRowKernel[UTF8String, Long] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def kernel(text: UTF8String): Long = {
    val s = text.toString
    var total = 0L
    var len = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') { total += (len + 3) / 4; len = 0 }
      else len += 1
      i += Character.charCount(cp)
    }
    total + (len + 3) / 4
  }
}

/** Codegen'd 64-bit SimHash of a document: per-bit majority vote over
  * `xxhash64(token)` (seed 42, Spark's `xxhash64`) of the DISTINCT
  * whitespace tokens, all inside ONE row-local pass. Semantics are
  * bit-identical to the aggregate form — explode(array_distinct(split))
  * → groupBy(doc) → vote Aggregator (kept as the test-only semantic pin,
  * `KernelRefs.simhashRef`) — because the vote is a
  * commutative sum: token order never matters. The point of the
  * expression form is SHAPE, not just speed: the fingerprint needs no
  * explode fan-out and no shuffle at any corpus size, so SimHash costs
  * exactly one corpus scan at 100 TB. */
case class SimHash64(child: Expression) extends UnaryRowKernel[UTF8String, Long] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def kernel(text: UTF8String): Long = {
    val s = text.toString
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        val tok = s.substring(start, i)
        if (seen.add(tok)) {
          val h = XXH64.hashUTF8String(UTF8String.fromString(tok), 42L)
          var b = 0
          while (b < 64) {
            votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= 1L << b; b += 1 }
    fp
  }
}

/** Codegen'd multi-set token counter: per-language stopword hit counts for
  * ALL languages in ONE scan of the string. Semantics per language are
  * identical to [[TokenSetCount]] over that language's word list, but a
  * token resolves against one word → language-bitmask map instead of one
  * HashSet probe (and one full string traversal) PER language — the
  * language-ID argmax drops from |langs| text scans to one. Output is
  * `array<long>` in the caller's list order; bounded at 64 sets by the
  * bitmask width. */
case class MultiTokenSetCount(child: Expression, sets: Seq[Seq[String]])
  extends UnaryRowKernel[UTF8String, ArrayData] {

  require(sets.nonEmpty && sets.length <= 64,
    s"multi_token_set_count supports 1..64 sets, got ${sets.length}")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val masks: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    sets.zipWithIndex.foreach { case (words, idx) =>
      words.foreach { w =>
        val prev = m.get(w)
        m.put(w, java.lang.Long.valueOf((if (prev == null) 0L else prev.longValue()) | (1L << idx)))
      }
    }
    m
  }

  override def kernel(text: UTF8String): ArrayData = {
    val s = text.toString
    val cnts = new Array[Long](sets.length)
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        val m = masks.get(s.substring(start, i))
        if (m != null) {
          var rest = m.longValue()
          while (rest != 0L) {
            val b = java.lang.Long.numberOfTrailingZeros(rest)
            cnts(b) += 1L
            rest &= rest - 1L
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(cnts)
  }
}

/** Codegen'd Σc² over whitespace-token frequencies — the integer moment
  * behind Simpson diversity (1 − Σc²/n²) and effective vocabulary
  * (n²/Σc²): one row-local pass building a token→count map, then an exact
  * long sum of squared counts. The Shannon form of the same concentration
  * signal needs a transcendental log whose last-ulp rounding differs
  * between engines (the reason the BM25 here is log-free); Σc² keeps the
  * whole metric in exact integer arithmetic until one final division.
  * Zero shuffles at any corpus size — the per-(doc, token) explode +
  * count aggregate form shuffles every token occurrence. */
case class TokenSqFreqSum(child: Expression) extends UnaryRowKernel[UTF8String, Long] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def kernel(text: UTF8String): Long = {
    val s = text.toString
    val counts = new java.util.HashMap[String, Long]()
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        counts.merge(s.substring(start, i), 1L, (a, b) => a + b)
        start = i + 1
      }
      i += 1
    }
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next(); sum += c * c }
    sum
  }
}

/** Codegen'd `struct(n, k, s)` char-count moments: n = code-point count,
  * k = distinct code points, s = Σ c·round(ln c · 10⁶) — semantics
  * identical to the explode → groupBy(doc, char) → aggregate pipeline,
  * but ROW-LOCAL: the ~70×-row char explode and its shuffle never exist,
  * so the entropy gate stays inside the document scan at any scale. */
case class CharEntropyMoments(child: Expression)
    extends UnaryRowKernel[UTF8String, InternalRow] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("s", LongType, nullable = false)))

  /** One pass over code points; the log lands on the integer micro-nat
    * grid via `Math.round` = floor(x+0.5) on a positive value — the same
    * binary rounding the DuckDB oracle applies (libm 1-ulp differences
    * move ln·10⁶ by ~10⁻⁹, never across a .5 boundary in practice; the
    * shared-definition spec replays the Shannon formula). */
  override def kernel(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.put(cp, counts.get(cp) + 1L) // an absent key reads as 0L
      n += 1L
      i += Character.charCount(cp)
    }
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      sum += c * Math.round(Math.log(c.toDouble) * 1e6)
    }
    InternalRow(n, counts.size.toLong, sum)
  }
}

/** Codegen'd per-document repetition moments
  * `struct(n_tokens, n_distinct, top_cnt, n_bigrams, top_big_cnt)` —
  * value-identical to the two explode → groupBy(doc, unit) → per-doc
  * aggregate pipelines (tokens, adjacent bigrams) they replace, but
  * ROW-LOCAL: the token and bigram explodes, their four doc-keyed
  * exchanges and the doc-keyed join never exist, so the Gopher repetition
  * gate fuses into the document scan at any scale (the
  * [[CharEntropyMoments]] lesson applied to the token/bigram stats). */
case class TokenRepetitionStats(child: Expression)
    extends UnaryRowKernel[UTF8String, InternalRow] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_big_cnt", LongType, nullable = false)))

  /** One walk over the string: token counts and adjacent-bigram counts
    * over SUBSTRING identity — a bigram `concat(tk_i, ' ', tk_{i+1})` is
    * exactly the substring from tok_i's start to tok_{i+1}'s end
    * (split(" ") separators are single spaces), so no string is ever
    * concatenated. */
  override def kernel(text: UTF8String): InternalRow = {
    val s = text.toString
    val tokCounts = new java.util.HashMap[String, Long]()
    val bigCounts = new java.util.HashMap[String, Long]()
    var nTokens = 0L
    var start = 0
    var prevStart = -1
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        val tok = s.substring(start, i)
        tokCounts.put(tok, tokCounts.get(tok) + 1L) // an absent key reads as 0L
        nTokens += 1L
        if (prevStart >= 0) {
          val big = s.substring(prevStart, i) // tok_{k-1} + ' ' + tok_k
          bigCounts.put(big, bigCounts.get(big) + 1L)
        }
        prevStart = start
        start = i + 1
      }
      i += 1
    }
    var topTok = 0L
    val it = tokCounts.values().iterator()
    while (it.hasNext) { val c = it.next(); if (c > topTok) topTok = c }
    var topBig = 0L
    val ib = bigCounts.values().iterator()
    while (ib.hasNext) { val c = ib.next(); if (c > topBig) topBig = c }
    InternalRow(nTokens, tokCounts.size.toLong, topTok,
      if (nTokens >= 2L) nTokens - 1L else 0L, topBig)
  }
}

/** Codegen'd fused regex battery: per-pattern INDEPENDENT match counts
  * over the ORIGINAL text (exactly `regexp_count(text, p)` per pattern —
  * successive non-overlapping `Matcher.find`), plus the text after the
  * SEQUENTIAL class-ordered redaction fold (exactly the nested
  * `regexp_replace(...regexp_replace(text, p₁, r₁)..., pₙ, rₙ)`). One
  * UTF8String → String materialization and one compiled-pattern battery
  * per row instead of count+replace expression nodes each re-converting
  * the text (4 counts + 4 replaces = 8 conversions for the PII battery).
  * Patterns are compiled once per expression instance with the same
  * default flags Spark's regexp functions use; replacements contain no
  * `$`/`\` so `replaceAll` equals Spark's appendReplacement fold. */
case class MultiRegexScan(child: Expression, patterns: Seq[(String, String)])
  extends UnaryRowKernel[UTF8String, InternalRow] {

  require(patterns.nonEmpty, "multi_regex_scan: need at least one pattern")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("counts", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("redacted", StringType, nullable = false)))

  @transient private lazy val compiled: Array[java.util.regex.Pattern] =
    patterns.map(p => java.util.regex.Pattern.compile(p._1)).toArray
  @transient private lazy val replacements: Array[String] =
    patterns.map(_._2).toArray

  override def kernel(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new Array[Any](compiled.length)
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      var c = 0L
      while (m.find()) c += 1L
      counts(i) = c
      i += 1
    }
    var red = s
    i = 0
    while (i < compiled.length) {
      red = compiled(i).matcher(red).replaceAll(replacements(i))
      i += 1
    }
    InternalRow(new GenericArrayData(counts), UTF8String.fromString(red))
  }
}

/** Codegen'd per-document character inventory: the DISTINCT non-space
  * code-point characters of the text, as array<string> of 1-character
  * pieces. Semantics identical to the explode chain it replaces —
  * `explode(split(text, ' '))` → `char_length ≥ 1` →
  * `explode(transform(sequence(1, char_length(token)), i →
  * substring(token, i, 1)))` — because a token character is exactly a
  * non-space character of the text (split(" ") separators are single
  * spaces and empty tokens contribute nothing), and `substring(_, i, 1)`
  * is one code point, reproduced here. ROW-LOCAL where the old form
  * exploded every character occurrence of the corpus through a shuffle:
  * the distinct that remains downstream is over per-doc alphabets
  * (bounded by the character set, not the corpus). */
case class DistinctChars(child: Expression) extends UnaryRowKernel[UTF8String, ArrayData] {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  /** One pass over code points, first-appearance order (order is
    * irrelevant to the distinct+sort consumers but kept deterministic). */
  override def kernel(text: UTF8String): ArrayData = {
    val s = text.toString
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      if (cp != ' ') seen.add(s.substring(i, i + n))
      i += n
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd consecutive word-trigram fan-out:
  * array<struct<w1, w2, w3>> of every (tkᵢ, tkᵢ₊₁, tkᵢ₊₂) window, empty
  * below 3 tokens. Semantics identical to the interpreted
  * `transform(sequence(1, size(tk) − 2), i → struct(element_at(tk, i),
  * element_at(tk, i + 1), element_at(tk, i + 2)))` under its
  * `size(tk) ≥ 3` guard (the guard lives here — `sequence(1, 0)` would
  * DESCEND), null elements passed through like element_at. The
  * [[TokenPairsWindow]] lesson applied to the phrase-derivation fan-out:
  * the lambda tree evaluated ~5 expression nodes per token across the
  * corpus. */
case class TokenTriples(child: Expression) extends UnaryRowKernel[ArrayData, ArrayData] {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true),
      StructField("w3", StringType, nullable = true))),
    containsNull = false)

  override def kernel(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val m = math.max(n - 2, 0)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = InternalRow(
        input.getUTF8String(i), input.getUTF8String(i + 1),
        input.getUTF8String(i + 2))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd adjacent-bigram fan-out: array<string> of every
  * `tkᵢ + " " + tkᵢ₊₁`, empty below 2 tokens. Semantics identical to the
  * interpreted `when(size(tk) ≥ 2, transform(sequence(1, size(tk) − 1),
  * i → concat(element_at(tk, i), ' ', element_at(tk, i + 1))))
  * .otherwise(array())` — a null token makes that element null exactly as
  * `concat` would (unreachable from `split`, whose tokens are never
  * null). The [[TokenTriples]] lesson on the bigram frequency index and
  * the coherence scorer: the lambda tree evaluated ~4 interpreted nodes
  * per token across the corpus. (On a NULL input array this returns NULL
  * where the `when` form returned array(); both consumers explode the
  * result, where the two are indistinguishable.) */
case class TokenBigrams(child: Expression) extends UnaryRowKernel[ArrayData, ArrayData] {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def kernel(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val m = math.max(n - 1, 0)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (input.isNullAt(i) || input.isNullAt(i + 1)) null
        else UTF8String.concat(input.getUTF8String(i),
          TokenBigrams.Space, input.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object TokenBigrams {
  private val Space = UTF8String.fromString(" ")
}

/** Codegen'd bigram-position fan-out with a BOS row:
  * array<struct<prev, cur>> of length n for n tokens — entry 1 is
  * `(NULL, tk₁)`, entry i is `(tkᵢ₋₁, tkᵢ)`. Semantics identical to the
  * interpreted `transform(sequence(1, size(tk)), i → struct(CASE WHEN
  * i = 1 THEN NULL ELSE element_at(tk, i − 1) END, element_at(tk, i)))`
  * (empty input → empty array — `sequence(1, 0)` never runs because the
  * caller's tokens come from `split`, which is never empty; null elements
  * passed through like element_at). This is the single corpus
  * tokenization the bigram-LM scorer fans out through — ~6 interpreted
  * nodes per token position across the corpus before. */
case class TokenPrevCur(child: Expression) extends UnaryRowKernel[ArrayData, ArrayData] {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("prev", StringType, nullable = true),
      StructField("cur", StringType, nullable = true))),
    containsNull = false)

  override def kernel(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = InternalRow(
        if (i == 0 || input.isNullAt(i - 1)) null else input.getUTF8String(i - 1),
        if (input.isNullAt(i)) null else input.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd one-pass summary of a long array:
  * struct<n, n_ge, sum> = (element count, count of elements ≥ `ge`,
  * wrapping Σ). Semantics identical to the three expressions it replaces
  * on the BPE-encode tail — `size(ids)`, `size(filter(ids, _ ≥ ge))`,
  * `aggregate(ids, 0L, _ + _)` (long addition wraps in both) — which
  * each re-walked the array with an interpreted lambda per element.
  * Its input is the BPE encoder's null-free id array. A NULL ELEMENT
  * yields NULL: the replaced forms disagree with each other on null
  * elements, so no partial answer is reproduced. */
case class LongArrayStats(child: Expression, ge: Long)
    extends UnaryRowKernel[ArrayData, InternalRow] {

  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("n_ge", LongType, nullable = false),
    StructField("sum", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def kernel(input: ArrayData): InternalRow = {
    val n = input.numElements()
    val hasNull = child.dataType.asInstanceOf[ArrayType].containsNull
    var nGe = 0L
    var sum = 0L
    var i = 0
    while (i < n) {
      if (hasNull && input.isNullAt(i)) return null
      val v = input.getLong(i)
      if (v >= ge) nGe += 1L
      sum += v
      i += 1
    }
    InternalRow(n.toLong, nGe, sum)
  }
}

/** Codegen'd one-pass Gopher token moments
  * `struct<n_tokens, sum_len, n_alpha, n_stop>` over the whitespace
  * tokenization: token count, Σ per-token code-point lengths, count of
  * tokens containing an ASCII letter, and the number of DISTINCT tokens
  * that are members of `words`. Semantics identical to the four
  * token-walking expressions of the Gopher rule battery it replaces —
  * `size(tk)`, `aggregate(transform(tk, t → length(t)), 0L, +)`,
  * `size(filter(tk, t → t.rlike("[A-Za-z]")))` and
  * `size(array_intersect(array_distinct(tk), words))` with
  * `tk = split(text, " ")` — which evaluated interpreted lambda trees per
  * token (including a regex machine per token for the alpha test) across
  * the corpus. Character = code point (the [[RollingHash]] discipline:
  * Spark `length` is UTF8String.numChars), duplicate `words` entries
  * count once exactly as `array_intersect`'s distinct output does, and
  * `split` token boundaries are every single space, trailing empties
  * kept. `words.size` ≤ 64 (bitmask state; the stopword tables are
  * single-digit sized). */
case class GopherTokenStats(child: Expression, words: Seq[String])
  extends UnaryRowKernel[UTF8String, InternalRow] {
  require(words.size <= 64, s"gopher_token_stats: ${words.size} words > 64")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  /** Word → bit index; first index wins on duplicates so a duplicated
    * word sets one bit (array_intersect counts distinct members). */
  @transient private lazy val wordIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    words.foreach(w => if (!m.containsKey(w)) m.put(w, m.size))
    m
  }

  /** Longest word in UTF-16 units — tokens longer than this skip the
    * substring + map probe entirely. */
  @transient private lazy val maxWordLen: Int =
    if (words.isEmpty) 0 else words.map(_.length).max

  override def kernel(text: UTF8String): InternalRow = {
    val s = text.toString
    var nTokens = 0L
    var sumLen = 0L
    var nAlpha = 0L
    var stopMask = 0L
    var tokLen = 0L
    var alpha = false
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        nTokens += 1L
        sumLen += tokLen
        if (alpha) nAlpha += 1L
        val ulen = i - start
        if (ulen > 0 && ulen <= maxWordLen) {
          val idx = wordIdx.get(s.substring(start, i))
          if (idx != null) stopMask |= 1L << idx.intValue()
        }
        start = i + 1
        tokLen = 0L
        alpha = false
      } else {
        val ch = s.charAt(i)
        if (!Character.isLowSurrogate(ch)) tokLen += 1L
        if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')) alpha = true
      }
      i += 1
    }
    InternalRow(
      nTokens, sumLen, nAlpha, java.lang.Long.bitCount(stopMask).toLong)
  }
}
