package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (SURVEY §2.8). All pure column expressions — codegen-friendly, no UDFs —
  * so filters and projections stay inside whole-stage codegen at 100 TB.
  */
object TextFns {

  /** Whitespace tokenization — the reference corpus is space-separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct token set (for Jaccard / stopword scoring). */
  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Distinct n-word shingles ("n-grams of words"), the standard MinHash
    * input unit. Guarded for texts shorter than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val idx = sequence(lit(1), size(toks) - (n - 1))
    val grams = transform(idx, i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array().cast("array<string>")))
  }

  /** Distinct n-word shingles as int64 hashes — hash-of-token-tuple, no
    * string materialization (the concat form spends its time building and
    * de-duplicating shingle strings; identity-by-hash is equivalent for
    * set-similarity counts, within-set collision ≈ |set|²/2⁶⁵). Compiled
    * ([[HashedShingles]]); `KernelRefs.hashedShinglesRef` (test-only)
    * keeps the declarative reference semantics. */
  def hashedShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      HashedShingles(org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** ALL n-shingle hashes in token order (index = position, in-doc repeats
    * kept) — the positional substring-dedup input shape; same compiled
    * one-scan expression as [[hashedShingles]] minus the distinct. */
  def hashedShinglesAll(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      HashedShingles(org.apache.spark.sql.GraftColumnBridge.expression(text), n,
        distinct = false))

  /** Tokens-in-set count, e.g. stopword hits. Pure expression (no join). */
  def hitCount(tokensCol: Column, set: Seq[String]): Column =
    size(filter(tokensCol, t => t.isin(set.map(lit): _*)))

  /** Codegen'd tokens-in-set count straight off the text column — same
    * semantics as `hitCount(tokens(text), set)` (see [[TokenSetCount]]). */
  def tokenSetCount(text: Column, set: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenSetCount(org.apache.spark.sql.GraftColumnBridge.expression(text), set))

  /** Codegen'd char-count moments `struct(n, k, s)` for the entropy gate
    * (see [[CharEntropyMoments]]) — row-local, no char explode. */
  def charEntropyMoments(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CharEntropyMoments(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** All sets counted in ONE text scan (`array<long>` in `sets` order) —
    * per-element semantics identical to [[tokenSetCount]] of that set
    * (see [[MultiTokenSetCount]]). */
  def multiTokenSetCount(text: Column, sets: Seq[Seq[String]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MultiTokenSetCount(org.apache.spark.sql.GraftColumnBridge.expression(text), sets))

  /** Tiny per-language stopword tables for the n-gram/stopword language-ID
    * heuristic. Public-knowledge closed-class words; deliberately small —
    * language ID at corpus scale is a ratio over these sets, not a model. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Languages in a fixed tie-break order (argmax is deterministic). */
  val langOrder: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  /** English-stopword hit ratio of the token stream. */
  def stopRatio(text: Column): Column =
    tokenSetCount(text, stopwords("en")).cast("double") / size(tokens(text)).cast("double")

  /** Type-token ratio (distinct / total tokens) — repetition proxy. */
  def typeTokenRatio(text: Column): Column =
    size(distinctTokens(text)).cast("double") / size(tokens(text)).cast("double")

  /** Length saturation: token count against a 100-token knee, capped at 1. */
  def lenSaturation(text: Column): Column =
    least(lit(1.0), size(tokens(text)).cast("double") / 100.0)

  /** Composite document quality score (UNROUNDED): fixed weights over
    * [[stopRatio]] / [[typeTokenRatio]] / [[lenSaturation]] in a fixed
    * double op order, so the oracle engine reproduces it bit-for-bit and a
    * threshold filter on the rounded value is deterministic across engines. */
  def qualityScore(text: Column): Column =
    stopRatio(text) * 0.4 + typeTokenRatio(text) * 0.3 + lenSaturation(text) * 0.3

  /** Oracle-side (DuckDB) twin of [[bpeEstimate]] — ONE definition for the
    * three oracle queries that embed it, so the estimate can never drift
    * engine-by-engine (the rnd4/rnd4Sql pairing convention). */
  def bpeEstimateSql(textExpr: String): String =
    s"CAST(list_sum(list_transform(string_split($textExpr, ' '), " +
      "t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT)"

  /** BPE-ish subword count estimate: ceil(len/4) pieces per word — the
    * ~4-chars-per-token rule of thumb, as ONE codegen'd scan of the string
    * ([[BpeCount]]; value-identical to the higher-order form
    * `KernelRefs.bpeEstimateRef`, pinned by TrainPrepSpec). */
  def bpeEstimate(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      BpeCount(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Exact BPE piece count under a caller-supplied ranked merge table
    * ([[BpeMergeCount]] — the real greedy-merge algorithm; load a
    * tokenizer's merges.txt to get production counts). Curried to slot
    * straight into the `tokenCount` parameter of the packing/quantile
    * operators: `packWindows(..., tokenCount = bpeMergeCount(merges))`.
    * Not ANSI-SQL-expressible, so plans built on it are spec-pinned
    * rather than oracle-gated (and there is no SQL-registry form: a
    * ranked merge table has no literal-argument encoding worth having). */
  def bpeMergeCount(merges: Seq[(String, String)])(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      BpeMergeCount(org.apache.spark.sql.GraftColumnBridge.expression(text), merges))

  /** Exact BPE ENCODING under a caller-supplied ranked merge table
    * ([[BpeEncode]]): text → array<long> of token ids in piece order,
    * under the [[BpeMerge.idMap]] derived-vocab scheme. The id-sequence
    * form is what a training loader actually consumes; [[bpeMergeCount]]
    * is its length. Same curried shape and same no-SQL-registry rationale
    * as the count. */
  def bpeEncode(merges: Seq[(String, String)])(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      BpeEncode(org.apache.spark.sql.GraftColumnBridge.expression(text), merges))

  /** 64-bit SimHash fingerprint of the text's distinct whitespace tokens —
    * one codegen'd row-local pass ([[SimHash64]]; bit-identical to the
    * vote-Aggregator form `KernelRefs.simhashRef`, pinned by
    * DedupSpec). */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SimHash64(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Σc² over whitespace-token frequencies — one codegen'd row-local pass
    * ([[TokenSqFreqSum]]); the exact integer moment behind Simpson
    * diversity and effective vocabulary. */
  def tokenSqFreqSum(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenSqFreqSum(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Per-doc token/bigram repetition moments
    * `struct(n_tokens, n_distinct, top_cnt, n_bigrams, top_big_cnt)` in one
    * codegen'd row-local pass ([[TokenRepetitionStats]]). */
  def tokenRepetitionStats(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenRepetitionStats(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Fused regex battery `struct(counts: array<long>, redacted: string)` —
    * independent per-pattern `regexp_count`s over the original text plus
    * the sequential class-ordered `regexp_replace` fold, one compiled pass
    * per row ([[MultiRegexScan]]). */
  def multiRegexScan(text: Column, patterns: Seq[(String, String)]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MultiRegexScan(org.apache.spark.sql.GraftColumnBridge.expression(text), patterns))

  /** Distinct non-space characters of the text as 1-char strings — one
    * codegen'd row-local pass ([[DistinctChars]]); the per-character
    * corpus explode the char-inventory pipeline used never exists. */
  def distinctChars(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      DistinctChars(org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Consecutive word trigrams `array<struct<w1, w2, w3>>` of a token
    * array, empty below 3 tokens — one codegen'd pass ([[TokenTriples]]). */
  def tokenTriples(tokensCol: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenTriples(org.apache.spark.sql.GraftColumnBridge.expression(tokensCol)))

  /** Adjacent bigrams `array<string>` (`"tkᵢ tkᵢ₊₁"`) of a token array,
    * empty below 2 tokens — one codegen'd pass ([[TokenBigrams]]). */
  def tokenBigrams(tokensCol: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenBigrams(org.apache.spark.sql.GraftColumnBridge.expression(tokensCol)))

  /** Bigram positions with a BOS row: `array<struct<prev, cur>>`, entry 1
    * `(NULL, tk₁)`, entry i `(tkᵢ₋₁, tkᵢ)` — one codegen'd pass
    * ([[TokenPrevCur]]). */
  def tokenPrevCur(tokensCol: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenPrevCur(org.apache.spark.sql.GraftColumnBridge.expression(tokensCol)))

  /** One-pass `struct<n, n_ge, sum>` over an array<long> — element count,
    * count ≥ `ge`, wrapping sum ([[LongArrayStats]]). */
  def longArrayStats(idsCol: Column, ge: Long): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      LongArrayStats(org.apache.spark.sql.GraftColumnBridge.expression(idsCol), ge))

  /** One-pass Gopher token moments
    * `struct<n_tokens, sum_len, n_alpha, n_stop>` — token count, Σ token
    * code-point lengths, tokens containing an ASCII letter, distinct
    * tokens ∈ `set` ([[GopherTokenStats]]). */
  def gopherTokenStats(text: Column, set: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      GopherTokenStats(org.apache.spark.sql.GraftColumnBridge.expression(text), set))
}
