package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionFrames
import graft.Tables.{documents, embeddings, orderedRows, rnd4, rnd4Sql}
import graft.functions.{TextFns, VectorFns}
import graft.operators.{Dedup, Knn, Multimodal, NaiveBayes, Pca, TrainPrep}
import graft.streaming.{LengthProfileStream, PrefixDupStream}

/** [EXT] LLM-data-pipeline queries (SURVEY §2.8) over the `documents` /
  * `embeddings` fixtures: text analysis, dedup (exact / n-gram Jaccard /
  * MinHash-LSH / SimHash), similarity search, multimodal plumbing.
  *
  * Determinism/oracle notes:
  *  - All float outputs are rounded to 4 dp; similarity scores are computed
  *    as sequential double folds on both engines so the pre-round values are
  *    bit-identical.
  *  - `ext_dedup_minhash` banding (12 bands × 4 rows) has pair-miss
  *    probability (1−j⁴)¹² < 3e-6 at the fixture's near-dup similarity
  *    (j ≥ 0.9) while keeping chance candidates rare (j≈0.1 collides with
  *    p≈1e-3), so its verified-candidate output equals the exact-Jaccard
  *    result and shares its oracle; hashes are deterministic (xxhash64), so
  *    this equality is a fixed fact of the fixture, not a coin flip.
  *  - operators whose OUTPUT depends on xxhash64 (which the oracle engine
  *    lacks) are gated through deterministic contract audits instead:
  *    `ext_dedup_simhash` emits the Hamming-separation grid
  *    ([[graft.operators.Dedup.simhashSeparation]]) and the approximate-knn
  *    entries emit recall grids ([[graft.operators.Knn.recallAudit]]) —
  *    the oracle recomputes every determinable column (populations, pair
  *    counts, floors) and asserts ok = true; the raw hash-dependent
  *    outputs stay pinned in DedupSpec/KnnSpec.
  */
object ExtQueries {
  type Q = (SparkSession, String) => DataFrame

  private val P = 1000000007L // rolling-hash modulus (fits 31·P + cp in a long)

  // -- text analysis ---------------------------------------------------------

  /** Per-document token statistics — size/distinct/avg-length, all pure
    * column expressions (codegen, no shuffle beyond the scan). */
  private val extTextStats: Q = (s, d) => {
    val toks = TextFns.tokens(col("text"))
    val nTok = size(toks).cast("long")
    documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nTok.as("n_tokens"),
      size(TextFns.distinctTokens(col("text"))).cast("long").as("n_distinct"),
      // single-space separated ⇒ letters = chars − (n−1) separators
      rnd4((length(col("text")) - nTok + 1).cast("double") / nTok).as("avg_token_len"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, MassiveText quality
    * filtering): duplicate-token fraction, top-token fraction, top-bigram
    * fraction — the "is this doc mostly the same thing over and over"
    * score a pretraining filter thresholds on. Two explode → per-(doc, unit)
    * count → per-doc aggregate pipelines (tokens, bigrams) joined on
    * doc_id; every shuffle is keyed by doc_id so the join is co-located.
    * All counts integer; ratios are rounded through [[rnd4]]. */
  private val extTextRepetition: Q = (s, d) => {
    // ROW-LOCAL: all five moments come from one codegen'd pass over the
    // text ([[TokenRepetitionStats]] — the CharEntropyMoments lesson), so
    // the token and bigram explodes, their four doc-keyed exchanges and
    // the doc-keyed join of the previous form never exist; the repetition
    // gate fuses into the document scan at any scale. Value-identical:
    // n_tokens = Σ token counts, n_distinct/top_cnt over the same token
    // multiset, bigram identity by substring = the concat(tk_i,' ',tk_i+1)
    // string, and docs without bigrams (n_bigrams = 0) take the same 0.0
    // the left join's coalesce produced.
    documents(s, d)
      .select(col("doc_id"), TextFns.tokenRepetitionStats(col("text")).as("m"))
      .select(col("doc_id"), col("m.n_tokens").as("n_tokens"),
        rnd4((col("m.n_tokens") - col("m.n_distinct")).cast("double") / col("m.n_tokens"))
          .as("dup_token_frac"),
        rnd4(col("m.top_cnt").cast("double") / col("m.n_tokens")).as("top_token_frac"),
        when(col("m.n_bigrams") > 0,
          rnd4(col("m.top_big_cnt").cast("double") / col("m.n_bigrams")))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** PII/URL signal scan — the pre-training scrub pass: per-doc counts of
    * email / URL / IPv4 / long-digit-run matches, a has_pii flag, and the
    * doc's length after redacting each class (fixed class order, so
    * overlaps resolve identically on every engine). Pure regexp column
    * expressions over one scan — codegen'd, zero shuffles at any scale.
    * Patterns stay inside the Java-regex ∩ RE2 common dialect (no
    * backreferences/lookaround), so the DuckDB oracle matches exactly. */
  private val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiUrl = "https?://[^\\s]+"
  private val PiiIpv4 = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  private val PiiDigits = "\\d{7,}"

  /** The four (pattern, placeholder) classes in redaction fold order —
    * ONE definition for the scan and the redact pass (and the fused
    * [[graft.functions.MultiRegexScan]] battery both ride). */
  private val PiiClasses = Seq(PiiEmail -> "<EMAIL>", PiiUrl -> "<URL>",
    PiiIpv4 -> "<IP>", PiiDigits -> "<NUM>")

  /** The scan itself, over any (doc_id, text) frame — split out so the spec
    * can plant synthetic PII (the fixture corpus is clean, so the fixture
    * oracle pins the zero case and the spec pins the match semantics).
    * All four independent counts AND the sequential redaction fold come
    * from ONE fused compiled battery per row ([[TextFns.multiRegexScan]]):
    * the 4-count + 4-replace expression-node form materialized the
    * UTF8String text into a java String 8× per row. */
  private[graft] def piiScan(docs: DataFrame): DataFrame = {
    val names = Seq("n_emails", "n_urls", "n_ipv4", "n_digit_runs")
    docs.select(col("doc_id"),
        TextFns.multiRegexScan(col("text"), PiiClasses).as("__p"))
      .select(
        col("doc_id") +:
          names.zipWithIndex.map { case (n, i) =>
            element_at(col("__p.counts"), i + 1).as(n) } :+
          length(col("__p.redacted")).cast("long").as("n_redacted_chars"): _*)
      // derived from the count COLUMNS — the battery runs once per row
      .withColumn("has_pii", names.map(n => col(n) > 0).reduce(_ || _))
      .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_ipv4"),
        col("n_digit_runs"), col("has_pii"), col("n_redacted_chars"))
  }

  private val extTextPii: Q = (s, d) => piiScan(documents(s, d)).transform(orderedRows(_, "doc_id"))

  /** The REDACTION pass itself — [[piiScan]] emits the audit counts; this
    * emits the rewritten corpus a shard-writer actually ships (each PII
    * class replaced by its placeholder, counts measured on the ORIGINAL
    * text). Same fold order as the scan, one row-local pass, zero
    * shuffles; placeholders can't re-match later patterns (no digits, no
    * scheme, no @). */
  private val extPiiRedact: Q = (s, d) =>
    // same fused battery as [[piiScan]] — one compiled pass per row
    documents(s, d)
      .select(col("doc_id"), TextFns.multiRegexScan(col("text"), PiiClasses).as("__p"))
      .select(col("doc_id"), col("__p.redacted").as("text_redacted"),
        PiiClasses.indices.map(i => element_at(col("__p.counts"), i + 1))
          .reduce(_ + _).as("n_redactions"))
      .transform(orderedRows(_, "doc_id"))

  /** Corpus-level top-50 bigrams with term and document frequency — the
    * frequency index contamination checks and LM analyses read. One
    * explode → groupBy(bigram) with map-side partial aggregation, then a
    * TakeOrdered top-k — the shuffle moves one row per distinct
    * (partition, bigram), not per occurrence, so the shape holds at
    * corpus scale. */
  private[graft] def bigramCounts(docs: DataFrame, k: Int): DataFrame = {
    val tk = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    // bigram fan-out compiled ([[graft.functions.TokenBigrams]] — the
    // size ≥ 2 guard lives inside the kernel, empty array below 2): the
    // interpreted transform/concat lambda evaluated ~4 nodes per token
    tk.select(col("doc_id"), explode(TextFns.tokenBigrams(col("tk"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("bigram"))
      .limit(k)
  }

  private val extNgramCounts: Q = (s, d) => bigramCounts(documents(s, d), k = 50)

  /** Whitespace token count + BPE-ish subword estimate (~4 chars/piece). */
  private val extTokenCount: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_ws_tokens"),
      TextFns.bpeEstimate(col("text")).as("n_bpe_est"))
      .transform(orderedRows(_, "doc_id"))

  /** Stopword-ratio language ID: argmax over per-language stopword hit
    * counts, first-in-order tie-break, 'und' when nothing hits. All
    * language counts come from ONE codegen'd text scan
    * ([[graft.functions.MultiTokenSetCount]] — one word→mask probe per
    * token instead of |langs| full scans); the argmax then reads the
    * materialized array, so the string work never repeats per language. */
  /** (doc_id, lang, lang_guess) — the shared n-gram-heuristic detection
    * frame behind [[extLangId]] (per-doc verdicts) and [[extLangConfusion]]
    * (the corpus-QC cross-tab). One codegen'd all-languages stopword scan
    * per row, zero joins. */
  private def langGuessed(docs: DataFrame): DataFrame = {
    val langs = TextFns.langOrder
    val withHits = docs.withColumn("__hits",
      TextFns.multiTokenSetCount(col("text"), langs.map(TextFns.stopwords)))
    val hits = langs.indices.map(i => element_at(col("__hits"), i + 1))
    val m = greatest(hits: _*)
    val guess = langs.zip(hits)
      .foldLeft(when(m <= 0, "und")) { case (acc, (l, h)) => acc.when(h === m, l) }
      .otherwise("und")
    withHits.select(col("doc_id"), col("lang"), guess.as("lang_guess"))
  }

  private val extLangId: Q = (s, d) =>
    langGuessed(documents(s, d))
      .select(col("doc_id"), col("lang_guess"), col("lang"),
        (col("lang_guess") === col("lang")).as("hit"))
      .transform(orderedRows(_, "doc_id"))

  /** Declared-vs-detected language confusion matrix — the corpus-QC view
    * of [[extLangId]]: which declared languages the detector mistakes for
    * which (mislabeled slices surface as off-diagonal mass). One
    * languages²-bounded map-side-combined aggregate over the row-local
    * detection frame. */
  private val extLangConfusion: Q = (s, d) =>
    langGuessed(documents(s, d))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .transform(graft.Tables.orderedReport(_, "lang", "lang_guess"))

  /** Composite quality score: stopword ratio + type-token ratio + length
    * saturation, in fixed double arithmetic (identical op order both
    * engines). */
  private val extQuality: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      rnd4(TextFns.stopRatio(col("text"))).as("stop_ratio"),
      rnd4(TextFns.typeTokenRatio(col("text"))).as("ttr"),
      rnd4(TextFns.qualityScore(col("text"))).as("quality"))
      .transform(orderedRows(_, "doc_id"))

  /** Corpus-frequency rarity profile per doc — the unigram-LM quality
    * proxy with integer-exact semantics (a log-prob perplexity proxy would
    * hang the oracle on cross-engine `ln` ulps; rank/ratio arithmetic
    * can't diverge). `mean_df` = occurrence-weighted mean document
    * frequency of the doc's tokens (how "common" its vocabulary is);
    * `rare_frac` = fraction of occurrences whose token appears in ≤ 2
    * docs (OCR garbage / gibberish density).
    *
    * Shape: one (doc, token) pre-aggregate (map-side combined), df via a
    * token-keyed count aggregate JOINED back — deliberately not a
    * count-window: unigram frequencies are maximally Zipf-skewed, and a
    * window partition for "the" (billions of rows at corpus scale) is an
    * unsplittable straggler, while AQE's skew-join can split the hot
    * token's join partition because every split meets the same 1-row df
    * side. Then the per-doc rollup. Every exchange carries one row per
    * distinct group, never raw occurrences. */
  private val extTextRarity: Q = (s, d) => {
    // persisted: the df rollup and the join probe read ONE computation
    // (SessionFrames.release drains it between queries — topTerms' pattern)
    val tc = SessionFrames.track(documents(s, d)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt")))
    val dfTab = tc.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tc.join(dfTab, "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        rnd4(sum(col("cnt") * col("df")).cast("double") / sum(col("cnt"))).as("mean_df"),
        rnd4(sum(when(col("df") <= 2, col("cnt")).otherwise(0L)).cast("double")
          / sum(col("cnt"))).as("rare_frac"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Bigram-LM coherence — the oracle-exact stand-in for LM-perplexity
    * quality filtering (the CCNet/RedPajama KenLM gate): a doc whose word
    * SEQUENCES also occur elsewhere in the corpus reads like language; one
    * whose adjacent pairs are one-off juxtapositions reads like noise. Per
    * doc: bigram occurrences, mean bigram document-frequency, and the
    * attested fraction (occurrences whose bigram appears in ≥ 2 distinct
    * docs — order-sensitive, so it is NOT [[extTextRarity]]'s bag-of-words
    * rarity). Ratios beat log-probs here: engine-exact (no `ln`), same
    * monotone filter ordering.
    *
    * Shape: [[extTextRarity]]'s skew-splittable df form over bigrams — the
    * df table is a separate aggregate joined back (AQE can split a hot
    * bigram's join partition; a count-window over the occurrence table
    * could not split its partition), and every exchange carries one row
    * per distinct (doc, bigram), never raw occurrences. Docs with < 2
    * tokens have no bigrams and no row (documented contract). */
  private val extLmCoherence: Q = (s, d) => {
    val docs = documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    // persisted for the same two-reader reason as extTextRarity's tc;
    // bigram fan-out compiled ([[graft.functions.TokenBigrams]])
    val bc = SessionFrames.track(docs
      .select(col("doc_id"), explode(TextFns.tokenBigrams(col("tk"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt")))
    val dfTab = bc.groupBy(col("b")).agg(count(lit(1)).as("df"))
    bc.join(dfTab, "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        rnd4(sum(col("cnt") * col("df")).cast("double") / sum(col("cnt"))).as("mean_df"),
        rnd4(sum(when(col("df") >= 2, col("cnt")).otherwise(0L)).cast("double")
          / sum(col("cnt"))).as("attested_frac"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Add-½-smoothed bigram language-model cross-entropy per document — the
    * LM-quality signal CCNet-style pipelines filter and bucket corpora on
    * (Wenzek et al. 2020 score with a 5-gram KenLM; the bigram form keeps
    * the same shape oracle-checkable). The model is trained on the corpus
    * itself: bigram type counts c2, head counts c1 = Σ_cur c2, vocab size
    * V; a doc's score is mean −ln((c2+½)/(c1+½V)) over its bigram
    * occurrences.
    *
    * Scale + determinism shape: corpus-sized work is two doc/bigram-keyed
    * shuffles (per-(doc,bigram) tf — persisted, read by both the trainer
    * and the scorer — and the per-doc sum); the model frames are
    * VOCAB²-bounded. Log-probs are rounded to integer log-micronats ON THE
    * TYPE FRAME (vocab²-sized, where a 1-ulp `ln` disagreement between
    * engines flips a 1e-4 rounding with probability ~1e-12 per type), and
    * per-doc totals are exact integer Σ tf·micronats — floating arithmetic
    * never touches a data-sized frame, so the result is bit-identical on
    * any engine and any partitioning. */
  private def lmXent(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    // ONE corpus tokenization (was three: bigram explode + vocab
    // countDistinct + per-doc size attach — guide §1.2: don't recompute
    // passes). Position rows i = 1..n carry (prev = tk[i−1], NULL at
    // i = 1 ("BOS" row); cur = tk[i]): `cur` then spans EVERY token
    // position, so distinct(cur) over the persisted tf frame IS the full
    // unigram vocab (split() never yields an empty array, so every doc
    // contributes its tokens), and bigram rows are exactly prev IS NOT
    // NULL. Σ tf over bigram rows per doc = n − 1 = the old
    // greatest(size(tk) − 1, 0) attach, with no-bigram docs restored by
    // the left join from a doc_id-only (column-pruned) scan.
    // position fan-out compiled ([[graft.functions.TokenPrevCur]] — the
    // interpreted CASE/element_at lambda evaluated ~6 nodes per position);
    // split() is never empty, so every doc still contributes rows
    val occ = docs
      .select(col("doc_id"), explode(TextFns.tokenPrevCur(col("tk"))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val tf = SessionFrames.track(
      occ.groupBy(col("doc_id"), col("prev"), col("cur")).agg(count(lit(1)).as("tf")))
    val btf = tf.filter(col("prev").isNotNull) // the bigram rows
    val types = btf.groupBy(col("prev"), col("cur")).agg(sum(col("tf")).as("c2"))
    val heads = types.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val vocab = broadcast(tf.agg(countDistinct(col("cur")).as("__v")))
    // model is vocab²-bounded; AQE broadcasts it when the vocab is closed
    // (fixture) and keeps the (prev, cur) equi-join at open-vocab scale —
    // an explicit broadcast() hint here FORCED an eager blocking
    // materialization that doubled cold time, so the choice stays AQE's
    val model = types.join(heads, "prev").crossJoin(vocab)
      .select(col("prev"), col("cur"),
        round(log((col("c2") + lit(0.5)) / (col("c1") + lit(0.5) * col("__v"))) * 10000)
          .cast("long").as("micro"))
    val perDoc = btf.join(model, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("micro")).as("tot"), sum(col("tf")).as("nb"))
    documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        rnd4(-col("tot").cast("double") / (col("nb") * lit(10000.0))).as("xent_nats"))
  }

  private val extLmPerplexity: Q = (s, d) => lmXent(s, d).transform(orderedRows(_, "doc_id"))

  /** CCNet-style perplexity-bucket filter thresholds (Wenzek et al. 2020
    * split corpora into head/middle/tail by reference-LM perplexity and
    * keep the first two): FIXED xent cutoffs — one Scala constant
    * interpolated into both engines, so the boundary cannot drift — which
    * is also the scale posture (corpus-derived tertiles would need a
    * data-sized quantile of unique doc scores; production CCNet likewise
    * fixes cutoffs from a reference run). */
  final val PplHeadMax = 3.38
  final val PplMiddleMax = 3.40

  /** The perplexity filter itself: bucket each doc by [[lmXent]] (shared
    * session-persisted tf frame with `ext_lm_perplexity`) and keep
    * head + middle; docs too short to score (no bigrams) are `unscored`
    * and dropped like tail. One extra row-local projection over the
    * scoring pipeline — nothing new shuffles. */
  private val extPplFilter: Q = (s, d) =>
    lmXent(s, d)
      .withColumn("bucket",
        when(col("xent_nats").isNull, "unscored")
          .when(col("xent_nats") <= PplHeadMax, "head")
          .when(col("xent_nats") <= PplMiddleMax, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("xent_nats"), col("bucket"),
        col("bucket").isin("head", "middle").as("kept"))
      .transform(orderedRows(_, "doc_id"))

  /** Multinomial Naive Bayes language-model classifier, trained on the
    * corpus's own `lang` labels ([[NaiveBayes.train]]) — the fastText-
    * shaped router/gate of corpus pipelines. Model = complete
    * (label × vocab) grid of counts + smoothed integer log-micronats. */
  private val extNbTrain: Q = (s, d) =>
    NaiveBayes.train(documents(s, d), "text", "lang")
      // the (label × vocab) model grid grows with the corpus (Heaps' law on
      // the vocab axis) — data-sized, so the sort stays global
      .transform(orderedRows(_, "label", "token"))

  /** Session-shared trained NB model (a [[SessionFrames.frame]], like
    * [[trainedMerges]] and [[pqBooks]]): the four audit queries below
    * (score / label_noise / calibration / router_kappa) all score against
    * the SAME trained router — retraining per query would re-run the
    * (label, token) count pass four times for byte-identical grids. The
    * cached frame is the materialized (labels × vocab)-bounded model, not
    * corpus data; `ext_nb_train` itself still trains fresh (it IS the
    * training benchmark, the extBpeTrain discipline). */
  private def trainedNbModel(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "nb_model")(NaiveBayes.train(documents(s, d), "text", "lang"))

  /** The completed per-(doc, label) score grid off the shared trained
    * model — the SECOND session-shared NB frame: all four audit surfaces
    * (score / label_noise / calibration / router_kappa) pivot this same
    * grid, and rebuilding it per query re-runs a byte-identical corpus
    * scoring pass (token explode + model join) each time. Docs × labels
    * rows, checkpointed once. */
  private def nbScoredGrid(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "nb_grid")(
      NaiveBayes.scoredGrid(documents(s, d), "text", "lang", "doc_id", trainedNbModel(s, d)))

  /** Self-scoring pass of the NB classifier ([[NaiveBayes.scoreAudit]]):
    * per doc the argmax label (priors from the TRAINED model, empty docs
    * falling back to the prior argmax), its integer score, and the
    * accuracy flag — the audit a pipeline runs before trusting the
    * router. */
  private val extNbScore: Q = (s, d) => {
    val docs = documents(s, d)
    // scoreAudit's exact composition, with the scoring pass replaced by
    // the shared grid's argmax view (identical incl. the prior fallback)
    docs.select(col("doc_id"), col("lang").as("label"))
      .join(NaiveBayes.scoreFromGrid(nbScoredGrid(s, d), "doc_id"), Seq("doc_id"))
      .withColumn("correct", col("label") === col("pred_label"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Label-noise audit ([[NaiveBayes.labelNoise]]): docs whose `lang`
    * label the self-trained NB router confidently rejects (pred ≠ label,
    * margin ≥ 1 log-nat = 10⁶ micro) — the confident-learning quarantine
    * pass before labels train anything downstream. */
  private val NoiseMarginMicro = 1000000L
  private val extLabelNoise: Q = (s, d) =>
    NaiveBayes.labelNoiseFromGrid(nbScoredGrid(s, d), "doc_id", NoiseMarginMicro)
      .transform(orderedRows(_, "doc_id"))

  /** Router calibration table ([[NaiveBayes.calibration]]): accuracy per
    * whole-log-nat confidence-margin bucket — the audit that decides
    * whether the NB margin is a usable quality gate. */
  private val extNbCalibration: Q = (s, d) =>
    NaiveBayes.calibrationFromGrid(nbScoredGrid(s, d), "doc_id")
      .transform(graft.Tables.orderedReport(_, "margin_bin"))

  /** Inter-router agreement (Cohen's κ): the NB classifier's predictions
    * vs the stopword lang-id heuristic — the "do my two independent
    * routers agree beyond chance" audit that decides whether either can
    * check the other. κ = (N·agree − Σ_c m1_c·m2_c)/(N² − Σ_c m1_c·m2_c)
    * — EXACT integers up to ONE trailing division (the multiplied-out
    * form; float po/pe would order-depend). Everything after the two
    * scoring passes reads a classes²-bounded confusion matrix. */
  private val extRouterKappa: Q = (s, d) => {
    val docs = documents(s, d)
    val nb = NaiveBayes.scoreFromGrid(nbScoredGrid(s, d), "doc_id")
      .select(col("doc_id"), col("pred_label").as("nb_label"))
    val lid = langGuessed(docs).select(col("doc_id"), col("lang_guess").as("lid_label"))
    val conf = nb.join(lid, "doc_id")
      .groupBy(col("nb_label"), col("lid_label")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // classes²-bounded; read by 3 aggregates
    val tot = conf.agg(sum(col("n")).as("n_docs"),
      sum(when(col("nb_label") === col("lid_label"), col("n")).otherwise(0L))
        .as("n_agree"))
    val m1 = conf.groupBy(col("nb_label").as("label")).agg(sum(col("n")).as("__m1"))
    val m2 = conf.groupBy(col("lid_label").as("label")).agg(sum(col("n")).as("__m2"))
    val chance = m1.join(m2, Seq("label"), "full")
      .agg(sum(coalesce(col("__m1"), lit(0L)) * coalesce(col("__m2"), lit(0L)))
        .as("__pe_num"))
    tot.crossJoin(chance)
      .select(col("n_docs"), col("n_agree"),
        rnd4(col("n_agree").cast("double") / col("n_docs").cast("double")).as("po"),
        rnd4(col("__pe_num").cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")).as("pe"),
        rnd4((col("n_docs") * col("n_agree") - col("__pe_num")).cast("double") /
          (col("n_docs") * col("n_docs") - col("__pe_num")).cast("double")).as("kappa"))
  }

  /** DSIR importance weights ([[TrainPrep.dsirWeights]]): every doc scored
    * by log p_target/p_corpus under smoothed unigram LMs — target slice =
    * the `en` documents. keep = ratio > 0. */
  private val DsirTargetLang = graft.streaming.DsirModelStream.TargetLang
  private val extDsirWeights: Q = (s, d) =>
    TrainPrep.dsirWeights(documents(s, d), "text", "doc_id",
      col("lang") === DsirTargetLang)
      .transform(orderedRows(_, "doc_id"))

  /** The exportable DSIR importance MODEL — the vocab-bounded token-level
    * log p_target/p_corpus table `ext_dsir_weights` derives internally,
    * surfaced as its own artifact: a pipeline ships THIS table and scores
    * any new shard with one tokens⋈model join, no corpus pass. Shared
    * verbatim with the streaming maintainer
    * ([[graft.streaming.DsirModelStream]] — exactly-once batch input
    * makes the one-shot grid slice the fully-merged count grid). */
  private val extDsirModel: Q = (s, d) => {
    import graft.streaming.DsirModelStream
    DsirModelStream.report(DsirModelStream.slice(documents(s, d)))
  }

  /** Positional-index phrase search — the retrieval primitive BM25's
    * bag-of-words scoring cannot express: exact N-term phrase occurrence
    * via a positional postings index (term, doc_id, pos) intersected with
    * itself at offsets +1/+2, the classic positional-index merge. The
    * phrase here is derived in-plan (the corpus's most frequent word
    * trigram, count-then-lexicographic — deterministic), broadcast onto
    * the postings as a runtime filter: each of the three legs is a
    * broadcast-hash semi-filter over the persisted postings frame, then
    * the legs equi-join on (doc_id, aligned pos). At 100 TB the postings
    * frame would be a materialized index partitioned by term — the filter
    * becomes a partition prune — and the offset joins stay keyed by
    * (doc_id, pos), never wider than the phrase's own postings. */
  private val extPhraseSearch: Q = (s, d) => {
    val docs = documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    val post = SessionFrames.track(
      docs.select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "term"))))
    // trigram fan-out compiled ([[graft.functions.TokenTriples]] — the
    // TokenPairsWindow lesson): the interpreted transform/element_at
    // lambda tree evaluated ~5 nodes per token across the corpus; the
    // size ≥ 3 guard lives inside the kernel (empty array below 3).
    val phrase = broadcast(docs
      .select(explode(TextFns.tokenTriples(col("tk"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1"), col("w2"), col("w3"))
      .limit(1)
      .select("w1", "w2", "w3"))
    val p1 = post.join(phrase, col("term") === col("w1"))
      .select(col("doc_id"), col("pos"))
    val p2 = post.join(phrase, col("term") === col("w2"))
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val p3 = post.join(phrase, col("term") === col("w3"))
      .select(col("doc_id"), (col("pos") - 2).as("pos"))
    p1.join(p2, Seq("doc_id", "pos")).join(p3, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).cast("long").as("first_pos"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Gopher/MassiveText quality-rule battery thresholds (Rae et al. 2021,
    * §A1.1) — ONE definition interpolated into both the Spark flags and the
    * oracle SQL so the rule constants cannot drift. */
  private val GopherMinTokens = 50L
  private val GopherMaxTokens = 100000L
  private val GopherMinWordLen = 3.0
  private val GopherMaxWordLen = 10.0
  private val GopherMaxSymbolRatio = 0.1
  private val GopherMinAlphaFrac = 0.8
  private val GopherMinStopwords = 2L
  private val GopherSymbolPattern = "#|\\.\\.\\."

  /** The Gopher rule battery itself: word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio (hash/ellipsis), alpha-word fraction,
    * distinct-stopword presence — every signal a row-local expression in
    * fixed double op order; one corpus scan, zero shuffles at any scale.
    * The corpus fixture is single-line text, so the paper's two line-shape
    * rules (bullet-line / ellipsis-line fractions) have no signal here and
    * are out of scope. Flags are computed on the UNrounded values; the
    * reported ratios are rnd4 for the hash. */
  /** The Gopher rule battery as named row-local columns — ONE definition
    * feeding the standalone audit AND the assembled pipeline (so neither
    * can drift from the other or from the shared constants the oracle SQL
    * reads). */
  private def gopherMetrics: Map[String, Column] = {
    // ONE compiled token walk per row ([[graft.functions.GopherTokenStats]]) —
    // the four moments every rule below derives from; the interpreted
    // per-token lambdas (length fold, a regex machine per token for the
    // alpha test, the distinct∩stopword intersect) never run. Value-
    // identical to the declarative battery (pinned in ExtOpsSpec /
    // CodegenGuardSpec); subexpression elimination evaluates the struct
    // once per projection.
    val st = TextFns.gopherTokenStats(col("text"), TextFns.stopwords("en"))
    val n = st.getField("n_tokens")
    val meanLen = st.getField("sum_len").cast("double") / n
    val symbolRatio = regexp_count(col("text"), lit(GopherSymbolPattern)).cast("double") / n
    val alphaFrac = st.getField("n_alpha").cast("double") / n
    val nStop = st.getField("n_stop")
    val passLen = n >= GopherMinTokens && n <= GopherMaxTokens
    val passWordLen = meanLen >= GopherMinWordLen && meanLen <= GopherMaxWordLen
    val passSymbol = symbolRatio <= GopherMaxSymbolRatio
    val passAlpha = alphaFrac >= GopherMinAlphaFrac
    val passStop = nStop >= GopherMinStopwords
    Map("n_tokens" -> n, "mean_word_len" -> meanLen, "symbol_ratio" -> symbolRatio,
      "alpha_frac" -> alphaFrac, "n_stop_distinct" -> nStop,
      "pass_len" -> passLen, "pass_word_len" -> passWordLen,
      "pass_symbol" -> passSymbol, "pass_alpha" -> passAlpha, "pass_stop" -> passStop,
      "pass" -> (passLen && passWordLen && passSymbol && passAlpha && passStop))
  }

  private[graft] def gopherQuality(docs: DataFrame): DataFrame = {
    val m = gopherMetrics
    docs.select(
      col("doc_id"), m("n_tokens").as("n_tokens"),
      rnd4(m("mean_word_len")).as("mean_word_len"),
      rnd4(m("symbol_ratio")).as("symbol_ratio"),
      rnd4(m("alpha_frac")).as("alpha_frac"),
      m("n_stop_distinct").as("n_stop_distinct"),
      m("pass_len").as("pass_len"), m("pass_word_len").as("pass_word_len"),
      m("pass_symbol").as("pass_symbol"), m("pass_alpha").as("pass_alpha"),
      m("pass_stop").as("pass_stop"),
      m("pass").as("pass"))
      .transform(orderedRows(_, "doc_id"))
  }

  private val extQualityGopher: Q = (s, d) => gopherQuality(documents(s, d))

  /** C4-style policy-filter thresholds (Raffel et al. 2020 §2.2 shape):
    * a substring blocklist plus word-count bounds, ONE definition shared
    * with the oracle SQL. The paper's line-level rules (terminal
    * punctuation, brace / lorem-ipsum pages) have no signal on the
    * single-line punctuation-free fixture corpus, so the battery keeps the
    * SHAPE with fixture-meaningful phrases — production swaps the
    * constants for its real lists. Phrases must be regex-metachar-free
    * (they interpolate into both engines' regexp counters). */
  private val PolicyBlocklist = Seq("slow scan", "vector")
  private val PolicyMinTokens = 20L
  private val PolicyMaxTokens = 80L

  /** The policy battery itself: per-doc blocklist hit count + word-count
    * bounds + per-rule flags — row-local expressions, one corpus scan,
    * zero shuffles at any scale. Flags stay separate so a pipeline can
    * audit WHICH rule dropped a doc (the C4 reporting convention). */
  /** The C4 policy battery as named row-local columns — one definition for
    * the standalone audit and the pipeline (see [[gopherMetrics]]). */
  private def policyMetrics: Map[String, Column] = {
    val n = size(TextFns.tokens(col("text"))).cast("long")
    val nBlocked = PolicyBlocklist
      .map(p => regexp_count(col("text"), lit(p)).cast("long"))
      .reduce(_ + _)
    val passBounds = n >= PolicyMinTokens && n <= PolicyMaxTokens
    val passBlock = nBlocked === 0L
    Map("n_tokens" -> n, "n_blocked_hits" -> nBlocked,
      "pass_bounds" -> passBounds, "pass_blocklist" -> passBlock,
      "pass" -> (passBounds && passBlock))
  }

  private[graft] def policyFilter(docs: DataFrame): DataFrame = {
    val m = policyMetrics
    docs.select(
      col("doc_id"), m("n_tokens").as("n_tokens"),
      m("n_blocked_hits").as("n_blocked_hits"),
      m("pass_bounds").as("pass_bounds"), m("pass_blocklist").as("pass_blocklist"),
      m("pass").as("pass"))
      .transform(orderedRows(_, "doc_id"))
  }

  private val extFilterPolicy: Q = (s, d) => policyFilter(documents(s, d))

  /** Flesch-style readability estimate on the single-sentence fixture:
    * syllables ≈ vowel-group runs (the classic heuristic), words =
    * whitespace tokens, sentences = 1 (single-line corpus, no terminal
    * punctuation) — so reading-ease = 206.835 − 1.015·words −
    * 84.6·syllables/words in FIXED left-associated IEEE op order (one
    * definition both engines). Pure row-local regexp + arithmetic over
    * one scan — zero shuffles at any scale. */
  private val extTextReadability: Q = (s, d) => {
    val n = size(TextFns.tokens(col("text"))).cast("long")
    val syl = regexp_count(col("text"), lit("[aeiouAEIOU]+")).cast("long")
    documents(s, d).select(col("doc_id"), n.as("n_tokens"), syl.as("n_syllables"),
      rnd4(lit(206.835) - lit(1.015) * n.cast("double") -
        lit(84.6) * (syl.cast("double") / n.cast("double"))).as("flesch"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** The ASSEMBLED final keep gate — what a pretraining pipeline actually
    * executes before sharding: Gopher rule battery ∧ C4 policy filter ∧
    * CCNet perplexity bucket, with per-stage flags so every rejection is
    * attributable. Pure composition of the three SHARED stage definitions
    * ([[gopherMetrics]] / [[policyMetrics]] / the LM scorer — one constant
    * set each, so the pipeline cannot drift from its standalone stage
    * audits). Both row-local batteries evaluate in ONE document scan (no
    * per-stage frames to re-join); the LM stage reuses the
    * session-persisted scoring pipeline; the assembly is a single
    * doc-keyed join. */
  private val extFilterPipeline: Q = (s, d) => {
    val flags = documents(s, d).select(col("doc_id"),
      gopherMetrics("pass").as("gopher_pass"),
      policyMetrics("pass").as("policy_pass"))
    val x = lmXent(s, d).select(col("doc_id"),
      coalesce(col("xent_nats") <= PplMiddleMax, lit(false)).as("ppl_pass"))
    flags.join(x, "doc_id")
      .withColumn("kept", col("gopher_pass") && col("policy_pass") && col("ppl_pass"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Integer log-micronats: round(ln x · 10⁶) — the cross-engine-safe log
    * discipline (a 1-ulp libm difference moves ln·10⁶ by ~10⁻⁹, far from any
    * .5 boundary on integer inputs; same argument as the NB/LM models). */
  private def lnMicro(c: Column): Column = round(log(c) * 1e6).cast("long")
  private def lnMicroSql(e: String): String =
    s"CAST(round(ln($e) * 1000000) AS BIGINT)"

  /** Character-level Shannon entropy per document — the compressibility
    * proxy corpus filters threshold to drop degenerate text (repeated
    * filler scores low; random/base64 blobs score anomalously high).
    * H = ln n − (Σ c·ln c)/n evaluated as the EXACT integer n·L(n) − Σ c·L(c)
    * in log-micronats ([[lnMicro]]) with ONE trailing division, so the
    * pre-round doubles are bit-identical cross-engine. The per-(doc, char)
    * count moments come from ONE compiled pass over the text
    * ([[graft.functions.CharEntropyMoments]]) — ROW-LOCAL, so the ~70×-row
    * char explode + doc-keyed shuffle a naive pipeline pays never exist
    * and the gate fuses into the document scan at any scale (halved the
    * explode form's 0.96 s warm floor at sf0.1). */
  private val extTextEntropy: Q = (s, d) =>
    documents(s, d)
      .filter(length(col("text")) > 0) // explode/'.'-regex semantics: empty docs absent
      .select(col("doc_id"), TextFns.charEntropyMoments(col("text")).as("m"))
      .select(col("doc_id"), col("m.n").as("n_chars"),
        col("m.k").as("n_distinct_chars"),
        rnd4((col("m.n") * lnMicro(col("m.n")) - col("m.s")).cast("double") /
          (col("m.n") * lit(1000000L)).cast("double")).as("entropy_nats"))
      .transform(orderedRows(_, "doc_id"))

  /** Corpus-level Zipf diagnostic: least-squares slope of ln(frequency) on
    * ln(rank) over the top-100 terms — natural text sits near −1; a corpus
    * polluted by templates/boilerplate flattens or steepens the curve.
    * Term counts shuffle once on the term key with map-side combine; the
    * top-100 cut is `orderBy.limit` (TakeOrdered — no global sort), so the
    * only full-order work is on a 100-row frame. The regression runs on
    * integer log-micronats ([[lnMicro]]) with exact integer moments
    * (x,y ≤ 2·10⁷ ⇒ k·Σxy ≤ ~10¹⁸ stays in int64) and one trailing
    * division; the intercept reuses the same unrounded slope double in a
    * FIXED op order, so both engines round the same bits. */
  private val extTextZipf: Q = (s, d) => {
    val top = documents(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t")).limit(100)
    val xy = top
      .withColumn("r", row_number()
        .over(Window.orderBy(col("f").desc, col("t"))).cast("long"))
      .select(lnMicro(col("r")).as("x"), lnMicro(col("f")).as("y"))
    xy.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("__slope",
        (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("k").as("n_terms"), rnd4(col("__slope")).as("zipf_slope"),
        rnd4((col("sy").cast("double") - col("__slope") * col("sx").cast("double"))
          / col("k").cast("double") / lit(1000000.0)).as("intercept_nats"))
  }

  /** Rolling polynomial fingerprint over characters:
    * fp = fold((acc·31 + codepoint) mod P) — codegen'd ([[RollingHash]]);
    * the modulus keeps every intermediate exact in 64-bit on both engines. */
  private val extFingerprint: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.RollingHash(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), 31L, P))
        .as("fingerprint"))
      .transform(orderedRows(_, "doc_id"))

  /** Per-shard corpus FINGERPRINT manifest — the reproducibility record a
    * dataset card pins ("is this byte-for-byte the corpus the model saw"):
    * per shuffle shard, doc/token mass, the id span, and an order-free
    * content digest (sum of per-doc rolling-hash fingerprints mod P —
    * commutative, so partitioning/arrival order cannot change it; the sum
    * accumulates in decimal so no doc count overflows it). Any single-doc
    * edit moves its shard's fp_sum. */
  private val extCorpusFingerprint: Q = (s, d) => {
    val fp = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.RollingHash(
        org.apache.spark.sql.GraftColumnBridge.expression(col("text")), 31L, P))
    documents(s, d)
      .select(pmod(col("doc_id"), lit(8L)).as("shard"), col("doc_id"),
        fp.as("fp"), TextFns.bpeEstimate(col("text")).as("n_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"),
        (sum(col("fp").cast("decimal(38,0)")) % P).cast("long").as("fp_sum"))
      .transform(graft.Tables.orderedReport(_, "shard"))
  }

  // -- dedup -----------------------------------------------------------------

  private val extDedupExact: Q = (s, d) =>
    Dedup.exactGroups(documents(s, d), "text", "doc_id").transform(orderedRows(_, "keep_id"))

  /** Shared-prefix template groups: documents opening with the same first
    * 8 tokens — the template/SEO-spam signature full-document hashing
    * misses (bodies diverge after the boilerplate opener) and shingle
    * Jaccard only catches pairwise at quadratic candidate cost. One
    * map-side-combined aggregate keyed on the row-local prefix string;
    * per group the copy count, how many distinct sources emit it (a
    * template crossing sources is scraper boilerplate, not an author), and
    * the min-id representative. [[PrefixDupStream]]'s report over its
    * slice, shared by the batch query and the stream form. */
  private val extPrefixDup: Q = (s, d) =>
    PrefixDupStream.report(PrefixDupStream.slice(documents(s, d)))

  /** URL-canonicalization dedup ([[Dedup.urlCanon]]) — the tier every
    * web-corpus pipeline runs BEFORE text dedup (C4/RefinedWeb drop by
    * normalized URL first; it's one row-local expression vs any text
    * tier's shingling). The fixture carries provenance (`source`), not
    * URLs, so both engines derive the SAME synthetic crawl URL per doc —
    * deterministic case/scheme/www/port/tracking/fragment noise keyed off
    * doc_id residues, 4 docs per path — and the canonicalizer is then
    * fully oracle-gated end to end: grouping, survivor pick, and per-host
    * rollup all hash-compare. Plan: canonicalization is row-local (zero
    * shuffles), the groupBy ships only (canon_url, raw_url, doc_id) — at
    * 100 TB you shuffle short keys, never documents — and the host rollup
    * is a window over the already-grouped |distinct canon| frame. */
  /** The synthetic crawl URL both engines derive per document (the fixture
    * carries provenance, not URLs): deterministic case/scheme/www/port/
    * tracking/fragment noise keyed off doc_id residues, 4 docs per path.
    * Shared by [[extDedupUrl]] and the streaming twin. */
  private[graft] def syntheticUrl: Column = {
    val did = col("doc_id")
    val g = expr("doc_id div 4").cast("string")
    concat(
      when(did % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(did % 3 === 0, lit("WWW.")).otherwise(lit("")),
      when(did % 5 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.COM"),
      when(did % 7 === 0,
        when(did % 2 === 0, lit(":443")).otherwise(lit(":80"))).otherwise(lit("")),
      lit("/Docs/"), g,
      when(did % 4 === 1, lit("/")).otherwise(lit("")),
      when(did % 4 === 2, lit("?utm_source=feed&utm_campaign=x"))
        .when(did % 4 === 3, concat(lit("?id="), g, lit("&utm_medium=y")))
        .otherwise(lit("")),
      when(did % 5 === 1, lit("#section-2")).otherwise(lit("")))
  }

  private val extDedupUrl: Q = (s, d) =>
    graft.streaming.UrlDedupStream.report(
      graft.streaming.UrlDedupStream.slice(
        documents(s, d).select(col("doc_id"), syntheticUrl.as("raw_url"))))
      .transform(orderedRows(_, "canon_url"))


  /** Winnowing fingerprint summary ([[graft.functions.WinnowFingerprints]],
    * Schleimer 2003): per doc, its gram count, how many fingerprints the
    * w=4 window kept of the k=8 char grams, and min/max/mod-P-sum of the
    * kept set — the per-doc side of the MOSS index, all row-local off ONE
    * codegen'd scan (the kernel itself is the cost; everything after is
    * array arithmetic on the ~2/(w+1)-sized selection). Integer mod-P
    * hashes end to end, so the whole grid hash-gates against the SQL
    * twin's naive w-blowup window replay. */
  private val extDedupWinnow: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        greatest(length(col("text")) - 7, lit(0)).cast("long").as("n_grams"),
        Dedup.winnowCol(col("text"), 8, 4, P).as("__fp"))
      .select(col("doc_id"), col("n_grams"),
        size(col("__fp")).cast("long").as("n_selected"),
        array_min(col("__fp")).as("fp_min"),
        array_max(col("__fp")).as("fp_max"),
        when(size(col("__fp")) === 0, lit(null).cast("long"))
          .otherwise(aggregate(col("__fp"), lit(0L), (a, x) => a + x) % P)
          .as("fp_sum"))
      .transform(orderedRows(_, "doc_id"))

  /** MOSS-style shared-fingerprint pairs ([[Dedup.winnowPairs]]): docs
    * sharing ≥ 3 winnowed fingerprints after the df-cap (df ≤ 16 — the
    * boilerplate guard every inverted-index tier here applies). The
    * substring-match detector with a GUARANTEE (any shared run ≥
    * k+w−1 = 11 chars lands a shared fingerprint) at ~1/(w+1) of full
    * shingling's index size — what plagiarism-style contamination scans
    * run at corpus scale. */
  private val extDedupWinnowPairs: Q = (s, d) =>
    Dedup.winnowPairs(documents(s, d), "text", "doc_id", k = 8, w = 4,
      modulus = P, maxDf = 16L, minShared = 3L)
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Dedup × quality interaction audit — the report that justifies (or
    * vetoes) aggressive dedup: per NEAR-DUP cluster-size band (unique /
    * 2–4 / 5+), how many clusters and docs land there and their mean
    * quality and length. Web-corpus duplicates skew toward boilerplate
    * (the C4/RefinedWeb observation); if the 5+ band's mean quality
    * matches the unique band's, blind dropping is destroying signal.
    * Rides the SAME n-gram-Jaccard pairs + connected-components labels
    * as `ext_dedup_cluster`/`ext_dedup_soft` (one clustering definition),
    * then a cluster-keyed map-side-combined aggregate and a band rollup
    * on the GROUP frame. Quality rides the integer ten-thousandths snap
    * both engines compute bit-identically. */
  /** Session-shared near-dup machinery (the [[exactTop]]/[[pqCodedShared]]
    * discipline): the (n = 3, t = 0.5) prefix-filtered exact-Jaccard pair
    * frame and the connected-components labels over it are deterministic
    * pure functions of the corpus, and THIRTEEN dedup-family surfaces
    * consume byte-identical copies (ngram / cluster / keep / keep_best /
    * soft / quality / sweep / policy / savings / purity / cross_source /
    * contamination / overlap_sources / split_leakage) — recomputing per
    * query re-ran the identical shingle → prefix-join → verify pipeline
    * (and, for six of them, the identical CC iteration) up to 13× per
    * session. The checkpointed frames are the POST-VERIFICATION pair slice
    * and the per-doc labels of the near-dup population — the corpus's
    * duplicate mass (LSH/prefix-bounded, never all-pairs), the same growth
    * class as the coded-corpus checkpoints; corpus text never lands in
    * either. Downstream consumers are unchanged row-for-row: the frames
    * are the exact outputs the per-query pipelines produced. */
  private def ngramPairsShared(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "ngram_pairs")(
      Dedup.ngramJaccard(documents(s, d), "text", "doc_id", n = 3, threshold = 0.5))
  private def dupLabelsShared(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "dup_labels")(
      Dedup.duplicateClusters(ngramPairsShared(s, d).select(col("doc_a"), col("doc_b"))))

  private val extDedupQuality: Q = (s, d) => {
    val docs = documents(s, d)
    val labels = dupLabelsShared(s, d)
    val groups = docs
      .select(col("doc_id"),
        floor(TextFns.qualityScore(col("text")) * 10000.0 + 0.5)
          .cast("long").as("__q"),
        length(col("text")).cast("long").as("__len"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("__q")).as("qs"),
        sum(col("__len")).as("ls"))
    groups
      .select(when(col("n") === 1, "unique").when(col("n") <= 4, "2-4")
        .otherwise("5+").as("band"), col("n"), col("qs"), col("ls"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_docs"),
        sum(col("qs")).as("__qs"), sum(col("ls")).as("__ls"))
      .select(col("band"), col("n_groups"), col("n_docs"),
        expr("__qs div n_docs").as("mean_quality_e4"),
        expr("__ls div n_docs").as("mean_chars"))
      .transform(graft.Tables.orderedReport(_, "band"))
  }

  private val extDedupNgram: Q = (s, d) =>
    ngramPairsShared(s, d)
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Cross-SOURCE duplication matrix — where the near-dup mass sits
    * BETWEEN crawls: per unordered source pair, the pair count, the
    * distinct victim docs (each pair's higher id — the loser under the
    * family's min-id keep rule) and their char mass. The table a
    * pipeline owner reads to decide which snapshot to drop WHOLESALE
    * (intra-source cells = re-crawl churn; a heavy off-diagonal cell =
    * one source is a mirror of another), vs the doc-level tiers'
    * row-by-row verdicts.
    *
    * Shape: rides the SAME shared shingle/pair machinery as the cluster
    * tiers (the pair frame is the tiny post-LSH-verification slice); two
    * slim id-keyed metadata joins label it; the labeled frame is
    * checkpointed (pair-sized) because the pair rollup and the
    * distinct-victim rollup both read it; rollups are sources²-bounded.
    * A doc can be a victim in several cells — each cell reports ITS OWN
    * droppable mass (the per-cell decision number), documented here and
    * in the oracle. */
  private val extDedupCrossSource: Q = (s, d) => {
    val docs = documents(s, d)
    Dedup.crossSourceMatrix(
      ngramPairsShared(s, d),
      docs.select(col("doc_id"), col("source"), col("n_chars")))
  }

  private val extDedupMinhash: Q = (s, d) =>
    Dedup.minhashLsh(documents(s, d), "text", "doc_id", n = 3,
      bands = 12, rowsPerBand = 4, threshold = 0.5)
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Directional sub-document duplication ([[Dedup.containmentPairs]]):
    * docs ≥60%-contained in ANOTHER doc's shingle set — the asymmetric
    * measure that catches a paragraph pasted into a much longer page,
    * invisible to the symmetric Jaccard tiers. 5-gram shingles (vs the
    * Jaccard tiers' 3): containment joins the contained side's prefix
    * against the FULL inverted index, so index selectivity is the whole
    * cost model, and longer shingles keep it sharp (the 13-gram
    * contamination logic, sized down so a ~10-token paragraph still
    * carries several shingles) — on this corpus 90% of 5-grams are df-1
    * and fall to the cross-doc cut, vs ~0% of 3-grams. */
  private val extDedupContainment: Q = (s, d) =>
    Dedup.containmentPairs(documents(s, d), "text", "doc_id", n = 5, threshold = 0.6)
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Edit-distance near-dup tier ([[Dedup.fuzzyPairs]]): rare-5-shingle
    * blocking + Levenshtein ≤ 40 confirm. maxDist 40 sits in the fixture's
    * wide margin between planted near-dups (distance ≤ ~20: token-level
    * edits on ~150-char docs) and chance shingle-sharers (≥ ~300);
    * maxDf 10 keeps the inverted index to genuinely rare shingles. */
  private val extDedupFuzzy: Q = (s, d) =>
    Dedup.fuzzyPairs(documents(s, d), "text", "doc_id", n = 5, maxDf = 10L, maxDist = 40)
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Cross-doc repeated-passage removal at 10-token tiles
    * ([[Dedup.passageDedup]]): every passage text appearing in ≥ 2 docs is
    * cut and the doc reassembled from the survivors — the corpus-rewriting
    * dedup pass, vs the pair/span REPORTING tiers around it. */
  private val extDedupPassages: Q = (s, d) =>
    Dedup.passageDedup(documents(s, d), "text", "doc_id", p = 10)
      .transform(orderedRows(_, "doc_id"))

  /** Per-source boilerplate fraction at 5-token tiles
    * ([[Dedup.boilerplate]]): tiles repeated in ≥ 2 distinct docs of the
    * SAME source are template chrome, not content — the within-source
    * companion of the corpus-wide passage removal above (a site's
    * disclaimer is boilerplate; a phrase shared across sites is
    * duplication). */
  private val extTextBoilerplate: Q = (s, d) =>
    Dedup.boilerplate(documents(s, d), "text", "doc_id", "source",
      p = 5, minDf = 2L)
      .transform(orderedRows(_, "doc_id"))

  /** Exact duplicate-SUBSTRING spans (Lee et al. 2022 style): maximal
    * per-doc token ranges covered by any 13-gram occurring ≥2 times
    * corpus-wide — localizes WHERE duplication sits, vs the whole-doc
    * pair tiers above. 13 matches the contamination n (the verbatim-span
    * standard). Two exchanges at any scale (see [[Dedup.duplicateSpans]]). */
  private val extDedupSpans: Q = (s, d) =>
    Dedup.duplicateSpans(documents(s, d), "text", "doc_id", n = 13)
      .transform(orderedRows(_, "doc_id", "span_start"))

  /** Per-doc duplication summary off the span map — the signal a pipeline
    * thresholds on ("drop docs >50% duplicated"). Composition: spans →
    * per-doc aggregate → left join onto per-doc token counts (docs with no
    * spans report zeros). */
  private val extDedupSpanStats: Q = (s, d) => {
    val docs = documents(s, d)
    val stats = Dedup.duplicateSpans(docs, "text", "doc_id", n = 13)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    docs.select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        rnd4(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_frac"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** SimHash separation audit ([[Dedup.simhashSeparation]] — the
    * recall-audit graduation shape): near-dup pairs (exact 3-gram Jaccard
    * ≥ 0.9, the oracle-computable ground truth) must average ≤ 9.0 Hamming
    * bits apart, consecutive-id background pairs ≥ 11.0 — exact-integer
    * mean comparisons, so a broken hash/vote/band pipeline flips an ok and
    * hash-mismatches. The raw banded pair output (maxHamming = 3) stays
    * pinned in DedupSpec. */
  private val extDedupSimhash: Q = (s, d) =>
    Dedup.simhashSeparation(documents(s, d), "text", "doc_id")

  /** Near-dup pairs → connected components: each clustered doc labelled with
    * its cluster's canonical (min) id — the keep/drop decision of a dedup
    * pipeline. */
  private val extDedupCluster: Q = (s, d) =>
    dupLabelsShared(s, d)
      .transform(orderedRows(_, "doc_id"))

  /** Cluster-purity audit over the near-dup clusters (see
    * [[Dedup.clusterPurity]]): per cluster, direct vs chained (weak) member
    * pairs and the worst pairwise Jaccard — flags transitive-closure
    * false-positive merges before the drop step commits them. */
  private val extDedupPurity: Q = (s, d) =>
    Dedup.clusterPurityFromLabels(documents(s, d), "text", "doc_id", n = 3,
      dupLabelsShared(s, d), threshold = 0.5)
      .transform(orderedRows(_, "cluster_id"))

  /** The keep side of near-dup dedup: every document except non-canonical
    * cluster members — what actually flows downstream once the
    * [[extDedupCluster]] labels are applied. The drop list (cluster members
    * other than the min-id survivor) is tiny relative to the corpus, so the
    * anti join broadcasts at any scale. */
  private val extDedupKeep: Q = (s, d) => {
    val labels = dupLabelsShared(s, d)
    val drop = labels.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    documents(s, d).join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Soft dedup ([[Dedup.softWeights]]): every document survives, but
    * near-dup cluster members carry sampling weight 1/|cluster| — the
    * reweight alternative to dropping, for when duplicates carry unique
    * tails worth keeping. Integer ppm weights; labels from the same CC
    * pipeline as [[extDedupCluster]]. */
  private val extDedupSoft: Q = (s, d) => {
    val docs = documents(s, d)
    Dedup.softWeights(docs, "doc_id", dupLabelsShared(s, d))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Per-source document cap K=15 ([[TrainPrep.groupCap]]): the
    * anti-domination rule — no source contributes more than K docs; each
    * kept doc carries its in-source rank. Salted two-phase top-k, so a hot
    * source never funnels through one task. */
  private[queries] val SourceCapK = 15
  private val extSourceCaps: Q = (s, d) =>
    TrainPrep.groupCap(documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id", k = SourceCapK)
      .select(col("doc_id"), col("source"), col("rk"))
      .transform(orderedRows(_, "source", "rk"))

  /** Quality-ranked duplicate survivors — [[extDedupKeep]]'s production
    * sibling: within each near-dup cluster keep the HIGHEST-QUALITY copy
    * (rounded score, doc_id tiebreak), not the lowest id — what a real
    * pipeline retains when duplicates differ in cleanliness. Unclustered
    * docs survive as their own singleton. Cluster labels are doc-keyed and
    * the pick is one per-cluster ranking window — everything partitions by
    * cluster at any scale. */
  private val extDedupKeepBest: Q = (s, d) => {
    val labels = dupLabelsShared(s, d)
    val scored = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        rnd4(TextFns.qualityScore(col("text"))).as("quality"))
    val w = Window.partitionBy(col("__c")).orderBy(col("quality").desc, col("doc_id"))
    scored.join(labels, Seq("doc_id"), "left")
      .withColumn("__c", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Per-source corpus dashboard — the rollup a pipeline review reads:
    * document and token mass, language spread, and the pass rates of the
    * quality gate (the corpus-prep threshold on the ROUNDED score — a
    * deterministic boundary) and the policy blocklist, per corpus slice.
    * All counts integer; rates are integer ratios rounded through [[rnd4]],
    * so the report is engine-exact. One exchange keyed by source with
    * map-side partial aggregation — every signal is a row-local expression
    * fused into the scan. */
  private val extCorpusReport: Q = (s, d) => {
    val n = size(TextFns.tokens(col("text"))).cast("long")
    val nBlocked = PolicyBlocklist
      .map(p => regexp_count(col("text"), lit(p)).cast("long")).reduce(_ + _)
    val qPass = (rnd4(TextFns.qualityScore(col("text"))) >= lit(0.3)).cast("long")
    documents(s, d)
      .select(col("source"), col("lang"), n.as("n_tokens"),
        qPass.as("q_pass"), (nBlocked === 0L).cast("long").as("clean"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("q_pass")).as("n_quality_pass"),
        sum(col("clean")).as("n_policy_clean"))
      .withColumn("quality_pass_rate",
        rnd4(col("n_quality_pass").cast("double") / col("n_docs").cast("double")))
      .withColumn("policy_clean_rate",
        rnd4(col("n_policy_clean").cast("double") / col("n_docs").cast("double")))
      .transform(graft.Tables.orderedReport(_, "source"))
  }

  /** What dedup buys, in tokens: per duplicate cluster, the member count,
    * total token mass, the kept (min-id representative) tokens, and the
    * tokens dedup saves — the number that justifies the dedup stage's cost
    * in a pipeline review ("N% of the corpus is redundant mass").
    *
    * Shape: cluster labels are tiny relative to the corpus (only clustered
    * docs have rows) → broadcast to the slim (doc_id, n_tokens) projection,
    * so the corpus side never shuffles; the rollup is one exchange keyed by
    * cluster_id. All-integer aggregates — engine-exact. */
  /** Dedup THRESHOLD SWEEP — the dial-picking report an engineer runs
    * before committing a near-dup threshold: one exact-Jaccard pair
    * computation at the loosest setting (0.5), then per candidate
    * threshold the pair count, duplicated-doc count, cluster count, and
    * the doc/token mass a min-id-survivor drop would remove. Pairs
    * materialize ONCE (localCheckpoint — pair-count-sized); each
    * threshold's clustering runs over its tiny filtered pair set (the CC
    * single-task fast path) and its stats are 1-row aggregates crossed
    * together. Threshold tests re-snap the rnd4 jaccard to integer
    * ten-thousandths (⌊j·10⁴ + 0.5⌋ ≥ 10·t‰) so both engines compare
    * exact integers, never a re-rounded double. */
  private val SweepThresholds = Seq(500, 600, 700, 800, 900)
  private val extDedupSweep: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val pairs = ngramPairsShared(s, d) // already checkpointed
    val ntok = documents(s, d).select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    // thresholds are NESTED (a pair at 0.9 is a pair at 0.5), so the five
    // clusterings collapse into ONE incremental union-find over the pairs
    // sorted by snapped jaccard descending: walking the thresholds high →
    // low only ever ADDS edges. The pair set is the post-LSH candidate
    // slice (the duplicateClusters ≤1M single-task fast-path bound), so the
    // whole sweep is one task over edge rows that already carry both
    // endpoints' token counts — replacing 5 × (clustering + join + two
    // aggregates) with a single pass. Min-id roots reproduce
    // duplicateClusters' canonical cluster_id, so every metric is
    // bit-identical to the per-threshold relational form the oracle replays.
    val edges = pairs
      .select(col("doc_a"), col("doc_b"),
        floor(col("jaccard") * 10000.0 + 0.5).cast("long").as("snap"))
      .join(ntok.select(col("doc_id").as("doc_a"), col("n_tokens").as("tok_a")), "doc_a")
      .join(ntok.select(col("doc_id").as("doc_b"), col("n_tokens").as("tok_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("snap"), col("tok_a"), col("tok_b"))
    val thresholds = SweepThresholds.sorted.reverse
    edges.as[(Long, Long, Long, Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val es = it.toArray.sortBy(e => -e._3) // jaccard desc
        val parent = new java.util.HashMap[Long, Long]()
        val tokens = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        def add(x: Long, tok: Long): Unit =
          if (!parent.containsKey(x)) { parent.put(x, x); tokens.put(x, tok) }
        var i = 0
        thresholds.iterator.map { t =>
          while (i < es.length && es(i)._3 >= t * 10L) {
            val (a, b, _, ta, tb) = es(i)
            add(a, ta); add(b, tb)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
            i += 1
          }
          var nDup = 0L
          var drops = 0L
          var dropTok = 0L
          val roots = new java.util.HashSet[Long]()
          val docs = parent.keySet().iterator()
          while (docs.hasNext) {
            val doc = docs.next()
            val r = find(doc)
            nDup += 1
            roots.add(r)
            if (r != doc) { drops += 1; dropTok += tokens.get(doc) }
          }
          (t.toLong, i.toLong, nDup, roots.size.toLong, drops, dropTok)
        }
      }
      .toDF("threshold_permille", "n_pairs", "n_dup_docs", "n_clusters",
        "drop_docs", "drop_tokens")
      .transform(graft.Tables.orderedReport(_, "threshold_permille"))
  }

  /** Dedup DECISION BRIEF — the one go/no-go grid a pipeline owner reads
    * where [[extDedupSweep]] (threshold curve), [[extDedupQuality]] (band
    * audit) and [[extDedupSavings]] (token ledger) are three separate
    * reports: per threshold × cluster-size band, the clusters/docs landing
    * there, the docs and tokens a min-id-survivor drop removes, and the
    * mean quality of what gets DROPPED vs what gets KEPT — "at 0.7 the 5+
    * band drops 12% of tokens whose quality matches the survivors'" is the
    * veto line item.
    *
    * Pure composition of the sweep's machinery: the SAME loosest-setting
    * pair slice, the SAME jaccard-descending incremental union-find in ONE
    * task (thresholds are nested, so walking high→low only ever adds
    * edges), with per-doc token counts AND snapped quality riding the edge
    * rows — zero corpus work beyond the two slim metadata joins. Min-id
    * roots reproduce duplicateClusters' canonical labels, so every cell is
    * bit-identical to the per-threshold relational form the oracle
    * replays; DedupSpec pins that the grid reconciles row-for-row with the
    * sweep's totals and the quality audit's bands. */
  private val extDedupPolicy: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val docs = documents(s, d)
    val pairs = ngramPairsShared(s, d) // already checkpointed
    val meta = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
      floor(TextFns.qualityScore(col("text")) * 10000.0 + 0.5)
        .cast("long").as("q_e4"))
    val edges = pairs
      .select(col("doc_a"), col("doc_b"),
        floor(col("jaccard") * 10000.0 + 0.5).cast("long").as("snap"))
      .join(meta.select(col("doc_id").as("doc_a"),
        col("n_tokens").as("tok_a"), col("q_e4").as("q_a")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"),
        col("n_tokens").as("tok_b"), col("q_e4").as("q_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("snap"),
        col("tok_a"), col("tok_b"), col("q_a"), col("q_b"))
    val thresholds = SweepThresholds.sorted.reverse
    edges.as[(Long, Long, Long, Long, Long, Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val es = it.toArray.sortBy(e => -e._3) // jaccard desc
        val parent = new java.util.HashMap[Long, Long]()
        val tokens = new java.util.HashMap[Long, Long]()
        val qual = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        def add(x: Long, tok: Long, q: Long): Unit =
          if (!parent.containsKey(x)) {
            parent.put(x, x); tokens.put(x, tok); qual.put(x, q)
          }
        var i = 0
        thresholds.iterator.flatMap { t =>
          while (i < es.length && es(i)._3 >= t * 10L) {
            val (a, b, _, ta, tb, qa, qb) = es(i)
            add(a, ta, qa); add(b, tb, qb)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
            i += 1
          }
          // cluster sizes at this threshold, then one banded pass over
          // the member map — bands: 0 = "2-4", 1 = "5+" (every mapped doc
          // has ≥ 1 edge, so no size-1 cluster exists here)
          val size = new java.util.HashMap[Long, Long]()
          var docsIt = parent.keySet().iterator()
          while (docsIt.hasNext) {
            val r = find(docsIt.next())
            size.put(r, (if (size.containsKey(r)) size.get(r) else 0L) + 1L)
          }
          def bandOf(n: Long): Int = if (n <= 4L) 0 else 1
          val nClusters = new Array[Long](2); val nDocs = new Array[Long](2)
          val dropDocs = new Array[Long](2); val dropTok = new Array[Long](2)
          val qDrop = new Array[Long](2); val qKeep = new Array[Long](2)
          val rootsIt = size.entrySet().iterator()
          while (rootsIt.hasNext) {
            val e = rootsIt.next(); nClusters(bandOf(e.getValue)) += 1L
          }
          docsIt = parent.keySet().iterator()
          while (docsIt.hasNext) {
            val doc = docsIt.next()
            val r = find(doc)
            val b = bandOf(size.get(r))
            nDocs(b) += 1L
            if (doc != r) {
              dropDocs(b) += 1L; dropTok(b) += tokens.get(doc)
              qDrop(b) += qual.get(doc)
            } else qKeep(b) += qual.get(doc)
          }
          Seq(0, 1).filter(nClusters(_) > 0L).map { b =>
            (t.toLong, if (b == 0) "2-4" else "5+", nClusters(b), nDocs(b),
              dropDocs(b), dropTok(b),
              Math.floorDiv(qDrop(b), dropDocs(b)),   // ≥1 drop per cluster
              Math.floorDiv(qKeep(b), nClusters(b)))  // 1 survivor each
          }
        }
      }
      .toDF("threshold_permille", "band", "n_clusters", "n_docs",
        "drop_docs", "drop_tokens", "mean_q_dropped_e4", "mean_q_kept_e4")
      .transform(graft.Tables.orderedReport(_, "threshold_permille", "band"))
  }

  private val extDedupSavings: Q = (s, d) => {
    val labels = dupLabelsShared(s, d)
    val ntok = documents(s, d).select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    // labels is per-doc cluster assignments over every doc in any duplicate
    // cluster — proportional to the corpus dup mass, NOT a bounded dimension
    // table, so no broadcast hint: AQE picks broadcast at small SFs and a
    // shuffle join at scale (guide §3.1: broadcast only the provably small
    // side; a forced broadcast here OOMs at 100 TB)
    ntok.join(labels, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("doc_id") === col("cluster_id"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .withColumn("saved_tokens", col("total_tokens") - col("kept_tokens"))
      .transform(orderedRows(_, "cluster_id"))
  }

  /** Train/eval contamination detection: near-duplicate pairs that CROSS
    * `source` boundaries — the leakage check a training pipeline runs
    * between its corpus slices (pretraining shard vs held-out eval set).
    * Pure composition at scale: the prefix-filtered exact-Jaccard join
    * supplies candidate pairs; two joins to the slim (doc_id, source)
    * projection attach provenance; a filter keeps the cross-source pairs. */
  private val extContamination: Q = (s, d) => {
    val pairs = ngramPairsShared(s, d)
    val src = documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .filter(col("source_a") =!= col("source_b"))
      .select(col("doc_a"), col("doc_b"), col("source_a"), col("source_b"), col("jaccard"))
      // PAIR report — data-sized (cross-source contaminated-pair sets scale
      // with the corpus), so the sort stays global; a single-partition
      // report tail here funnels a corpus-scale frame through one reducer
      .transform(orderedRows(_, "doc_a", "doc_b"))
  }

  /** N-gram exact-overlap contamination — the 13-gram collision standard
    * for eval leakage (a shared verbatim 13-gram across corpus slices marks
    * the pair, no similarity threshold involved): cross-`source` pairs with
    * the count of distinct shared 13-grams. Complements [[extContamination]]
    * (Jaccard ≥ t catches paraphrase-level overlap; this catches verbatim
    * spans inside otherwise-different documents).
    *
    * Shape: ONE exchange of the slim (doc_id, source, hash) index — group
    * by the int64 shingle hash and generate each posting list's ordered
    * pairs in place (explode × explode), then roll up per pair. At 13
    * tokens a shingle is near-unique, so posting lists are tiny and the
    * pair blowup is df² of a near-always-1 df (~linear in true overlaps —
    * the blowup that forces prefix filtering at 3-grams does not arise);
    * a self-JOIN form of the same index paid the exchange twice plus a
    * third for the pair rollup. Text never rides any exchange. */
  private val extContaminationNgram: Q = (s, d) => {
    // persisted: warm passes read the materialized index instead of
    // re-shingling the corpus — the dominant cost (the extTextRarity
    // pattern; Bench/Verify drain between queries)
    val sh = SessionFrames.track(documents(s, d).select(col("doc_id"), col("source"),
      explode(TextFns.hashedShingles(col("text"), 13)).as("sh")))
    sh.groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("source"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      // PAIR report — data-sized, the sort stays global (see
      // extContamination's tail note)
      .transform(orderedRows(_, "doc_a", "doc_b"))
  }

  /** Per-doc 8-gram novelty ([[TrainPrep.textNovelty]]): the share of each
    * document's shingles found nowhere else in the corpus. n = 8 sits
    * between the 3-gram dedup similarity and the 13-gram verbatim-leak
    * standard: long enough that sharing is real copying, short enough that
    * partial reuse still registers. */
  private val extTextNovelty: Q = (s, d) =>
    TrainPrep.textNovelty(documents(s, d), "doc_id", "text", n = 8)
      .transform(orderedRows(_, "doc_id"))

  /** Cross-source duplication matrix — the corpus-review heatmap over the
    * near-dup pair set: per unordered source pair, how many near-dup pairs
    * cross it, how many distinct docs are involved, and the redundant
    * token mass (the smaller doc of each pair — what dedup would reclaim).
    * The per-pair rollup of [[extContamination]]'s row-level answer.
    *
    * Shape: pairs are prefix-filter/LSH bounded (never all-pairs); each
    * side joins a slim (doc_id, source, n_tokens) projection; both rollups
    * land on a ≤ |sources|² frame (map-side combined). All integer. */
  private[graft] def overlapSources(docs: DataFrame): DataFrame =
    overlapSources(docs,
      Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.5))

  /** [[overlapSources]] over a caller-supplied near-dup pair frame — the
    * query entry passes the session-shared checkpoint. */
  private[graft] def overlapSources(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"), col("source"),
      TextFns.bpeEstimate(col("text")).as("n_tokens"))
    val j = pairs
      .join(meta.select(col("doc_id").as("doc_a"), col("source").as("sa"),
        col("n_tokens").as("ta")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("source").as("sb"),
        col("n_tokens").as("tb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"),
        col("doc_a"), col("doc_b"), least(col("ta"), col("tb")).as("dt"))
    // ONE pass over the pair frame: explode members first (2 rows per pair,
    // each carrying the pair's dt), then a single rollup — n_pairs and
    // dup_tokens halve exactly (always even), n_docs is the distinct count.
    // The previous two-aggregate form re-executed the candidate join +
    // Jaccard verify once per rollup (measured 2.6× the pair cost at sf0.1).
    j.select(col("source_lo"), col("source_hi"), col("dt"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("source_lo", "source_hi")
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("doc")).as("n_docs"),
        expr("sum(dt) div 2").as("dup_tokens"))
      .select("source_lo", "source_hi", "n_pairs", "n_docs", "dup_tokens")
      .transform(orderedRows(_, "source_lo", "source_hi"))
  }

  private val extOverlapSources: Q = (s, d) =>
    overlapSources(documents(s, d), ngramPairsShared(s, d))

  /** Distributed BPE pair counting — the counting step of BPE tokenizer
    * training (Sennrich et al. 2016): weighted adjacent-symbol-pair
    * frequencies whose argmax is the next merge. The top-k table this
    * emits is exactly what a ranked merge list ([[TextFns.bpeMergeCount]])
    * consumes, so the two operators compose into train-then-apply.
    *
    * Scale shape — the reason distributed BPE training is cheap: the
    * corpus-sized work is ONE token-frequency aggregate; the symbol-pair
    * explode then runs over DISTINCT tokens (vocab-sized, corpus-size-
    * independent) weighted by tf. The final ranking window is global but
    * its input is the symbol-pair alphabet (≤ |chars|² rows). */
  private[graft] def bpePairs(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    // global window over the symbol-pair alphabet (≤ |chars|² rows)
    val byFreq = Window.orderBy(col("n_occ").desc, col("sym_a"), col("sym_b"))
    tf.filter(length(col("token")) >= 2)
      .select(col("token"), col("tf"),
        explode(expr("transform(sequence(1, length(token) - 1), " +
          "i -> struct(substring(token, i, 1) AS a, substring(token, i + 1, 1) AS b))"))
          .as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum("tf").as("n_occ"), countDistinct(col("token")).as("n_types"))
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .filter(col("rank") <= k)
      .select("rank", "sym_a", "sym_b", "n_occ", "n_types")
      .transform(graft.Tables.orderedReport(_, "rank"))
  }

  private val extBpePairs: Q = (s, d) => bpePairs(documents(s, d), k = 20)

  /** Merge count for the [[TrainPrep.bpeTrain]] entry — small enough that
    * the recursive-CTE oracle replay stays cheap, deep enough that merged
    * symbols feed later merges on the fixture (rank-2+ pairs contain
    * rank-1 output). Shared with BpeTrainSpec's composition pin. */
  final val BpeTrainMerges = 8

  private val extBpeTrain: Q = (s, d) =>
    TrainPrep.bpeTrain(documents(s, d), nMerges = BpeTrainMerges)

  /** Session-shared trained merges (a [[SessionFrames.value]], like
    * [[pqBooks]]): train once, encode repeatedly — the tokenizer lifecycle. The
    * collect is bounded by construction (nMerges rows, not corpus-sized). */
  private def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] =
    SessionFrames.value(s, d, "bpe_merges")(
      TrainPrep.bpeTrain(documents(s, d), nMerges = BpeTrainMerges)
        .orderBy("merge_rank").select("sym_a", "sym_b")
        .collect().toIndexedSeq.map(r => (r.getString(0), r.getString(1))))

  /** The derived VOCAB table — the tokenizer's vocab.json export next to
    * ext_bpe_train's merges.txt: every base character observed in the
    * corpus (id = codepoint) plus every merged piece (id = base + min
    * rank, the [[graft.functions.BpeMerge.idMap]] scheme ext_bpe_encode
    * emits). `merge_rank` 0 marks base rows. The char inventory is one
    * distinct-aggregate over a per-token codepoint explode; the merged
    * side is an nMerges-row literal frame — nothing corpus-sized moves. */
  private val extBpeVocab: Q = (s, d) => {
    import s.implicits._
    val merges = trainedMerges(s, d)
    val seen = scala.collection.mutable.LinkedHashMap[String, Long]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      val m = a + b
      if (!seen.contains(m)) seen(m) = i + 1L
    }
    val mergedDf = seen.toSeq
      .map { case (p, r) => (graft.functions.BpeMerge.MergedIdBase + r, p, "merged", r) }
      .toDF("id", "piece", "kind", "merge_rank")
    // char inventory compiled ([[graft.functions.DistinctChars]]): the
    // token explode → per-char lambda explode it replaces shuffled every
    // CHARACTER OCCURRENCE of the corpus into the distinct; the kernel
    // emits each doc's (bounded) alphabet row-locally, so the remaining
    // distinct is alphabet-sized at any scale. Identical piece set: a
    // token character IS a non-space character of the text.
    val chars = documents(s, d)
      .select(explode(TextFns.distinctChars(col("text"))).as("piece"))
      .distinct()
      .select(ascii(col("piece")).cast("long").as("id"), col("piece"),
        lit("char").as("kind"), lit(0L).as("merge_rank"))
    graft.Tables.orderedReport(chars.unionByName(mergedDf), "id", "piece")
  }

  /** Tokenizer train-then-APPLY, end to end: encode every document with the
    * corpus-trained merge list ([[graft.functions.BpeEncode]] — one
    * codegen'd pass, ids per the derived-vocab scheme). Surfaced as
    * per-doc scalars (piece count, merged-piece count, id sum — the id
    * MULTISET fingerprint); the id SEQUENCE is pinned by BpeTrainSpec's
    * round-trip property. Oracle replays training via the ext_bpe_train
    * recursive CTE, then applies the merges rank-by-rank with the same
    * wrapped-symbol replace — leftmost-first application makes sequential
    * rank-order replay identical to the greedy lowest-rank loop. */
  /** Context-window packing driven by REAL tokenizer counts: the trained
    * merge list plugged into [[TrainPrep.packWindows]]'s tokenCount slot —
    * window boundaries land where the actual BPE pieces put them, not the
    * chars/4 estimate ([[TrainPrep]] keeps the estimate as its
    * oracle-default). Oracle composes the train+apply replay with the same
    * running-sum pack CTE as ext_pack_windows, so the whole
    * train→count→pack pipeline is hash-gated end to end. */
  private val extPackWindowsBpe: Q = (s, d) =>
    TrainPrep.packWindows(documents(s, d), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8,
      tokenCount = TextFns.bpeMergeCount(trainedMerges(s, d)))
      .transform(orderedRows(_, "doc_id"))

  /** The unigram-tokenizer twin of [[extPackWindowsBpe]]: the EM-trained
    * model's Viterbi piece count ([[graft.operators.Unigram.encode]], one
    * codegen'd pass) plugged into the same packWindows tokenCount slot —
    * window boundaries land where the unigram pieces put them, closing
    * the tokenizer symmetry (both tokenizers drive both the encode
    * surface and the packing surface). Rows-only: the EM training
    * underneath is not oracle-expressible (ext_unigram_train's contract);
    * UnigramSpec hash-gates the train→count→pack composition — every
    * window column must equal the running-sum recurrence replayed over
    * the independently-encoded per-doc piece counts. */
  private val extPackWindowsUnigram: Q = (s, d) =>
    // the session-shared encoded frame supplies the per-doc piece count
    // (the fidelity audit reads the same checkpoint): packWindows' count
    // column is the precomputed size, applied as identity
    TrainPrep.packWindows(
      uniEncoded(s, d).select(col("doc_id"),
        size(col("e.ids")).cast("long").as("__n_pieces")),
      "doc_id", "__n_pieces", budgetTokens = 2048L, nShards = 8,
      tokenCount = c => c)
      .transform(orderedRows(_, "doc_id"))

  /** Tokenizer-efficiency table by language: corpus fertility (BPE pieces
    * per whitespace word) and compression (chars per piece) — the numbers a
    * tokenizer review reads before committing a vocab to a multilingual
    * run (fertility ≫ 1 on a language = that language pays more sequence
    * length per word). Per-doc piece counts come from the SAME trained
    * encode expression as `ext_bpe_encode` (one session-shared merge
    * list); the rollup is one lang-keyed map-side-combined aggregate with
    * exact integer sums and two trailing divisions. */
  private val extTokenizerFertility: Q = (s, d) => {
    val ids = TextFns.bpeEncode(trainedMerges(s, d))(col("text"))
    documents(s, d)
      .select(col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("nw"),
        length(col("text")).cast("long").as("nc"),
        size(ids).cast("long").as("np"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("np")).as("n_pieces"), sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        rnd4(col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        rnd4(col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
      .transform(graft.Tables.orderedReport(_, "lang"))
  }

  private val extBpeEncode: Q = (s, d) => {
    val ids = TextFns.bpeEncode(trainedMerges(s, d))(col("text"))
    // tail moments compiled ([[graft.functions.LongArrayStats]]): the
    // size/filter/aggregate trio re-walked the encoded array with an
    // interpreted lambda per element (and kept the projection off the
    // whole-stage-codegen path); one pass now
    documents(s, d)
      .select(col("doc_id"),
        TextFns.longArrayStats(ids, graft.functions.BpeMerge.MergedIdBase).as("__st"))
      .select(col("doc_id"),
        col("__st.n").as("n_pieces"),
        col("__st.n_ge").as("n_merged"),
        col("__st.sum").as("id_sum"))
      .transform(orderedRows(_, "doc_id"))
  }

  // -- similarity search -----------------------------------------------------

  /** Shared ANN calibration frames (the [[trainedNbModel]] discipline):
    * the exact top-[[ExactKMax]] ground truth over the probe queries and
    * the production IVF codebook are deterministic pure functions of the
    * corpus, and FIVE surfaces score against them (ext_sim_knn, the
    * lsh/ivf single-k recall audits, ext_sim_recall_curve — whose pq and
    * ivfpq tiers also read it) — recomputing per query re-runs a
    * byte-identical brute scan up to five times. The cached
    * frame is the Q·kMax checkpointed result (80 rows), the codebook
    * O(cells·dim) driver-side — bounded artifacts, never corpus data.
    * rank ≤ 5 of the k = 8 frame IS the k = 5 result (same window, same
    * tie order), so the single-k surfaces slice it instead of rescanning. */
  private val ExactKMax = 8
  private def exactTop(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "exact_top") {
      val emb = embeddings(s, d)
      Knn.bruteForce(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = ExactKMax)
    }
  private def ivfCellsShared(s: SparkSession, d: String): Seq[(Int, Array[Float])] =
    SessionFrames.value(s, d, "ivf_cells")(
      Knn.ivfCentroids(embeddings(s, d), "vec_id", "embedding",
        IvfCells, IvfIters, IvfSampleN))

  /** Exact top-5 cosine neighbours for the first 10 vectors — the rank ≤ 5
    * slice of the shared calibration frame (one brute scan per session,
    * PlanSpec pins the raw operator's codegen'd dot). */
  private val extSimKnn: Q = (s, d) =>
    graft.Tables.orderedReport(
      exactTop(s, d).filter(col("rank") <= 5), "query_id", "rank")

  /** FILTERED exact top-k — metadata-scoped vector search (the
    * tenant-/label-constrained query every production vector store
    * exposes): neighbours must share the query's `label`. The scope is an
    * equi-join KEY, not a post-filter ([[Knn.bruteForce]]'s scopeCols), so
    * each query scores only its own label slice — filtered search is
    * CHEAPER than global, the property that matters at 100 TB. */
  private val extSimKnnFiltered: Q = (s, d) => {
    val emb = embeddings(s, d)
    Knn.bruteForce(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, scopeCols = Seq("label"))
      .withColumn("label", col("label").cast("long"))
      .transform(graft.Tables.orderedReport(_, "query_id", "rank"))
  }

  /** MMR diversified top-k ([[Knn.mmrInt]]) — the greedy
    * relevance-vs-redundancy rerank (λ = 0.7, top-25 candidate pool,
    * 8 picks per query) between ANN recall and the consumer. Fully
    * oracle-gated: integer inner products on the 1e-6 snap grid and
    * 10×-scaled integer scores make every greedy step exact, and the SQL
    * twin unrolls the same 8 picks as chained CTEs (the unrolled-Lloyd
    * replay discipline). */
  private val extSimMmr: Q = (s, d) =>
    Knn.mmrInt(embeddings(s, d), "vec_id", "embedding",
      nQueries = 10, m = 25, k = 8, lamTenths = 7)
      .transform(graft.Tables.orderedReport(_, "query_id", "rank"))

  /** The production ANN+rerank composition ([[Knn.mmrIvfInt]]): MMR over
    * IVF-probed candidates — each query scores only its 6 nearest cells'
    * members instead of the exact full-scan pool. Oracle-gated END TO
    * END on the shared integer Lloyd: quantizer, probe ranking,
    * candidate cut, and all 8 greedy picks replay in SQL. */
  private val extSimMmrIvf: Q = (s, d) =>
    Knn.mmrIvfInt(embeddings(s, d), "vec_id", "embedding",
      nQueries = 10, m = 25, k = 8, lamTenths = 7,
      nCells = IvfCells, iters = IvfIters, sampleN = IvfSampleN,
      nProbe = IvfProbe)
      .transform(graft.Tables.orderedReport(_, "query_id", "rank"))

  /** Prefix-dimension (Matryoshka) recall audit ([[Knn.matryoshkaAudit]]):
    * top-10 overlap of the L ∈ {8,16,32,64}-prefix integer-MIPS ranking
    * with the full-dimension one — what truncating stored vectors for a
    * cheaper first-stage scan costs on THIS corpus. Hash-gated end to end
    * on the snap grid. */
  private val extEmbedMatryoshka: Q = (s, d) =>
    Knn.matryoshkaAudit(embeddings(s, d), "vec_id", "embedding",
      nQueries = 10, k = 10, dims = Seq(8, 16, 32, 64))
      .transform(graft.Tables.orderedReport(_, "dim", "query_id"))

  /** Class-balance audit + reweighting plan over the labeled embedding set
    * (training prep): per label, count, corpus share, and the
    * inverse-frequency weight N/(k·nᵢ) a "balanced" sampler multiplies
    * each class by (mean weight 1 under perfect balance). One map-side-
    * combined label aggregate + a broadcast 1-row total — label-cardinality
    * frames only, at any corpus size. */
  private val extClassBalance: Q = (s, d) => {
    val counts = embeddings(s, d)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    val tot = broadcast(counts.agg(sum(col("n")).as("__N"),
      count(lit(1)).as("__k")))
    counts.crossJoin(tot)
      .select(col("label"), col("n"),
        rnd4(col("n").cast("double") / col("__N")).as("share"),
        rnd4(col("__N").cast("double") / (col("__k") * col("n"))).as("weight"))
      .transform(graft.Tables.orderedReport(_, "label"))
  }

  /** Hard-negative mining for contrastive/embedding training (the
    * in-batch-negatives upgrade every retrieval trainer wants): each
    * query's top-3 nearest neighbours from OTHER classes — the most
    * confusable wrong answers. [[extSimKnnFiltered]]'s machinery with the
    * label scope NEGATED ([[Knn.bruteForce]] `scopeEqual = false`). */
  private val extSampleHardneg: Q = (s, d) => {
    val emb = embeddings(s, d)
    Knn.bruteForce(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 3, scopeCols = Seq("label"), scopeEqual = false)
      .withColumn("label", col("label").cast("long"))
      .transform(graft.Tables.orderedReport(_, "query_id", "rank"))
  }

  /** Banded-LSH approximate variant: candidates are the union of the
    * query's bucket in 16 independent 6-bit tables, exact-rescored.
    * KnnSpec pins the recall floor vs exact knn at sf0.1 — a single-table
    * form recalled 6% there, so the banding is load-bearing. Parameter
    * note: the fixture's top neighbors sit at cosine ≈ 0.4 over a ~0 bulk
    * (the WEAK-similarity regime), where sign-LSH must spend many short
    * bands for recall and pruning fades — on such corpora the IVF path
    * (0.96 recall probing 3/8 of cells) is the better scale answer, and
    * the engine ships both. Emitted through its relational RECALL AUDIT
    * ([[Knn.recallAudit]] — the `ext_token_quantiles_fast` graduation):
    * the oracle hash-gates per-query and total hit floors against exact
    * top-k; the neighbor lists themselves stay KnnSpec-pinned. */
  /** Per-query recall floors for the four ANN audit grids
    * ([[Knn.recallAudit]]): measured per-query minima on the fixtures are
    * (lsh 1, ivf 2, pq 1, ivfpq 1) of k = 5 and totals-of-50 (lsh 21/30,
    * ivf 40/48, pq 32/31, ivfpq 34/26) at sf0.01/sf0.1 — floors sit below
    * both with margin. The weak-similarity regime (top cosine ≈ 0.4 over
    * a ~0 bulk) is why absolute recalls are modest; KnnSpec pins the
    * aggregate floors on the raw neighbor lists. Calibration domain:
    * sf ≥ 0.01 (the driver's gate scales) — on a ≤100-vector corpus
    * (sf0.001) LSH bucketing over so few points is draw luck and a
    * per-query floor can miss (observed once at sf0.001, row green at
    * both gate scales); the audits are production contracts, not
    * toy-scale ones. */
  private val LshFloorQ = 1; private val LshFloorT = 16
  private val IvfFloorQ = 2; private val IvfFloorT = 32
  private val PqFloorQ = 1; private val PqFloorT = 24
  private val IvfPqFloorQ = 1; private val IvfPqFloorT = 20

  private val extSimKnnLsh: Q = (s, d) => {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    Knn.recallAudit(qs, "vec_id",
      Knn.lshKnn(emb, qs, "vec_id", "embedding", k = 5, bands = 16, bitsPerBand = 6),
      exactTop(s, d).filter(col("rank") <= 5),
      k = 5, minHitsPerQuery = LshFloorQ, minHitsTotal = LshFloorT)
  }

  /** IVF-probed approximate top-k — the second classic ANN scale path
    * (k-means cells, query probes its 6 of 16 cells → ~3/8 of the corpus
    * scored per query). Deterministic (decimal centroid sums, id
    * tie-breaks) but approximate: fixture recall ≈ 0.9 vs exact (KnnSpec
    * pins ≥ 0.8). Emitted through its relational recall audit
    * ([[Knn.recallAudit]]) — oracle-gated hit floors vs exact top-k. */
  /** The IVF entry's index/probe contract, shared with KnnSpec's recall
    * pin: the spec asserts THIS parameterization (not some easier one)
    * holds a recall floor against exact knn on the fixture. `sampleN` is
    * set so the quantizer trains on a sample smaller than the sf0.01
    * corpus — the 100 TB shape, where training cost is corpus-independent. */
  final val IvfK = 5
  final val IvfCells = 16
  final val IvfIters = 2
  final val IvfProbe = 6
  final val IvfSampleN = 128

  private val extSimKnnIvf: Q = (s, d) => {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    Knn.recallAudit(qs, "vec_id",
      // the serving audit probes the session-trained codebook (the
      // ivfPqIdx/pqBooks discipline — identical centroids to inline
      // training, byte-for-byte; index built once, served many times is
      // the production shape, and the float-Lloyd train otherwise re-runs
      // its sample/assign round-trips inside every audit)
      Knn.ivfKnn(emb, qs, "vec_id", "embedding",
        k = IvfK, nCells = IvfCells, iters = IvfIters, nProbe = IvfProbe,
        sampleN = IvfSampleN, trainedCells = Some(ivfCellsShared(s, d))),
      exactTop(s, d).filter(col("rank") <= IvfK),
      k = IvfK, minHitsPerQuery = IvfFloorQ, minHitsTotal = IvfFloorT)
  }

  /** Recall@k CURVE across ALL FOUR ANN tiers — the calibration table a
    * user reads to pick k (and tier) before trusting approximate search:
    * for k ∈ {1,2,4,8}, the aggregate |ann top-k ∩ exact top-k| over the
    * probe queries for the LSH, IVF, PQ and IVF-PQ indexes at their
    * production parameterizations, gated per (tier, k) by measured
    * floors — every tier a user can deploy is on the same k axis. The
    * single-k audits catch a tier breaking; the curve says WHERE on the
    * k axis each tier stops being trustworthy.
    *
    * Shape: exact top-kMax is the session-shared calibration checkpoint
    * ([[exactTop]] — ONE brute scan serves five surfaces) read by every
    * tier join; the IVF tier probes against the shared production
    * codebook ([[ivfCellsShared]] — byte-identical to inline training)
    * and the PQ / IVF-PQ tiers against the session-trained [[pqBooks]] /
    * [[ivfPqIdx]] (the serve-from-index production shape); each tier's
    * ANN list is its production single-scan plan — four corpus scans for
    * four tiers is the honest audit minimum — and everything after the
    * scans is Q·kMax-bounded (the hit join, the ×|ks| explode, the floor
    * join). Floors ([[RecallCurveFloors]]) are measured minima across
    * the sf0.001 / sf0.01 / sf0.1 fixtures minus margin (lsh h8 36–48 →
    * floor 30; ivf h8 64–75 → floor 55; pq h8 42–51 → floor 32; ivfpq
    * h8 41–60 → floor 30), so the audit is fixture-stable; the oracle
    * asserts the same grid with ok = true (the [[Knn.recallAudit]]
    * graduation discipline — the neighbor lists are hash-machinery-
    * dependent, their recall CONTRACT is deterministic). */
  private val RecallCurveKs = Seq(1L, 2L, 4L, 8L)
  private[graft] val RecallCurveFloors: Map[(String, Long), Long] = Map(
    ("lsh", 1L) -> 4L, ("lsh", 2L) -> 7L, ("lsh", 4L) -> 16L, ("lsh", 8L) -> 30L,
    ("ivf", 1L) -> 8L, ("ivf", 2L) -> 15L, ("ivf", 4L) -> 28L, ("ivf", 8L) -> 55L,
    ("pq", 1L) -> 6L, ("pq", 2L) -> 10L, ("pq", 4L) -> 18L, ("pq", 8L) -> 32L,
    ("ivfpq", 1L) -> 3L, ("ivfpq", 2L) -> 8L, ("ivfpq", 4L) -> 15L,
    ("ivfpq", 8L) -> 30L)
  private val extSimRecallCurve: Q = (s, d) => {
    import s.implicits._
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    val kMax = RecallCurveKs.max.toInt
    require(kMax <= ExactKMax, "curve ks must fit the shared exact frame")
    val exact = exactTop(s, d) // the shared Q·kMax calibration checkpoint
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__er"))
    val nq = broadcast(qs.agg(count(lit(1)).as("__nq")))
    val tiers = Seq(
      "lsh" -> Knn.lshKnn(emb, qs, "vec_id", "embedding", k = kMax,
        bands = 16, bitsPerBand = 6),
      "ivf" -> Knn.ivfKnn(emb, qs, "vec_id", "embedding", k = kMax,
        nCells = IvfCells, iters = IvfIters, nProbe = IvfProbe,
        sampleN = IvfSampleN, trainedCells = Some(ivfCellsShared(s, d))),
      "pq" -> Knn.pqKnnWith(pqBooks(s, d), emb, qs, "vec_id", "embedding",
        k = kMax, rerank = PqRerank, codedCorpus = Some(pqCodedShared(s, d))),
      "ivfpq" -> Knn.ivfPqKnnWith(ivfPqIdx(s, d), emb, qs, "vec_id", "embedding",
        k = kMax, nProbe = IvfProbe, rerank = PqRerank,
        codedCorpus = Some(ivfPqCodedShared(s, d))))
    tiers.map { case (tier, ann) =>
      val hits = ann
        .select(col("query_id"), col("neighbor_id"), col("rank").as("__ar"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .select(explode(typedLit(RecallCurveKs)).as("k"), col("__ar"), col("__er"))
        .groupBy(col("k"))
        .agg(sum(when(col("__ar") <= col("k") && col("__er") <= col("k"), 1L)
          .otherwise(0L)).as("__h"))
      // LEFT join from the literal k grid: a tier with zero intersecting
      // pairs still audits every k (as hits = 0), never drops rows
      val grid = RecallCurveKs
        .map(k => (tier, k, RecallCurveFloors((tier, k))))
        .toDF("tier", "k", "min_hits")
      grid.join(hits, Seq("k"), "left").crossJoin(nq)
        .select(col("tier"), col("k"), (col("__nq") * col("k")).as("max_hits"),
          col("min_hits"),
          (coalesce(col("__h"), lit(0L)) >= col("min_hits")).as("ok"))
    }.reduce(_ unionByName _)
      .transform(graft.Tables.orderedReport(_, "tier", "k"))
  }

  /** The SemDeDup entry's contract, shared with KnnSpec's planted-duplicate
    * and candidate-bound pins (the IVF pattern): the spec asserts THIS
    * parameterization groups planted near-identical vectors and touches
    * only within-cell pairs. `sampleN` keeps quantizer training
    * corpus-independent (the 100 TB shape). */
  final val SemCells = 16
  final val SemIters = 2
  final val SemSampleN = 128
  final val SemThreshold = 0.3

  /** SemDeDup (Abbas et al. 2023): embedding-space semantic dedup — k-means
    * cells bound candidates, within-cell cosine ≥ t pairs close into groups,
    * min-id representative kept. One row per vector (id, cell, rep_id,
    * kept). The cells come from the integer-exact quantizer
    * ([[Knn.intCellExpr]] — the `ext_sim_knn_ivf_cells` Lloyd), so the
    * ENTIRE pipeline — quantizer, within-cell cosine pairs, transitive
    * closure, representatives — hash-gates against one oracle (Lloyd
    * replay + recursive CTE); grouping semantics stay pinned by KnnSpec's
    * planted-duplicate properties, and `ext_sim_semdedup_cells` keeps
    * gating the grouping under hash cells independently of training. */
  private val extSimSemdedup: Q = (s, d) => {
    val emb = embeddings(s, d)
    Knn.semanticDedupIn(emb, "vec_id", "embedding",
      threshold = SemThreshold,
      cellExpr = Knn.intCellExpr(emb, "vec_id", "embedding",
        nCells = SemCells, iters = SemIters, sampleN = SemSampleN))
      .transform(orderedRows(_, "vec_id"))
  }

  /** The SemDeDup GROUPING machinery under an injected relational cell
    * assignment ([[Knn.semanticDedupIn]] with `pmod(id, 16)`): within-cell
    * threshold pairs → connected components → min-id representative, all
    * hash-gated against a recursive-CTE oracle — everything
    * `ext_sim_semdedup` runs EXCEPT the learned quantizer (which stays
    * spec-pinned: KnnSpec planted groups). Cells here are id-hash buckets,
    * not semantic cells — the point is the oracle, not the recall. */
  private val extSimSemdedupCells: Q = (s, d) =>
    Knn.semanticDedupIn(embeddings(s, d), "vec_id", "embedding",
      threshold = SemThreshold, cellExpr = pmod(col("vec_id"), lit(16)))
      .transform(orderedRows(_, "vec_id"))

  /** The IVF QUANTIZER itself under the oracle (the [[Knn.ivfCellsInt]]
    * cell table): lowest-id sample, lowest-id seeds, Lloyd floor-mean
    * updates, argmin assignment of the FULL corpus — in the repo's
    * exact-integer discipline, hash-gated against an unrolled SQL replay of
    * the identical recurrence. The codebook is the session's
    * [[intIvfCellsShared]] (the same training, trained once per fixture),
    * so a warm build runs no job. With this, `ext_sim_semdedup_cells`
    * (grouping) and the recall audits, the spec-only ANN surface shrinks
    * to PQ codebooks / PCA / unigram-EM. Mirrors `ext_sim_knn_ivf`'s
    * (nCells, iters, sampleN) contract. */
  private val extSimKnnIvfCells: Q = (s, d) =>
    embeddings(s, d).select(col("vec_id"),
      Knn.intCellOf(col("embedding"), intIvfCellsShared(s, d)).as("cell"))
      .transform(orderedRows(_, "vec_id"))

  /** The frozen integer-Lloyd codebook per fixture dir (the
    * [[ivfCellsShared]] discipline for the INT quantizer): the occupancy
    * audit and its streaming maintainer must assign against the SAME
    * centroids; a deterministic pure function of (corpus, params). */
  private[graft] def intIvfCellsShared(s: SparkSession, d: String): Seq[(Int, Array[Long])] =
    SessionFrames.value(s, d, "int_ivf_cells")(
      Knn.intIvfCells(embeddings(s, d), "vec_id", "embedding",
        IvfCells, IvfIters, IvfSampleN))

  /** IVF index-HEALTH audit: per-cell occupancy and the balance numbers
    * (share permille, max/min cell, max-over-mean imbalance permille)
    * under the production integer quantizer — the report that decides
    * whether nProbe keeps its recall and whether a hot cell is turning
    * probes into scans. ONE zero-shuffle assignment scan against the
    * frozen literal codebook → map-side-combined nCells-bounded grid →
    * broadcast stats row; shared verbatim with the streaming maintainer
    * ([[graft.streaming.IvfOccupancyStream]]). Hash-gates end to end
    * against the shared Lloyd replay + occupancy rollup. */
  private val extSimIvfOccupancy: Q = (s, d) => {
    import graft.streaming.IvfOccupancyStream
    IvfOccupancyStream.report(
      IvfOccupancyStream.kind(intIvfCellsShared(s, d)).slice(embeddings(s, d)))
  }

  /** Clustering-quality audit of that same quantizer: per-vector
    * simplified silhouette ([[Knn.silhouetteInt]]) — a = exact d² to the
    * assigned centroid, b = d² to the nearest other, sil = (b−a)/b in
    * integer milli — plus the per-cell mean, the "did k make sense"
    * number read before trusting IVF probes or SemDeDup groups.
    * Integer-exact end to end on the shared Lloyd, so cells, both
    * distances, silhouettes, and floor-mean rollups all hash-gate against
    * the rn=1/rn=2 rows of the replay's ranked-distance table. */
  private val extSimSilhouette: Q = (s, d) =>
    Knn.silhouetteInt(embeddings(s, d), "vec_id", "embedding",
      nCells = IvfCells, iters = IvfIters, sampleN = IvfSampleN)
      .transform(orderedRows(_, "vec_id"))

  /** Embedding QC: distance-to-assigned-centroid outlier flags (corrupt
    * encoders / junk vectors surface as far-from-every-centroid rows) —
    * sample-trained cells, zero-shuffle assignment, one nCells-row mean
    * aggregate broadcast back. Rides the integer-exact quantizer
    * ([[Knn.centroidOutliersInt]] over the `ext_sim_knn_ivf_cells` Lloyd),
    * so the WHOLE output — cells, exact d², floor-means, flags — is
    * hash-gated against the unrolled SQL replay; planted-outlier semantics
    * stay pinned in KnnSpec. Shares the IVF index contract constants;
    * factor 1.2 ≡ 120 pct in the cross-multiplied exact form. */
  private val extEmbedOutliers: Q = (s, d) =>
    Knn.centroidOutliersInt(embeddings(s, d), "vec_id", "embedding",
      nCells = IvfCells, iters = IvfIters, factorPct = 120, sampleN = IvfSampleN)
      .transform(orderedRows(_, "vec_id"))

  /** Per-dimension embedding QC — mean / population variance / zero share
    * per coordinate: the "is the encoder emitting dead or collapsed
    * dimensions" audit run before an ANN index is built over a new
    * embedding batch. posexplode → ONE dim-keyed aggregate (map-side
    * combined, d-bounded output). Floats land on an exact 10⁻⁴ integer
    * grid first — floor(x·10⁴ + 0.5), the [[rnd4]] binary-rounding form,
    * never Spark's string-reparsing `round` (see rnd4's scaladoc) — so
    * the moment sums are EXACT int64 (|xi| ≤ 10⁴ ⇒ Σxi² ≤ n·10⁸ and the
    * variance numerator n·Σx² − (Σx)² stay < 2⁵³ up to ~10⁸ rows —
    * widen the sums to decimal beyond that) and each output is one
    * trailing division on bit-identical integers. `n_zero` counts
    * coordinates dead at 10⁻⁴ resolution. */
  private val extEmbedDimStats: Q = (s, d) =>
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("dim"),
        floor(col("x").cast("double") * 1e4 + 0.5).cast("long").as("xi"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("s1"),
        sum(col("xi") * col("xi")).as("s2"),
        sum(when(col("xi") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("xi")).as("minv"), max(col("xi")).as("maxv"))
      .select(col("dim"), col("n"), col("n_zero"),
        rnd4(col("s1").cast("double") / (col("n") * lit(10000L)).cast("double"))
          .as("mean"),
        rnd4((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * col("n")).cast("double") / lit(100000000.0)).as("variance"),
        rnd4(col("minv").cast("double") / lit(10000.0)).as("vmin"),
        rnd4(col("maxv").cast("double") / lit(10000.0)).as("vmax"))
      .transform(graft.Tables.orderedReport(_, "dim"))

  /** Split leakage in EMBEDDING space: near-dup pairs (exact-cosine-verified
    * LSH candidates — [[Knn.cosineNearDupLsh]], the `ext_sim_neardup_lsh`
    * scale path and recall argument) whose members land in different
    * train/val/test splits. The n-gram leakage audit (`ext_split_leakage`)
    * catches verbatim copies; this catches PARAPHRASE leakage — an eval doc
    * whose semantic twin sits in train is as leaked as a verbatim copy.
    * Split labels are the pure id-hash function ([[TrainPrep.splitLabel]],
    * same 100/50‰ contract as `ext_split_assign`) recomputed per pair
    * side — zero corpus join-backs; the LSH-bounded pair frame is the only
    * data in motion. */
  private val extSplitLeakageEmbed: Q = (s, d) =>
    Knn.cosineNearDupLsh(embeddings(s, d).filter(col("label") === 0),
      "vec_id", "embedding", threshold = 0.3, bands = 16, bitsPerBand = 2)
      .select(col("id_a"), col("id_b"),
        TrainPrep.splitLabel(col("id_a"), 100, 50).as("split_a"),
        TrainPrep.splitLabel(col("id_b"), 100, 50).as("split_b"),
        col("cosine"))
      .filter(col("split_a") =!= col("split_b"))
      .transform(orderedRows(_, "id_a", "id_b"))

  /** Embedding-cosine near-duplicate pairs within one label partition. */
  private val extSimNeardup: Q = (s, d) =>
    Knn.cosineNearDup(embeddings(s, d).filter(col("label") === 0),
      "vec_id", "embedding", threshold = 0.3)
      .transform(orderedRows(_, "id_a", "id_b"))

  /** Semantic duplicate clusters: embedding-cosine near-dup pairs (LSH
    * candidate path) → connected components — the embedding-space analog of
    * `ext_dedup_cluster`, labelling every semantically-duplicated vector
    * with its cluster's canonical min id. Pure composition of two verified
    * scale paths. */
  private val extSimCluster: Q = (s, d) =>
    Dedup.duplicateClusters(
      Knn.cosineNearDupLsh(embeddings(s, d).filter(col("label") === 0),
        "vec_id", "embedding", threshold = 0.3, bands = 16, bitsPerBand = 2)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .withColumnRenamed("doc_id", "vec_id")
      // one row per semantically-duplicated vector — scales with the
      // corpus dup mass, so the sort stays global (the per-pair
      // siblings extSimNeardup/extSimNeardupLsh keep theirs for the same
      // reason)
      .transform(orderedRows(_, "vec_id"))

  /** LSH-banded near-dup — candidates from (band, key) collisions instead of
    * the O(n²) cross join, exact-cosine verified. 16 bands × 2 bits holds
    * recall 1.0 on the fixture's weak (cosine ≈ 0.31–0.39) pairs — per-pair
    * collision ≥ 1 − (1 − 0.6²)¹⁶ ≈ 0.999 — so its verified output equals
    * [[extSimNeardup]]'s and shares its oracle (same determinism argument as
    * `ext_dedup_minhash`: xxhash64 planes are fixed, so equality on this
    * fixture is a fact, not a coin flip; re-verify if the fixture changes).
    * KnnSpec separately demonstrates the pruning regime with planted
    * strong near-dups at a production threshold. */
  private val extSimNeardupLsh: Q = (s, d) =>
    Knn.cosineNearDupLsh(embeddings(s, d).filter(col("label") === 0),
      "vec_id", "embedding", threshold = 0.3, bands = 16, bitsPerBand = 2)
      .transform(orderedRows(_, "id_a", "id_b"))

  // -- training-data preparation ---------------------------------------------

  /** Deterministic stratified rebalance: the dominant language capped at
    * 250‰, the tail kept at 800‰ — hash-of-id buckets ([[TrainPrep
    * .sampleBucket]]), so the sample is a pure filter (zero shuffles) and
    * stable across reruns and engines. */
  private val extSampleStratified: Q = (s, d) =>
    TrainPrep.stratifiedSample(documents(s, d), "doc_id", "lang",
      permille = Map("en" -> 250), defaultPermille = 800)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .transform(orderedRows(_, "doc_id"))

  /** Quality-weighted resampling: survival probability = the composite
    * quality score (stop ratio / TTR / length saturation), so better docs
    * are kept preferentially — the DCLM/FineWeb-style quality reweight as
    * a pure per-row filter (see [[TrainPrep.weightedSample]]); ZERO
    * shuffles. Kept rows report their bucket and (rnd4) weight so every
    * decision is auditable. */
  private val extSampleWeighted: Q = (s, d) =>
    TrainPrep.weightedSample(documents(s, d), "doc_id",
      TextFns.qualityScore(col("text")))
      .select(col("doc_id"), col("lang"), col("bucket"),
        rnd4(TextFns.qualityScore(col("text"))).as("weight"))
      // per-document output (kept docs scale with the corpus) — the sort
      // stays global, like extSampleStratified
      .transform(orderedRows(_, "doc_id"))

  /** Deterministic fixed-size sample: the 20 docs per language that come
    * first in the shuffle order — an absolute-size uniform sample (eval
    * slices, review batches) where the stratified form scales with the
    * corpus (see [[TrainPrep.bottomKSample]]). */
  private val extSampleBottomk: Q = (s, d) =>
    TrainPrep.bottomKSample(documents(s, d), "doc_id", "lang", k = 20)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .transform(graft.Tables.orderedReport(_, "doc_id"))

  /** Greedy k-center coreset over the embedding table
    * ([[Knn.coresetKCenter]]) — the diversity-first selection pass
    * (farthest-point traversal); 8 centers, cosine distance. */
  private val CoresetK = 8
  private val extSampleCoreset: Q = (s, d) =>
    Knn.coresetKCenter(embeddings(s, d), "vec_id", "embedding", k = CoresetK)
      .transform(graft.Tables.orderedReport(_, "step"))

  /** Deterministic train/val/test holdout: 100‰ test, 50‰ val, rest train —
    * a pure per-row expression over an id hash independent of the sampling
    * hash (see [[TrainPrep.splitAssign]]); zero shuffles, rerun-stable. */
  private val extSplitAssign: Q = (s, d) =>
    TrainPrep.splitAssign(documents(s, d), "doc_id",
      testPermille = 100, valPermille = 50)
      .select(col("doc_id"), col("lang"), col("split_bucket"), col("split"))
      .transform(orderedRows(_, "doc_id"))

  /** Per-source robust document-length outliers — the ADAPTIVE form of
    * Gopher's hard length bounds: per source the median and MAD of the
    * token-count distribution and how many docs sit beyond 3·MAD (a feed
    * whose outlier share jumps changed its scraper, whatever its normal
    * length profile is — a global bound can't see that). Same all-integer
    * cents-histogram discipline as `agg_robust_outliers` — the shared
    * [[graft.operators.Robust.madOutliers]] machinery: token counts ARE
    * small integers, so median and MAD both come off ONE per-(source,
    * n_tokens) histogram re-grouped by |n − med| — corpus touched once,
    * every later frame histogram-sized; no float quantiles anywhere.
    * [[LengthProfileStream]]'s report over its membership projection,
    * shared by the batch query and the stream form. */
  private val extLengthOutliers: Q = (s, d) =>
    LengthProfileStream.report(LengthProfileStream.transform(documents(s, d)))

  /** Population Stability Index of the token-count distribution between
    * the train split and the held-out (test + val) splits — the standard
    * drift gate a pipeline runs before trusting an eval set (PSI < 0.1
    * stable, > 0.25 shifted; here reported PER BIN so the offending bin is
    * named, and in integer MICRO-nats so the total is an exact integer
    * sum). Same id-hash split contract as `ext_split_assign`; length bins
    * are fixed-width (10 tokens), so the per-bin frame is domain-bounded.
    *
    * Determinism: Laplace-½-smoothed shares — p = (2c+1)/(2N+B) with B =
    * observed-bin count, so empty bins are defined — and the log-ratio is
    * [[lnMicro]] of a ratio of EXACT int64 products; the one double
    * product (p_a − p_b)·lnr rounds to integer micro in a fixed op order,
    * so both engines emit identical integers (the `window_autocorr`
    * argument). Corpus work is ONE row-local scan + one bin-keyed
    * aggregate; everything after is bin-domain-sized. */
  private val extSplitPsi: Q = (s, d) => {
    val counts = documents(s, d)
      .select((TrainPrep.splitBucket(col("doc_id")) >= 150).as("__train"),
        expr("size(split(text, ' ')) div 10").cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(when(col("__train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("__train"), 0L).otherwise(1L)).as("n_heldout"))
    // totals ride the bin frame as unpartitioned window sums — the frame
    // is bin-domain-sized, so the single-partition window is free and the
    // corpus aggregate is computed exactly once with no materialization
    val w = Window.partitionBy()
    val withTot = counts
      .withColumn("__ta", sum(col("n_train")).over(w))
      .withColumn("__tb", sum(col("n_heldout")).over(w))
      .withColumn("__b", count(lit(1)).over(w))
    val pa = (col("n_train") * 2 + 1).cast("double") /
      (col("__ta") * 2 + col("__b")).cast("double")
    val pb = (col("n_heldout") * 2 + 1).cast("double") /
      (col("__tb") * 2 + col("__b")).cast("double")
    val lnr = lnMicro(((col("n_train") * 2 + 1) * (col("__tb") * 2 + col("__b"))).cast("double") /
      ((col("n_heldout") * 2 + 1) * (col("__ta") * 2 + col("__b"))).cast("double"))
    withTot
      .select(col("bin"), col("n_train"), col("n_heldout"),
        round((pa - pb) * lnr.cast("double")).cast("long").as("psi_micro"))
      .transform(graft.Tables.orderedReport(_, "bin"))
  }

  /** Split-LEAKAGE audit: near-dup pairs whose members land in different
    * train/val/test splits — the eval-integrity check a holdout is worthless
    * without (a test doc with a train-side near-duplicate is as leaked as a
    * verbatim copy). Composes the prefix-filtered Jaccard pair set with
    * [[TrainPrep.splitLabel]] recomputed per pair side: the split is a pure
    * id-hash function, so labels attach with ZERO corpus join-backs — the
    * pair frame (LSH/prefix-bounded, never all-pairs) is the only data in
    * motion. Same 100/50‰ contract as `ext_split_assign`. */
  private val extSplitLeakage: Q = (s, d) =>
    ngramPairsShared(s, d)
      .select(col("doc_a"), col("doc_b"),
        TrainPrep.splitLabel(col("doc_a"), 100, 50).as("split_a"),
        TrainPrep.splitLabel(col("doc_b"), 100, 50).as("split_b"),
        col("jaccard"))
      .filter(col("split_a") =!= col("split_b"))
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Deterministic global training-order shuffle plan (8 shards): each doc
    * gets a hash shuffle key, a shard, and its in-shard rank — the
    * reproducible `rand()`-free corpus shuffle a training loader consumes
    * (see [[TrainPrep.shuffleShard]]). */
  private val extShuffleShard: Q = (s, d) =>
    TrainPrep.shuffleShard(documents(s, d), "doc_id", nShards = 8)
      .transform(orderedRows(_, "doc_id"))

  /** Symmetric int8 quantization plan over the embedding column — the
    * compression step an ANN store applies before indexing at 100 TB
    * (4× smaller than float32). Per-vector scale = max |x|; the quantized
    * vector is summarized (min/max/sum/saturation count) for the oracle —
    * every op row-local, zero shuffles (see [[VectorFns.quantizeInt8]]). */
  private val extEmbedQuantize: Q = (s, d) =>
    // ONE compiled pass per vector ([[VectorFns.int8QuantStats]]): the
    // absMax transform, the quantize transform, the min/max walks, the
    // sum fold and the saturation filter — seven interpreted re-walks —
    // fuse into a single kernel evaluation (value-identical; pinned in
    // ExtOpsSpec / CodegenGuardSpec)
    embeddings(s, d)
      .select(col("vec_id"), VectorFns.int8QuantStats(col("embedding")).as("m"))
      .select(col("vec_id"), rnd4(col("m.scale")).as("scale"),
        col("m.q_min").as("q_min"), col("m.q_max").as("q_max"),
        col("m.q_sum").as("q_sum"), col("m.n_sat").as("n_sat"))
      .transform(orderedRows(_, "vec_id"))

  /** Product-quantization contract — shared with KnnSpec so the entry and
    * its pins can't drift. m=8 8-dim subspaces × 16 codes: 8 nibbles
    * (4 bytes) per 64-dim vector, 64× smaller than float32 (int8 above is
    * 4×); 4 subspaces halve the codes again but prune too coarsely for the
    * ADC entry (see KnnSpec's recall ladder). Sample sized like the IVF
    * entry: training is corpus-size-independent. */
  final val PqM = 8
  final val PqK = 16
  final val PqIters = 2
  final val PqSampleN = 128

  /** Unigram-LM tokenizer contract constants ([[graft.operators.Unigram]]):
    * 120-piece vocab, 400 seed candidates, 4 EM iterations, trained
    * corpus-wide (distributed E-step over the full word-type frame —
    * no training sample, the model is sample-independent). */
  final val UniVocab = 120
  final val UniSeed = 400
  final val UniIters = 4

  /** Session-shared Viterbi-ENCODED corpus — (doc_id, text, e) with e the
    * real [[graft.functions.UnigramEncode]] struct, localCheckpoint'd once
    * per fixture dir. Both consumers of the encode (the fidelity audit in
    * [[extUnigramEncode]] and the packing in [[extPackWindowsUnigram]])
    * used to re-run the full per-doc Viterbi; the trainedMerges/nbModel
    * session-cache precedent applies — one encode pass, two readers. */
  private def uniEncoded(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "unigram_encoded")(
      documents(s, d).select(col("doc_id"), col("text"),
        graft.operators.Unigram.encode(uniModel(s, d), col("text")).as("e")))
  private[graft] def uniModel(s: SparkSession, d: String): graft.operators.Unigram.Model =
    SessionFrames.value(s, d, "unigram_model")(
      graft.operators.Unigram.train(documents(s, d), vocabSize = UniVocab,
        seedSize = UniSeed, iters = UniIters))

  /** Unigram-LM TRAINING contract audit (the recall-audit graduation shape
    * for the iterative float EM a SQL engine cannot replay): one row per
    * DISTINCT CORPUS CHARACTER — the oracle recomputes that set exactly —
    * with ok = "the trained vocab contains it as a piece" (SentencePiece's
    * coverage invariant: lose a char and encoding breaks), plus summary
    * rows off the real trained model: vocab size = the contract constant,
    * piece probabilities normalized (|Σp − 1| ≤ 10⁻⁶), EM log-likelihood
    * monotone across the $UniIters iterations. A broken seed pass, prune
    * or E-step flips a row. The piece table itself stays UnigramSpec-pinned
    * (frequent-word pieces, refit determinism, local ≡ distributed). */
  private val extUnigramTrain: Q = (s, d) => {
    val m = uniModel(s, d)
    val spark = s
    import spark.implicits._
    val pieceSet = m.pieces.map(_._1).toSet
    val chars = documents(s, d)
      .select(explode(split(regexp_replace(col("text"), " ", ""), "")).as("item"))
      .filter(col("item") =!= "").distinct()
      .withColumn("ok", col("item").isInCollection(pieceSet))
    val probSum = m.probs.sum
    val ll = m.llHistory.take(UniIters)
    // prune keeps every single char and tops up to AT MOST vocabSize multi
    // pieces (fewer when the seed pool is smaller — fitCore's take())
    val nSingle = pieceSet.count(_.length == 1)
    val summary = Seq(
      (s"__vocab_bounded_$UniVocab",
        m.pieces.size <= UniVocab && m.pieces.size >= nSingle),
      ("__probs_normalized", math.abs(probSum - 1.0) <= 1e-6),
      ("__ll_monotone", ll.zip(ll.tail).forall { case (a, b) => b >= a - math.abs(a) * 1e-12 }))
      .toDF("item", "ok")
    graft.Tables.orderedReport(chars.unionByName(summary), "item")
  }

  /** Viterbi ENCODING fidelity audit, one row per document — the encode
    * path's contract as a pure function the oracle can frame: n_chars
    * (space-stripped length, oracle-recomputed) and ok asserting, off the
    * REAL encode output ([[graft.functions.UnigramEncode]], one codegen'd
    * per-row pass against the literal piece table, zero shuffles):
    *  - lossless round-trip: the ids' pieces concatenate back to the
    *    space-stripped text (decode is a transform over the literal piece
    *    array — engine-side, no driver loop);
    *  - zero unknown chars (coverage — the training audit's other half);
    *  - score is the exact sum of the ids' integer micros;
    *  - Viterbi optimality floor: total score ≥ the single-char
    *    segmentation's score (Viterbi maximizes; the char split is always
    *    available, so a broken DP that undershoots it flips ok);
    *  - 1 ≤ n_pieces ≤ n_chars (empty docs: n_pieces = 0).
    * UnigramSpec keeps pinning raw ids/scores; the audit moves the encode
    * contract into the driver's hash gate. */
  private val extUnigramEncode: Q = (s, d) => {
    val m = uniModel(s, d)
    // the whole audit (decode round-trip, score sum, clamped char floor,
    // piece bounds) is ONE codegen'd pass over the session-shared encoded
    // frame — graft.functions.UnigramAudit; the prior column form walked
    // three interpreted higher-order chains per row (HOFs never codegen)
    val audit = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.UnigramAudit(
        org.apache.spark.sql.GraftColumnBridge.expression(col("text")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("e")),
        m.pieces))
    uniEncoded(s, d) // session-shared encode; this entry pays only the audit
      .withColumn("__a", audit)
      .select(col("doc_id"), col("__a.n_chars").as("n_chars"), col("__a.ok").as("ok"))
      .transform(orderedRows(_, "doc_id"))
  }


  /** PCA contract constants: top-4 components, 512-vector training sample
    * (the full fixture at oracle scale; a bounded subsample at bench+). */
  final val PcaK = 4
  final val PcaSampleN = 512

  private[graft] def pcaModel(s: SparkSession, d: String): Pca.Model =
    SessionFrames.value(s, d, "pca_model")(
      Pca.fit(embeddings(s, d), "vec_id", "embedding", k = PcaK, sampleN = PcaSampleN))

  /** PCA CONTRACT AUDIT ([[graft.operators.Pca]]) — the recall-audit
    * graduation shape for the one ANN core a SQL engine genuinely cannot
    * replay (the Jacobi eigensolve): every determinable grid column is
    * oracle-recomputed and `ok` asserts the eigensolve's deterministic
    * contract from REAL engine output —
    *  - `descending_eigs`: λ₁ ≥ … ≥ λ₄ ≥ 0 off the trained model;
    *  - `orthonormal`: max |⟨cᵢ,cⱼ⟩ − δᵢⱼ| ≤ 10⁻³ over the k(k+1)/2 Gram
    *    entries (measured ~10⁻¹⁴ — a broken rotation or lost
    *    normalization flips this by orders of magnitude);
    *  - `explained_variance`: the top-4 subspace must carry ≥ 4.0% of the
    *    FULL corpus' centered mass, Σ‖proj‖²·1000 ≥ 40·Σ(‖proj‖²+resid)
    *    (measured 10.7% at sf0.01, 7.3% at sf0.1) — one corpus scan
    *    through the same literal-component projection kernel.
    * The per-vector projections stay PcaSpec-pinned (orthonormality,
    * λ-variance, resid ≥ 0, determinism); the audit moves the contract
    * into the driver's hash gate. */
  private val extEmbedPca: Q = (s, d) => {
    val m = pcaModel(s, d)
    val eigOk = (0 until PcaK - 1).forall(i => m.eigenvalues(i) >= m.eigenvalues(i + 1)) &&
      m.eigenvalues(PcaK - 1) >= 0.0
    val gramMax = (for (i <- 0 until PcaK; j <- i until PcaK) yield {
      val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      math.abs(dot - (if (i == j) 1.0 else 0.0))
    }).max
    val proj = Pca.project(m, embeddings(s, d), "vec_id", "embedding")
    val pm = (1 to PcaK).map(i => col(s"pc$i") * col(s"pc$i")).reduce(_ + _)
    val ev = proj.agg(count(lit(1)).as("n"), sum(pm).as("__pm"),
        sum(pm + col("resid")).as("__tot"))
      .select(lit("explained_variance").as("metric"), col("n"),
        lit(40L).as("bound_milli"),
        (col("__pm") * 1000.0 >= col("__tot") * 40.0).as("ok"))
    val spark = s
    import spark.implicits._
    Seq(("descending_eigs", PcaK.toLong, 0L, eigOk),
        ("orthonormal", (PcaK * (PcaK + 1) / 2).toLong, 1L, gramMax * 1000.0 <= 1.0))
      .toDF("metric", "n", "bound_milli", "ok")
      .unionByName(ev)
      .transform(graft.Tables.orderedReport(_, "metric"))
  }

  /** Whitening CONTRACT AUDIT — [[extEmbedPca]]'s normalized form
    * (wᵢ = pcᵢ/√λᵢ gives each retained axis unit variance over the
    * training sample, the pre-rotation SemDeDup-style pipelines cluster
    * in). Per component two claims off REAL whitened output, both through
    * the same literal-component projection kernel:
    *  - `sample_unit_var_pcᵢ`: population Var(wᵢ) over the training sample
    *    = 1 within 10⁻³ (whitening's defining identity; measured 10⁻⁸);
    *  - `corpus_var_floor/ceil_pcᵢ`: the FULL corpus' whitened variance
    *    stays in [0.4, 1.6] — a collapsed or exploding axis (encoder
    *    drift the sample missed) leaves the band.
    * PcaSpec keeps pinning the per-vector values; the oracle recomputes
    * the grid (counts, bounds) and asserts every ok. */
  private val extEmbedWhiten: Q = (s, d) => {
    val m = pcaModel(s, d)
    val spark = s
    import spark.implicits._
    val proj = Pca.project(m, embeddings(s, d), "vec_id", "embedding")
    // a zero/near-zero eigenvalue can't be whitened (1/√λ → ∞): emit that
    // axis' metric rows as an explicit ok=false instead of letting the
    // division produce NaN variances and a confusing null/hash mismatch
    def degenerate(i: Int) = m.eigenvalues(i - 1) <= 1e-12
    def wCol(i: Int) =
      if (degenerate(i)) lit(0.0)
      else col(s"pc$i") / math.sqrt(m.eigenvalues(i - 1))
    def okOr(i: Int, okExpr: org.apache.spark.sql.Column) =
      if (degenerate(i)) lit(false) else okExpr
    // training-sample rows: whitening is DEFINED to unit-normalize the
    // sample, so its population variance must be 1 to within float fold
    // error (measured |v−1| ≈ 10⁻⁸ vs the 10⁻³ bound)
    val sample = proj.orderBy(col("vec_id")).limit(PcaSampleN)
    val sCols = count(lit(1)).as("n") +:
      (1 to PcaK).flatMap(i => Seq(
        (sum(wCol(i) * wCol(i)) / count(lit(1))).as(s"__e2_$i"),
        (sum(wCol(i)) / count(lit(1))).as(s"__e_$i")))
    val sAgg = sample.agg(sCols.head, sCols.tail: _*)
      .localCheckpoint(true) // 1 row; read by k metric rows
    val sRows = (1 to PcaK).map(i =>
      sAgg.select(lit(s"sample_unit_var_pc$i").as("metric"), col("n"),
        lit(1L).as("bound_milli"),
        okOr(i, abs(col(s"__e2_$i") - col(s"__e_$i") * col(s"__e_$i") - 1.0) * 1000.0 <= 1.0)
          .as("ok")))
    // full-corpus rows: whitened axes must stay O(1) variance corpus-wide
    // (a collapsed or exploding axis breaks the [0.4, 1.6] band; measured
    // 1.00 at sf0.01, 0.68–0.73 at sf0.1)
    val cAgg = proj.agg(sCols.head, sCols.tail: _*)
      .localCheckpoint(true) // 1 row; read by 2k metric rows
    def cVar(i: Int) = col(s"__e2_$i") - col(s"__e_$i") * col(s"__e_$i")
    val cRows = (1 to PcaK).flatMap(i => Seq(
      cAgg.select(lit(s"corpus_var_ceil_pc$i").as("metric"), col("n"),
        lit(1600L).as("bound_milli"), okOr(i, cVar(i) * 1000.0 <= 1600.0).as("ok")),
      cAgg.select(lit(s"corpus_var_floor_pc$i").as("metric"), col("n"),
        lit(400L).as("bound_milli"), okOr(i, cVar(i) * 1000.0 >= 400.0).as("ok"))))
    graft.Tables.orderedReport((sRows ++ cRows).reduce(_.unionByName(_)), "metric")
  }

  /** The session-shared PQ codebooks and IVF-PQ index: pure functions of
    * (corpus, the contract constants), so reuse cannot change an output —
    * it only reproduces the index-build/query lifecycle every ANN store has
    * (train once, query repeatedly). */
  private def pqBooks(s: SparkSession, d: String): Knn.Codebooks =
    SessionFrames.value(s, d, "pq_books")(
      Knn.pqCodebooks(embeddings(s, d), "vec_id", "embedding",
        m = PqM, k = PqK, iters = PqIters, sampleN = PqSampleN))
  private def ivfPqIdx(s: SparkSession, d: String): Knn.IvfPqIndex =
    SessionFrames.value(s, d, "ivf_pq_index")(
      Knn.ivfPqIndex(embeddings(s, d), "vec_id", "embedding",
        nCells = IvfCells, cellIters = IvfIters, m = PqM, nCodes = PqK,
        pqIters = PqIters, sampleN = PqSampleN))

  /** The ADC-coded corpus frames, checkpointed once per fixture dir (the
    * [[exactTop]] discipline): coding the corpus — parquet scan + the
    * codegen'd per-subspace argmin — is the scan-side half of every PQ
    * query, and TWO surfaces read each frame (the single-k audit and the
    * recall curve's tier). Pure functions of (corpus, session codebooks),
    * byte-identical to inline coding ([[Knn.pqCodedCorpus]]). ~m bytes of
    * codes per vector — the same growth class as the pHash frame. */
  private def pqCodedShared(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "pq_coded")(
      Knn.pqCodedCorpus(pqBooks(s, d), embeddings(s, d), "vec_id", "embedding"))
  private def ivfPqCodedShared(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "ivf_pq_coded")(
      Knn.ivfPqCodedCorpus(ivfPqIdx(s, d), embeddings(s, d), "vec_id", "embedding"))

  /** PQ codes + reconstruction error over the embedding column — the
    * deep-compression tier of the ANN storage story (int8 → PQ → IVF).
    * Rides the integer-exact subspace Lloyd ([[Knn.pqCodesInt]] — the
    * `ext_sim_knn_ivf_cells` discipline per subspace), so the WHOLE code
    * table — packed codes AND exact integer reconstruction error —
    * hash-gates against an unrolled SQL replay instead of a rows-only
    * check. The m=8 4-bit codes ride as ONE base-16-packed BIGINT
    * (`codes_packed`, subspace 0 most significant): scalar columns keep
    * the dump sortable by any engine, and the packed form is the byte
    * layout a PQ store would persist anyway. The float codebooks stay the
    * ANN-search path (`ext_sim_knn_pq`'s recall audit); KnnSpec pins
    * planted-cluster assignment on both. */
  private val extEmbedPq: Q = (s, d) =>
    Knn.pqCodesInt(embeddings(s, d), "vec_id", "embedding",
      m = PqM, k = PqK, iters = PqIters, sampleN = PqSampleN)
      .transform(orderedRows(_, "vec_id"))

  /** ADC search contract: top `PqRerank` candidates by codes-only distance,
    * exact-L2 re-ranked — the standard PQ index pipeline. Shared with
    * KnnSpec's recall pins. */
  final val PqRerank = 50

  /** ADC top-k through the PQ codes (codes-only scoring: m table lookups
    * per pair instead of a 64-dim dot), exact re-rank of the pruned
    * candidate set. Emitted through its relational recall audit
    * ([[Knn.recallAudit]] — oracle-gated hit floors); KnnSpec pins recall
    * vs exact L2 under the same (PqM, PqK, PqRerank) contract. */
  private val extSimKnnPq: Q = (s, d) => {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    Knn.recallAudit(qs, "vec_id",
      Knn.pqKnnWith(pqBooks(s, d), emb, qs,
        "vec_id", "embedding", k = IvfK, rerank = PqRerank,
        codedCorpus = Some(pqCodedShared(s, d))),
      exactTop(s, d).filter(col("rank") <= IvfK),
      k = IvfK, minHitsPerQuery = PqFloorQ, minHitsTotal = PqFloorT)
  }

  /** The composed IVF-PQ index (coarse cells route, residual PQ codes
    * score, exact re-rank): the IVF and PQ contracts above glued into the
    * billion-vector layout. Emitted through its relational recall audit
    * ([[Knn.recallAudit]] — oracle-gated hit floors); KnnSpec pins recall
    * vs exact L2. */
  private val extSimKnnIvfPq: Q = (s, d) => {
    val emb = embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    Knn.recallAudit(qs, "vec_id",
      Knn.ivfPqKnnWith(ivfPqIdx(s, d), emb, qs,
        "vec_id", "embedding", k = IvfK, nProbe = IvfProbe, rerank = PqRerank,
        codedCorpus = Some(ivfPqCodedShared(s, d))),
      exactTop(s, d).filter(col("rank") <= IvfK),
      k = IvfK, minHitsPerQuery = IvfPqFloorQ, minHitsTotal = IvfPqFloorT)
  }

  /** Concat-and-chunk context-window packing plan (2048-token windows, 8
    * shards): each doc labelled with the window its first token lands in
    * and its offset — one shuffle on shard, windows never span shards. */
  private val extPackWindows: Q = (s, d) =>
    TrainPrep.packWindows(documents(s, d), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8)
      .transform(orderedRows(_, "doc_id"))

  /** Context-window domain-DIVERSITY audit over the concat-and-chunk pack
    * plan: per (shard, window), the contributing docs, distinct sources
    * and the source-share Shannon entropy — a low-entropy window is a
    * single-domain slab (one crawl's boilerplate filling a whole context)
    * and a training run full of them sees far less domain mixing per step
    * than the corpus mix suggests. The QC pass a loader runs on the pack
    * plan before committing shards.
    *
    * Shape: `source` rides the pack's ONE shard exchange as a carry
    * column (no join-back); the span explode fans each doc to the windows
    * it crosses (Σ n_windows ≈ corpus tokens / budget — the plan's own
    * output size); both rollups are map-side-combined onto the
    * (shards × windows × sources) grid. Entropy in the
    * [[extTextEntropy]] integer-micronat moment discipline — exact
    * n·L(n) − Σ c·L(c) with one trailing division. */
  private val extPackDiversity: Q = (s, d) => {
    val packed = TrainPrep.packWindows(documents(s, d), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8, carry = Seq("source"))
    val spans = packed.select(col("shard"), col("source"),
      explode(sequence(col("window_id"),
        col("window_id") + col("n_windows") - 1)).as("window_id"))
    spans.groupBy(col("shard"), col("window_id"), col("source"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("shard"), col("window_id"))
      .agg(sum(col("__c")).as("n_docs"), count(lit(1)).as("n_sources"),
        sum(col("__c") * lnMicro(col("__c"))).as("__s"))
      .select(col("shard"), col("window_id"), col("n_docs"), col("n_sources"),
        rnd4((col("n_docs") * lnMicro(col("n_docs")) - col("__s")).cast("double") /
          (col("n_docs") * lit(1000000L)).cast("double")).as("entropy_nats"))
      .transform(orderedRows(_, "shard", "window_id"))
  }

  /** Document-PRESERVING greedy packing (docs never split; oversize docs
    * flagged) — the loader's other packing mode, next to the
    * concat-and-chunk plan above. Per-shard sequential fill via the repo's
    * one deliberate mapPartitions (see [[TrainPrep.packGreedy]]); the
    * oracle replays the same greedy recurrence as a recursive CTE. */
  private val extPackGreedy: Q = (s, d) =>
    TrainPrep.packGreedy(documents(s, d), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8)
      .transform(orderedRows(_, "doc_id"))

  /** Loader manifest over the greedy plan: per (shard, window) the
    * contiguous doc span, token fill and the oversize flag — no spill
    * columns because greedy windows never straddle (that's the mode's
    * point). One (shard, window) aggregate past the greedy pass. */
  private val extPackGreedyManifest: Q = (s, d) =>
    TrainPrep.packGreedy(documents(s, d), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8)
      .groupBy("shard", "window_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum("n_tokens").as("n_tokens"), max(col("oversize")).as("oversize"))
      .transform(orderedRows(_, "shard", "window_id"))

  /** Loader-efficiency report over the greedy plan — the padding-waste
    * metric a training pipeline tracks per shard: window count, doc and
    * token totals, PADDING tokens (budget − fill for under-full windows:
    * the compute a fixed-shape batch burns on pad ids), TRUNCATED tokens
    * (fill beyond budget in oversize-doc windows: data the loader's
    * truncate policy drops), and the integer fill permille
    * ⌊Σ used·1000 / (windows·budget)⌋. ALL-INTEGER arithmetic on the
    * (shard, window) rollup — oracle-exact, and the 8-row shard report is
    * the dashboard a capacity planner actually reads. Scale shape: one
    * (shard, window) aggregate past the greedy pass, then an 8-row shard
    * rollup — nothing new shuffles beyond the pack plan itself. */
  private val extPackStats: Q = (s, d) =>
    TrainPrep.packGreedy(documents(s, d), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8)
      .groupBy(col("shard"), col("window_id"))
      .agg(count(lit(1)).as("wd"), sum(col("n_tokens")).as("fill"))
      .select(col("shard"), col("wd"), col("fill"),
        least(col("fill"), lit(2048L)).as("used"),
        (lit(2048L) - least(col("fill"), lit(2048L))).as("pad"),
        greatest(col("fill") - lit(2048L), lit(0L)).as("tr"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_windows"), sum(col("wd")).as("n_docs"),
        sum(col("fill")).as("n_tokens"), sum(col("pad")).as("padding_tokens"),
        sum(col("tr")).as("truncated_tokens"),
        expr("sum(used) * 1000 div (count(1) * 2048)").as("fill_permille"))
      .transform(orderedRows(_, "shard"))

  /** Materialized window text off the greedy plan — the actual training
    * rows a loader emits: per (shard, window) the member docs' texts
    * joined in doc_id order with a newline separator. Safe to materialize
    * at any corpus size: a greedy window's text is bounded by the token
    * budget (oversize docs are their own window), so each output row is
    * ≤ ~budget tokens regardless of corpus scale; the concat is one
    * (shard, window) aggregate past the greedy pass, carrying each text
    * exactly once. */
  private val extPackText: Q = (s, d) => {
    val docs = documents(s, d)
    TrainPrep.packGreedy(docs, "doc_id", "text", budgetTokens = 2048L, nShards = 8)
      .select(col("doc_id"), col("shard"), col("window_id"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(col("shard"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(
          transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
            p => p.getField("text")),
          "\n").as("window_text"))
      .transform(orderedRows(_, "shard", "window_id"))
  }

  /** Top-3 tf·idf terms per doc with the log-free BM25-shaped idf (see
    * [[TrainPrep.topTerms]] — IEEE-exact arithmetic keeps rankings
    * engine-identical, which is what makes this oracle-checkable). */
  private val extTfidfTerms: Q = (s, d) =>
    TrainPrep.topTerms(documents(s, d), "doc_id", "text", k = 3)
      .transform(orderedRows(_, "doc_id", "rank"))

  /** The retrieval queries' shared parameterization: a fixed two-term
    * lexical query (2 terms keeps the per-doc score a commutative 2-double
    * sum — see [[TrainPrep.bm25]]) and top-k depths for the standalone
    * ranking vs the fusion candidates. */
  private val Bm25Terms = Seq("vector", "spark")
  private val Bm25K = 10
  private val FusionK = 20

  /** BM25 top-10 for the two-term query — lexical retrieval over the
    * corpus, the decontamination/eval-mining lookup path (log-free
    * Robertson idf; rankings match textbook BM25, see
    * [[TrainPrep.bm25]]). */
  private val extBm25: Q = (s, d) =>
    TrainPrep.bm25(documents(s, d), "doc_id", "text", Bm25Terms, k = Bm25K)
      .transform(graft.Tables.orderedReport(_, "rank"))

  /** Hybrid retrieval via reciprocal-rank fusion — BM25 top-20 fused with
    * a quality-score top-20 (the "lexical match × quality prior" blend a
    * curation pipeline uses to pick training shards; [[TrainPrep.rrfFuse]]
    * consumes only ranks, so no score calibration). Both candidate lists
    * arrive TakeOrdered; every fusion-side frame is ≤ 2k rows. */
  private val extRankFusion: Q = (s, d) => {
    val lex = TrainPrep.bm25(documents(s, d), "doc_id", "text", Bm25Terms, k = FusionK)
      .select(col("doc_id"), col("rank").as("rank_lex"))
    val qual = documents(s, d)
      .select(col("doc_id"), rnd4(TextFns.qualityScore(col("text"))).as("__q"))
      .orderBy(col("__q").desc, col("doc_id"))
      .limit(FusionK)
      .withColumn("rank_quality",
        row_number().over(Window.orderBy(col("__q").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_quality"))
    TrainPrep.rrfFuse(lex, qual, "doc_id", "rank_lex", "rank_quality")
      .transform(graft.Tables.orderedReport(_, "fused_rank"))
  }

  /** Top-20 corpus vocabulary with tf/df and cumulative coverage — the
    * tokenizer-prep profile (see [[TrainPrep.vocabTop]]; ties break on the
    * token string, so ranks and coverage are engine-deterministic). */
  private val extVocabTop: Q = (s, d) =>
    TrainPrep.vocabTop(documents(s, d), "doc_id", "text", k = 20)
      .transform(graft.Tables.orderedReport(_, "rank"))

  /** Top-50 co-occurring vocab-term pairs by lift (the PMI argument; see
    * [[TrainPrep.cooccurrenceLift]] — ratio reported instead of its log so
    * the ranking stays IEEE-exact against the oracle). Vocabulary capped at
    * the top-64 df terms, support floor 5 docs. */
  private val extCooccurrence: Q = (s, d) =>
    TrainPrep.cooccurrenceLift(documents(s, d), "doc_id", "text",
      vocabK = 64, minPairs = 5, topK = 50)

  /** TextRank keywords ([[TrainPrep.textrankKeywords]]): top-20 corpus
    * keywords by 3 integer-micro damped PageRank sweeps over the window-3
    * token co-occurrence graph. */
  private val extTextrank: Q = (s, d) =>
    TrainPrep.textrankKeywords(documents(s, d), "text",
      window = 3, minCount = 2, iters = 3, topK = 20)

  /** Per-doc out-of-vocabulary profile against the top-20 vocab (see
    * [[TrainPrep.vocabOov]] — the vocab-size/UNK-handling signal). */
  private val extVocabOov: Q = (s, d) =>
    TrainPrep.vocabOov(documents(s, d), "doc_id", "text", k = 20)
      .transform(orderedRows(_, "doc_id"))

  /** Per-language p50/p90/p99 token-count quantiles — exact, rank-based,
    * integer-arithmetic ranks (see [[TrainPrep.tokenQuantiles]]). */
  private val extTokenQuantiles: Q = (s, d) =>
    TrainPrep.tokenQuantiles(documents(s, d), "lang", "text",
      permille = Seq(500, 900, 990))
      .transform(graft.Tables.orderedReport(_, "stratum", "p"))

  /** Sketch-path variant (map-side-merged percentile_approx, no
    * per-stratum sort — the 100 TB shape), emitted through its RELATIONAL
    * rank audit ([[TrainPrep.tokenQuantilesSketchChecked]]): the sketch
    * value is merge-order-dependent, but its rank-error contract is
    * deterministic — the engine recomputes each value's exact rank bracket
    * and emits (stratum, p, n_docs, ok); the oracle asserts the same grid
    * with ok = true, so a degraded sketch hash-mismatches. TrainPrepSpec
    * additionally pins values against the exact form. */
  private val extTokenQuantilesFast: Q = (s, d) =>
    TrainPrep.tokenQuantilesSketchChecked(documents(s, d), "lang", "text",
      permille = Seq(500, 900, 990))
      .transform(graft.Tables.orderedReport(_, "stratum", "p"))

  /** Loader-facing window manifest over the packing plan: which docs start
    * in each (shard, window), as a contiguous id span, their token
    * contribution, and the spill-in/spill-out token counts that make
    * windows assemblable without re-deriving straddles. One exchange
    * beyond the pack shuffle. */
  /** T5-style span-corruption plan ([[TrainPrep.spanCorruptionPlan]]):
    * deterministic block-local sentinel spans per doc — the denoising-
    * objective prep emitted as a replayable plan table. */
  private val extSpanCorruption: Q = (s, d) =>
    TrainPrep.spanCorruptionPlan(documents(s, d), "doc_id", "text")
      .transform(orderedRows(_, "doc_id", "sentinel_id"))

  private val extPackManifest: Q = (s, d) =>
    TrainPrep.packManifest(
      TrainPrep.packWindows(documents(s, d), "doc_id", "text",
        budgetTokens = 2048L, nShards = 8), "doc_id", budgetTokens = 2048L)
      .transform(orderedRows(_, "shard", "window_id"))

  /** Sliding-window document chunking (32-token chunks, stride 24 — 8-token
    * overlap): every doc split into the overlapping segments a RAG index or
    * a long-document pretraining pass consumes, each with its token span
    * and materialized text. Pure per-row sequence + explode + array slice —
    * zero shuffles at any scale (the output order is the only sort). Chunk
    * starts step by the stride until the tail fits one chunk; every token
    * is covered because chunk ≥ stride. */
  private val extChunkDocs: Q = (s, d) => {
    val C = 32
    val S = 24
    val tk = documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
    tk
      .withColumn("n_chunks", expr(s"((greatest(n - $C, 0L) + ${S - 1}L) div $S) + 1L"))
      .withColumn("chunk_id", explode(expr("sequence(0L, n_chunks - 1L)")))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * S).as("tok_start"),
        least(col("chunk_id") * S + C, col("n")).as("tok_end"),
        concat_ws(" ", expr(s"slice(tk, CAST(chunk_id * $S + 1 AS INT), " +
          s"CAST(least(chunk_id * $S + $C, n) - chunk_id * $S AS INT))")).as("chunk_text"))
      .transform(orderedRows(_, "doc_id", "chunk_id"))
  }

  /** Target token shares (permille) per language — ONE definition for the
    * plan and its application; a lang outside the list targets 0 and is
    * dropped by the apply step. */
  private val MixTargets = Seq("de" -> 150L, "en" -> 400L, "es" -> 150L, "fr" -> 150L, "zh" -> 150L)
  private def mixTargetCol: Column = MixTargets.foldLeft(lit(0L)) {
    case (acc, (k, v)) => when(col("lang") === k, v).otherwise(acc)
  }

  /** Source-mixture plan over `lang` (the data-mixing step of a training
    * run): per stratum, its document/token mass, actual token share, the
    * target share, and the repeat (oversample) factor that realizes the
    * target — en capped at 400‰, the tail lifted to 150‰ each. One
    * aggregate + a broadcast 1-row total; arithmetic in fixed double op
    * order so the factors are engine-exact under rnd4. */
  private val extMixPlan: Q = (s, d) => {
    val target = mixTargetCol
    val per = documents(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.bpeEstimate(col("text"))).as("n_tokens"))
    val share = col("n_tokens").cast("double") / col("__total").cast("double")
    per.crossJoin(broadcast(per.agg(sum(col("n_tokens")).as("__total"))))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        rnd4(share).as("actual_share"),
        target.as("target_permille"),
        rnd4((target.cast("double") / 1000.0) / share).as("repeat_factor"))
      .transform(graft.Tables.orderedReport(_, "lang"))
  }

  /** APPLY the mixture plan deterministically — the epoch-materialization
    * step: each doc repeats floor(factor) times, plus one more iff its
    * [[TrainPrep.mixBucket]] clears the factor's fractional part in
    * permille (expected copies = factor; rerun-stable; independent hash
    * stream, so oversampling never correlates with sampling/holdout).
    * The factor arithmetic is the SAME fixed-op-order expression as
    * ext_mix_plan before ONE floor(·1000) — integer from there on, so no
    * engine's rounding can flip a copy count. Copies fan out as a per-row
    * sequence explode past a broadcast factor join: zero extra exchanges. */
  private val extMixApply: Q = (s, d) => {
    val per = documents(s, d).groupBy(col("lang"))
      .agg(sum(TextFns.bpeEstimate(col("text"))).as("n_tokens"))
    val share = col("n_tokens").cast("double") / col("__total").cast("double")
    val fac = per.crossJoin(broadcast(per.agg(sum(col("n_tokens")).as("__total"))))
      .select(col("lang"),
        floor((mixTargetCol.cast("double") / 1000.0) / share * 1000.0).cast("long")
          .as("factor_millis"))
    documents(s, d).select(col("doc_id"), col("lang"))
      .join(broadcast(fac), "lang")
      .withColumn("n_copies",
        expr("factor_millis div 1000") +
          when(TrainPrep.mixBucket(col("doc_id")) < pmod(col("factor_millis"), lit(1000L)), 1L)
            .otherwise(0L))
      .select(col("doc_id"), col("lang"),
        explode(when(col("n_copies") >= 1L, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<bigint>"))).as("copy"))
      .transform(orderedRows(_, "doc_id", "copy"))
  }

  /** Temperature-scaled mixture plan over `source` (α = 1/2; see
    * [[TrainPrep.temperatureMix]]) — the no-hand-targets companion to
    * ext_mix_plan. Integer micromille shares keep it engine-exact. */
  private val extMixTemperature: Q = (s, d) =>
    TrainPrep.temperatureMix(documents(s, d), "source", "text")
      .transform(graft.Tables.orderedReport(_, "stratum"))

  /** Per-source Spearman rank correlation between document LENGTH and the
    * composite QUALITY score ([[graft.operators.Robust.spearmanMicro]]) —
    * the "is my quality score just a length proxy" audit run before a
    * score gates anything (a source whose ρ ≈ 1 is length-biased; the
    * fixture's composite saturates length at 100 tokens, so real sources
    * land mid-range). Ranks off value histograms (doubled average ranks —
    * integer under ties), ρ in exact integer micro-units — oracle-exact. */
  private val extQualityLengthCorr: Q = (s, d) =>
    graft.operators.Robust.spearmanMicro(
      documents(s, d).select(col("source"), col("n_chars"),
        floor(TextFns.qualityScore(col("text")) * 10000.0 + 0.5).cast("long").as("__q")),
      "source", "n_chars", "__q")
      .transform(graft.Tables.orderedReport(_, "source"))

  /** Data-constrained epoch allocation over the temperature mix
    * ([[TrainPrep.epochAllocation]] — Muennighoff et al. 2023): a 2×-corpus
    * token budget split by the α = ½ target shares, each source repeated
    * at most 4 epochs, the unfillable remainder surfaced as
    * shortfall_tokens (what must come from NEW data). All-integer floor
    * divisions — oracle-exact. */
  private val extMixEpochs: Q = (s, d) =>
    TrainPrep.epochAllocation(
      TrainPrep.temperatureMix(documents(s, d), "source", "text"))
      .transform(graft.Tables.orderedReport(_, "stratum"))

  /** Length-bucketed batching plan (see [[TrainPrep.lengthBuckets]]):
    * power-of-two token buckets 32..2048, 16-doc batches, and the padding
    * fraction each bucket pays — one scan, bucket-count-sized output. */
  private val extBatchBuckets: Q = (s, d) =>
    TrainPrep.lengthBuckets(documents(s, d), "text")
      .withColumn("pad_frac",
        rnd4(col("pad_tokens").cast("double") /
          (col("n_docs") * col("bucket_cap")).cast("double")))
      .select("bucket_cap", "n_docs", "n_batches", "n_tokens",
        "pad_tokens", "trunc_tokens", "pad_frac")
      .transform(graft.Tables.orderedReport(_, "bucket_cap"))

  /** Stage count for the curriculum entries (shared with the oracles). */
  final val CurriculumK = 4

  /** [[TrainPrep.curriculumStages]] over the quality score — the rnd4'd
    * score keeps the histogram domain ≤ 10⁴ AND makes the stage join key
    * bit-identical on both engines. */
  private def curriculumStaged(s: SparkSession, d: String) =
    TrainPrep.curriculumStages(documents(s, d),
      rnd4(TextFns.qualityScore(col("text"))), k = CurriculumK)

  /** Per-doc curriculum stage (quality-ordered, stage 0 = hardest to pass
    * a filter = trains first under an easy-to-hard schedule when read in
    * reverse; the ORDER is the artifact, the direction is the trainer's). */
  private val extCurriculum: Q = (s, d) =>
    curriculumStaged(s, d).select(col("doc_id"), col("score"), col("stage"))
      .transform(orderedRows(_, "doc_id"))

  /** Per-stage curriculum manifest: doc/token mass + score span — the
    * stage-schedule summary a trainer sizes epochs against. One map-side-
    * combined aggregate onto ≤ k rows. */
  private val extCurriculumPlan: Q = (s, d) =>
    curriculumStaged(s, d)
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFns.tokens(col("text"))).cast("long")).as("n_tokens"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .transform(graft.Tables.orderedReport(_, "stage"))

  /** The composed training-data pipeline: exact dedup → quality ≥ 0.3 →
    * stratified rebalance (en capped) → 2048-token window packing. Two
    * exchanges end to end (see [[TrainPrep.corpusPrep]]). */
  private val extCorpusPrep: Q = (s, d) =>
    TrainPrep.corpusPrep(documents(s, d), "doc_id", "text", "lang",
      minQuality = 0.3, permille = Map("en" -> 250), defaultPermille = 800,
      budgetTokens = 2048L, nShards = 8)
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"),
        col("window_id"), col("window_offset"), col("n_windows"))
      .transform(orderedRows(_, "doc_id"))

  /** Per-doc prep accounting ([[TrainPrep.prepAudit]]) under exactly the
    * `ext_corpus_prep` contract (0.3 gate, en→250‰/800‰) — the two queries
    * reconcile: audit `kept` rows = prep output rows. */
  private val extPrepAudit: Q = (s, d) =>
    TrainPrep.prepAudit(documents(s, d), "doc_id", "text", "lang",
      minQuality = 0.3, permille = Map("en" -> 250), defaultPermille = 800)
      .transform(orderedRows(_, "doc_id"))

  // -- multimodal ------------------------------------------------------------

  /** Opaque-binary decode plumbing: typed per-row decode of the media
    * payload (deterministic stub codec — SURVEY §2.8). */
  private val extMultimodalMeta: Q = (s, d) =>
    Multimodal.decodeMeta(documents(s, d))(s).toDF()
      .select(col("docId").as("doc_id"), col("nBytes").as("n_bytes"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("nFrames").cast("long").as("n_frames"))
      .transform(orderedRows(_, "doc_id"))

  /** Perceptual-hash image dedup over the media column
    * ([[Multimodal.imageHashes]] → [[Multimodal.phashPairs]]): 60-bit
    * dHash for real images, md5-derived fallback for opaque bytes (the
    * fixture path — which is exactly what lets this one hash-gate: both
    * engines compute the identical fallback), banded-hamming pairs. On the
    * fixture the surviving pairs are the exact byte-duplicate payloads
    * (hamming 0); real-image near-dup semantics are pinned in KnnSpec with
    * generated PNGs. */
  /** The decoded fingerprint frame per fixture dir — (doc_id, phash,
    * feat, ‖feat‖²), checkpointed: the pair report, the Hamming dedup
    * tier AND the semantic cosine tier all project from it, and the
    * decode pass (md5 per payload 4-gram / the image raster pass) is the
    * expensive half of every one — the [[trainedNbModel]] session-share
    * discipline, now carrying both tiers in ONE decode
    * ([[Multimodal.imageFeatures]]: the phash is the feature's sign
    * fold, so nothing decodes twice). */
  private[queries] def imageFeaturesShared(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "image_features")(Multimodal.imageFeatures(documents(s, d))(s))
  private[queries] def imageHashesShared(s: SparkSession, d: String): DataFrame =
    imageFeaturesShared(s, d).select(col("doc_id"), col("phash"))

  private val extMultimodalPhash: Q = (s, d) =>
    Multimodal.phashPairs(imageHashesShared(s, d))
      .transform(orderedRows(_, "doc_a", "doc_b"))

  /** Image near-dup DECISION tier — the text family's cluster/keep/soft
    * machinery applied to the pHash pair graph: banded Hamming pairs
    * ([[Multimodal.phashPairs]], lossless for ≤ 5 flipped bits) through
    * [[Multimodal.softDedup]] (CC → cluster, copy count, SoftDeDup ppm
    * weight, min-id `keep` — the definition shared VERBATIM with the
    * streaming maintainer [[graft.streaming.MultimodalDedupStream]], so
    * the continuous grid and this audit cannot drift). The drop/reweight
    * list a multimodal pipeline actually consumes, vs the pair report's
    * raw edges.
    *
    * Shape: pairs are Σ bucket² per band (bounded by hash diversity); CC
    * runs on the pair slice only; the weight/keep join-back is the
    * doc-keyed [[Dedup.softWeights]] composition — media payloads are
    * decoded ONCE (hash frame checkpointed inside phashPairs) and never
    * move again. */
  private val extMultimodalDedup: Q = (s, d) =>
    Multimodal.softDedup(documents(s, d),
        Multimodal.phashPairs(imageHashesShared(s, d)))
      .transform(orderedRows(_, "doc_id"))

  /** SEMANTIC image-dedup tier — the multimodal SemDeDup split: pHash
    * bands catch re-encodes at Hamming ≤ 5 losslessly
    * ([[extMultimodalDedup]]); a rescaled or brightness/contrast-shifted
    * duplicate that flips more bits keeps a near-PARALLEL underlying
    * feature, so this tier verifies the SAME band candidates by cosine
    * ≥ 0.9 over the integer features ([[Multimodal.semPairs]] —
    * SimHash-banded ANN, the principled LSH for the cosine because the
    * phash IS the feature's sign fold), then pushes the pairs through
    * the identical CC → keep/weights report ([[Multimodal.softDedup]],
    * the one definition all three dedup reports share). Exactly the
    * text side's ngram/minhash-vs-SemDeDup split, for pixels.
    *
    * Shape: one decode (the session-shared feature checkpoint), band
    * candidates Σ bucket², the 60-multiply cosine verify before the pair
    * distinct, doc-keyed join-back — no all-pairs anywhere; media bytes
    * never move. */
  private val extMultimodalSemdedup: Q = (s, d) =>
    Multimodal.softDedup(documents(s, d),
        Multimodal.semPairs(imageFeaturesShared(s, d)))
      .transform(orderedRows(_, "doc_id"))

  /** Cross-SOURCE image-duplication matrix — `ext_dedup_cross_source`'s
    * wholesale-drop grid over the pHash pair graph: per unordered source
    * pair, the image pair count, the distinct victim docs (each pair's
    * higher id — the min-id keep rule's loser) and their char mass. The
    * table that catches a crawl mirroring another's image ASSETS even
    * when the surrounding text differs (the text matrix can't see it).
    * Definition is [[Dedup.crossSourceMatrix]] shared verbatim with the
    * text matrix AND the streaming maintainer
    * ([[graft.streaming.MultimodalDedupStream.crossSource]]); pairs ride
    * the session-shared decoded-hash checkpoint. */
  private val extMultimodalCrossSource: Q = (s, d) => {
    val docs = documents(s, d)
    Dedup.crossSourceMatrix(
      Multimodal.phashPairs(imageHashesShared(s, d)),
      docs.select(col("doc_id"), col("source"), col("n_chars")))
  }

  /** Frame sampling over the opaque media column: every 3rd frame index per
    * doc with a deterministic frame hash (stub codec — the row shape is what
    * a per-frame model consumes). */
  private val extMultimodalFrames: Q = (s, d) =>
    Multimodal.frameSample(documents(s, d), stride = 3)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"), col("frame_hash"))
      .transform(orderedRows(_, "doc_id", "frame_idx"))

  /** Feature-extraction batch shape: one fixed-width vector per payload
    * (stub arithmetic standing in for a model forward pass), unpivoted to
    * (doc_id, pos, value) rows for the oracle. */
  private val extMultimodalFeatures: Q = (s, d) =>
    Multimodal.featureVector(documents(s, d), d = 8)
      .select(col("doc_id"), posexplode(col("features")).as(Seq("pos", "v")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        rnd4(col("v").cast("double")).as("feature"))
      .transform(orderedRows(_, "doc_id", "pos"))

  /** Aspect-preserving resize plan to a 224-box — integer rounded division
    * only (see [[Multimodal.resizePlan]]); zero shuffles. */
  private val extMultimodalResize: Q = (s, d) =>
    Multimodal.resizePlan(documents(s, d), target = 224)
      .transform(orderedRows(_, "doc_id"))

  // -- corpus statistics / drift ---------------------------------------------

  /** Corpus-wide feature normalization — the z-score / min-max scaling pass
    * a training pipeline runs before thresholding or mixing on a numeric
    * quality column: every doc's `n_chars` against the corpus moments.
    *
    * Determinism: the moment aggregate keeps INTEGER sums (count, Σx, Σx²,
    * min, max — exact at any aggregation order); mean/variance fall out of
    * one double division each (`s1/n`, `s2/n − mean²`), the same two exact
    * operands on both engines, so the pre-round doubles are bit-identical
    * (the [[extTextRarity]] integer-numerator discipline).
    *
    * Scale shape: ONE map-side-combined 1-row aggregate broadcast onto the
    * scan — no data-sized shuffle at all; at 100 TB this is a scan plus a
    * 5-number broadcast. (Σx² of a bounded per-doc count stays well inside
    * int64 here; an unbounded feature would move s2 to DOUBLE and accept
    * the rnd4 tolerance like every other double aggregate.) */
  private val extFeatureScale: Q = (s, d) => {
    val stats = documents(s, d).agg(
      count(lit(1)).as("__n"),
      sum(col("n_chars")).as("__s1"),
      sum(col("n_chars") * col("n_chars")).as("__s2"),
      min(col("n_chars")).as("__lo"),
      max(col("n_chars")).as("__hi"))
    val mean = col("__s1").cast("double") / col("__n")
    val variance = col("__s2").cast("double") / col("__n") - mean * mean
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_chars"),
        rnd4((col("n_chars").cast("double") - mean) / sqrt(variance)).as("z_score"),
        rnd4((col("n_chars") - col("__lo")).cast("double")
          / (col("__hi") - col("__lo"))).as("minmax"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Token-concentration diversity per document — Simpson diversity
    * (1 − Σc²/n², the probability two random tokens differ) and effective
    * vocabulary (n²/Σc², the "equivalent number of equally-common tokens")
    * — the repetition/diversity quality signal a pretraining filter
    * thresholds on alongside the Gopher fractions. The Shannon-entropy
    * form of the same signal needs transcendental logs whose last-ulp
    * rounding differs between engines; Simpson carries it in EXACT integer
    * arithmetic (Σc² — [[graft.functions.TokenSqFreqSum]]) until one final
    * division ([[rnd4]]).
    *
    * Scale shape: one codegen'd row-local pass per doc, zero shuffles —
    * the explode → per-(doc, token) count form shuffles every token
    * occurrence in the corpus. */
  private val extTextDiversity: Q = (s, d) => {
    val n = size(TextFns.tokens(col("text"))).cast("long")
    documents(s, d)
      .select(col("doc_id"), n.as("n_tokens"),
        size(TextFns.distinctTokens(col("text"))).cast("long").as("n_distinct"),
        TextFns.tokenSqFreqSum(col("text")).as("__s2"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        rnd4((col("n_tokens") * col("n_tokens") - col("__s2")).cast("double")
          / (col("n_tokens") * col("n_tokens"))).as("simpson"),
        rnd4((col("n_tokens") * col("n_tokens")).cast("double") / col("__s2"))
          .as("eff_vocab"))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Kolmogorov–Smirnov drift per source — "does this slice's length
    * distribution match the corpus?", the distribution-shift gate run when
    * a new crawl/source lands: for each `source`, the exact KS distance
    * between its `n_chars` empirical CDF and the whole-corpus CDF.
    *
    * Exact and deterministic: both CDFs are integer cumulative counts over
    * the shared VALUE DOMAIN (distinct n_chars), and the sup-difference is
    * maximized on the integer cross-product `|cum_src·n_tot − cum_tot·n_src|`
    * — one double division at the very end ([[rnd4]]).
    *
    * Scale shape: the only corpus-sized work is two map-side-combined
    * histogram aggregates; everything after runs on the (sources × domain)
    * grid — bounded by the feature's value domain, not the corpus (the
    * curriculum/TrainPrep domain-histogram discipline). The corpus-CDF
    * window is unpartitioned but DOMAIN-sized (≤ distinct n_chars values);
    * the per-source window partitions by source.
    *
    * Since round 11 the arithmetic lives in [[graft.streaming.KsDriftStream
    * .report]] — ONE definition shared with the continuously-maintained
    * `stream_ks_drift` twin, computed off the (source, n_chars) histogram
    * (one corpus scan; the totals derive from the histogram instead of
    * three more scans). */
  private val extKsDrift: Q = (s, d) =>
    graft.streaming.KsDriftStream.report(
      graft.streaming.KsDriftStream.histogram(documents(s, d)))
      .transform(graft.Tables.orderedReport(_, "source"))

  /** Embedding-space drift — the VECTOR-modality member of the drift
    * family (quality/vocab/KS/length/schema monitor the text and payload;
    * none notices a new encoder version or a domain shift that moves the
    * embedding distribution itself, which silently invalidates every ANN
    * index and semdedup threshold downstream): per dimension, the
    * reference-vs-current mean shift, ranked so "which dimensions moved
    * most" reads off the top. Slices are the deterministic even/odd
    * vec_id split — the fixture's stand-in for reference-corpus vs
    * incoming-shard frames.
    *
    * Integer-exact end to end, DIVISION-FREE: values snap to the 1e-4
    * grid, per-slice sums and counts are integers, and the mean shift
    * compares as the cross-multiplied numerator
    * s_cur·n_ref − s_ref·n_cur (the counts are dimension-independent, so
    * ranking by |delta_num| IS ranking by |Δmean| — no rational compare
    * needed; magnitude n·|s| ≤ 10⁴·(2·10⁴·n)·n stays in BIGINT through
    * ~10⁶-vector slices, decimal beyond). drift_rank ties break
    * pos-ascending.
    *
    * Scale shape: ONE corpus scan into a map-side-combined per-dimension
    * aggregate — the output frame is DIM-bounded (embedding width), so
    * the ranking window costs nothing at any corpus size. Grid slice and
    * report are shared verbatim with the streaming form
    * ([[graft.streaming.EmbedDriftStream]] — exactly-once batch input
    * makes the one-shot slice the fully-merged grid). */
  private val extEmbedDrift: Q = (s, d) => {
    import graft.streaming.EmbedDriftStream
    EmbedDriftStream.report(EmbedDriftStream.slice(embeddings(s, d)))
  }

  /** Per-label embedding centroid via the typed Aggregator (map-side partial
    * merge), unpivoted to (label, pos, value) rows for the oracle. */
  private val extMultimodalCentroid: Q = (s, d) => {
    val centroid = udaf(Multimodal.CentroidAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    embeddings(s, d)
      .groupBy(col("label").cast("long").as("label"))
      .agg(centroid(col("embedding")).as("c"))
      .select(col("label"), posexplode(col("c")).as(Seq("pos", "v")))
      .select(col("label"), col("pos").cast("long").as("pos"), rnd4(col("v")).as("centroid"))
      .transform(orderedRows(_, "label", "pos"))
  }

  val queries: Map[String, Q] = Map(
    "ext_text_stats" -> extTextStats,
    "ext_text_repetition" -> extTextRepetition,
    "ext_text_novelty" -> extTextNovelty,
    "ext_text_rarity" -> extTextRarity,
    "ext_lm_coherence" -> extLmCoherence,
    "ext_lm_perplexity" -> extLmPerplexity,
    "ext_ppl_filter" -> extPplFilter,
    "ext_nb_train" -> extNbTrain,
    "ext_nb_score" -> extNbScore,
    "ext_label_noise" -> extLabelNoise,
    "ext_nb_calibration" -> extNbCalibration,
    "ext_router_kappa" -> extRouterKappa,
    "ext_dsir_weights" -> extDsirWeights,
    "ext_dsir_model" -> extDsirModel,
    "ext_phrase_search" -> extPhraseSearch,
    "ext_text_pii" -> extTextPii,
    "ext_pii_redact" -> extPiiRedact,
    "ext_span_corruption" -> extSpanCorruption,
    "ext_ngram_counts" -> extNgramCounts,
    "ext_token_count" -> extTokenCount,
    "ext_lang_id" -> extLangId,
    "ext_lang_confusion" -> extLangConfusion,
    "ext_quality_score" -> extQuality,
    "ext_fingerprint" -> extFingerprint,
    "ext_corpus_fingerprint" -> extCorpusFingerprint,
    "ext_dedup_exact" -> extDedupExact,
    "ext_prefix_dup" -> extPrefixDup,
    "ext_dedup_ngram" -> extDedupNgram,
    "ext_dedup_containment" -> extDedupContainment,
    "ext_dedup_fuzzy" -> extDedupFuzzy,
    "ext_dedup_passages" -> extDedupPassages,
    "ext_text_boilerplate" -> extTextBoilerplate,
    "ext_dedup_minhash" -> extDedupMinhash,
    "ext_dedup_spans" -> extDedupSpans,
    "ext_dedup_span_stats" -> extDedupSpanStats,
    "ext_quality_gopher" -> extQualityGopher,
    "ext_filter_policy" -> extFilterPolicy,
    "ext_filter_pipeline" -> extFilterPipeline,
    "ext_text_readability" -> extTextReadability,
    "ext_text_entropy" -> extTextEntropy,
    "ext_text_zipf" -> extTextZipf,
    "ext_prep_audit" -> extPrepAudit,
    "ext_dedup_simhash" -> extDedupSimhash,
    "ext_dedup_cluster" -> extDedupCluster,
    "ext_dedup_soft" -> extDedupSoft,
    "ext_source_caps" -> extSourceCaps,
    "ext_dedup_purity" -> extDedupPurity,
    "ext_dedup_keep" -> extDedupKeep,
    "ext_dedup_keep_best" -> extDedupKeepBest,
    "ext_dedup_savings" -> extDedupSavings,
    "ext_dedup_sweep" -> extDedupSweep,
    "ext_dedup_policy" -> extDedupPolicy,
    "ext_dedup_cross_source" -> extDedupCrossSource,
    "ext_dedup_url" -> extDedupUrl,
    "ext_dedup_winnow" -> extDedupWinnow,
    "ext_dedup_quality" -> extDedupQuality,
    "ext_dedup_winnow_pairs" -> extDedupWinnowPairs,
    "ext_corpus_report" -> extCorpusReport,
    "ext_contamination" -> extContamination,
    "ext_contamination_ngram" -> extContaminationNgram,
    "ext_overlap_sources" -> extOverlapSources,
    "ext_bpe_pairs" -> extBpePairs,
    "ext_bpe_train" -> extBpeTrain,
    "ext_bpe_encode" -> extBpeEncode,
    "ext_tokenizer_fertility" -> extTokenizerFertility,
    "ext_bpe_vocab" -> extBpeVocab,
    "ext_pack_windows_bpe" -> extPackWindowsBpe,
    "ext_pack_windows_unigram" -> extPackWindowsUnigram,
    "ext_sim_knn" -> extSimKnn,
    "ext_sim_mmr" -> extSimMmr,
    "ext_sim_mmr_ivf" -> extSimMmrIvf,
    "ext_embed_matryoshka" -> extEmbedMatryoshka,
    "ext_sim_knn_filtered" -> extSimKnnFiltered,
    "ext_sample_hardneg" -> extSampleHardneg,
    "ext_class_balance" -> extClassBalance,
    "ext_sim_knn_lsh" -> extSimKnnLsh,
    "ext_sim_knn_ivf" -> extSimKnnIvf,
    "ext_sim_recall_curve" -> extSimRecallCurve,
    "ext_embed_dim_stats" -> extEmbedDimStats,
    "ext_split_leakage_embed" -> extSplitLeakageEmbed,
    "ext_sim_neardup" -> extSimNeardup,
    "ext_sim_neardup_lsh" -> extSimNeardupLsh,
    "ext_sim_cluster" -> extSimCluster,
    "ext_sim_semdedup" -> extSimSemdedup,
    "ext_sim_semdedup_cells" -> extSimSemdedupCells,
    "ext_sim_knn_ivf_cells" -> extSimKnnIvfCells,
    "ext_sim_ivf_occupancy" -> extSimIvfOccupancy,
    "ext_sim_silhouette" -> extSimSilhouette,
    "ext_embed_outliers" -> extEmbedOutliers,
    "ext_sample_stratified" -> extSampleStratified,
    "ext_sample_weighted" -> extSampleWeighted,
    "ext_sample_bottomk" -> extSampleBottomk,
    "ext_sample_coreset" -> extSampleCoreset,
    "ext_split_assign" -> extSplitAssign,
    "ext_split_psi" -> extSplitPsi,
    "ext_length_outliers" -> extLengthOutliers,
    "ext_split_leakage" -> extSplitLeakage,
    "ext_shuffle_shard" -> extShuffleShard,
    "ext_embed_quantize" -> extEmbedQuantize,
    "ext_embed_pq" -> extEmbedPq,
    "ext_embed_pca" -> extEmbedPca,
    "ext_embed_whiten" -> extEmbedWhiten,
    "ext_unigram_train" -> extUnigramTrain,
    "ext_unigram_encode" -> extUnigramEncode,
    "ext_sim_knn_pq" -> extSimKnnPq,
    "ext_sim_knn_ivfpq" -> extSimKnnIvfPq,
    "ext_pack_windows" -> extPackWindows,
    "ext_pack_diversity" -> extPackDiversity,
    "ext_pack_greedy" -> extPackGreedy,
    "ext_pack_greedy_manifest" -> extPackGreedyManifest,
    "ext_pack_stats" -> extPackStats,
    "ext_pack_text" -> extPackText,
    "ext_chunk_docs" -> extChunkDocs,
    "ext_mix_plan" -> extMixPlan,
    "ext_mix_apply" -> extMixApply,
    "ext_mix_temperature" -> extMixTemperature,
    "ext_mix_epochs" -> extMixEpochs,
    "ext_quality_length_corr" -> extQualityLengthCorr,
    "ext_batch_buckets" -> extBatchBuckets,
    "ext_curriculum" -> extCurriculum,
    "ext_curriculum_plan" -> extCurriculumPlan,
    "ext_tfidf_terms" -> extTfidfTerms,
    "ext_bm25" -> extBm25,
    "ext_rank_fusion" -> extRankFusion,
    "ext_vocab_top" -> extVocabTop,
    "ext_cooccurrence" -> extCooccurrence,
    "ext_textrank" -> extTextrank,
    "ext_vocab_oov" -> extVocabOov,
    "ext_token_quantiles" -> extTokenQuantiles,
    "ext_token_quantiles_fast" -> extTokenQuantilesFast,
    "ext_corpus_prep" -> extCorpusPrep,
    "ext_pack_manifest" -> extPackManifest,
    "ext_multimodal_meta" -> extMultimodalMeta,
    "ext_multimodal_phash" -> extMultimodalPhash,
    "ext_multimodal_dedup" -> extMultimodalDedup,
    "ext_multimodal_semdedup" -> extMultimodalSemdedup,
    "ext_multimodal_cross_source" -> extMultimodalCrossSource,
    "ext_multimodal_frames" -> extMultimodalFrames,
    "ext_multimodal_resize" -> extMultimodalResize,
    "ext_multimodal_features" -> extMultimodalFeatures,
    "ext_multimodal_centroid" -> extMultimodalCentroid,
    "ext_feature_scale" -> extFeatureScale,
    "ext_ks_drift" -> extKsDrift,
    "ext_embed_drift" -> extEmbedDrift,
    "ext_text_diversity" -> extTextDiversity)

  // -- oracle ----------------------------------------------------------------

  /** Shared oracle CTE: the 60-bit media pHash banded candidate frame
    * `cand` (doc_a, doc_b, pa, pb) — one definition for the
    * ext_multimodal_phash pair report and the ext_multimodal_dedup
    * cluster/keep tier (full replay of the stub dHash + 6×10-bit
    * banding). */
  private val phashCandSqlCte =
    """t AS (SELECT doc_id, text FROM documents),
      |pos AS (SELECT doc_id,
      |          unnest(generate_series(1, greatest(length(text) - 3, 0))) AS i
      |        FROM t),
      |hx AS (SELECT p.doc_id,
      |         CAST(('0x' || substr(md5(substr(t.text, p.i, 4)), 1, 15)) AS BIGINT) AS h
      |       FROM pos p JOIN t ON p.doc_id = t.doc_id),
      |bits AS (SELECT doc_id, b,
      |           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |         FROM hx, (SELECT unnest(generate_series(0, 59)) AS b) bb
      |         GROUP BY 1, 2),
      |sim AS (SELECT t.doc_id,
      |          coalesce((SELECT sum(CASE WHEN vote > 0 THEN 1::BIGINT << b
      |                                    ELSE 0 END)
      |                    FROM bits WHERE bits.doc_id = t.doc_id), 0) AS ph
      |        FROM t),
      |bd AS (SELECT doc_id, ph, unnest(generate_series(0, 5)) AS band FROM sim),
      |k AS (SELECT doc_id, ph, band, (ph >> (band * 10)) & 1023 AS key FROM bd),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.ph AS pa, b.ph AS pb
      |         FROM k a JOIN k b
      |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared oracle CTE: the add-½ bigram-LM cross-entropy frame `x`
    * (doc_id, n_bigrams, xent_nats) — one definition for the
    * ext_lm_perplexity and ext_ppl_filter oracles. */
  private val lmXentSqlCte =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS cur
       |       FROM toks WHERE len(t) >= 2),
       |tf AS (SELECT doc_id, prev, cur, CAST(count(*) AS BIGINT) AS tf
       |       FROM bg GROUP BY ALL),
       |tc AS (SELECT prev, cur, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY ALL),
       |hd AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM tc GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok) AS nv
       |      FROM (SELECT unnest(t) AS tok FROM toks)),
       |m AS (SELECT prev, cur,
       |             CAST(round(ln((c2 + 0.5) / (c1 + 0.5 * nv)) * 10000) AS BIGINT) AS micro
       |      FROM tc JOIN hd USING (prev), v),
       |pd AS (SELECT doc_id, CAST(sum(tf * micro) AS BIGINT) AS tot,
       |              CAST(sum(tf) AS BIGINT) AS nb
       |       FROM tf JOIN m USING (prev, cur) GROUP BY 1),
       |x AS (SELECT t.doc_id, CAST(greatest(len(t.t) - 1, 0) AS BIGINT) AS n_bigrams,
       |             ${rnd4Sql("-tot / (nb * 10000.0)")} AS xent_nats
       |      FROM toks t LEFT JOIN pd ON t.doc_id = pd.doc_id)""".stripMargin

  /** Shared oracle CTEs for the Naive Bayes surface — the complete
    * (label × vocab) smoothed model in integer log-micronats, mirroring
    * [[graft.operators.NaiveBayes.train]] term for term. */
  private val nbModelSqlCte =
    """ntk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      |        FROM documents),
      |ncnt AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      |         FROM ntk GROUP BY 1, 2),
      |ncls AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM ncnt GROUP BY 1),
      |nvoc AS (SELECT DISTINCT token FROM ntk),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM nvoc),
      |nlab AS (SELECT lang, CAST(round(ln(CAST(count(*) AS DOUBLE) /
      |                  (SELECT CAST(count(*) AS DOUBLE) FROM documents))
      |                  * 1000000) AS BIGINT) AS prior_micro
      |         FROM documents GROUP BY 1),
      |nmodel AS (SELECT l.lang AS label, w.token, coalesce(c.c, 0) AS c,
      |             CAST(round(ln((coalesce(c.c, 0) + 0.5) / (s.cl + 0.5 * nv.v))
      |                        * 1000000) AS BIGINT) AS logprob_micro,
      |             l.prior_micro
      |           FROM nlab l CROSS JOIN nvoc w
      |           LEFT JOIN ncnt c ON l.lang = c.lang AND w.token = c.token
      |           JOIN ncls s ON l.lang = s.lang, nv)""".stripMargin

  /** Shared oracle CTEs for the completed per-(doc, label) NB score grid
    * + its per-doc ranking — mirrors [[graft.operators.NaiveBayes]]'s
    * `scoredGrid`: token-evidence scores where they exist, the bare prior
    * where none does. Requires [[nbModelSqlCte]] in the same WITH. */
  private val nbGridSqlCte =
    """ntf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |        FROM ntk GROUP BY 1, 2),
      |nsc AS (SELECT t.doc_id, m.label,
      |          CAST(m.prior_micro + sum(t.tf * m.logprob_micro) AS BIGINT)
      |            AS sc
      |        FROM ntf t JOIN nmodel m ON t.token = m.token
      |        GROUP BY 1, 2, m.prior_micro),
      |npri AS (SELECT DISTINCT label, prior_micro FROM nmodel),
      |ngrid AS (SELECT d.doc_id, d.lang AS true_label, p.label,
      |                 coalesce(s.sc, p.prior_micro) AS score
      |          FROM documents d CROSS JOIN npri p
      |          LEFT JOIN nsc s ON s.doc_id = d.doc_id AND s.label = p.label),
      |nrk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                    ORDER BY score DESC, label) AS rn
      |        FROM ngrid)""".stripMargin

  /** Shared oracle CTE: distinct (doc_id, 3-shingle) pairs. */
  private val shingleSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
      |                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
      |       FROM toks)""".stripMargin

  /** Duplicate-substring span CTEs — ONE definition for the span map and
    * its per-doc stats, mirroring [[Dedup.duplicateSpans]]: positional
    * 13-grams (NOT distinct — in-doc repeats count toward df), zipped
    * unnests keep pos and gram aligned, islands merge on touch
    * (pos = prev_end + 1). */
  private val spansSqlCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(generate_series(1, greatest(len(t) - 12, 0))) - 1 AS pos,
      |        unnest(list_transform(generate_series(1, greatest(len(t) - 12, 0)),
      |                              i -> array_to_string(t[i:i+12], ' '))) AS gram
      |      FROM toks),
      |d AS (SELECT doc_id, pos FROM (
      |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS df FROM g)
      |      WHERE df >= 2),
      |m AS (SELECT doc_id, pos,
      |        CASE WHEN pos > coalesce(max(pos + 12) OVER (
      |               PARTITION BY doc_id ORDER BY pos
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
      |             THEN 1 ELSE 0 END AS new_span
      |      FROM d),
      |i AS (SELECT doc_id, pos,
      |        sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      |      FROM m),
      |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |              CAST(max(pos) + 12 AS BIGINT) AS span_end,
      |              CAST(max(pos) + 12 - min(pos) + 1 AS BIGINT) AS span_tokens
      |       FROM i GROUP BY doc_id, span)""".stripMargin

  /** Exact 3-gram Jaccard pairs ≥ 0.5 — oracle for BOTH ext_dedup_ngram and
    * ext_dedup_minhash (LSH recall ≈ 1 at the fixture's j ≥ 0.9; see doc). */
  /** Shared oracle CTE for the vocabulary surface: token occurrences, the
    * token-keyed tf/df aggregate, the corpus-total denominator, and the
    * top-20 vocab (ties break on the token string — the [[TrainPrep
    * .vocabTop]] contract). */
  private val vocabSqlCte =
    """vtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |vc AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
      |              CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |       FROM vtok GROUP BY 1),
      |vtot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM vc),
      |vtop AS (SELECT * FROM vc ORDER BY tf DESC, token LIMIT 20)""".stripMargin

  private val jaccardSql =
    s"""WITH $shingleSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)
       |SELECT doc_a, doc_b, ${rnd4Sql("c * 1.0 / (sa.n + sb.n - c)")} AS jaccard
       |FROM common
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash separation-audit oracle ([[Dedup.simhashSeparation]]'s twin):
    * both population denominators are hash-free and recomputed exactly —
    * near-dup pairs from the shared shingle CTE at rnd4(jaccard) ≥ 0.9,
    * background pairs by consecutive doc_id existence — with the Hamming
    * bounds as literals and ok asserted true (the annAuditSql shape). */
  private val simhashAuditSql =
    s"""WITH $shingleSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |near AS (SELECT doc_a FROM common
       |         JOIN sizes sa ON doc_a = sa.doc_id
       |         JOIN sizes sb ON doc_b = sb.doc_id
       |         WHERE ${rnd4Sql("c * 1.0 / (sa.n + sb.n - c)")} >= 0.9)
       |SELECT 'background' AS population,
       |       (SELECT CAST(count(*) AS BIGINT) FROM documents a
       |        JOIN documents b ON b.doc_id = a.doc_id + 1) AS n_pairs,
       |       CAST(11000 AS BIGINT) AS bound_milli, true AS ok
       |UNION ALL
       |SELECT 'neardup', (SELECT CAST(count(*) AS BIGINT) FROM near),
       |       CAST(9000 AS BIGINT), true
       |ORDER BY population""".stripMargin

  /** Oracle replay of [[Knn.ivfCellsInt]] — the integer-exact Lloyd
    * recurrence unrolled for IvfIters = 2: snap to the 1e-6 grid, sample =
    * 128 lowest ids, seeds = 16 lowest, two (assign, floor-mean) rounds,
    * final full-corpus assignment. `//` is floor division; the engine's
    * `div` truncates — the +2³¹·n offset makes every numerator positive so
    * both agree (the fd2 discipline). Ties break (distance, cell). */
  /** The CTE chain of the Lloyd replay up to the trained `c2` centroids —
    * shared by the cell-table oracle and the outlier-QC oracle so the
    * quantizer replay is ONE definition. `finSelect` closes over it. */
  private def lloydAssignSql(src: String, cents: String, withDist: Boolean = false) =
    s"""SELECT vec_id, cell${if (withDist) ", d2" else ""} FROM (
       |  SELECT p.vec_id, c.cell,
       |         sum((p.v - c.c)*(p.v - c.c)) AS d2,
       |         row_number() OVER (PARTITION BY p.vec_id
       |           ORDER BY sum((p.v - c.c)*(p.v - c.c)), c.cell) AS rn
       |  FROM $src p JOIN $cents c ON p.pos = c.pos
       |  GROUP BY p.vec_id, c.cell)
       |WHERE rn = 1""".stripMargin
  private val lloydCteSql = {
    def centSql(asg: String) =
      s"""SELECT a.cell, p.pos,
         |       (sum(p.v) + 2147483648 * count(*)) // count(*) - 2147483648 AS c
         |FROM $asg a JOIN samp p USING (vec_id)
         |GROUP BY a.cell, p.pos""".stripMargin
    s"""x AS (
       |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
       |              AS BIGINT) * 100 AS v
       |  FROM embeddings),
       |sids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $IvfSampleN),
       |samp AS (SELECT x.* FROM x JOIN sids USING (vec_id)),
       |seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
       |          FROM (SELECT vec_id FROM sids ORDER BY vec_id LIMIT $IvfCells)),
       |c0 AS (SELECT s.cell, p.pos, p.v AS c FROM seeds s JOIN samp p USING (vec_id)),
       |a1 AS (${lloydAssignSql("samp", "c0")}),
       |c1 AS (${centSql("a1")}),
       |a2 AS (${lloydAssignSql("samp", "c1")}),
       |c2 AS (${centSql("a2")})""".stripMargin
  }

  /** Oracle replay of [[Knn.silhouetteInt]]: the shared Lloyd CTEs, then
    * the FULL ranked (vec, cell) distance table — rn=1 is the assignment
    * (a), rn=2 the nearest-other distance (b, ties included), silhouette
    * and per-cell means in the same non-negative integer floor divisions
    * as the engine. */
  private val silhouetteSql =
    s"""WITH $lloydCteSql,
       |r AS (
       |  SELECT p.vec_id, c.cell,
       |         sum((p.v - c.c)*(p.v - c.c)) AS d2,
       |         row_number() OVER (PARTITION BY p.vec_id
       |           ORDER BY sum((p.v - c.c)*(p.v - c.c)), c.cell) AS rn
       |  FROM x p JOIN c2 c ON p.pos = c.pos
       |  GROUP BY p.vec_id, c.cell),
       |f AS (
       |  SELECT a.vec_id, a.cell, a.d2 AS d2_own, b.d2 AS d2_next,
       |         CASE WHEN b.d2 = 0 THEN 0
       |              ELSE (b.d2 - a.d2) * 1000 // b.d2 END AS sil_milli
       |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
       |cs AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_cell,
       |              CAST(sum(sil_milli) // count(*) AS BIGINT) AS cell_mean_sil_milli
       |       FROM f GROUP BY cell)
       |SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell,
       |       CAST(f.d2_own AS BIGINT) AS d2_own,
       |       CAST(f.d2_next AS BIGINT) AS d2_next,
       |       CAST(f.sil_milli AS BIGINT) AS sil_milli,
       |       cs.n_cell, cs.cell_mean_sil_milli
       |FROM f JOIN cs USING (cell) ORDER BY f.vec_id""".stripMargin

  private val ivfCellsSql =
    s"""WITH $lloydCteSql,
       |fin AS (${lloydAssignSql("x", "c2")})
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM fin ORDER BY vec_id""".stripMargin

  /** Oracle replay of [[Knn.pqCodesInt]] — the subspace-fused Lloyd: the
    * same snapped grid as [[lloydCteSql]], positions split into
    * (subspace s, in-subspace p), seeds = the $PqK lowest-id sample
    * vectors sliced per subspace, two floor-mean rounds keyed by
    * (s, cell, p), then the full corpus coded per (vec_id, s) and packed
    * base-$PqK with subspace 0 most significant; recon_d2 = Σ d². */
  private val embedPqSql = {
    def pqAssignSql(src: String, cents: String) =
      s"""SELECT vec_id, s, cell, d2 FROM (
         |  SELECT p.vec_id, p.s, c.cell,
         |         sum((p.v - c.c)*(p.v - c.c)) AS d2,
         |         row_number() OVER (PARTITION BY p.vec_id, p.s
         |           ORDER BY sum((p.v - c.c)*(p.v - c.c)), c.cell) AS rn
         |  FROM $src p JOIN $cents c ON p.s = c.s AND p.p = c.p
         |  GROUP BY p.vec_id, p.s, c.cell)
         |WHERE rn = 1""".stripMargin
    def pqCentSql(asg: String) =
      s"""SELECT a.s, a.cell, p.p,
         |       (sum(p.v) + 2147483648 * count(*)) // count(*) - 2147483648 AS c
         |FROM $asg a JOIN samp p ON a.vec_id = p.vec_id AND a.s = p.s
         |GROUP BY a.s, a.cell, p.p""".stripMargin
    s"""WITH x0 AS (
       |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
       |              AS BIGINT) * 100 AS v
       |  FROM embeddings),
       |dims AS (SELECT len(embedding) // $PqM AS sub FROM embeddings LIMIT 1),
       |x AS (SELECT vec_id, pos // sub AS s, pos % sub AS p, v FROM x0, dims),
       |sids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqSampleN),
       |samp AS (SELECT x.* FROM x JOIN sids USING (vec_id)),
       |seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
       |          FROM (SELECT vec_id FROM sids ORDER BY vec_id LIMIT $PqK)),
       |c0 AS (SELECT p.s, sd.cell, p.p, p.v AS c FROM seeds sd JOIN samp p USING (vec_id)),
       |a1 AS (${pqAssignSql("samp", "c0")}),
       |c1 AS (${pqCentSql("a1")}),
       |a2 AS (${pqAssignSql("samp", "c1")}),
       |c2 AS (${pqCentSql("a2")}),
       |fin AS (${pqAssignSql("x", "c2")})
       |SELECT vec_id,
       |       CAST(sum(cell * CAST(pow($PqK, ${PqM - 1} - s) AS BIGINT)) AS BIGINT)
       |         AS codes_packed,
       |       CAST(sum(d2) AS BIGINT) AS recon_d2
       |FROM fin GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Oracle replay of [[Knn.centroidOutliersInt]]: the shared Lloyd CTEs,
    * then per vector the exact integer d² to its assigned centroid, the
    * cell's floor-mean, and the cross-multiplied factor flag in HUGEINT
    * (d²·n·100 can pass 2⁶³; Spark's side uses DECIMAL(38) — both exact). */
  private val embedOutliersSql =
    s"""WITH $lloydCteSql,
       |fin AS (${lloydAssignSql("x", "c2", withDist = true)}),
       |stats AS (SELECT cell, count(*) AS n, sum(d2) AS s FROM fin GROUP BY cell)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(d2 AS BIGINT) AS d2,
       |       CAST(s // n AS BIGINT) AS cell_mean_d2,
       |       (CAST(d2 AS HUGEINT) * n * 100 > CAST(s AS HUGEINT) * 120) AS outlier
       |FROM fin JOIN stats USING (cell) ORDER BY vec_id""".stripMargin

  /** ANN recall-audit oracle ([[Knn.recallAudit]]'s twin): the grid's
    * determinable columns (query set, k, floors) straight from the data,
    * ok asserted true for every per-query row and the query_id = −1 total
    * row — the `ext_token_quantiles_fast` contract-gating shape. */
  private def annAuditSql(k: Int, floorQ: Int, floorT: Int) =
    s"""SELECT CAST(vec_id AS BIGINT) AS query_id, CAST($k AS BIGINT) AS k,
       |       CAST($floorQ AS BIGINT) AS min_hits, true AS ok
       |FROM embeddings WHERE vec_id < 10
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT),
       |       (SELECT count(*) FROM embeddings WHERE vec_id < 10) * CAST($k AS BIGINT),
       |       CAST($floorT AS BIGINT), true
       |ORDER BY 1""".stripMargin

  /** Oracle replay of [[Knn.mmrInt]] — integer inner products on the
    * shared 1e-6 snap grid (the lloydCteSql coordinate discipline), the
    * top-m candidate cut, then the k greedy picks UNROLLED as chained
    * CTEs (the unrolled-Lloyd shape): step t scores every unpicked
    * candidate as lam·rel − (10−lam)·max(pair dot to the picked set) and
    * takes the (score DESC, cid ASC) head. Every value is an exact
    * BIGINT, so the whole selection hash-gates. */
  /** The candidate-onward half of the MMR replay (cand cut → pair dots →
    * k unrolled greedy picks → final grid), shared by the exact and
    * IVF-probed variants — callers prepend CTEs ending in a
    * `qd(qid, cid, rel)` frame. */
  private def mmrBodySql(m: Int, k: Int, lam: Int): String = {
    val steps = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (SELECT qid, cid, rel, score FROM (
         |  SELECT qid, cid, rel, score,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn
         |  FROM (SELECT c.qid, c.cid, c.rel,
         |               $lam * c.rel - ${10 - lam} * max(p.pdot) AS score
         |        FROM cand c
         |        JOIN sel${t - 1} s ON s.qid = c.qid
         |        JOIN pd p ON p.qid = c.qid AND p.ca = c.cid AND p.cb = s.cid
         |        WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} z
         |                          WHERE z.qid = c.qid AND z.cid = c.cid)
         |        GROUP BY 1, 2, 3) g) r WHERE rn = 1),
         |sel$t AS MATERIALIZED (SELECT qid, cid FROM sel${t - 1}
         |          UNION ALL SELECT qid, cid FROM s$t)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to k)
      .map(t => s"SELECT qid, CAST($t AS BIGINT) AS rank, cid, rel, score FROM s$t")
      .mkString("\nUNION ALL ")
    s"""cand AS MATERIALIZED (SELECT qid, cid, rel FROM (
       |          SELECT qid, cid, rel,
       |                 row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
       |          FROM qd) t WHERE rn <= $m),
       |pd AS MATERIALIZED (SELECT a.qid, a.cid AS ca, b.cid AS cb,
       |              CAST(sum(xa.v * xb.v) AS BIGINT) AS pdot
       |       FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
       |       JOIN x xa ON xa.vec_id = a.cid
       |       JOIN x xb ON xb.vec_id = b.cid AND xb.pos = xa.pos
       |       GROUP BY 1, 2, 3),
       |s1 AS MATERIALIZED (SELECT qid, cid, rel, CAST($lam AS BIGINT) * rel AS score FROM (
       |        SELECT qid, cid, rel,
       |               row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
       |        FROM cand) t WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT qid, cid FROM s1),
       |$steps
       |SELECT qid AS query_id, rank, cid AS vec_id, rel, score
       |FROM ($finals) u
       |ORDER BY query_id, rank""".stripMargin
  }

  private def mmrSql(nQ: Int, m: Int, k: Int, lam: Int): String =
    s"""WITH x AS MATERIALIZED (SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
       |                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
       |                       AS BIGINT) * 100 AS v
       |           FROM embeddings),
       |qd AS MATERIALIZED (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |              CAST(sum(q.v * c.v) AS BIGINT) AS rel
       |       FROM x q JOIN x c ON q.pos = c.pos AND c.vec_id <> q.vec_id
       |       WHERE q.vec_id < $nQ GROUP BY 1, 2),
       |${mmrBodySql(m, k, lam)}""".stripMargin

  /** Oracle replay of [[Knn.mmrIvfInt]]: the shared integer-Lloyd CTEs
    * (quantizer), exact-integer (d², cell)-ranked probe cells per query,
    * candidates restricted to probed cells' members via the corpus
    * assignment, then the same unrolled greedy body. */
  private def mmrIvfSql(nQ: Int, m: Int, k: Int, lam: Int, nProbe: Int): String =
    s"""WITH $lloydCteSql,
       |fin AS (${lloydAssignSql("x", "c2")}),
       |qcd AS (SELECT q.vec_id AS qid, c.cell,
       |               sum((q.v - c.c) * (q.v - c.c)) AS d2
       |        FROM x q JOIN c2 c ON c.pos = q.pos
       |        WHERE q.vec_id < $nQ GROUP BY 1, 2),
       |qp AS (SELECT qid, cell FROM (
       |        SELECT qid, cell,
       |               row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
       |        FROM qcd) z WHERE rn <= $nProbe),
       |qd AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, cv.vec_id AS cid,
       |         CAST(sum(q.v * cv.v) AS BIGINT) AS rel
       |  FROM x q JOIN x cv ON q.pos = cv.pos AND cv.vec_id <> q.vec_id
       |  JOIN fin f ON f.vec_id = cv.vec_id
       |  JOIN qp ON qp.qid = q.vec_id AND qp.cell = f.cell
       |  WHERE q.vec_id < $nQ GROUP BY 1, 2),
       |${mmrBodySql(m, k, lam)}""".stripMargin

  /** Shared winnow CTE prefix (k=8, w=4): gram hashes `g`, per-doc gram
    * count `ng`, and the selected set `sel` — distinct rightmost-min
    * (h ASC, pos DESC ranking) over every w-window, windows truncating at
    * the doc edge and degenerating to one window when grams < w, exactly
    * the kernel's contract. */
  private def winnowCteSql: String =
    s"""g AS MATERIALIZED (
       |  SELECT doc_id, i AS pos,
       |         list_reduce(list_transform(generate_series(i, i + 7),
       |                                    j -> CAST(ascii(text[j:j]) AS BIGINT)),
       |                     (acc, c) -> (acc * 31 + c) % $P) AS h
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 7)) AS i
       |        FROM documents WHERE length(text) >= 8) src),
       |ng AS (SELECT doc_id, CAST(max(pos) AS BIGINT) AS n_grams FROM g GROUP BY 1),
       |sel AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, pos, h FROM (
       |    SELECT b.doc_id, b.pos, b.h,
       |           row_number() OVER (PARTITION BY a.doc_id, a.pos
       |                              ORDER BY b.h, b.pos DESC) AS rn
       |    FROM g a
       |    JOIN ng n ON n.doc_id = a.doc_id AND a.pos <= greatest(n.n_grams - 3, 1)
       |    JOIN g b ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos AND a.pos + 3
       |  ) z WHERE rn = 1),""".stripMargin

  /** Oracle-side cosine between DOUBLE[] casts (same sequential fold). */
  private def cosSql(a: String, b: String) =
    s"list_dot_product($a,$b) / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)))"

  /** Exact near-dup pairs — oracle for BOTH ext_sim_neardup and its
    * LSH-banded form (recall 1.0 on the fixture; see the query doc). */
  private val neardupSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE label = 0)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       ${rnd4Sql(cosSql("a.emb", "b.emb"))} AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.emb", "b.emb")} >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup grouping oracle under pmod cells: within-cell cosine pairs,
    * transitive closure via a recursive CTE (min reachable id = the
    * representative — [[graft.operators.Dedup.duplicateClusters]]'s
    * contract), one row per vector. Closure size is Σ component² with
    * components bounded by cell size — fine at oracle scale. */
  private val semdedupCellsSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, vec_id % 16 AS cell
       |           FROM embeddings),
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb
       |      FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |      WHERE ${cosSql("a.emb", "b.emb")} >= 0.3),
       |edges AS (SELECT ida, idb FROM p UNION ALL SELECT idb AS ida, ida AS idb FROM p),
       |rec AS (
       |  WITH RECURSIVE reach(src, dst) AS (
       |    SELECT vec_id, vec_id FROM e
       |    UNION
       |    SELECT r.src, ed.idb FROM reach r JOIN edges ed ON r.dst = ed.ida
       |  ) SELECT src, min(dst) AS rep_id FROM reach GROUP BY 1)
       |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell, r.rep_id,
       |       r.rep_id = c.vec_id AS kept
       |FROM e c JOIN rec r ON c.vec_id = r.src
       |ORDER BY 1""".stripMargin

  /** FULL SemDeDup oracle — [[semdedupCellsSql]]'s closure over the REAL
    * quantizer: cells from the shared Lloyd replay (Sem* constants equal
    * the Ivf* ones, so [[lloydCteSql]] is the same training), then the
    * identical within-cell cosine pairs → recursive-CTE components →
    * min-id representative. With this, `ext_sim_semdedup` is gated
    * end-to-end: quantizer AND grouping in one hash. */
  private val semdedupFullSql =
    s"""WITH $lloydCteSql,
       |fin AS (${lloydAssignSql("x", "c2")}),
       |e AS (SELECT em.vec_id, em.embedding::DOUBLE[] AS emb, f.cell
       |      FROM embeddings em JOIN fin f USING (vec_id)),
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb
       |      FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |      WHERE ${cosSql("a.emb", "b.emb")} >= 0.3),
       |edges AS (SELECT ida, idb FROM p UNION ALL SELECT idb AS ida, ida AS idb FROM p),
       |rec AS (
       |  WITH RECURSIVE reach(src, dst) AS (
       |    SELECT vec_id, vec_id FROM e
       |    UNION
       |    SELECT r.src, ed.idb FROM reach r JOIN edges ed ON r.dst = ed.ida
       |  ) SELECT src, min(dst) AS rep_id FROM reach GROUP BY 1)
       |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell, r.rep_id,
       |       r.rep_id = c.vec_id AS kept
       |FROM e c JOIN rec r ON c.vec_id = r.src
       |ORDER BY 1""".stripMargin

  /** Unigram contract-audit oracles: the training grid's char rows are
    * RECOMPUTED (distinct space-stripped corpus characters — the coverage
    * invariant's exact domain), the summaries and the per-doc encode frame
    * (doc_id, space-stripped length) likewise, ok asserted true. */
  private val unigramTrainSql =
    s"""SELECT DISTINCT unnest(string_split(replace(text, ' ', ''), '')) AS item,
       |       true AS ok
       |FROM documents WHERE length(replace(text, ' ', '')) > 0
       |UNION ALL SELECT '__ll_monotone', true
       |UNION ALL SELECT '__probs_normalized', true
       |UNION ALL SELECT '__vocab_bounded_$UniVocab', true
       |ORDER BY item""".stripMargin

  private val unigramEncodeSql =
    """SELECT doc_id, CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
      |       true AS ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PCA / whitening contract-audit oracles — the annAuditSql shape: the
    * grid's determinable columns (metric names, counts, bounds) straight
    * from the data, ok asserted true on every row. */
  private val embedPcaSql =
    s"""SELECT 'descending_eigs' AS metric, CAST($PcaK AS BIGINT) AS n,
       |       CAST(0 AS BIGINT) AS bound_milli, true AS ok
       |UNION ALL
       |SELECT 'explained_variance', (SELECT CAST(count(*) AS BIGINT) FROM embeddings),
       |       40, true
       |UNION ALL
       |SELECT 'orthonormal', ${PcaK * (PcaK + 1) / 2}, 1, true
       |ORDER BY metric""".stripMargin

  private val embedWhitenSql = {
    val rows =
      (1 to PcaK).flatMap(i => Seq(
        s"""SELECT 'corpus_var_ceil_pc$i' AS metric,
           |       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
           |       CAST(1600 AS BIGINT) AS bound_milli, true AS ok""".stripMargin,
        s"""SELECT 'corpus_var_floor_pc$i',
           |       (SELECT CAST(count(*) AS BIGINT) FROM embeddings), 400, true""".stripMargin)) ++
      (1 to PcaK).map(i =>
        s"""SELECT 'sample_unit_var_pc$i',
           |       (SELECT CAST(least(count(*), $PcaSampleN) AS BIGINT) FROM embeddings),
           |       1, true""".stripMargin)
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY metric")
  }

  /** Deterministic sampling bucket — oracle twin of
    * [[TrainPrep.sampleBucket]], ONE definition for every oracle that
    * filters or reports it. */
  private val bucketSql = "(doc_id * 2654435761 + 40503) % 1000"

  /** Packing-plan CTEs (`t`: shard + token estimate, `c`: running sum) over
    * `from` — ONE definition for the three packing oracles, mirroring
    * [[TrainPrep.packWindows]]. `carryCols` is a trailing-comma column list
    * that rides through both CTEs (e.g. `"lang, quality,"`). */
  private def packSqlCte(from: String, carryCols: String = ""): String =
    s"""t AS (
       |  SELECT doc_id, $carryCols doc_id % 8 AS shard,
       |         ${TextFns.bpeEstimateSql("text")} AS n_tokens
       |  FROM $from),
       |c AS (
       |  SELECT doc_id, $carryCols shard, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
       |  FROM t)""".stripMargin

  /** Per-doc window columns off the running sum — [[TrainPrep.packWindows]]'s
    * window_id / window_offset / n_windows integer arithmetic. */
  private val packColsSql =
    """tok_before // 2048 AS window_id, tok_before % 2048 AS window_offset,
      |       ((tok_before % 2048 + greatest(n_tokens, 1) - 1) // 2048) + 1 AS n_windows""".stripMargin

  /** Greedy-packing CTEs: the fill recurrence of [[TrainPrep.packGreedy]]
    * replayed row-by-row per shard — the recursive term advances rn by 1
    * and carries (window_id, fill); identical roll rule. ONE definition for
    * the plan and its manifest. */
  private val greedySqlCte =
    s"""t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |         ${TextFns.bpeEstimateSql("text")} AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, shard, n_tokens,
      |             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      |      FROM t),
      |g AS (
      |  SELECT doc_id, shard, n_tokens, rn,
      |         CAST(0 AS BIGINT) AS window_id, CAST(0 AS BIGINT) AS window_pos,
      |         n_tokens AS fill
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.doc_id, r.shard, r.n_tokens, r.rn,
      |         CASE WHEN g.fill > 0 AND g.fill + r.n_tokens > 2048
      |              THEN g.window_id + 1 ELSE g.window_id END,
      |         CASE WHEN g.fill > 0 AND g.fill + r.n_tokens > 2048
      |              THEN CAST(0 AS BIGINT) ELSE g.fill END,
      |         CASE WHEN g.fill > 0 AND g.fill + r.n_tokens > 2048
      |              THEN r.n_tokens ELSE g.fill + r.n_tokens END
      |  FROM g JOIN r ON r.shard = g.shard AND r.rn = g.rn + 1)""".stripMargin

  /** Quality components (stop_ratio / ttr / len_sat) over `from` — ONE
    * definition for the quality-score oracle and the corpus-prep gate,
    * mirroring the [[TextFns]] component helpers. */
  /** Language-detection CTE chain ending in `lid(doc_id, lang, lang_guess)`
    * — oracle twin of [[langGuessed]], ONE definition shared by the
    * ext_lang_id and ext_lang_confusion oracles so the twins can't drift. */
  private def langIdSqlCtes: String = {
    val sw = TextFns.stopwords
    def hit(l: String) =
      s"len(list_filter(t, x -> list_contains([${sw(l).map(w => s"'$w'").mkString(",")}], x)))"
    val arms = TextFns.langOrder.map(l => s"WHEN h_$l = m THEN '$l'").mkString(" ")
    val hitCols = TextFns.langOrder.map(l => s"${hit(l)} AS h_$l").mkString(",\n|       ")
    s"""toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |h AS (SELECT doc_id, lang,
       |       $hitCols
       |FROM toks),
       |g AS (SELECT doc_id, lang,
       |             greatest(${TextFns.langOrder.map("h_" + _).mkString(", ")}) AS m,
       |             ${TextFns.langOrder.map("h_" + _).mkString(", ")} FROM h),
       |lid AS (SELECT doc_id, lang,
       |               CASE WHEN m <= 0 THEN 'und' $arms ELSE 'und' END AS lang_guess
       |        FROM g)""".stripMargin
  }

  private def qualitySqlCte(from: String, carryCols: String = ""): String = {
    val en = TextFns.stopwords("en").map(w => s"'$w'").mkString(",")
    s"""q AS (
       |  SELECT doc_id, $carryCols
       |         CAST(len(list_filter(string_split(text, ' '), x -> list_contains([$en], x))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS stop_ratio,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS ttr,
       |         least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS len_sat
       |  FROM $from)""".stripMargin
  }

  /** The weighted quality score over [[qualitySqlCte]]'s components —
    * oracle twin of [[TextFns.qualityScore]] (fixed op order). */
  private val qualitySql = rnd4Sql("stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3")

  /** Oracle-side twin of [[TrainPrep.bm25]] at the registered
    * parameterization (k1 = 1.5, b = 0.75 — exactly-representable
    * constants, so 2.5/0.25 fold to the same doubles on both engines; op
    * order mirrors the Spark columns term by term). CTE chain ends in
    * `bmr` = (doc_id, n_terms, score, rank), shared by the ext_bm25 and
    * ext_rank_fusion oracles so the twins can't drift. */
  private def bm25SqlCtes: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(",")
    s"""bmt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |               unnest(string_split(text, ' ')) AS term FROM documents),
       |bmst AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl,
       |                CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |bmpost AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |           FROM bmt WHERE term IN ($terms) GROUP BY 1, 2, 3),
       |bmdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM bmpost GROUP BY 1),
       |bmsc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |                sum(((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |                    * ((CAST(tf AS DOUBLE) * 2.5)
       |                       / (CAST(tf AS DOUBLE)
       |                          + 1.5 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
       |                              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))) AS score
       |         FROM bmpost JOIN bmdf USING (term), bmst GROUP BY doc_id),
       |bmr AS (SELECT doc_id, n_terms, score,
       |               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |        FROM bmsc)""".stripMargin
  }

  /** The BPE training loop replayed as recursive-CTE text, shared by the
    * ext_bpe_train and ext_bpe_encode oracles (one source for the replay,
    * so the two gates can't drift). `vocab` = tf-weighted distinct tokens;
    * `st` = the wrapped-symbol merge state, one iteration per rank. */
  private val bpeTrainSqlCtes: String =
    s"""vocab AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE length(token) >= 2
       |    AND NOT contains(token, chr(30)) AND NOT contains(token, chr(31))
       |  GROUP BY token),
       |st AS (
       |  SELECT 0 AS it, tf,
       |         regexp_replace(token, '(.)', chr(30) || '\\1' || chr(31), 'g') AS s,
       |         '' AS m_a, '' AS m_b, CAST(0 AS BIGINT) AS m_occ
       |  FROM vocab
       |  UNION ALL
       |  SELECT it + 1, tf,
       |         replace(s, chr(30)||best.a||chr(31)||chr(30)||best.b||chr(31),
       |                 chr(30)||best.a||best.b||chr(31)),
       |         best.a, best.b, best.n_occ
       |  FROM st, (
       |    SELECT p.a AS a, p.b AS b, CAST(sum(tf) AS BIGINT) AS n_occ
       |    FROM (
       |      SELECT tf, unnest(list_transform(range(1, len(sy)), i ->
       |               struct_pack(a := sy[i], b := sy[i+1]))) AS p
       |      FROM (SELECT tf, string_split(s[2:length(s)-1], chr(31)||chr(30)) AS sy
       |            FROM st) t
       |      WHERE len(sy) >= 2) pp
       |    GROUP BY p.a, p.b
       |    ORDER BY n_occ DESC, a, b
       |    LIMIT 1) best
       |  WHERE it < $BpeTrainMerges)""".stripMargin

  /** Trained-merge APPLICATION as CTE text (follows [[bpeTrainSqlCtes]] in
    * the same WITH RECURSIVE): `merges` = the learned (rank, pattern)
    * table, `enc` = every distinct token re-merged rank-by-rank with the
    * same wrapped-symbol replace, `pieces` = the final piece split. Shared
    * by the encode and BPE-packing oracles. */
  private val bpeApplySqlCtes: String =
    s"""merges AS (SELECT DISTINCT it AS rnk, m_a || m_b AS merged,
       |                  chr(30)||m_a||chr(31)||chr(30)||m_b||chr(31) AS pat,
       |                  chr(30)||m_a||m_b||chr(31) AS rep
       |           FROM st WHERE it >= 1),
       |enc AS (
       |  SELECT 0 AS it, token,
       |         regexp_replace(token, '(.)', chr(30) || '\\1' || chr(31), 'g') AS s
       |  FROM (SELECT DISTINCT token
       |        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |        WHERE token <> '')
       |  UNION ALL
       |  SELECT e.it + 1, e.token,
       |         CASE WHEN m.pat IS NULL THEN e.s ELSE replace(e.s, m.pat, m.rep) END
       |  FROM enc e LEFT JOIN merges m ON m.rnk = e.it + 1
       |  WHERE e.it < $BpeTrainMerges),
       |pieces AS (
       |  SELECT token, unnest(string_split(s[2:length(s)-1], chr(31)||chr(30))) AS p
       |  FROM enc WHERE it = $BpeTrainMerges),
       |doctok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |           FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    "ext_text_stats" ->
      s"""SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |       ${rnd4Sql("CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)" +
        " / len(string_split(text, ' '))")} AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_text_repetition" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              count(*) AS n_distinct, max(c) AS top_cnt
        |       FROM tc GROUP BY 1),
        |big AS (SELECT doc_id,
        |               unnest(list_transform(range(1, len(string_split(text, ' '))),
        |                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS b
        |        FROM documents),
        |bc AS (SELECT doc_id, b, count(*) AS cb FROM big GROUP BY 1, 2),
        |bs AS (SELECT doc_id, max(cb) AS top_big_cnt, CAST(sum(cb) AS BIGINT) AS n_bigrams
        |       FROM bc GROUP BY 1)
        |SELECT ts.doc_id, n_tokens,
        |       ${rnd4Sql("CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens")} AS dup_token_frac,
        |       ${rnd4Sql("CAST(top_cnt AS DOUBLE) / n_tokens")} AS top_token_frac,
        |       coalesce(${rnd4Sql("CAST(top_big_cnt AS DOUBLE) / n_bigrams")},
        |                CAST(0 AS DOUBLE)) AS top_bigram_frac
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
        |ORDER BY ts.doc_id""".stripMargin,

    // string shingles stand in for the engine's hashed ones (df counts are
    // hash-invariant); zero-shingle docs read novelty 1000 on both sides
    "ext_text_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
        |                               i -> array_to_string(t[i:i+7], ' '))) AS shingle
        |       FROM toks),
        |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |        FROM sh JOIN df USING (shingle) GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
        |       coalesce(n_unique, CAST(0 AS BIGINT)) AS n_unique,
        |       CAST(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 1000
        |                 ELSE n_unique * 1000 // n_shingles END AS BIGINT)
        |         AS novelty_permille
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "ext_text_rarity" ->
      s"""WITH tc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |c AS (SELECT doc_id, t, count(*) AS cnt FROM tc GROUP BY 1, 2),
        |w AS (SELECT doc_id, cnt, count(*) OVER (PARTITION BY t) AS df FROM c)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |       ${rnd4Sql("CAST(sum(cnt * df) AS DOUBLE) / sum(cnt)")} AS mean_df,
        |       ${rnd4Sql("CAST(sum(CASE WHEN df <= 2 THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt)")} AS rare_frac
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // zipped adjacent pairs via 1-based list indexing (range is exclusive
    // of the stop, so i+1 stays in bounds); df = distinct-doc count
    "ext_lm_coherence" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |                i -> t[i] || ' ' || t[i+1])) AS b
        |       FROM tk WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |w AS (SELECT doc_id, cnt, count(*) OVER (PARTITION BY b) AS df FROM bc)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |       ${rnd4Sql("CAST(sum(cnt * df) AS DOUBLE) / sum(cnt)")} AS mean_df,
        |       ${rnd4Sql("CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt)")} AS attested_frac
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_nb_train" ->
      s"""WITH $nbModelSqlCte
         |SELECT label, token, c, logprob_micro, prior_micro FROM nmodel
         |ORDER BY label, token""".stripMargin,

    // the complete (doc × label) score grid: per-label token scores where
    // evidence exists, the bare prior where none does (empty docs, labels
    // with no overlap) — mirrors NaiveBayes.scoredGrid's coalesce
    "ext_label_noise" ->
      s"""WITH $nbModelSqlCte,
         |$nbGridSqlCte
         |SELECT b.doc_id, b.true_label AS label, b.label AS pred_label,
         |       CAST(b.score - t.score AS BIGINT) AS margin_micro
         |FROM nrk b JOIN ngrid t
         |  ON t.doc_id = b.doc_id AND t.label = b.true_label
         |WHERE b.rn = 1 AND b.label <> b.true_label
         |  AND b.score - t.score >= $NoiseMarginMicro
         |ORDER BY b.doc_id""".stripMargin,

    "ext_nb_calibration" ->
      s"""WITH $nbModelSqlCte,
         |$nbGridSqlCte,
         |ntop2 AS (SELECT doc_id,
         |            min(CASE WHEN rn = 1 THEN label END) AS pred_label,
         |            min(CASE WHEN rn = 1 THEN score END) AS best,
         |            min(CASE WHEN rn = 2 THEN score END) AS second,
         |            min(true_label) AS true_label
         |          FROM nrk WHERE rn <= 2 GROUP BY doc_id)
         |SELECT CAST(least((best - second) // 1000000, 5) AS BIGINT) AS margin_bin,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_correct,
         |       ${rnd4Sql(
             "CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)" +
               " / CAST(count(*) AS DOUBLE)")} AS accuracy
         |FROM ntop2 GROUP BY 1 ORDER BY margin_bin""".stripMargin,

    // NB predictions off the completed score grid (rn = 1 — the grid's
    // prior rows ARE score()'s empty-doc fallback), lang-id off the shared
    // lid CTEs; kappa in the multiplied-out integer form
    "ext_router_kappa" ->
      s"""WITH $nbModelSqlCte,
         |$nbGridSqlCte,
         |$langIdSqlCtes,
         |nbp AS (SELECT doc_id, label AS nb_label FROM nrk WHERE rn = 1),
         |cf AS (SELECT nb_label, lang_guess AS lid_label,
         |              CAST(count(*) AS BIGINT) AS n
         |       FROM nbp JOIN lid USING (doc_id) GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN nb_label = lid_label THEN n ELSE 0 END)
         |                  AS BIGINT) AS n_agree
         |      FROM cf),
         |m1 AS (SELECT nb_label AS label, CAST(sum(n) AS BIGINT) AS c1
         |       FROM cf GROUP BY 1),
         |m2 AS (SELECT lid_label AS label, CAST(sum(n) AS BIGINT) AS c2
         |       FROM cf GROUP BY 1),
         |ch AS (SELECT CAST(sum(coalesce(c1, 0) * coalesce(c2, 0)) AS BIGINT)
         |              AS pe_num
         |       FROM m1 FULL JOIN m2 USING (label))
         |SELECT n_docs, n_agree,
         |       ${rnd4Sql("CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS po,
         |       ${rnd4Sql("CAST(pe_num AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)")} AS pe,
         |       ${rnd4Sql("CAST(n_docs * n_agree - pe_num AS DOUBLE)" +
             " / CAST(n_docs * n_docs - pe_num AS DOUBLE)")} AS kappa
         |FROM t, ch""".stripMargin,

    // both unigram LMs retrained relationally over the SHARED vocab;
    // micronat rounding on the vocab frame, exact integer doc sums
    "ext_dsir_weights" ->
      s"""WITH dtk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
         |             FROM documents),
         |dtf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |        FROM dtk GROUP BY 1, 2),
         |dvoc AS (SELECT DISTINCT token FROM dtk),
         |dv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM dvoc),
         |rawc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM dtk GROUP BY 1),
         |rawt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM rawc),
         |tgtc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM dtk
         |         WHERE lang = '$DsirTargetLang' GROUP BY 1),
         |tgtt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM tgtc),
         |m AS (SELECT w.token,
         |        CAST(round(ln((coalesce(tc.c, 0) + 0.5) / (tgtt.t + 0.5 * dv.v))
         |                   * 1000000) AS BIGINT) AS tgt_micro,
         |        CAST(round(ln((coalesce(rc.c, 0) + 0.5) / (rawt.t + 0.5 * dv.v))
         |                   * 1000000) AS BIGINT) AS raw_micro
         |      FROM dvoc w LEFT JOIN tgtc tc ON w.token = tc.token
         |      LEFT JOIN rawc rc ON w.token = rc.token, tgtt, rawt, dv)
         |SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_tokens,
         |       CAST(sum(f.tf * (m.tgt_micro - m.raw_micro)) AS BIGINT)
         |         AS logratio_micro,
         |       sum(f.tf * (m.tgt_micro - m.raw_micro)) > 0 AS keep
         |FROM dtf f JOIN m ON f.token = m.token
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the model half of ext_dsir_weights surfaced as its own table: both
    // token counts in one vocab-keyed pass, Laplace-½ log-probs in
    // integer micronats — identical rounding expression, shared verbatim
    // with the streaming maintainer's report
    "ext_dsir_model" ->
      s"""WITH dtk AS (SELECT doc_id, lang,
         |                    unnest(string_split(text, ' ')) AS token
         |             FROM documents),
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS rc,
         |             CAST(count(CASE WHEN lang = '$DsirTargetLang' THEN 1
         |                        END) AS BIGINT) AS tc
         |      FROM dtk GROUP BY 1),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS v,
         |             CAST(coalesce(sum(rc), 0) AS BIGINT) AS rt,
         |             CAST(coalesce(sum(tc), 0) AS BIGINT) AS tt FROM c)
         |SELECT token, rc AS raw_tf, tc AS tgt_tf,
         |       CAST(round(ln((tc + 0.5) / (tt + 0.5 * v)) * 1000000)
         |            AS BIGINT) AS tgt_micro,
         |       CAST(round(ln((rc + 0.5) / (rt + 0.5 * v)) * 1000000)
         |            AS BIGINT) AS raw_micro,
         |       CAST(round(ln((tc + 0.5) / (tt + 0.5 * v)) * 1000000)
         |          - round(ln((rc + 0.5) / (rt + 0.5 * v)) * 1000000)
         |            AS BIGINT) AS logratio_micro
         |FROM c, s ORDER BY token""".stripMargin,

    // priors live in the trained model (nlab); an empty/whitespace doc has
    // no ntf row, so the LEFT join falls back to the prior argmax — the
    // engine's zero-evidence prediction, mirrored
    "ext_nb_score" ->
      s"""WITH $nbModelSqlCte,
         |ntf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |        FROM ntk GROUP BY 1, 2),
         |nsc AS (SELECT t.doc_id, m.label,
         |          CAST(m.prior_micro + sum(t.tf * m.logprob_micro) AS BIGINT)
         |            AS score_micro
         |        FROM ntf t JOIN nmodel m ON t.token = m.token
         |        GROUP BY 1, 2, m.prior_micro),
         |nbest AS (SELECT doc_id, label, score_micro,
         |            row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY score_micro DESC, label) AS rn
         |          FROM nsc),
         |ntop AS (SELECT lang AS p_label, prior_micro AS p_score
         |         FROM nlab ORDER BY prior_micro DESC, lang LIMIT 1)
         |SELECT d.doc_id, d.lang AS label,
         |       coalesce(b.label, ntop.p_label) AS pred_label,
         |       coalesce(b.score_micro, ntop.p_score) AS score_micro,
         |       d.lang = coalesce(b.label, ntop.p_label) AS correct
         |FROM documents d
         |LEFT JOIN nbest b ON d.doc_id = b.doc_id AND b.rn = 1, ntop
         |ORDER BY 1""".stripMargin,

    // the oracle re-trains the same add-½ bigram LM; log-probs are rounded
    // to integer log-micronats on the TYPE frame and doc totals are exact
    // integer sums, so both engines' `ln` meet only on vocab²-many values
    // (see the query doc for the 1-ulp analysis)
    "ext_lm_perplexity" ->
      s"""WITH $lmXentSqlCte
         |SELECT doc_id, n_bigrams, xent_nats FROM x ORDER BY doc_id""".stripMargin,

    // same LM replay; the bucket cutoffs interpolate the ONE Scala
    // constant, so the head/middle/tail boundaries cannot drift
    "ext_ppl_filter" ->
      s"""WITH $lmXentSqlCte
         |SELECT doc_id, xent_nats,
         |       CASE WHEN xent_nats IS NULL THEN 'unscored'
         |            WHEN xent_nats <= $PplHeadMax THEN 'head'
         |            WHEN xent_nats <= $PplMiddleMax THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |       coalesce(xent_nats <= $PplMiddleMax, false) AS kept
         |FROM x ORDER BY doc_id""".stripMargin,

    // the oracle scans trigrams directly; the engine's three-leg positional
    // postings intersection must agree per (doc, occurrence). Tie-break
    // equivalence: space sorts below every token character, so gram-string
    // order equals (w1, w2, w3) tuple order
    "ext_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(generate_series(1, greatest(len(t) - 2, 0))) - 1 AS pos,
        |        unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |                              i -> array_to_string(t[i:i+2], ' '))) AS gram
        |      FROM toks),
        |top AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY 1)
        |        ORDER BY c DESC, gram LIMIT 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |       CAST(min(pos) AS BIGINT) AS first_pos
        |FROM g JOIN top USING (gram) GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "ext_text_pii" -> {
      // SQL single-quoted strings pass backslashes through verbatim, so the
      // Scala-escaped patterns ("\\d") land in RE2 exactly as Java saw them
      def cnt(p: String) = s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT)"
      s"""SELECT doc_id,
         |       ${cnt(PiiEmail)} AS n_emails,
         |       ${cnt(PiiUrl)} AS n_urls,
         |       ${cnt(PiiIpv4)} AS n_ipv4,
         |       ${cnt(PiiDigits)} AS n_digit_runs,
         |       (${cnt(PiiEmail)} > 0 OR ${cnt(PiiUrl)} > 0 OR
         |        ${cnt(PiiIpv4)} > 0 OR ${cnt(PiiDigits)} > 0) AS has_pii,
         |       CAST(length(
         |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |           '$PiiEmail', '<EMAIL>', 'g'),
         |           '$PiiUrl', '<URL>', 'g'),
         |           '$PiiIpv4', '<IP>', 'g'),
         |           '$PiiDigits', '<NUM>', 'g')) AS BIGINT) AS n_redacted_chars
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "ext_ngram_counts" ->
      """WITH big AS (SELECT doc_id,
        |                    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |                      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS b
        |             FROM documents)
        |SELECT b AS bigram, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM big GROUP BY 1 ORDER BY tf DESC, bigram LIMIT 50""".stripMargin,

    "ext_token_count" ->
      s"""SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
         |       ${TextFns.bpeEstimateSql("text")} AS n_bpe_est
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_lang_id" ->
      s"""WITH $langIdSqlCtes
         |SELECT doc_id, lang_guess, lang, lang_guess = lang AS hit
         |FROM lid ORDER BY doc_id""".stripMargin,

    "ext_lang_confusion" ->
      s"""WITH $langIdSqlCtes
         |SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
         |FROM lid GROUP BY lang, lang_guess
         |ORDER BY lang, lang_guess""".stripMargin,

    "ext_quality_score" ->
      s"""WITH ${qualitySqlCte("documents")}
         |SELECT doc_id, ${rnd4Sql("stop_ratio")} AS stop_ratio, ${rnd4Sql("ttr")} AS ttr,
         |       $qualitySql AS quality
         |FROM q ORDER BY doc_id""".stripMargin,

    "ext_quality_gopher" -> {
      val en = TextFns.stopwords("en").map(w => s"'$w'").mkString(",")
      val rules = Seq(
        "pass_len" -> s"n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens",
        "pass_word_len" -> s"mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen",
        "pass_symbol" -> s"symbol_ratio <= $GopherMaxSymbolRatio",
        "pass_alpha" -> s"alpha_frac >= $GopherMinAlphaFrac",
        "pass_stop" -> s"n_stop_distinct >= $GopherMinStopwords")
      val flagCols = rules.map { case (nm, p) => s"$p AS $nm" }.mkString(",\n       ")
      val allPass = rules.map { case (_, p) => s"($p)" }.mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         |m AS (SELECT doc_id,
         |        CAST(len(t) AS BIGINT) AS n_tokens,
         |        CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) AS mean_word_len,
         |        CAST(len(regexp_extract_all(text, '$GopherSymbolPattern')) AS DOUBLE) / len(t) AS symbol_ratio,
         |        CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(t) AS alpha_frac,
         |        CAST(len(list_intersect(list_distinct(t), [$en])) AS BIGINT) AS n_stop_distinct
         |      FROM t)
         |SELECT doc_id, n_tokens, ${rnd4Sql("mean_word_len")} AS mean_word_len,
         |       ${rnd4Sql("symbol_ratio")} AS symbol_ratio,
         |       ${rnd4Sql("alpha_frac")} AS alpha_frac, n_stop_distinct,
         |       $flagCols,
         |       $allPass AS pass
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "ext_filter_policy" -> {
      val hits = PolicyBlocklist
        .map(p => s"len(regexp_extract_all(text, '$p'))").mkString(" + ")
      val bounds = s"n_tokens >= $PolicyMinTokens AND n_tokens <= $PolicyMaxTokens"
      s"""WITH m AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |             CAST($hits AS BIGINT) AS n_blocked_hits
         |           FROM documents)
         |SELECT doc_id, n_tokens, n_blocked_hits,
         |       $bounds AS pass_bounds,
         |       n_blocked_hits = 0 AS pass_blocklist,
         |       ($bounds) AND n_blocked_hits = 0 AS pass
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "ext_text_readability" ->
      s"""WITH m AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |             CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT)
         |               AS n_syllables
         |           FROM documents)
         |SELECT doc_id, n_tokens, n_syllables,
         |       ${rnd4Sql("206.835 - 1.015 * CAST(n_tokens AS DOUBLE) - " +
           "84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_tokens AS DOUBLE))")} AS flesch
         |FROM m ORDER BY doc_id""".stripMargin,

    // the three stage predicates verbatim (same constants), CTE-renamed to
    // avoid colliding with the LM pipeline's names; two doc-keyed joins
    "ext_filter_pipeline" -> {
      val en = TextFns.stopwords("en").map(w => s"'$w'").mkString(",")
      val gopherPass = Seq(
        s"gm.n_tokens >= $GopherMinTokens AND gm.n_tokens <= $GopherMaxTokens",
        s"gm.mean_word_len >= $GopherMinWordLen AND gm.mean_word_len <= $GopherMaxWordLen",
        s"gm.symbol_ratio <= $GopherMaxSymbolRatio",
        s"gm.alpha_frac >= $GopherMinAlphaFrac",
        s"gm.n_stop_distinct >= $GopherMinStopwords").map(p => s"($p)").mkString(" AND ")
      val hits = PolicyBlocklist
        .map(p => s"len(regexp_extract_all(text, '$p'))").mkString(" + ")
      val policyPass = s"(pm.n_tokens >= $PolicyMinTokens AND " +
        s"pm.n_tokens <= $PolicyMaxTokens AND pm.n_blocked_hits = 0)"
      s"""WITH $lmXentSqlCte,
         |gt AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         |gm AS (SELECT doc_id,
         |         CAST(len(t) AS BIGINT) AS n_tokens,
         |         CAST(list_sum(list_transform(t, y -> len(y))) AS DOUBLE) / len(t)
         |           AS mean_word_len,
         |         CAST(len(regexp_extract_all(text, '$GopherSymbolPattern')) AS DOUBLE)
         |           / len(t) AS symbol_ratio,
         |         CAST(len(list_filter(t, y -> regexp_matches(y, '[A-Za-z]'))) AS DOUBLE)
         |           / len(t) AS alpha_frac,
         |         CAST(len(list_intersect(list_distinct(t), [$en])) AS BIGINT)
         |           AS n_stop_distinct
         |       FROM gt),
         |pm AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         CAST($hits AS BIGINT) AS n_blocked_hits
         |       FROM documents)
         |SELECT gm.doc_id,
         |       $gopherPass AS gopher_pass,
         |       $policyPass AS policy_pass,
         |       coalesce(x.xent_nats <= $PplMiddleMax, false) AS ppl_pass,
         |       ($gopherPass) AND $policyPass
         |         AND coalesce(x.xent_nats <= $PplMiddleMax, false) AS kept
         |FROM gm JOIN pm ON gm.doc_id = pm.doc_id JOIN x ON gm.doc_id = x.doc_id
         |ORDER BY 1""".stripMargin
    },

    // [\s\S] (not '.') so newlines count as code points — RE2's '.' skips
    // them while the engine's CharEntropyMoments counts every code point;
    // single-line fixtures would hide the divergence
    "ext_text_entropy" ->
      s"""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
         |            FROM documents),
         |cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
         |       FROM ch GROUP BY 1, 2),
         |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |              CAST(count(*) AS BIGINT) AS n_distinct_chars,
         |              CAST(sum(c * ${lnMicroSql("c")}) AS BIGINT) AS s
         |       FROM cc GROUP BY 1)
         |SELECT doc_id, n AS n_chars, n_distinct_chars,
         |       ${rnd4Sql(s"CAST(n * ${lnMicroSql("n")} - s AS DOUBLE) / " +
           "CAST(n * 1000000 AS DOUBLE)")} AS entropy_nats
         |FROM ag ORDER BY doc_id""".stripMargin,

    "ext_text_zipf" ->
      s"""WITH tf AS (SELECT t, CAST(count(*) AS BIGINT) AS f
         |            FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |            GROUP BY 1),
         |top AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r
         |        FROM tf ORDER BY f DESC, t LIMIT 100),
         |xy AS (SELECT ${lnMicroSql("r")} AS x, ${lnMicroSql("f")} AS y FROM top),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx,
         |             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |             CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM xy),
         |sl AS (SELECT k, sx, sy,
         |              CAST(k * sxy - sx * sy AS DOUBLE) /
         |                CAST(k * sxx - sx * sx AS DOUBLE) AS slope
         |       FROM m)
         |SELECT k AS n_terms, ${rnd4Sql("slope")} AS zipf_slope,
         |       ${rnd4Sql("(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) " +
           "/ CAST(k AS DOUBLE) / 1000000.0")} AS intercept_nats
         |FROM sl""".stripMargin,

    "ext_fingerprint" ->
      s"""SELECT doc_id,
         |       list_reduce(list_transform(generate_series(1, length(text)),
         |                                  i -> CAST(ascii(text[i:i]) AS BIGINT)),
         |                   (acc, c) -> (acc * 31 + c) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the naive replay of the winnow: every k-gram hashed by the same
    // rolling fold, every window materialized w-wide, rightmost-min by
    // (h ASC, pos DESC) ranking — the engine's O(n·w) kernel in O(n·w)
    // ROWS, affordable at oracle scale only
    "ext_dedup_winnow" ->
      s"""WITH $winnowCteSql
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected,
         |               min(h) AS fp_min, max(h) AS fp_max,
         |               CAST(sum(h) % $P AS BIGINT) AS fp_sum
         |        FROM sel GROUP BY 1)
         |SELECT d.doc_id,
         |       CAST(greatest(length(d.text) - 7, 0) AS BIGINT) AS n_grams,
         |       coalesce(a.n_selected, CAST(0 AS BIGINT)) AS n_selected,
         |       a.fp_min, a.fp_max, a.fp_sum
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "ext_dedup_quality" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
         |${qualitySqlCte("documents", "text,")},
         |b AS (SELECT q.doc_id,
         |             coalesce(l.cluster_id, q.doc_id) AS cluster_id,
         |             CAST(floor((stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3)
         |                        * 10000 + 0.5) AS BIGINT) AS qe4,
         |             CAST(length(text) AS BIGINT) AS len
         |      FROM q LEFT JOIN lab l ON q.doc_id = l.doc_id),
         |g AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(qe4) AS BIGINT) AS qs, CAST(sum(len) AS BIGINT) AS ls
         |      FROM b GROUP BY 1),
         |bd AS (SELECT CASE WHEN n = 1 THEN 'unique' WHEN n <= 4 THEN '2-4'
         |                   ELSE '5+' END AS band, n, qs, ls
         |       FROM g)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(n) AS BIGINT) AS n_docs,
         |       CAST(sum(qs) // sum(n) AS BIGINT) AS mean_quality_e4,
         |       CAST(sum(ls) // sum(n) AS BIGINT) AS mean_chars
         |FROM bd GROUP BY 1 ORDER BY band""".stripMargin,

    "ext_dedup_winnow_pairs" ->
      s"""WITH $winnowCteSql
         |ds AS (SELECT DISTINCT doc_id, h FROM sel),
         |rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM ds GROUP BY 1) z
         |         WHERE df BETWEEN 2 AND 16),
         |c AS (SELECT ds.doc_id, ds.h FROM ds JOIN rare USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM c a JOIN c b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // order-free per-shard digest: sum of per-doc fingerprints mod P —
    // DuckDB's sum(BIGINT) is HUGEINT, matching Spark's decimal accumulator
    "ext_corpus_fingerprint" ->
      s"""WITH f AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |         list_reduce(list_transform(generate_series(1, length(text)),
         |                                    i -> CAST(ascii(text[i:i]) AS BIGINT)),
         |                     (acc, c) -> (acc * 31 + c) % $P) AS fp,
         |         ${TextFns.bpeEstimateSql("text")} AS n_tokens
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
         |       CAST(sum(fp) % $P AS BIGINT) AS fp_sum
         |FROM f GROUP BY shard ORDER BY shard""".stripMargin,

    "ext_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(lower(trim(text))) ORDER BY keep_id""".stripMargin,

    // the same synthetic-URL derivation and regexp chain as the engine
    // side (Java regex and RE2 agree on this lookaround-free subset; the
    // only dialect differences are the 'g' flag and \1 vs $1 replacements)
    "ext_dedup_url" -> {
      val stripPre = "regexp_replace(regexp_replace(raw_url, '#.*$', ''), '(?i)^https?://', '')"
      val host = s"regexp_replace(regexp_replace(lower(regexp_extract($stripPre, '^[^/?]+')), '^www\\.', ''), ':(80|443)$$', '')"
      val rest = s"regexp_replace($stripPre, '^[^/?]+', '')"
      val path = s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace($rest, '(?i)([?&])(utm_[^&=]*|gclid|fbclid|ref)=[^&]*', '\\1', 'g'), '\\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$$', ''), '/+(\\?|$$)', '\\1', 'g')"
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
         |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
         |    || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
         |    || '.Example.COM'
         |    || (CASE WHEN doc_id % 7 = 0 THEN
         |          (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END)
         |    || '/Docs/' || CAST(doc_id // 4 AS VARCHAR)
         |    || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
         |    || (CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=x'
         |             WHEN doc_id % 4 = 3 THEN '?id=' || CAST(doc_id // 4 AS VARCHAR) || '&utm_medium=y'
         |             ELSE '' END)
         |    || (CASE WHEN doc_id % 5 = 1 THEN '#section-2' ELSE '' END) AS raw_url
         |  FROM documents),
         |c AS (SELECT doc_id, raw_url, $host || $path AS canon_url FROM u),
         |g AS (SELECT canon_url, regexp_extract(canon_url, '^[^/?]+') AS host,
         |             CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw,
         |             min(doc_id) AS keep_id
         |      FROM c GROUP BY 1)
         |SELECT canon_url, host, n_docs, n_raw, keep_id,
         |       CAST(sum(n_docs) OVER (PARTITION BY host) AS BIGINT) AS host_docs
         |FROM g ORDER BY canon_url""".stripMargin
    },

    "ext_prefix_dup" ->
      """SELECT array_to_string((string_split(text, ' '))[1:8], ' ') AS prefix,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 HAVING count(*) >= 2 ORDER BY prefix""".stripMargin,

    "ext_dedup_ngram" -> jaccardSql,
    "ext_dedup_simhash" -> simhashAuditSql,
    "ext_dedup_minhash" -> jaccardSql,

    // the shared pair CTE labeled by source (victim = doc_b, the pair's
    // higher id — the min-id keep rule's loser); victim mass is PER CELL
    // (a doc dropping in two cells reports in both — each cell's own
    // decision number), matching the engine's distinct-per-cell rollup
    "ext_dedup_cross_source" ->
      s"""WITH pr AS ($jaccardSql),
         |lab AS (SELECT least(da.source, db.source) AS source_a,
         |               greatest(da.source, db.source) AS source_b,
         |               p.doc_b, db.n_chars AS cb
         |        FROM pr p JOIN documents da ON p.doc_a = da.doc_id
         |                  JOIN documents db ON p.doc_b = db.doc_id),
         |np AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM lab GROUP BY 1, 2),
         |vc AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_victims,
         |              CAST(sum(cb) AS BIGINT) AS victim_chars
         |       FROM (SELECT DISTINCT source_a, source_b, doc_b, cb FROM lab)
         |       GROUP BY 1, 2)
         |SELECT np.source_a, np.source_b, n_pairs, n_victims, victim_chars
         |FROM np JOIN vc ON np.source_a = vc.source_a AND np.source_b = vc.source_b
         |ORDER BY np.source_a, np.source_b""".stripMargin,

    // directional: divide the common count by |A| only, keep both
    // directions; 5-gram shingles (see the query doc), hence the local CTE
    // instead of the 3-gram shingleSql
    "ext_dedup_containment" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
         |                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
         |       FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
         |           GROUP BY 1, 2)
         |SELECT doc_a, doc_b, ${rnd4Sql("c * 1.0 / sa.n")} AS containment
         |FROM common
         |JOIN sizes sa ON doc_a = sa.doc_id
         |WHERE c * 1.0 / sa.n >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same blocking replayed relationally: rare-shingle inverted index
    // (2 ≤ df ≤ 10) → distinct pairs → Levenshtein confirm; distances are
    // exact integers on both engines
    "ext_dedup_fuzzy" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
        |                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
        |       FROM toks),
        |rare AS (SELECT sh.doc_id, sh.shingle
        |         FROM sh JOIN (SELECT shingle, count(*) AS df FROM sh GROUP BY 1) d
        |           USING (shingle)
        |         WHERE d.df BETWEEN 2 AND 10),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS distance
        |FROM cand
        |JOIN documents da ON doc_a = da.doc_id
        |JOIN documents db ON doc_b = db.doc_id
        |WHERE levenshtein(da.text, db.text) <= 40
        |ORDER BY doc_a, doc_b""".stripMargin,

    // 10-token tiling replayed relationally; string_agg(ORDER BY pidx)
    // FILTER reproduces the ordered reassembly, coalesce matches Spark's
    // empty-array → '' join
    "ext_dedup_passages" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT doc_id, t,
        |             unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS INTEGER) - 1)) AS pidx
        |      FROM toks),
        |pp AS (SELECT doc_id, pidx,
        |              array_to_string(t[pidx * 10 + 1 : pidx * 10 + 10], ' ') AS passage
        |       FROM p),
        |df AS (SELECT passage, count(DISTINCT doc_id) AS df FROM pp GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(passage, ' ' ORDER BY pidx) FILTER (WHERE df = 1), '') AS text_clean
        |FROM pp JOIN df USING (passage)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the passage tiling scoped per source: df counts distinct docs of the
    // SAME source, tiles are 5 tokens, report is the integer permille
    "ext_text_boilerplate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT doc_id, source, t,
        |             unnest(generate_series(0, CAST(ceil(len(t) / 5.0) AS INTEGER) - 1)) AS pidx
        |      FROM toks),
        |pp AS (SELECT doc_id, source,
        |              array_to_string(t[pidx * 5 + 1 : pidx * 5 + 5], ' ') AS passage
        |       FROM p),
        |df AS (SELECT source, passage, count(DISTINCT doc_id) AS df FROM pp GROUP BY 1, 2),
        |j AS (SELECT pp.doc_id, pp.source, CAST(count(*) AS BIGINT) AS n_tiles,
        |             CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |      FROM pp JOIN df ON pp.source = df.source AND pp.passage = df.passage
        |      GROUP BY 1, 2)
        |SELECT doc_id, source, n_tiles, n_boiler,
        |       CAST(n_boiler * 1000 // n_tiles AS BIGINT) AS boiler_permille
        |FROM j ORDER BY doc_id""".stripMargin,

    "ext_dedup_spans" ->
      s"""WITH $spansSqlCte
        |SELECT doc_id, span_start, span_end, span_tokens
        |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    "ext_dedup_span_stats" ->
      s"""WITH $spansSqlCte,
        |st AS (SELECT doc_id, count(*) AS n_spans,
        |              CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        |       FROM sp GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       coalesce(n_spans, CAST(0 AS BIGINT)) AS n_spans,
        |       coalesce(dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
        |       ${rnd4Sql("CAST(coalesce(dup_tokens, 0) AS DOUBLE) / len(string_split(text, ' '))")} AS dup_frac
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "ext_contamination" ->
      s"""WITH pairs AS ($jaccardSql)
         |SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b, jaccard
         |FROM pairs
         |JOIN documents da ON doc_a = da.doc_id
         |JOIN documents db ON doc_b = db.doc_id
         |WHERE da.source <> db.source
         |ORDER BY doc_a, doc_b""".stripMargin,

    "ext_contamination_ngram" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         unnest(list_transform(generate_series(1, greatest(len(t) - 12, 0)),
        |                               i -> array_to_string(t[i:i+12], ' '))) AS shingle
        |       FROM toks)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |WHERE a.source <> b.source
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_a, doc_b""".stripMargin,

    // transitive closure of the ≥0.5 pair graph via recursive CTE; labels =
    // min reachable doc_id — must equal Spark's min-label fixpoint
    "ext_dedup_cluster" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id)
         |SELECT id AS doc_id, min(label) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // the cluster-label CTE left-joined back to ALL docs (singletons weigh
    // 1000000); integer ppm division, so weights are engine-exact
    "ext_dedup_soft" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
         |al AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_copies
         |       FROM al GROUP BY 1)
         |SELECT doc_id, al.cluster_id, n_copies,
         |       CAST(1000000 // n_copies AS BIGINT) AS weight_ppm
         |FROM al JOIN sz ON al.cluster_id = sz.cluster_id
         |ORDER BY doc_id""".stripMargin,

    // the proven redaction chain, surfaced as the rewritten corpus; counts
    // on the ORIGINAL text, same fold order as the engine
    "ext_pii_redact" -> {
      def cnt(p: String) = s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT)"
      s"""SELECT doc_id,
         |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |         '$PiiEmail', '<EMAIL>', 'g'),
         |         '$PiiUrl', '<URL>', 'g'),
         |         '$PiiIpv4', '<IP>', 'g'),
         |         '$PiiDigits', '<NUM>', 'g') AS text_redacted,
         |       ${cnt(PiiEmail)} + ${cnt(PiiUrl)} + ${cnt(PiiIpv4)} +
         |         ${cnt(PiiDigits)} AS n_redactions
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // pure i64 hash arithmetic on both engines — the plan is the contract
    "ext_span_corruption" ->
      s"""WITH t AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |        unnest(generate_series(0, (n_tokens - 1) // 8)) AS sentinel_id
         |      FROM t WHERE n_tokens >= 1),
         |c AS (SELECT doc_id, n_tokens, sentinel_id,
         |        least(8, n_tokens - sentinel_id * 8) AS blen,
         |        least(1 + (doc_id * 48271 + sentinel_id * 31 + 7) % 3,
         |              least(8, n_tokens - sentinel_id * 8)) AS span_len
         |      FROM b)
         |SELECT doc_id, n_tokens, CAST(sentinel_id AS BIGINT) AS sentinel_id,
         |       CAST(sentinel_id * 8 +
         |            (doc_id * 2654435761 + sentinel_id * 97 + 13) %
         |              (blen - span_len + 1) AS BIGINT) AS span_start,
         |       CAST(span_len AS BIGINT) AS span_len
         |FROM c ORDER BY doc_id, sentinel_id""".stripMargin,

    "ext_source_caps" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
         |              AS BIGINT) AS rk
         |  FROM documents)
         |WHERE rk <= $SourceCapK ORDER BY source, rk""".stripMargin,

    // replays the cluster CC, then audits every intra-cluster pair's exact
    // Jaccard (zero-intersection pairs enter via the LEFT JOIN with c=0);
    // same unrounded ratio + threshold as the pair oracle, rnd4 only on
    // the min (floor-rounding is monotone, so min-then-round = round-then-min)
    "ext_dedup_purity" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
         |memb AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |         FROM lab GROUP BY 1 HAVING count(*) <= 64),
         |$shingleSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |lm AS (SELECT l.doc_id, l.cluster_id, m.n_members
         |       FROM lab l JOIN memb m USING (cluster_id)),
         |mp AS (SELECT a.cluster_id, a.n_members, a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM lm a JOIN lm b ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
         |cm AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |r AS (SELECT mp.cluster_id, mp.n_members,
         |             coalesce(cm.c, 0) * 1.0 / (sa.n + sb.n - coalesce(cm.c, 0)) AS jac
         |      FROM mp LEFT JOIN cm ON mp.doc_a = cm.doc_a AND mp.doc_b = cm.doc_b
         |      JOIN sizes sa ON mp.doc_a = sa.doc_id
         |      JOIN sizes sb ON mp.doc_b = sb.doc_id)
         |SELECT cluster_id, n_members, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_direct,
         |       CAST(count(*) - sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_weak,
         |       ${rnd4Sql("min(jac)")} AS min_jaccard
         |FROM r GROUP BY 1, 2 ORDER BY cluster_id""".stripMargin,

    "ext_corpus_report" -> {
      val hits = PolicyBlocklist
        .map(p => s"len(regexp_extract_all(text, '$p'))").mkString(" + ")
      s"""WITH ${qualitySqlCte("documents", "source, lang, text,")},
         |m AS (SELECT source, lang,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        CASE WHEN $qualitySql >= CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END AS q_pass,
         |        CASE WHEN CAST($hits AS BIGINT) = 0 THEN 1 ELSE 0 END AS clean
         |      FROM q)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |       CAST(sum(q_pass) AS BIGINT) AS n_quality_pass,
         |       CAST(sum(clean) AS BIGINT) AS n_policy_clean,
         |       ${rnd4Sql("CAST(sum(q_pass) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |         AS quality_pass_rate,
         |       ${rnd4Sql("CAST(sum(clean) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |         AS policy_clean_rate
         |FROM m GROUP BY source ORDER BY source""".stripMargin
    },

    // the cluster-label CTE joined to whitespace token counts — all-integer
    // rollup, so the savings are engine-exact
    "ext_dedup_savings" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster_id
         |        FROM reach GROUP BY id),
         |nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |       FROM documents)
         |SELECT cluster_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(sum(CASE WHEN lab.doc_id = cluster_id THEN n_tokens ELSE 0 END)
         |            AS BIGINT) AS kept_tokens,
         |       CAST(sum(CASE WHEN lab.doc_id = cluster_id THEN 0 ELSE n_tokens END)
         |            AS BIGINT) AS saved_tokens
         |FROM lab JOIN nt USING (doc_id)
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // one pair CTE, one recursive closure per threshold (the RECURSIVE
    // keyword covers the whole WITH list); thresholds compare re-snapped
    // integer ten-thousandths, as the engine side does
    "ext_dedup_sweep" -> {
      val perT = SweepThresholds.map { t =>
        s"""p$t AS (SELECT doc_a, doc_b FROM pairs
           |        WHERE CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) >= ${t * 10}),
           |e$t AS (SELECT doc_a AS u, doc_b AS v FROM p$t
           |        UNION SELECT doc_b, doc_a FROM p$t),
           |n$t AS (SELECT DISTINCT u AS id FROM e$t),
           |reach$t(id, label) AS (
           |  SELECT id, id FROM n$t
           |  UNION
           |  SELECT e.u, r.label FROM e$t e JOIN reach$t r ON e.v = r.id),
           |lab$t AS (SELECT id AS doc_id, min(label) AS cluster_id
           |          FROM reach$t GROUP BY id)""".stripMargin
      }.mkString(",\n")
      val rowT = SweepThresholds.map { t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold_permille,
           |  (SELECT CAST(count(*) AS BIGINT) FROM p$t) AS n_pairs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM lab$t) AS n_dup_docs,
           |  (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM lab$t) AS n_clusters,
           |  (SELECT CAST(count(*) AS BIGINT) FROM lab$t)
           |    - (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM lab$t)
           |    AS drop_docs,
           |  (SELECT CAST(coalesce(sum(CASE WHEN doc_id <> cluster_id
           |                                 THEN n_tokens END), 0) AS BIGINT)
           |   FROM lab$t JOIN nt USING (doc_id)) AS drop_tokens""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |       FROM documents),
         |$perT
         |$rowT
         |ORDER BY threshold_permille""".stripMargin
    },

    // the sweep's per-threshold closures, banded by cluster size and
    // joined to the quality/token metadata — means compare as floor
    // divisions of non-negative integer sums, so the grid is engine-exact
    "ext_dedup_policy" -> {
      val perT = SweepThresholds.map { t =>
        s"""p$t AS (SELECT doc_a, doc_b FROM pairs
           |        WHERE CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) >= ${t * 10}),
           |e$t AS (SELECT doc_a AS u, doc_b AS v FROM p$t
           |        UNION SELECT doc_b, doc_a FROM p$t),
           |n$t AS (SELECT DISTINCT u AS id FROM e$t),
           |reach$t(id, label) AS (
           |  SELECT id, id FROM n$t
           |  UNION
           |  SELECT e.u, r.label FROM e$t e JOIN reach$t r ON e.v = r.id),
           |lab$t AS (SELECT id AS doc_id, min(label) AS cluster_id
           |          FROM reach$t GROUP BY id)""".stripMargin
      }.mkString(",\n")
      val rowT = SweepThresholds.map { t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold_permille, band,
           |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT)
           |    AS drop_docs,
           |  CAST(sum(CASE WHEN doc_id <> cluster_id THEN n_tokens ELSE 0 END) AS BIGINT)
           |    AS drop_tokens,
           |  CAST(sum(CASE WHEN doc_id <> cluster_id THEN qe4 END)
           |    // sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT)
           |    AS mean_q_dropped_e4,
           |  CAST(sum(CASE WHEN doc_id = cluster_id THEN qe4 END)
           |    // count(DISTINCT cluster_id) AS BIGINT) AS mean_q_kept_e4
           |FROM (SELECT l.doc_id, l.cluster_id, m.n_tokens, m.qe4,
           |             CASE WHEN c.n <= 4 THEN '2-4' ELSE '5+' END AS band
           |      FROM lab$t l
           |      JOIN (SELECT cluster_id, count(*) AS n FROM lab$t GROUP BY 1) c
           |        USING (cluster_id)
           |      JOIN m ON m.doc_id = l.doc_id) z$t
           |GROUP BY band""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |${qualitySqlCte("documents", "text,")},
         |m AS (SELECT doc_id,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        CAST(floor((stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3)
         |                   * 10000 + 0.5) AS BIGINT) AS qe4
         |      FROM q),
         |$perT
         |$rowT
         |ORDER BY threshold_permille, band""".stripMargin
    },

    "ext_dedup_keep" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT id FROM reach GROUP BY id HAVING id <> min(label))
         |ORDER BY d.doc_id""".stripMargin,

    // same component labelling as ext_dedup_keep; the survivor is the
    // quality-argmax per component instead of the min id
    "ext_dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |comp AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
         |${qualitySqlCte("documents", "lang, source,")},
         |scored AS (SELECT doc_id, lang, source, $qualitySql AS quality FROM q),
         |lab AS (SELECT s.*, coalesce(c.cluster_id, s.doc_id) AS cl
         |        FROM scored s LEFT JOIN comp c ON s.doc_id = c.id),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY cl ORDER BY quality DESC, doc_id) AS rn
         |      FROM lab)
         |SELECT doc_id, lang, source, quality FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    "ext_sim_knn" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${cosSql("q.emb", "c.emb")} AS cos
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, ${rnd4Sql("cos")} AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ext_sim_mmr" -> mmrSql(10, 25, 8, 7),
    "ext_sim_mmr_ivf" -> mmrIvfSql(10, 25, 8, 7, IvfProbe),

    // prefix-dim recall audit: the same snap-grid integer dots restricted
    // to pos < L per dims row; denominators derive from the actual query
    // count
    "ext_embed_matryoshka" ->
      s"""WITH x AS MATERIALIZED (
         |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
         |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
         |              AS BIGINT) * 100 AS v
         |  FROM embeddings),
         |dims(dim) AS (VALUES (8), (16), (32), (64)),
         |qd AS MATERIALIZED (
         |  SELECT d.dim, q.vec_id AS qid, c.vec_id AS cid,
         |         CAST(sum(q.v * c.v) AS BIGINT) AS rel
         |  FROM x q JOIN x c ON q.pos = c.pos AND c.vec_id <> q.vec_id
         |  JOIN dims d ON q.pos < d.dim
         |  WHERE q.vec_id < 10 GROUP BY 1, 2, 3),
         |top AS MATERIALIZED (SELECT dim, qid, cid FROM (
         |        SELECT dim, qid, cid,
         |               row_number() OVER (PARTITION BY dim, qid
         |                                  ORDER BY rel DESC, cid) AS rn
         |        FROM qd) t WHERE rn <= 10),
         |f AS (SELECT qid, cid FROM top WHERE dim = 64),
         |hits AS (SELECT t.qid, t.dim,
         |                CAST(sum(CASE WHEN f.cid IS NOT NULL THEN 1 ELSE 0 END)
         |                     AS BIGINT) AS n_hits
         |         FROM top t LEFT JOIN f ON f.qid = t.qid AND f.cid = t.cid
         |         GROUP BY 1, 2),
         |tot AS (SELECT CAST(-1 AS BIGINT) AS qid, dim,
         |               CAST(sum(n_hits) AS BIGINT) AS n_hits
         |        FROM hits GROUP BY 2),
         |nq AS (SELECT count(*) AS n FROM embeddings WHERE vec_id < 10),
         |u AS (SELECT qid, dim, n_hits FROM hits
         |      UNION ALL SELECT qid, dim, n_hits FROM tot)
         |SELECT u.qid AS query_id, CAST(u.dim AS BIGINT) AS dim, u.n_hits,
         |       CAST(u.n_hits * 1000 //
         |            (CASE WHEN u.qid = -1 THEN 10 * nq.n ELSE 10 END) AS BIGINT)
         |         AS recall_permille
         |FROM u, nq
         |ORDER BY dim, query_id""".stripMargin,

    // ANN recall-audit twins (the rank-audit graduation): the audit grid's
    // determinable columns are SQL-derivable and the oracle asserts every
    // ok = true — a recall regression in the engine flips one and
    // hash-mismatches; the hit counts themselves are candidate-machinery-
    // dependent (xxhash64 planes / learned quantizers) and stay engine-side
    "ext_sim_knn_lsh" -> annAuditSql(5, LshFloorQ, LshFloorT),

    // the recall-curve grid with every ok asserted true — floors are the
    // SAME RecallCurveFloors map the engine gates on (one definition)
    "ext_sim_recall_curve" -> {
      val values = RecallCurveFloors.toSeq
        .map { case ((tier, k), f) => s"('$tier', $k, $f)" }
        .sorted.mkString(", ")
      s"""WITH q AS (SELECT CAST(count(*) AS BIGINT) AS nq
         |           FROM embeddings WHERE vec_id < 10),
         |grid(tier, k, min_hits) AS (VALUES $values)
         |SELECT tier, CAST(k AS BIGINT) AS k,
         |       CAST(nq * k AS BIGINT) AS max_hits,
         |       CAST(min_hits AS BIGINT) AS min_hits, true AS ok
         |FROM grid, q ORDER BY tier, k""".stripMargin
    },
    "ext_sim_knn_ivf" -> annAuditSql(IvfK, IvfFloorQ, IvfFloorT),
    "ext_sim_knn_pq" -> annAuditSql(IvfK, PqFloorQ, PqFloorT),
    "ext_sim_knn_ivfpq" -> annAuditSql(IvfK, IvfPqFloorQ, IvfPqFloorT),

    // the scope predicate joins INTO the scoring join (c.label = q.label)
    // — same cosine fold, label-sliced candidate set
    "ext_sim_knn_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(c.label AS BIGINT) AS label,
         |         ${cosSql("q.emb", "c.emb")} AS cos
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id AND c.label = q.label
         |  WHERE q.vec_id < 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, label, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, ${rnd4Sql("cos")} AS cosine, label
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the filtered-search oracle with the label scope negated: nearest
    // wrong-class neighbours, the contrastive hard-negative sampler
    "ext_sample_hardneg" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(c.label AS BIGINT) AS label,
         |         ${cosSql("q.emb", "c.emb")} AS cos
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id AND c.label <> q.label
         |  WHERE q.vec_id < 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, label, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, ${rnd4Sql("cos")} AS cosine, label
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ext_class_balance" ->
      s"""WITH c AS (SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
         |           FROM embeddings GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS k FROM c)
         |SELECT label, n, ${rnd4Sql("CAST(n AS DOUBLE) / tot")} AS share,
         |       ${rnd4Sql("CAST(tot AS DOUBLE) / (k * n)")} AS weight
         |FROM c, t ORDER BY label""".stripMargin,

    "ext_sim_neardup" -> neardupSql,
    "ext_sim_neardup_lsh" -> neardupSql,

    // lockstep unnest zips (position, element); floats snap to the exact
    // 1e-4 integer grid via the binary floor(+0.5) form; moments integer
    "ext_embed_dim_stats" ->
      s"""WITH x AS (SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
         |                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
         |                       AS BIGINT) AS xi
         |           FROM embeddings),
         |m AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(xi) AS BIGINT) AS s1,
         |             CAST(sum(xi * xi) AS BIGINT) AS s2,
         |             CAST(sum(CASE WHEN xi = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |             min(xi) AS minv, max(xi) AS maxv
         |      FROM x GROUP BY 1)
         |SELECT CAST(dim AS BIGINT) AS dim, n, n_zero,
         |       ${rnd4Sql("CAST(s1 AS DOUBLE) / CAST(n * 10000 AS DOUBLE)")} AS mean,
         |       ${rnd4Sql("CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE) " +
           "/ 100000000.0")} AS variance,
         |       ${rnd4Sql("CAST(minv AS DOUBLE) / 10000.0")} AS vmin,
         |       ${rnd4Sql("CAST(maxv AS DOUBLE) / 10000.0")} AS vmax
         |FROM m ORDER BY dim""".stripMargin,

    // the embedding near-dup pair set (same CTE as ext_sim_neardup) with
    // the split CASE of ext_split_assign recomputed on each pair side
    "ext_split_leakage_embed" -> {
      def sp(idExpr: String) =
        s"""CASE WHEN ($idExpr * 2246822519 + 104729) % 1000 < 100 THEN 'test'
           |     WHEN ($idExpr * 2246822519 + 104729) % 1000 < 150 THEN 'val'
           |     ELSE 'train' END""".stripMargin
      s"""WITH pairs AS ($neardupSql)
         |SELECT id_a, id_b, split_a, split_b, cosine FROM (
         |  SELECT id_a, id_b, ${sp("id_a")} AS split_a, ${sp("id_b")} AS split_b, cosine
         |  FROM pairs)
         |WHERE split_a <> split_b
         |ORDER BY id_a, id_b""".stripMargin
    },

    // transitive closure of the cosine ≥ 0.3 pair graph (same recursive-CTE
    // shape as ext_dedup_cluster, over the embedding near-dup pairs)
    "ext_sim_cluster" ->
      s"""WITH RECURSIVE pairs AS ($neardupSql),
         |g AS (SELECT id_a AS u, id_b AS v FROM pairs
         |      UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM g),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT g.u, r.label FROM g JOIN reach r ON g.v = r.id)
         |SELECT id AS vec_id, min(label) AS cluster_id
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    "ext_sample_stratified" ->
      s"""SELECT doc_id, lang, $bucketSql AS bucket
        |FROM documents
        |WHERE $bucketSql < CASE WHEN lang = 'en' THEN 250 ELSE 800 END
        |ORDER BY doc_id""".stripMargin,

    "ext_sample_weighted" ->
      s"""WITH ${qualitySqlCte("documents", "lang,")},
         |w AS (SELECT doc_id, lang, $bucketSql AS bucket,
         |             stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3 AS weight
         |      FROM q)
         |SELECT doc_id, lang, bucket, ${rnd4Sql("weight")} AS weight
         |FROM w WHERE CAST(bucket AS DOUBLE) < weight * 1000.0
         |ORDER BY doc_id""".stripMargin,

    "ext_sample_bottomk" ->
      s"""SELECT doc_id, lang, sample_rank FROM (
         |  SELECT doc_id, lang,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY (doc_id * 1779033703 + 512927357) % 1000000007, doc_id)
         |           AS BIGINT) AS sample_rank
         |  FROM documents)
         |WHERE sample_rank <= 20 ORDER BY doc_id""".stripMargin,

    // the greedy farthest-point traversal unrolled: sel{s} accumulates the
    // first s picks; each step's candidate distance is min over the
    // selected set (order-free over bit-identical doubles — the engine's
    // fixed-order least() agrees), argmax ties id-asc, rnd4 applied AFTER
    // the argmax exactly as the engine rounds
    "ext_sample_coreset" -> {
      val steps = (2 to CoresetK).map { s =>
        s"""c$s AS (SELECT CAST($s AS BIGINT) AS step, vec_id, ${rnd4Sql("rawd")} AS dist FROM (
           |    SELECT x.vec_id, min(1 - ${cosSql("x.v", "se.v")}) AS rawd
           |    FROM e x CROSS JOIN (SELECT ev.v FROM e ev
           |                         JOIN sel${s - 1} p ON ev.vec_id = p.vec_id) se
           |    WHERE x.vec_id NOT IN (SELECT vec_id FROM sel${s - 1})
           |    GROUP BY x.vec_id)
           |  ORDER BY rawd DESC, vec_id LIMIT 1),
           |sel$s AS (SELECT * FROM sel${s - 1} UNION ALL SELECT * FROM c$s)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sel1 AS (SELECT CAST(1 AS BIGINT) AS step, vec_id, CAST(NULL AS DOUBLE) AS dist
         |         FROM e ORDER BY vec_id LIMIT 1),
         |$steps
         |SELECT step, vec_id, dist FROM sel$CoresetK ORDER BY step""".stripMargin
    },

    "ext_split_assign" ->
      s"""SELECT doc_id, lang,
         |       (doc_id * 2246822519 + 104729) % 1000 AS split_bucket,
         |       CASE WHEN (doc_id * 2246822519 + 104729) % 1000 < 100 THEN 'test'
         |            WHEN (doc_id * 2246822519 + 104729) % 1000 < 150 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // near-dup pairs crossing split boundaries; split labels recomputed
    // from the id hash on each pair side (identical CASE to ext_split_assign)
    "ext_split_leakage" -> {
      def sp(idExpr: String) =
        s"""CASE WHEN ($idExpr * 2246822519 + 104729) % 1000 < 100 THEN 'test'
           |            WHEN ($idExpr * 2246822519 + 104729) % 1000 < 150 THEN 'val'
           |            ELSE 'train' END""".stripMargin
      s"""WITH pairs AS ($jaccardSql)
         |SELECT doc_a, doc_b,
         |       ${sp("doc_a")} AS split_a,
         |       ${sp("doc_b")} AS split_b,
         |       jaccard
         |FROM pairs
         |WHERE ${sp("doc_a")} <> ${sp("doc_b")}
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "ext_shuffle_shard" ->
      s"""WITH h AS (SELECT doc_id,
         |                  (doc_id * 1779033703 + 512927357) % 1000000007 AS shuffle_key
         |           FROM documents)
         |SELECT doc_id, shuffle_key, shuffle_key % 8 AS shard,
         |       CAST(row_number() OVER (PARTITION BY shuffle_key % 8
         |                               ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
         |FROM h ORDER BY doc_id""".stripMargin,

    "ext_embed_quantize" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |sc AS (SELECT vec_id, emb,
         |              list_max(list_transform(emb, x -> abs(x))) AS scale FROM e),
         |q AS (SELECT vec_id, scale,
         |             list_transform(emb, x -> CASE WHEN scale = 0 THEN 0
         |               ELSE greatest(-127, least(127,
         |                      CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))) END) AS qs
         |      FROM sc)
         |SELECT vec_id, ${rnd4Sql("scale")} AS scale,
         |       CAST(list_min(qs) AS BIGINT) AS q_min,
         |       CAST(list_max(qs) AS BIGINT) AS q_max,
         |       CAST(list_sum(qs) AS BIGINT) AS q_sum,
         |       CAST(len(list_filter(qs, x -> abs(x) = 127)) AS BIGINT) AS n_sat
         |FROM q ORDER BY vec_id""".stripMargin,

    "ext_pack_windows" ->
      s"""WITH ${packSqlCte("documents")}
        |SELECT doc_id, shard, n_tokens,
        |       $packColsSql
        |FROM c ORDER BY doc_id""".stripMargin,

    // the pack CTE with source carried through; each doc fans to the
    // windows it spans, then the ext_text_entropy micronat-moment rollup
    "ext_pack_diversity" ->
      s"""WITH ${packSqlCte("documents", "source,")},
         |w AS (SELECT shard, source,
         |             unnest(generate_series(tok_before // 2048,
         |               tok_before // 2048 +
         |               ((tok_before % 2048 + greatest(n_tokens, 1) - 1) // 2048)))
         |               AS window_id
         |      FROM c),
         |pc AS (SELECT shard, window_id, source, CAST(count(*) AS BIGINT) AS cnt
         |       FROM w GROUP BY 1, 2, 3),
         |ag AS (SELECT shard, window_id, CAST(sum(cnt) AS BIGINT) AS n_docs,
         |              CAST(count(*) AS BIGINT) AS n_sources,
         |              CAST(sum(cnt * ${lnMicroSql("cnt")}) AS BIGINT) AS s
         |       FROM pc GROUP BY 1, 2)
         |SELECT shard, window_id, n_docs, n_sources,
         |       ${rnd4Sql(s"CAST(n_docs * ${lnMicroSql("n_docs")} - s AS DOUBLE) / " +
             "CAST(n_docs * 1000000 AS DOUBLE)")} AS entropy_nats
         |FROM ag ORDER BY shard, window_id""".stripMargin,

    // the pack CTE re-run over REAL per-doc BPE counts (train+apply replay
    // feeding the same running sum) — window math identical to
    // ext_pack_windows, only n_tokens changes meaning
    "ext_pack_windows_bpe" ->
      s"""WITH RECURSIVE $bpeTrainSqlCtes,
         |$bpeApplySqlCtes,
         |tokcnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_pieces
         |           FROM pieces GROUP BY token),
         |dc AS (SELECT d.doc_id,
         |              CAST(coalesce(sum(tc.n_pieces), 0) AS BIGINT) AS n_tokens
         |       FROM documents d
         |       LEFT JOIN doctok dt ON d.doc_id = dt.doc_id AND dt.token <> ''
         |       LEFT JOIN tokcnt tc ON dt.token = tc.token
         |       GROUP BY d.doc_id),
         |t2 AS (SELECT doc_id, doc_id % 8 AS shard, n_tokens FROM dc),
         |c2 AS (SELECT doc_id, shard, n_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |           AS tok_before
         |       FROM t2)
         |SELECT doc_id, shard, n_tokens,
         |       $packColsSql
         |FROM c2 ORDER BY doc_id""".stripMargin,

    "ext_pack_greedy" ->
      s"""WITH RECURSIVE $greedySqlCte
        |SELECT doc_id, shard, n_tokens, window_id, window_pos,
        |       n_tokens > 2048 AS oversize
        |FROM g ORDER BY doc_id""".stripMargin,

    "ext_pack_greedy_manifest" ->
      s"""WITH RECURSIVE $greedySqlCte
        |SELECT shard, window_id, count(*) AS n_docs,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       max(n_tokens > 2048) AS oversize
        |FROM g GROUP BY shard, window_id ORDER BY shard, window_id""".stripMargin,

    // the greedy recurrence rolled up to the all-integer padding/truncation
    // ledger — same CTE, then least/greatest window arithmetic per
    // (shard, window) and an 8-row shard report
    "ext_pack_stats" ->
      s"""WITH RECURSIVE $greedySqlCte,
        |w AS (SELECT shard, window_id, CAST(count(*) AS BIGINT) AS wd,
        |             CAST(sum(n_tokens) AS BIGINT) AS fill
        |      FROM g GROUP BY 1, 2),
        |x AS (SELECT shard, wd, fill, least(fill, 2048) AS used,
        |             2048 - least(fill, 2048) AS pad,
        |             greatest(fill - 2048, 0) AS tr
        |      FROM w)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(sum(wd) AS BIGINT) AS n_docs,
        |       CAST(sum(fill) AS BIGINT) AS n_tokens,
        |       CAST(sum(pad) AS BIGINT) AS padding_tokens,
        |       CAST(sum(tr) AS BIGINT) AS truncated_tokens,
        |       CAST(sum(used) * 1000 // (count(*) * 2048) AS BIGINT) AS fill_permille
        |FROM x GROUP BY shard ORDER BY shard""".stripMargin,

    "ext_pack_text" ->
      s"""WITH RECURSIVE $greedySqlCte
        |SELECT g.shard, g.window_id, count(*) AS n_docs,
        |       string_agg(d.text, chr(10) ORDER BY g.doc_id) AS window_text
        |FROM g JOIN documents d ON g.doc_id = d.doc_id
        |GROUP BY g.shard, g.window_id ORDER BY g.shard, g.window_id""".stripMargin,

    "ext_pack_manifest" ->
      s"""WITH ${packSqlCte("documents")}
        |SELECT shard, tok_before // 2048 AS window_id, count(*) AS n_docs,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       min(tok_before % 2048) AS spill_in,
        |       greatest(max(tok_before % 2048 + n_tokens) - 2048, CAST(0 AS BIGINT)) AS spill_out
        |FROM c GROUP BY 1, 2 ORDER BY shard, window_id""".stripMargin,

    "ext_corpus_prep" ->
      s"""WITH survivors AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |           row_number() OVER (PARTITION BY sha256(lower(trim(text)))
         |                              ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |${qualitySqlCte("survivors", "lang, text,")},
         |kept AS (
         |  SELECT doc_id, lang, text, $qualitySql AS quality
         |  FROM q
         |  WHERE $qualitySql >= CAST(0.3 AS DOUBLE)
         |    AND $bucketSql < CASE WHEN lang = 'en' THEN 250 ELSE 800 END),
         |${packSqlCte("kept", "lang, quality,")}
         |SELECT doc_id, lang, quality, n_tokens,
         |       $packColsSql
         |FROM c ORDER BY doc_id""".stripMargin,

    // stage expressions are the corpus_prep oracle's own (digest window,
    // rnd4 quality, id-hash bucket); verdict CASE reproduces stage order
    "ext_prep_audit" ->
      s"""WITH ${qualitySqlCte("documents", "lang, text,")},
         |a AS (SELECT doc_id, lang AS stratum,
         |             min(doc_id) OVER (PARTITION BY sha256(lower(trim(text))))
         |               AS survivor_id,
         |             $qualitySql AS quality,
         |             $bucketSql AS bucket,
         |             ${TextFns.bpeEstimateSql("text")} AS n_tokens
         |      FROM q)
         |SELECT doc_id, stratum, survivor_id, quality, n_tokens,
         |       CASE WHEN survivor_id <> doc_id THEN 'duplicate'
         |            WHEN quality < CAST(0.3 AS DOUBLE) THEN 'low_quality'
         |            WHEN bucket >= CASE WHEN stratum = 'en' THEN 250 ELSE 800 END
         |              THEN 'sampled_out'
         |            ELSE 'kept' END AS verdict,
         |       CASE WHEN survivor_id <> doc_id THEN FALSE
         |            WHEN quality < CAST(0.3 AS DOUBLE) THEN FALSE
         |            WHEN bucket >= CASE WHEN stratum = 'en' THEN 250 ELSE 800 END
         |              THEN FALSE
         |            ELSE TRUE END AS kept
         |FROM a ORDER BY doc_id""".stripMargin,

    "ext_chunk_docs" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, t, n,
        |             ((greatest(n - 32, 0) + 23) // 24) + 1 AS n_chunks
        |      FROM tk),
        |g AS (SELECT doc_id, t, n,
        |             unnest(generate_series(0, n_chunks - 1)) AS i
        |      FROM c)
        |SELECT doc_id, i AS chunk_id, i * 24 AS tok_start,
        |       least(i * 24 + 32, n) AS tok_end,
        |       array_to_string(t[i * 24 + 1 : least(i * 24 + 32, n)], ' ') AS chunk_text
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin,

    "ext_mix_plan" ->
      s"""WITH per AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(${TextFns.bpeEstimateSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per)
         |SELECT lang, n_docs, n_tokens,
         |       ${rnd4Sql("CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)")} AS actual_share,
         |       CAST(CASE lang WHEN 'en' THEN 400 ELSE 150 END AS BIGINT) AS target_permille,
         |       ${rnd4Sql("(CAST(CASE lang WHEN 'en' THEN 400 ELSE 150 END AS DOUBLE) / 1000.0)" +
        " / (CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE))")} AS repeat_factor
         |FROM per, tot ORDER BY lang""".stripMargin,

    "ext_mix_apply" -> {
      val tSql = "CASE lang " +
        MixTargets.map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") + " ELSE 0 END"
      s"""WITH per AS (
         |  SELECT lang, CAST(sum(${TextFns.bpeEstimateSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
         |fac AS (
         |  SELECT lang,
         |         CAST(floor(((CAST($tSql AS DOUBLE) / 1000.0)
         |                / (CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE))) * 1000.0) AS BIGINT)
         |           AS fm
         |  FROM per, tot),
         |n AS (
         |  SELECT d.doc_id, d.lang,
         |         fm // 1000 + CASE WHEN (d.doc_id * ${TrainPrep.MixMult} + ${TrainPrep.MixInc}) % 1000 < fm % 1000
         |                           THEN 1 ELSE 0 END AS n_copies
         |  FROM documents d JOIN fac ON d.lang = fac.lang)
         |SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
         |FROM n WHERE n_copies >= 1 ORDER BY doc_id, copy""".stripMargin
    },

    "ext_overlap_sources" ->
      s"""WITH pairs AS ($jaccardSql),
         |j AS (SELECT least(da.source, db.source) AS source_lo,
         |             greatest(da.source, db.source) AS source_hi,
         |             doc_a, doc_b,
         |             least(${TextFns.bpeEstimateSql("da.text")},
         |                   ${TextFns.bpeEstimateSql("db.text")}) AS dt
         |      FROM pairs
         |      JOIN documents da ON doc_a = da.doc_id
         |      JOIN documents db ON doc_b = db.doc_id
         |      WHERE da.source <> db.source),
         |p AS (SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs,
         |             CAST(sum(dt) AS BIGINT) AS dup_tokens
         |      FROM j GROUP BY 1, 2),
         |e AS (SELECT source_lo, source_hi, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
         |      FROM (SELECT source_lo, source_hi, unnest([doc_a, doc_b]) AS doc FROM j)
         |      GROUP BY 1, 2)
         |SELECT source_lo, source_hi, n_pairs, n_docs, dup_tokens
         |FROM p JOIN e USING (source_lo, source_hi)
         |ORDER BY source_lo, source_hi""".stripMargin,

    "ext_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1),
        |g AS (SELECT token, tf,
        |        unnest(generate_series(1, CAST(length(token) AS INT) - 1)) AS i
        |      FROM tf WHERE length(token) >= 2),
        |agg AS (SELECT substring(token, i, 1) AS sym_a, substring(token, i + 1, 1) AS sym_b,
        |               CAST(sum(tf) AS BIGINT) AS n_occ,
        |               CAST(count(DISTINCT token) AS BIGINT) AS n_types
        |        FROM g GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, sym_a, sym_b) AS BIGINT)
        |           AS rank, sym_a, sym_b, n_occ, n_types
        |  FROM agg)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // the train loop replayed as a recursive CTE (the greedy-packing
    // sequential-recurrence pattern): working table = the wrapped-symbol
    // vocab state, recursive term = argmax pair over it (aggregate
    // subquery) + replace-applied merge. replace() is left-to-right over
    // non-overlapping matches in both engines — BPE's leftmost-first order
    // — and chr(30)/chr(31) wrappers make matches unambiguous, so each
    // iteration is byte-identical to the Spark loop.
    "ext_bpe_train" ->
      s"""WITH RECURSIVE $bpeTrainSqlCtes
         |SELECT DISTINCT CAST(it AS BIGINT) AS merge_rank, m_a AS sym_a, m_b AS sym_b,
         |       m_a || m_b AS merged, m_occ AS n_occ
         |FROM st WHERE it >= 1 ORDER BY merge_rank""".stripMargin,

    // vocab = corpus char inventory (codepoint ids) ∪ merged pieces
    // (base + min rank — the idMap scheme); merge_rank 0 marks base rows
    "ext_bpe_vocab" ->
      s"""WITH RECURSIVE $bpeTrainSqlCtes,
         |mr AS (SELECT m_a || m_b AS merged, CAST(MIN(it) AS BIGINT) AS rnk
         |       FROM st WHERE it >= 1 GROUP BY 1),
         |tok AS (SELECT DISTINCT token
         |        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         |        WHERE token <> ''),
         |chars AS (SELECT DISTINCT
         |            unnest(list_transform(generate_series(1, length(token)),
         |                                  i -> substring(token, i, 1))) AS piece
         |          FROM tok)
         |SELECT * FROM (
         |  SELECT CAST(unicode(piece) AS BIGINT) AS id, piece,
         |         'char' AS kind, CAST(0 AS BIGINT) AS merge_rank
         |  FROM chars
         |  UNION ALL
         |  SELECT CAST(1114112 + rnk AS BIGINT) AS id, merged AS piece,
         |         'merged' AS kind, rnk AS merge_rank
         |  FROM mr)
         |ORDER BY id, piece""".stripMargin,

    // train-then-apply replay: the trained merges (same CTE as
    // ext_bpe_train) applied rank-by-rank to every distinct token with the
    // same wrapped-symbol replace — sequential rank-order application ≡
    // the greedy lowest-rank loop because both replace leftmost-first.
    // Ids mirror BpeMerge.idMap: unicode codepoint for single-codepoint
    // pieces, 1114112 + min-rank-by-string for merged ones. Scalars only
    // (counts + id sum — the multiset fingerprint); sequence order is
    // spec-pinned on the Spark side.
    "ext_bpe_encode" ->
      s"""WITH RECURSIVE $bpeTrainSqlCtes,
         |$bpeApplySqlCtes,
         |mr AS (SELECT merged, MIN(rnk) AS rnk FROM merges GROUP BY merged),
         |pid AS (SELECT token,
         |               CASE WHEN length(p) = 1 THEN CAST(unicode(p) AS BIGINT)
         |                    ELSE 1114112 + mr.rnk END AS id,
         |               length(p) > 1 AS is_merged
         |        FROM pieces LEFT JOIN mr ON pieces.p = mr.merged),
         |tokstat AS (SELECT token, CAST(count(*) AS BIGINT) AS n_pieces,
         |                   CAST(sum(CASE WHEN is_merged THEN 1 ELSE 0 END) AS BIGINT)
         |                     AS n_merged,
         |                   CAST(sum(id) AS BIGINT) AS id_sum
         |            FROM pid GROUP BY token)
         |SELECT d.doc_id,
         |       CAST(coalesce(sum(t.n_pieces), 0) AS BIGINT) AS n_pieces,
         |       CAST(coalesce(sum(t.n_merged), 0) AS BIGINT) AS n_merged,
         |       CAST(coalesce(sum(t.id_sum), 0) AS BIGINT) AS id_sum
         |FROM documents d
         |LEFT JOIN doctok dt ON d.doc_id = dt.doc_id AND dt.token <> ''
         |LEFT JOIN tokstat t ON dt.token = t.token
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // per-token piece counts from the shared train+apply replay, folded to
    // per-doc then per-lang integer sums; two trailing divisions
    "ext_tokenizer_fertility" ->
      s"""WITH RECURSIVE $bpeTrainSqlCtes,
         |$bpeApplySqlCtes,
         |pcount AS (SELECT token, CAST(count(*) AS BIGINT) AS n_pieces
         |           FROM pieces GROUP BY token),
         |perdoc AS (SELECT d.doc_id, d.lang,
         |                  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nw,
         |                  CAST(length(d.text) AS BIGINT) AS nc,
         |                  CAST(coalesce(sum(p.n_pieces), 0) AS BIGINT) AS np
         |           FROM documents d
         |           LEFT JOIN doctok dt ON d.doc_id = dt.doc_id AND dt.token <> ''
         |           LEFT JOIN pcount p ON dt.token = p.token
         |           GROUP BY d.doc_id, d.lang, d.text)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nw) AS BIGINT) AS n_words,
         |       CAST(sum(np) AS BIGINT) AS n_pieces,
         |       ${rnd4Sql("CAST(sum(np) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)")}
         |         AS fertility,
         |       ${rnd4Sql("CAST(sum(nc) AS DOUBLE) / CAST(sum(np) AS DOUBLE)")}
         |         AS chars_per_piece
         |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin,

    // α=1/2 temperature plan: ⌊√mass·10⁴⌋ is IEEE-exact in both engines
    // (sqrt is correctly rounded; one fixed-order ·10⁴ each), integer from
    // there — micromille shares and millis repeat factor are `div`s
    "ext_mix_temperature" ->
      s"""WITH per AS (
         |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(${TextFns.bpeEstimateSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 10000) AS BIGINT)
         |               AS weight FROM per),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
         |               CAST(sum(weight) AS BIGINT) AS tw FROM w)
         |SELECT stratum, n_docs, n_tokens, weight,
         |       (n_tokens * 1000000) // tt AS actual_mmille,
         |       (weight * 1000000) // tw AS target_mmille,
         |       ((weight * 1000000) // tw) * 1000
         |         // greatest((n_tokens * 1000000) // tt, 1) AS repeat_millis
         |FROM w, tot ORDER BY stratum""".stripMargin,

    // doubled-average-rank Spearman off value histograms; Σd² in HUGEINT
    // (Spark side rides DECIMAL(38)) — every division a non-negative-
    // numerator floor, so // ≡ div
    "ext_quality_length_corr" ->
      s"""WITH ${qualitySqlCte("documents", "source, n_chars,")},
         |r AS (SELECT source, n_chars AS x,
         |             CAST(floor((stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3)
         |                        * 10000 + 0.5) AS BIGINT) AS y
         |      FROM q),
         |hx AS (SELECT source, x, CAST(count(*) AS BIGINT) AS tf FROM r GROUP BY 1, 2),
         |rx AS (SELECT source, x,
         |              2 * (sum(tf) OVER (PARTITION BY source ORDER BY x) - tf)
         |                + tf + 1 AS rxv
         |       FROM hx),
         |hy AS (SELECT source, y, CAST(count(*) AS BIGINT) AS tf FROM r GROUP BY 1, 2),
         |ry AS (SELECT source, y,
         |              2 * (sum(tf) OVER (PARTITION BY source ORDER BY y) - tf)
         |                + tf + 1 AS ryv
         |       FROM hy),
         |j AS (SELECT r.source, rxv, ryv
         |      FROM r JOIN rx USING (source, x) JOIN ry USING (source, y)),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CAST((rxv - ryv) * (rxv - ryv) AS HUGEINT)) AS HUGEINT) AS d2
         |      FROM j GROUP BY 1)
         |SELECT source, n,
         |       CASE WHEN n > 1 THEN CAST(1000000 - (d2 * 3000000)
         |              // (2 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
         |            AS BIGINT) END AS rho_micro
         |FROM a ORDER BY source""".stripMargin,

    // the temperature CTE extended with the budget/cap floor divisions —
    // all non-negative integers, so // ≡ div
    "ext_mix_epochs" ->
      s"""WITH per AS (
         |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(${TextFns.bpeEstimateSql("text")}) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 10000) AS BIGINT)
         |               AS weight FROM per),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
         |               CAST(sum(weight) AS BIGINT) AS tw FROM w),
         |plan AS (SELECT stratum, n_tokens,
         |                (weight * 1000000) // tw AS target_mmille,
         |                (((weight * 1000000) // tw) * ((tt * 200) // 100))
         |                  // 1000000 AS desired_tokens
         |         FROM w, tot)
         |SELECT stratum, n_tokens, target_mmille, desired_tokens,
         |       least(4000, (desired_tokens * 1000) // greatest(n_tokens, 1))
         |         AS epochs_milli,
         |       least(desired_tokens, (n_tokens * 4000) // 1000) AS alloc_tokens,
         |       desired_tokens - least(desired_tokens, (n_tokens * 4000) // 1000)
         |         AS shortfall_tokens
         |FROM plan ORDER BY stratum""".stripMargin,

    // power-of-two length buckets: CASE chain mirrors the Scala fold; all
    // counts integer, the one double division has identical operands
    "ext_batch_buckets" ->
      s"""WITH t AS (SELECT ${TextFns.bpeEstimateSql("text")} AS n_tokens FROM documents),
         |b AS (SELECT n_tokens,
         |        CAST(CASE WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 64 THEN 64
         |             WHEN n_tokens <= 128 THEN 128 WHEN n_tokens <= 256 THEN 256
         |             WHEN n_tokens <= 512 THEN 512 WHEN n_tokens <= 1024 THEN 1024
         |             ELSE 2048 END AS BIGINT) AS bucket_cap
         |      FROM t)
         |SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
         |       (CAST(count(*) AS BIGINT) + 15) // 16 AS n_batches,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(bucket_cap - least(n_tokens, bucket_cap)) AS BIGINT) AS pad_tokens,
         |       CAST(sum(greatest(n_tokens - 2048, 0)) AS BIGINT) AS trunc_tokens,
         |       ${rnd4Sql("CAST(sum(bucket_cap - least(n_tokens, bucket_cap)) AS DOUBLE)" +
        " / (CAST(count(*) AS BIGINT) * bucket_cap)")} AS pad_frac
         |FROM b GROUP BY bucket_cap ORDER BY bucket_cap""".stripMargin,

    // stage = docs-with-strictly-lower-score · k div total, computed over
    // the rnd4'd score histogram — identical doubles on both engines make
    // the score join key exact (the rnd4 contract)
    "ext_curriculum" ->
      s"""WITH ${qualitySqlCte("documents")},
         |s AS (SELECT doc_id, $qualitySql AS score FROM q),
         |h AS (SELECT score, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY score),
         |c AS (SELECT score, CAST(coalesce(sum(n) OVER (ORDER BY score
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |        AS docs_below FROM h),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM s),
         |st AS (SELECT score, CAST(docs_below * $CurriculumK // tot AS BIGINT) AS stage
         |       FROM c, t)
         |SELECT doc_id, score, stage FROM s JOIN st USING (score)
         |ORDER BY doc_id""".stripMargin,

    "ext_curriculum_plan" ->
      s"""WITH ${qualitySqlCte("documents", "text,")},
         |s AS (SELECT doc_id, $qualitySql AS score,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM q),
         |h AS (SELECT score, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY score),
         |c AS (SELECT score, CAST(coalesce(sum(n) OVER (ORDER BY score
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |        AS docs_below FROM h),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM s),
         |st AS (SELECT score, CAST(docs_below * $CurriculumK // tot AS BIGINT) AS stage
         |       FROM c, t)
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       min(score) AS min_score, max(score) AS max_score
         |FROM s JOIN st USING (score)
         |GROUP BY stage ORDER BY stage""".stripMargin,

    "ext_tfidf_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |g AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |gd AS (SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM g),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf,
         |              CAST(tf AS DOUBLE) *
         |                ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS score
         |       FROM gd, n),
         |r AS (SELECT doc_id, term, tf, score,
         |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
         |      FROM sc)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, ${rnd4Sql("score")} AS score
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "ext_bm25" ->
      s"""WITH $bm25SqlCtes
         |SELECT rank, doc_id, n_terms, ${rnd4Sql("score")} AS score
         |FROM bmr WHERE rank <= $Bm25K ORDER BY rank""".stripMargin,

    // lex/quality candidate lists are the two rankers' top-20; the fusion
    // score is a 2-term reciprocal sum over integer ranks (engine-exact)
    "ext_rank_fusion" ->
      s"""WITH $bm25SqlCtes,
         |lex AS (SELECT doc_id, rank AS rank_lex FROM bmr WHERE rank <= $FusionK),
         |${qualitySqlCte("documents")},
         |qs AS (SELECT doc_id, $qualitySql AS qsc FROM q),
         |qr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY qsc DESC, doc_id)
         |                          AS BIGINT) AS rank_quality FROM qs),
         |qual AS (SELECT doc_id, rank_quality FROM qr WHERE rank_quality <= $FusionK),
         |f AS (SELECT coalesce(l.doc_id, u.doc_id) AS doc_id, rank_lex, rank_quality,
         |             coalesce(1.0 / CAST(60 + rank_lex AS DOUBLE), 0.0)
         |               + coalesce(1.0 / CAST(60 + rank_quality AS DOUBLE), 0.0) AS rrf
         |      FROM lex l FULL OUTER JOIN qual u ON l.doc_id = u.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank,
         |       doc_id, rank_lex, rank_quality, ${rnd4Sql("rrf")} AS rrf_score
         |FROM f ORDER BY fused_rank""".stripMargin,

    "ext_vocab_top" ->
      s"""WITH $vocabSqlCte
         |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
         |       token, tf, df,
         |       ${rnd4Sql("CAST(sum(tf) OVER (ORDER BY tf DESC, token " +
                 "ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total AS DOUBLE)")} AS coverage
         |FROM vtop, vtot ORDER BY rank""".stripMargin,

    // lift = n_ab·N / (df_a·df_b), the monotone argument of PMI — rational
    // form, so both engines divide the same exact integers
    "ext_cooccurrence" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
         |              FROM documents),
         |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY token),
         |vocab AS (SELECT token, df FROM dfq ORDER BY df DESC, token LIMIT 64),
         |v AS (SELECT t.doc_id, t.token, vb.df FROM toks t JOIN vocab vb USING (token)),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |pairs AS (SELECT a.token AS token_a, b.token AS token_b,
         |                 a.df AS df_a, b.df AS df_b, CAST(count(*) AS BIGINT) AS n_ab
         |          FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.token < b.token
         |          GROUP BY 1, 2, 3, 4)
         |SELECT token_a, token_b, n_ab,
         |       ${rnd4Sql("n_ab * n * 1.0 / (df_a * df_b)")} AS lift
         |FROM pairs, nd
         |WHERE n_ab >= 5
         |ORDER BY lift DESC, token_a, token_b LIMIT 50""".stripMargin,

    // 3 unrolled damped integer-micro PageRank sweeps over the window-3
    // co-occurrence graph — every divide is positive-integer //, so the
    // ranks are bit-identical to TrainPrep.textrankKeywords
    "ext_textrank" -> {
      def sweep(prev: String, out: String) =
        s"""$out AS (SELECT dst AS token,
           |  CAST(150000 + (850000 * sum((rank_micro * wt) // wtot)) // 1000000
           |       AS BIGINT) AS rank_micro
           |  FROM adj JOIN dg USING (src) JOIN $prev r ON r.token = adj.src
           |  GROUP BY dst)""".stripMargin
      s"""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
         |e0 AS (SELECT least(t[i], t[i+1]) AS a, greatest(t[i], t[i+1]) AS b
         |       FROM tk, unnest(generate_series(1, greatest(len(t) - 1, 0))) g(i)
         |       UNION ALL
         |       SELECT least(t[i], t[i+2]), greatest(t[i], t[i+2])
         |       FROM tk, unnest(generate_series(1, greatest(len(t) - 2, 0))) g(i)),
         |ew AS (SELECT a, b, CAST(count(*) AS BIGINT) AS wt FROM e0
         |       WHERE a <> b GROUP BY 1, 2 HAVING count(*) >= 2),
         |adj AS (SELECT a AS src, b AS dst, wt FROM ew
         |        UNION ALL SELECT b, a, wt FROM ew),
         |dg AS (SELECT src, CAST(sum(wt) AS BIGINT) AS wtot FROM adj GROUP BY 1),
         |r0 AS (SELECT src AS token, CAST(1000000 AS BIGINT) AS rank_micro FROM dg),
         |${sweep("r0", "r1")},
         |${sweep("r1", "r2")},
         |${sweep("r2", "r3")}
         |SELECT token, rank_micro FROM r3
         |ORDER BY rank_micro DESC, token LIMIT 20""".stripMargin
    },

    // median/MAD off ONE (source, n_tokens) histogram — column names avoid
    // the case-insensitive N/n binder collision
    "ext_length_outliers" ->
      """WITH h AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |                  CAST(count(*) AS BIGINT) AS hn
        |           FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(hn) AS BIGINT) AS cnt FROM h GROUP BY 1),
        |med AS (SELECT source, min(CASE WHEN cum >= (cnt + 1) // 2 THEN n_tok END) AS med
        |        FROM (SELECT h.*, tot.cnt,
        |                     sum(hn) OVER (PARTITION BY h.source ORDER BY n_tok) AS cum
        |              FROM h JOIN tot USING (source)) GROUP BY source),
        |dev AS (SELECT h.source, abs(n_tok - med) AS dv, CAST(sum(hn) AS BIGINT) AS hn
        |        FROM h JOIN med USING (source) GROUP BY 1, 2),
        |mad AS (SELECT source, min(CASE WHEN cum >= (cnt + 1) // 2 THEN dv END) AS mad
        |        FROM (SELECT dev.*, tot.cnt,
        |                     sum(hn) OVER (PARTITION BY dev.source ORDER BY dv) AS cum
        |              FROM dev JOIN tot USING (source)) GROUP BY source)
        |SELECT d.source, CAST(any_value(cnt) AS BIGINT) AS n_docs,
        |       CAST(any_value(med) AS BIGINT) AS median_tokens,
        |       CAST(any_value(mad) AS BIGINT) AS mad_tokens,
        |       CAST(sum(CASE WHEN dv > 3 * mad THEN hn ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       CAST(sum(CASE WHEN dv > 3 * mad THEN hn ELSE 0 END) * 1000
        |            // any_value(cnt) AS BIGINT) AS outlier_permille
        |FROM dev d JOIN mad USING (source) JOIN med USING (source)
        |JOIN tot USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "ext_split_psi" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) // 10 AS bin,
        |                  ((doc_id * 2246822519 + 104729) % 1000 >= 150) AS tr
        |           FROM documents),
        |c AS (SELECT bin,
        |             CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |             CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_heldout
        |      FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_train) AS BIGINT) AS ta,
        |               CAST(sum(n_heldout) AS BIGINT) AS tb,
        |               CAST(count(*) AS BIGINT) AS b FROM c)
        |SELECT bin, n_train, n_heldout,
        |       CAST(round(
        |         (CAST(n_train * 2 + 1 AS DOUBLE) / CAST(ta * 2 + b AS DOUBLE)
        |          - CAST(n_heldout * 2 + 1 AS DOUBLE) / CAST(tb * 2 + b AS DOUBLE))
        |         * CAST(CAST(round(ln(
        |             CAST((n_train * 2 + 1) * (tb * 2 + b) AS DOUBLE) /
        |             CAST((n_heldout * 2 + 1) * (ta * 2 + b) AS DOUBLE))
        |             * 1000000) AS BIGINT) AS DOUBLE)
        |       ) AS BIGINT) AS psi_micro
        |FROM c, tot ORDER BY bin""".stripMargin,

    "ext_vocab_oov" ->
      s"""WITH $vocabSqlCte,
         |oov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |               CAST(sum(CASE WHEN token IN (SELECT token FROM vtop)
         |                             THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
         |        FROM vtok GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_oov,
         |       ${rnd4Sql("CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)")} AS oov_rate
         |FROM oov ORDER BY doc_id""".stripMargin,

    "ext_token_quantiles" ->
      s"""WITH t AS (
        |  SELECT lang,
        |         ${TextFns.bpeEstimateSql("text")} AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_tokens,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n_docs
        |  FROM t)
        |SELECT lang AS stratum, CAST(p AS BIGINT) AS p, n_docs, n_tokens AS q_tokens
        |FROM r, (VALUES (500), (900), (990)) pp(p)
        |WHERE rn = (p * n_docs + 999) // 1000
        |ORDER BY stratum, p""".stripMargin,

    // the RANK-AUDIT twin of the sketch path: the engine's ok flag is the
    // deterministic contract check; the oracle asserts the full grid holds
    "ext_token_quantiles_fast" ->
      s"""WITH g AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs
         |           FROM documents GROUP BY 1)
         |SELECT stratum, CAST(p AS BIGINT) AS p, n_docs, true AS ok
         |FROM g, (VALUES (500), (900), (990)) pp(p)
         |ORDER BY stratum, p""".stripMargin,

    "ext_sim_semdedup" -> semdedupFullSql,
    "ext_sim_semdedup_cells" -> semdedupCellsSql,
    "ext_sim_knn_ivf_cells" -> ivfCellsSql,

    // the same Lloyd replay, rolled up to the occupancy grid — one
    // definition for the batch audit and the streaming maintainer
    "ext_sim_ivf_occupancy" ->
      s"""WITH $lloydCteSql,
         |fin AS (${lloydAssignSql("x", "c2")}),
         |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
         |        FROM fin GROUP BY 1),
         |st AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |              CAST(count(*) AS BIGINT) AS nc,
         |              CAST(max(n) AS BIGINT) AS mx,
         |              CAST(min(n) AS BIGINT) AS mn FROM occ)
         |SELECT CAST(cell AS BIGINT) AS cell, n,
         |       CAST(n * 1000 // nt AS BIGINT) AS share_permille,
         |       mx AS max_cell, mn AS min_cell,
         |       CAST(mx * nc * 1000 // nt AS BIGINT) AS imbalance_permille
         |FROM occ, st ORDER BY cell""".stripMargin,
    "ext_sim_silhouette" -> silhouetteSql,
    "ext_embed_outliers" -> embedOutliersSql,
    "ext_embed_pq" -> embedPqSql,
    "ext_embed_pca" -> embedPcaSql,
    "ext_embed_whiten" -> embedWhitenSql,
    "ext_unigram_train" -> unigramTrainSql,
    "ext_unigram_encode" -> unigramEncodeSql,

    // the simhash fallback replayed exactly: md5-derived 60-bit gram
    // hashes vote ±1 per bit, sign fold, 6 bands of 10 bits,
    // bit_count(xor) verify — every step integer, both engines agree bit
    // for bit (code-point grams on both sides)
    "ext_multimodal_phash" ->
      s"""WITH $phashCandSqlCte
         |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(pa, pb)) <= 5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the phash pair CTE closed into clusters (the ext_dedup_cluster
    // recursive reach), then the SoftDeDup weight/keep shape over ALL docs
    "ext_multimodal_dedup" ->
      s"""WITH RECURSIVE $phashCandSqlCte,
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |          WHERE bit_count(xor(pa, pb)) <= 5),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster_id
         |        FROM reach GROUP BY id),
         |al AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_copies
         |       FROM al GROUP BY 1)
         |SELECT al.doc_id, al.cluster_id, n_copies,
         |       CAST(1000000 // n_copies AS BIGINT) AS weight_ppm,
         |       al.doc_id = al.cluster_id AS keep
         |FROM al JOIN sz ON al.cluster_id = sz.cluster_id
         |ORDER BY al.doc_id""".stripMargin,

    // the SEMANTIC tier: the same banded candidates verified by cosine
    // over the per-bit vote tallies (the feature whose sign fold IS the
    // phash — the `bits` CTE), then the identical CC → keep/weights
    // shape. Integer dot/norms, one double division + sqrt — the ≥ 0.9
    // verdict is engine-exact.
    "ext_multimodal_semdedup" ->
      s"""WITH RECURSIVE $phashCandSqlCte,
         |n2 AS (SELECT doc_id, CAST(sum(vote * vote) AS BIGINT) AS n2
         |       FROM bits GROUP BY 1),
         |dotp AS (SELECT c.doc_a, c.doc_b,
         |                CAST(sum(va.vote * vb.vote) AS BIGINT) AS dot
         |         FROM cand c
         |         JOIN bits va ON va.doc_id = c.doc_a
         |         JOIN bits vb ON vb.doc_id = c.doc_b AND vb.b = va.b
         |         GROUP BY 1, 2),
         |pairs AS (SELECT p.doc_a, p.doc_b FROM dotp p
         |          JOIN n2 na ON na.doc_id = p.doc_a
         |          JOIN n2 nb ON nb.doc_id = p.doc_b
         |          WHERE na.n2 > 0 AND nb.n2 > 0
         |            AND CAST(p.dot AS DOUBLE) /
         |                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.9),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT u AS id FROM e),
         |reach(id, label) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.id),
         |lab AS (SELECT id AS doc_id, min(label) AS cluster_id
         |        FROM reach GROUP BY id),
         |al AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_copies
         |       FROM al GROUP BY 1)
         |SELECT al.doc_id, al.cluster_id, n_copies,
         |       CAST(1000000 // n_copies AS BIGINT) AS weight_ppm,
         |       al.doc_id = al.cluster_id AS keep
         |FROM al JOIN sz ON al.cluster_id = sz.cluster_id
         |ORDER BY al.doc_id""".stripMargin,

    // the phash pair slice pushed through the cross-source matrix shape
    // shared with ext_dedup_cross_source (victim = doc_b, the pair's
    // higher id; victim mass is PER CELL)
    "ext_multimodal_cross_source" ->
      s"""WITH $phashCandSqlCte,
         |pr AS (SELECT doc_a, doc_b FROM cand
         |       WHERE bit_count(xor(pa, pb)) <= 5),
         |lab AS (SELECT least(da.source, db.source) AS source_a,
         |               greatest(da.source, db.source) AS source_b,
         |               p.doc_b, db.n_chars AS cb
         |        FROM pr p JOIN documents da ON p.doc_a = da.doc_id
         |                  JOIN documents db ON p.doc_b = db.doc_id),
         |np AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM lab GROUP BY 1, 2),
         |vc AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_victims,
         |              CAST(sum(cb) AS BIGINT) AS victim_chars
         |       FROM (SELECT DISTINCT source_a, source_b, doc_b, cb FROM lab)
         |       GROUP BY 1, 2)
         |SELECT np.source_a, np.source_b, n_pairs, n_victims, victim_chars
         |FROM np JOIN vc ON np.source_a = vc.source_a AND np.source_b = vc.source_b
         |ORDER BY np.source_a, np.source_b""".stripMargin,

    "ext_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       16 + octet_length(encode(text)) % 64 AS width,
        |       16 + (octet_length(encode(text)) * 7) % 64 AS height,
        |       1 + octet_length(encode(text)) // 100 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_multimodal_frames" ->
      """WITH m AS (SELECT doc_id,
        |                  1 + CAST(octet_length(encode(text)) AS BIGINT) // 100 AS n_frames
        |           FROM documents),
        |f AS (SELECT doc_id, n_frames,
        |             unnest(generate_series(0, n_frames - 1, 3)) AS frame_idx
        |      FROM m)
        |SELECT doc_id, n_frames, frame_idx,
        |       (doc_id * 31 + frame_idx * 7) % 997 AS frame_hash
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // float round-trip is safe under rnd4: m/100 carries ~1e-8 float error,
    // four orders below the 0.5e-4 rounding grid
    "ext_multimodal_features" ->
      s"""WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
         |           FROM documents)
         |SELECT doc_id, i AS pos,
         |       ${rnd4Sql("CAST((n * 13 + i * 17) % 101 AS DOUBLE) / 100.0")} AS feature
         |FROM m, range(8) t(i)
         |ORDER BY doc_id, pos""".stripMargin,

    "ext_multimodal_resize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         16 + CAST(octet_length(encode(text)) AS BIGINT) % 64 AS width,
        |         16 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 64 AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |       greatest(1, CASE WHEN width >= height THEN 224
        |                        ELSE (width * 224 + height // 2) // height END) AS out_width,
        |       greatest(1, CASE WHEN width >= height
        |                        THEN (height * 224 + width // 2) // width
        |                        ELSE 224 END) AS out_height
        |FROM d ORDER BY doc_id""".stripMargin,

    "ext_multimodal_centroid" ->
      s"""SELECT CAST(label AS BIGINT) AS label, i AS pos,
         |       ${rnd4Sql("avg(embedding[i + 1])")} AS centroid
         |FROM embeddings, range(64) t(i)
         |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    // mean/variance from exact integer moments, one double division each —
    // mirrors the Spark column op order term by term
    "ext_feature_scale" ->
      s"""WITH st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |                   CAST(sum(n_chars) AS BIGINT) AS s1,
         |                   CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
         |                   min(n_chars) AS lo, max(n_chars) AS hi
         |            FROM documents)
         |SELECT doc_id, n_chars,
         |       ${rnd4Sql("(CAST(n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / n) / " +
                  "sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))")} AS z_score,
         |       ${rnd4Sql("CAST(n_chars - lo AS DOUBLE) / (hi - lo)")} AS minmax
         |FROM documents, st ORDER BY doc_id""".stripMargin,

    // integer CDF cross-product sup-difference; single trailing division
    "ext_ks_drift" ->
      s"""WITH h AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
         |dom AS (SELECT DISTINCT n_chars FROM documents),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM documents GROUP BY 1),
         |tot AS (SELECT n_chars, count(*) AS ct FROM documents GROUP BY 1),
         |ctc AS (SELECT dom.n_chars,
         |               CAST(sum(coalesce(ct, 0)) OVER (ORDER BY dom.n_chars) AS BIGINT) AS cum_tot
         |        FROM dom LEFT JOIN tot USING (n_chars)),
         |grid AS (SELECT st.source, st.n_src, dom.n_chars,
         |                CAST(sum(coalesce(h.c, 0)) OVER (
         |                  PARTITION BY st.source ORDER BY dom.n_chars) AS BIGINT) AS cum_src
         |         FROM st CROSS JOIN dom
         |         LEFT JOIN h ON h.source = st.source AND h.n_chars = dom.n_chars),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents)
         |SELECT source, n_src,
         |       ${rnd4Sql("CAST(max(abs(cum_src * n_tot - cum_tot * n_src)) AS DOUBLE) / (n_src * n_tot)")} AS ks_stat
         |FROM grid JOIN ctc USING (n_chars), nt
         |GROUP BY source, n_src, n_tot ORDER BY source""".stripMargin,

    // per-dimension snapped sums/counts and the division-free
    // cross-multiplied mean shift — all-integer, so the grid hash-gates
    "ext_embed_drift" ->
      s"""WITH x AS (
         |  SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
         |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
         |              AS BIGINT) AS v
         |  FROM embeddings),
         |g AS (SELECT CAST(pos AS BIGINT) AS pos,
         |        CAST(sum(CASE WHEN vec_id % 2 = 0 THEN v END) AS BIGINT) AS s_ref,
         |        CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_ref,
         |        CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN v END) AS BIGINT) AS s_cur,
         |        CAST(count(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n_cur
         |      FROM x GROUP BY pos),
         |r AS (SELECT *, s_cur * n_ref - s_ref * n_cur AS delta_num_e4 FROM g)
         |SELECT pos, n_ref, n_cur, s_ref AS s_ref_e4, s_cur AS s_cur_e4,
         |       CAST(delta_num_e4 AS BIGINT) AS delta_num_e4,
         |       CAST(row_number() OVER (ORDER BY abs(delta_num_e4) DESC, pos)
         |            AS BIGINT) AS drift_rank
         |FROM r ORDER BY pos""".stripMargin,

    // Σc² via the relational explode form — integer-exact, so it matches
    // the codegen'd single-pass expression bit for bit
    "ext_text_diversity" ->
      s"""WITH tc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |c AS (SELECT doc_id, t, count(*) AS cnt FROM tc GROUP BY 1, 2),
         |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         |             CAST(count(*) AS BIGINT) AS nd,
         |             CAST(sum(cnt * cnt) AS BIGINT) AS s2
         |      FROM c GROUP BY 1)
         |SELECT doc_id, n AS n_tokens, nd AS n_distinct,
         |       ${rnd4Sql("CAST(n * n - s2 AS DOUBLE) / (n * n)")} AS simpson,
         |       ${rnd4Sql("CAST(n * n AS DOUBLE) / s2")} AS eff_vocab
         |FROM m ORDER BY doc_id""".stripMargin)
}
