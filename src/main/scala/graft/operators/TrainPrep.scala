package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionFrames
import graft.functions.TextFns

/** Training-data preparation operators (SURVEY §2.8): the steps between a
  * deduplicated corpus and a training run — rebalanced sampling, context-
  * window packing, salient-term extraction. All are shuffle-on-key
  * declarative transforms; nothing collects to the driver.
  *
  * The reference engine ships none of these (its surface stops at CDC +
  * reconciliation); they are the [EXT] scale path a 100 TB corpus pipeline
  * needs downstream of dedup.
  *
  * Operator intermediates read more than once (e.g. [[topTerms]]' tf
  * aggregate, read by the df rollup and the join probe) are persisted with
  * [[graft.SessionFrames.track]]; the caller drains them with
  * [[graft.SessionFrames.release]] once the result is materialized
  * (Bench/Verify/Profile do so between queries).
  */
object TrainPrep {

  /** Knuth's multiplicative constant (⌊2³²/φ⌋) — a fixed odd-ish multiplier
    * whose low decimal digits decorrelate from sequential ids. */
  private val KnuthMult = 2654435761L

  /** Independent multipliers for the split and shuffle surfaces. Each
    * deterministic decision (sample / split / shuffle) gets its OWN
    * multiplier: with a shared one the buckets differ only by an additive
    * constant mod m, i.e. are perfectly correlated — a capped sampling
    * stratum would then fall into one end of the holdout split. */
  private[graft] val SplitMult = 2246822519L   // xxhash prime 2
  private[graft] val SplitInc = 104729L
  private[graft] val ShuffleMult = 1779033703L // sha-256 h0, odd
  private[graft] val ShuffleInc = 512927357L
  private[graft] val ShuffleMod = 1000000007L

  /** Largest id whose `id·K + 40503` product stays inside a signed 64-bit
    * long (≈ 3.47e9) — the domain [[sampleBucket]] enforces. */
  val MaxSafeSampleId: Long = (Long.MaxValue - 40503L) / KnuthMult

  /** Guarded multiplicative hash `(id·mult + inc) mod m`: deterministic,
    * NOT `rand()` — reruns, retries, and the DuckDB oracle all see the
    * same value, which is what makes a training mix reproducible. And it
    * is expressible in ANSI SQL (the oracle requirement).
    *
    * Ids outside [0, (2⁶³−1−inc)/mult] FAIL the job instead of silently
    * wrapping (non-ANSI Spark wraps the 64-bit product, ANSI mode and the
    * DuckDB oracle fault — a silent divergence either way). For wider id
    * domains swap in `pmod(xxhash64(id), m)` — same shape, same cost, no
    * ANSI-SQL oracle. */
  private def mulHash(id: Column, mult: Long, inc: Long, modulus: Long,
                      what: String): Column = {
    val maxSafe = (Long.MaxValue - inc) / mult
    val guarded = when(id.between(0L, maxSafe), id).otherwise(raise_error(
      concat(lit(s"$what: id outside [0, $maxSafe] overflows the 64-bit " +
        s"product; use pmod(xxhash64(id), $modulus) for wide ids. id="),
        id.cast("string"))))
    pmod(guarded * mult + inc, lit(modulus))
  }

  /** Deterministic per-row sampling bucket in [0, 1000) (see [[mulHash]]). */
  def sampleBucket(id: Column): Column =
    mulHash(id, KnuthMult, 40503L, 1000L, "sampleBucket")

  /** Deterministic per-row split bucket in [0, 1000) — independent of
    * [[sampleBucket]] (different multiplier; see the constants note). */
  def splitBucket(id: Column): Column =
    mulHash(id, SplitMult, SplitInc, 1000L, "splitBucket")

  private[graft] val MixMult = 2654435789L // odd, distinct from every stream above
  private[graft] val MixInc = 7919L

  /** Deterministic per-row mixture bucket in [0, 1000) — decides which
    * docs get the FRACTIONAL extra repeat when a mix factor isn't an
    * integer; its own multiplier so oversampling never correlates with
    * the sampling or holdout decisions. */
  def mixBucket(id: Column): Column =
    mulHash(id, MixMult, MixInc, 1000L, "mixBucket")

  /** Stratified downsampling: keep a row iff its [[sampleBucket]] falls
    * under its stratum's permille rate — the classic training-mix rebalance
    * (e.g. cap the dominant language, keep the tail). A pure per-row
    * filter: ZERO shuffles, pushes nothing but the scan, scales perfectly —
    * and the kept set is a stable function of (id, stratum), so incremental
    * reruns never churn the sample. */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
                       permille: Map[String, Int], defaultPermille: Int): DataFrame = {
    // mirror packWindows' collision guard: a caller's real `bucket` column
    // would be silently clobbered by the generated one otherwise
    require(!docs.columns.contains("bucket"),
      "stratifiedSample generates a `bucket` column; rename the input's")
    val rate = permille.toSeq.sortBy(_._1).foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, p)) => when(col(stratumCol) === stratum, p).otherwise(acc)
    }
    docs
      .withColumn("bucket", sampleBucket(col(idCol)))
      .filter(col("bucket") < rate)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every document by how much more likely it is
    * under a TARGET-slice unigram LM than under the whole-corpus LM —
    * log p_tgt(doc) − log p_raw(doc) — the principled "select data that
    * looks like my reference set" gate (the hashed-n-gram production form
    * collapses to this with a whole-token feature map). Both LMs are
    * Laplace-½ smoothed over the SHARED corpus vocabulary, so the ratio is
    * defined for every token and no OOV branch exists.
    *
    * Determinism: the `ext_lm_perplexity` discipline — log-probs rounded
    * to integer micronats on the vocab-bounded model frame, per-doc totals
    * exact integer Σ tf·(tgt−raw). Scale: ONE explode feeding a persisted
    * (doc, token) tf frame; both models are token-keyed rollups of it
    * (vocab-bounded); scoring is one tokens⋈model join + doc-keyed sum.
    * `keep` = ratio > 0 (fixed threshold: a corpus-derived quantile would
    * need a data-sized sort; production DSIR likewise fixes the budget). */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
                  isTarget: Column): DataFrame = {
    val tf = SessionFrames.track(docs
      .select(col(idCol), isTarget.as("__tgt"),
        explode(TextFns.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("__tgt"), col("token"))
      .agg(count(lit(1)).as("tf")))
    // BOTH LMs' counts in ONE token-keyed pass (sum + conditional sum —
    // `otherwise(0)` reproduces the left-join-null + coalesce semantics
    // of building the target LM separately), checkpointed at vocab size
    // so the stats row and the model projection don't re-aggregate;
    // earlier form paid 4 exchanges (raw counts, target counts, vocab
    // distinct, and their joins) for the same frame. Log-probs in integer
    // log-micronats (×1e6, the repo-wide lnMicro unit), rounded on this
    // vocab-bounded frame only.
    val counts = tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("__rc"),
        sum(when(col("__tgt"), col("tf")).otherwise(0L)).as("__tc"))
      .localCheckpoint(true)
    val stats = broadcast(counts.agg(count(lit(1)).as("__v"),
      coalesce(sum(col("__rc")), lit(0L)).as("__rt"),
      coalesce(sum(col("__tc")), lit(0L)).as("__tt")))
    def micro(c: Column, t: Column) =
      round(log((coalesce(c, lit(0L)) + lit(0.5)) / (t + lit(0.5) * col("__v"))) * 1e6)
        .cast("long")
    val model = counts.crossJoin(stats)
      .select(col("token"),
        micro(col("__tc"), col("__tt")).as("tgt_micro"),
        micro(col("__rc"), col("__rt")).as("raw_micro"))
    tf.join(model, "token")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * (col("tgt_micro") - col("raw_micro"))).as("logratio_micro"))
      .select(col(idCol), col("n_tokens"), col("logratio_micro"),
        (col("logratio_micro") > 0).as("keep"))
  }

  /** Per-group document cap (the RefinedWeb/C4 anti-domination rule: no
    * single domain/source may contribute more than `k` documents): keep
    * each group's `k` lowest-`orderCol` rows with their in-group rank.
    * Hierarchical salted top-k (the `sort_topk_group` discipline): phase 1
    * ranks within (group, salt) — each task sorts 1/`salts` of even a hot
    * group — and keeps ≤ k; phase 2 ranks the ≤ salts·k survivors per
    * group, a CONSTANT-bounded frame. Exact, because each salt's local
    * top-k is a superset of that salt's contribution to the group's global
    * top-k. `orderCol` must be unique (ids) so both rankings are total and
    * the kept set is engine-independent. */
  def groupCap(df: DataFrame, groupCol: String, orderCol: String, k: Int,
               salts: Int = 8): DataFrame = {
    val w1 = Window.partitionBy(col(groupCol), pmod(col(orderCol), lit(salts.toLong)))
      .orderBy(col(orderCol))
    val w2 = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    df.withColumn("__r", row_number().over(w1)).filter(col("__r") <= k)
      .withColumn("rk", row_number().over(w2).cast("long")).filter(col("rk") <= k)
      .drop("__r")
  }

  /** Quality-weighted deterministic resampling (the DCLM/FineWeb reweight
    * shape): keep a row iff its [[sampleBucket]] falls under weight·1000,
    * so a doc's survival rate equals its weight in [0, 1] while the
    * decision stays a pure function of (id, weight) — a per-row filter
    * with ZERO shuffles, rerun-stable, and engine-exact whenever the
    * weight expression is computed in identical op order on both sides
    * (the [[graft.functions.TextFns.qualityScore]] contract). Weights are
    * clamped per-row: ≤ 0 keeps nothing, ≥ 1 keeps everything. */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column): DataFrame = {
    require(!docs.columns.contains("bucket"),
      "weightedSample generates a `bucket` column; rename the input's")
    docs
      .withColumn("bucket", sampleBucket(col(idCol)))
      .filter(col("bucket").cast("double") < weight * 1000.0)
  }

  /** The split label as a pure column of the id — the
    * joinable-without-a-join form of [[splitAssign]]: an audit that needs
    * labels on PAIR rows (e.g. the leakage query) recomputes the hash on
    * each side instead of joining the corpus back twice. */
  def splitLabel(id: Column, testPermille: Int, valPermille: Int): Column =
    when(splitBucket(id) < testPermille, "test")
      .when(splitBucket(id) < testPermille + valPermille, "val")
      .otherwise("train")

  /** Deterministic train/val/test holdout assignment: `test` below
    * `testPermille`, `val` in the next `valPermille`, `train` above — a
    * pure per-row expression over [[splitBucket]], ZERO shuffles, stable
    * across reruns/engines, and independent of the sampling decision (its
    * own multiplier). The split is a function of the id alone, so a doc
    * keeps its split when the corpus grows — the property that prevents
    * silent eval-set contamination across corpus versions. */
  def splitAssign(docs: DataFrame, idCol: String,
                  testPermille: Int, valPermille: Int): DataFrame = {
    require(testPermille >= 0 && valPermille >= 0 &&
      testPermille + valPermille <= 1000,
      s"splitAssign: permilles ($testPermille, $valPermille) must be ≥ 0 and sum ≤ 1000")
    val generated = Seq("split_bucket", "split").filter(docs.columns.contains)
    require(generated.isEmpty,
      s"splitAssign generates $generated; rename the input's column(s)")
    docs
      .withColumn("split_bucket", splitBucket(col(idCol)))
      .withColumn("split", splitLabel(col(idCol), testPermille, valPermille))
  }

  /** Deterministic global training-order shuffle PLAN: each doc gets a
    * pseudo-random `shuffle_key` (multiplicative hash — see [[mulHash]]),
    * a `shard` (key mod `nShards`), and its rank `pos` inside the shard
    * (key order, id tie-break). A loader reading shards in any order and
    * each shard by `pos` visits the corpus in a reproducible shuffled
    * order — `rand()`-free, so re-runs and engines agree.
    *
    * Shape: one exchange on shard + a within-shard sort — the same scale
    * dial as [[packWindows]] (shards ≈ executors·4 keeps each sort one
    * task); nothing global, no driver state. */
  def shuffleShard(docs: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"shuffleShard: nShards must be positive, got $nShards")
    val generated = Seq("shuffle_key", "shard", "pos").filter(docs.columns.contains)
    require(generated.isEmpty,
      s"shuffleShard generates $generated; rename the input's column(s)")
    val w = Window.partitionBy(col("shard")).orderBy(col("shuffle_key"), col(idCol))
    docs
      .select(col(idCol),
        mulHash(col(idCol), ShuffleMult, ShuffleInc, ShuffleMod, "shuffleShard")
          .as("shuffle_key"))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Deterministic FIXED-SIZE sample: the k docs per stratum that come
    * first in the [[shuffleShard]] order (hash key, id tie-break) — i.e.
    * the prefix of the deterministic global shuffle, which is exactly a
    * uniform without-replacement sample of size k, reproducible across
    * reruns and engines. Complements [[stratifiedSample]]: permille rates
    * scale WITH the corpus; bottom-k pins an absolute size (eval slices,
    * fixed human-review batches).
    *
    * Shape: one exchange on the stratum + a per-stratum sort — right for
    * language/source-sized strata (the [[tokenQuantiles]] posture). For an
    * unstratified fixed-k over an unbounded corpus, `orderBy(key).limit(k)`
    * plans as a distributed TakeOrdered instead — use that form when one
    * stratum is the whole corpus. */
  def bottomKSample(docs: DataFrame, idCol: String, stratumCol: String, k: Int): DataFrame = {
    require(k > 0, s"bottomKSample: k must be positive, got $k")
    require(!docs.columns.contains("sample_rank"),
      "bottomKSample generates a `sample_rank` column; rename the input's")
    val key = mulHash(col(idCol), ShuffleMult, ShuffleInc, ShuffleMod, "bottomKSample")
    val w = Window.partitionBy(col(stratumCol)).orderBy(key.asc, col(idCol).asc)
    docs
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** T5/UL2-style span-corruption PLAN (Raffel et al. 2020 §3.1.4 shape):
    * which token spans of each document get masked behind sentinels for a
    * denoising objective — as a deterministic, replayable plan table, not
    * materialized corrupted text. Token positions tile into fixed blocks
    * of `block`; each block contributes ONE span (id = its block index, so
    * sentinels number left to right) whose length (1..`maxSpan`, capped by
    * the block's tail) and in-block offset come from integer
    * multiplicative hashes of (doc, block) — spans are non-overlapping BY
    * CONSTRUCTION (block-local), every engine computes the identical plan
    * (pure i64 arithmetic, no RNG state), and corruption density is
    * ~mean(span)/block. Row-local per doc: one explode over n/block
    * blocks, zero shuffles at any scale; the trailing sort is
    * presentation. `span_start` is a 0-based token index. */
  def spanCorruptionPlan(docs: DataFrame, idCol: String, textCol: String,
                         block: Int = 8, maxSpan: Int = 3): DataFrame = {
    require(block > 0 && maxSpan > 0 && maxSpan <= block,
      s"spanCorruptionPlan: need 0 < maxSpan <= block, got block=$block maxSpan=$maxSpan")
    docs
      .select(col(idCol).as("doc_id"),
        size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), expr(s"(n_tokens - 1) div $block"))).as("sentinel_id"))
      .withColumn("__blen",
        least(lit(block.toLong), col("n_tokens") - col("sentinel_id") * block))
      .withColumn("span_len",
        least(lit(1L) + (col("doc_id") * 48271L + col("sentinel_id") * 31L + 7L) % maxSpan,
          col("__blen")))
      .withColumn("span_start",
        col("sentinel_id") * block +
          (col("doc_id") * 2654435761L + col("sentinel_id") * 97L + 13L) %
            (col("__blen") - col("span_len") + 1))
      .select(col("doc_id"), col("n_tokens"), col("sentinel_id"),
        col("span_start"), col("span_len"))
  }

  /** Context-window packing: concatenation order is fixed (by id within a
    * shard), documents fill windows of `budgetTokens` tokens back to back,
    * and each document is labelled with the window its FIRST token lands in
    * plus its offset inside that window — the GPT-style concat-and-chunk
    * packing plan, as metadata instead of materialized token buffers.
    *
    * Shape: one shuffle on `shard` (= id mod `nShards`), one within-shard
    * sort for the running token sum. Shards are the scale dial — at 100 TB
    * pick shards ≈ executors·4 so each within-shard sort fits one task;
    * windows never span shards, so shards are independently packable and
    * the plan is embarrassingly parallel after the one exchange. Token
    * counts come from `tokenCount` — default [[TextFns.bpeEstimate]]
    * (chars/4-ish BPE proxy, the oracle-expressible form); pass a real
    * tokenizer's count column (must be BIGINT, ≥ 0) to repack on true
    * lengths without touching the plan shape. */
  def packWindows(docs: DataFrame, idCol: String, textCol: String,
                  budgetTokens: Long, nShards: Int,
                  carry: Seq[String] = Nil,
                  tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val generated = Set("shard", "n_tokens", "tok_before", "window_id", "window_offset",
      "n_windows", idCol)
    require(carry.forall(!generated(_)),
      s"carry columns ${carry.filter(generated)} collide with packing's generated names")
    val shard = pmod(col(idCol), lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      // slim pre-shuffle projection: the shard exchange moves three longs
      // per doc (plus any explicitly carried narrow columns), never text
      .select(col(idCol) +: shard.as("shard") +:
        tokenCount(col(textCol)).as("n_tokens") +: carry.map(col): _*)
      .withColumn("tok_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol) +: col("shard") +: col("n_tokens") +:
        // integer `div`, not FP `/`: exact at any running-sum magnitude
        expr(s"tok_before div $budgetTokens").as("window_id") +:
        pmod(col("tok_before"), lit(budgetTokens)).as("window_offset") +:
        carry.map(col): _*)
      // how many windows the doc straddles (its loader must span them);
      // greatest(…,1) keeps a zero-token doc in exactly its start window
      .withColumn("n_windows",
        expr(s"((window_offset + greatest(n_tokens, 1L) - 1L) div $budgetTokens) + 1L"))
  }

  /** Greedy DOCUMENT-PRESERVING packing — the other packing mode a loader
    * offers: docs are never split across windows (no cross-doc attention
    * within a truncated tail); a doc that would overflow the current
    * window's `budgetTokens` starts a new window, and a doc bigger than
    * the whole budget gets a window alone (`oversize` marks it for the
    * loader's truncate/skip policy).
    *
    * Greedy fill is a running sum WITH RESET — inherently sequential per
    * shard, not expressible as a Spark window function — so this is the
    * repo's one deliberate `mapPartitions` operator (SURVEY §2's preference
    * order, case (d)): one exchange on shard, a within-partition sort, and
    * a single stateful pass per shard. Shards are the parallelism dial
    * exactly as in [[packWindows]]; at 100 TB this per-shard sequential
    * scan is precisely what the loader itself would run.
    *
    * Output: (idCol, shard, n_tokens, window_id, window_pos, oversize) —
    * `window_pos` is the doc's token offset inside its window. */
  def packGreedy(docs: DataFrame, idCol: String, textCol: String,
                 budgetTokens: Long, nShards: Int,
                 tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    require(budgetTokens > 0, s"packGreedy: budget must be positive, got $budgetTokens")
    require(nShards > 0, s"packGreedy: nShards must be positive, got $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"),
        pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        tokenCount(col(textCol)).as("n_tokens"))
      // one exchange; a partition may hold several whole shards, so the
      // stateful pass resets on shard change under the (shard, id) sort
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = -1L
        var win = 0L
        var fill = 0L
        it.map { case (id, sh, t) =>
          if (sh != curShard) { curShard = sh; win = 0L; fill = 0L }
          if (fill > 0 && fill + t > budgetTokens) { win += 1; fill = 0L }
          val pos = fill
          fill += t
          (id, sh, t, win, pos, t > budgetTokens)
        }
      }
      .toDF(idCol, "shard", "n_tokens", "window_id", "window_pos", "oversize")
  }

  /** Per-window manifest over a [[packWindows]] plan: one row per
    * (shard, window) listing the docs that START there — the contiguous
    * id-ordered span a loader range-scans — plus how many tokens they
    * contribute (can exceed the budget: a straddling doc's tokens spill
    * into the following windows, which is what `n_windows` flags).
    *
    * Spill metadata lets a loader assemble windows WITHOUT re-deriving
    * straddles: `spill_in` is how many of the window's leading tokens
    * belong to a doc that started earlier (packing is contiguous, so it
    * equals the first starting doc's offset), and `spill_out` is how many
    * of the last doc's tokens overflow past the budget (> `budgetTokens`
    * when the doc spans several windows — the windows in between get NO
    * manifest row, being fully covered by the straddler; consecutive rows
    * w < w' always satisfy `spill_out(w) = (w'-w-1)·budget + spill_in(w')`).
    *
    * One additional exchange on (shard, window_id) after the pack shuffle;
    * all-integer aggregates, so the manifest is engine-exact. */
  def packManifest(packed: DataFrame, idCol: String, budgetTokens: Long): DataFrame =
    packed.groupBy(col("shard"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("first_doc"), max(col(idCol)).as("last_doc"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("window_offset")).as("spill_in"),
        greatest(max(col("window_offset") + col("n_tokens")) - lit(budgetTokens), lit(0L))
          .as("spill_out"))

  /** Exact per-stratum token-count quantiles (corpus length profiling — the
    * stat that drives window budgets and truncation policy). Type-1
    * (lower-value) quantile: the value at 1-indexed rank ⌈p·n⌉ of the
    * sorted counts, with the rank computed in INTEGER arithmetic —
    * `(p‰·n + 999) div 1000` — so no engine's decimal-vs-double literal
    * semantics can shift a rank across a boundary (the reason this is
    * oracle-checkable where interpolated `percentile_cont` is not).
    *
    * Shape: ONE exchange on the stratum (both windows share the
    * partitioning), then a per-row rank filter. The per-stratum sort is the
    * scale cost — right for strata that fit a task (languages, sources);
    * for quantiles over an unstratified 100 TB column, reach for
    * `approx_percentile` instead and keep this as the exact contract
    * check on samples. */
  def tokenQuantiles(docs: DataFrame, stratumCol: String, textCol: String,
                     permille: Seq[Int],
                     tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val byStratum = Window.partitionBy(col("stratum"))
    docs
      .select(col(stratumCol).as("stratum"), tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("rn", row_number().over(byStratum.orderBy(col("n_tokens"))).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(byStratum))
      .withColumn("p", explode(array(permille.map(p => lit(p.toLong)): _*)))
      .filter(col("rn") === expr("(p * n_docs + 999) div 1000"))
      .select(col("stratum"), col("p"), col("n_docs"), col("n_tokens").as("q_tokens"))
  }

  /** Sketch-based quantiles — [[tokenQuantiles]]'s 100 TB path. The exact
    * form sorts each stratum (right when strata fit a task); this one
    * merges `percentile_approx`'s quantile-summary sketches map-side, so
    * memory stays bounded and NO per-stratum sort happens at any scale —
    * the trade is a rank-error bound of 1/accuracy (exact while a stratum
    * fits one uncompressed sketch). Sketch merge order follows partial-agg
    * scheduling, so outputs are rows-only for the oracle gate; the spec
    * pins a rank-tolerance contract against the exact form instead. */
  def tokenQuantilesSketch(docs: DataFrame, stratumCol: String, textCol: String,
                           permille: Seq[Int], accuracy: Int = 10000,
                           tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val ps = permille.map(p => lit(p / 1000.0))
    docs
      .select(col(stratumCol).as("stratum"), tokenCount(col(textCol)).as("n_tokens"))
      .groupBy(col("stratum"))
      .agg(percentile_approx(col("n_tokens"), array(ps: _*), lit(accuracy)).as("qs"))
      .select(col("stratum"), posexplode(col("qs")).as(Seq("idx", "q_tokens")))
      .select(col("stratum"),
        element_at(array(permille.map(p => lit(p.toLong)): _*), col("idx") + 1).as("p"),
        col("q_tokens"))
  }

  /** [[tokenQuantilesSketch]] wrapped in its own RELATIONAL rank audit —
    * the oracle-checkable form of the sketch path. The sketch VALUE is
    * merge-order-dependent (rows-only by nature), but its CONTRACT is not:
    * percentile_approx at accuracy A returns a value whose exact rank sits
    * within n/A of the target rank. This operator recomputes each returned
    * value's exact rank bracket (count below / count at-or-below, one
    * stratum-keyed aggregate — no sort) and emits the deterministic fields
    * only: (stratum, p, n_docs, ok). An oracle asserts `ok = true` over
    * the same grid, so a degraded sketch hash-mismatches while a healthy
    * one matches regardless of merge order. Tolerance: n/A rounded up,
    * floor 1 (the discrete-rank boundary). */
  def tokenQuantilesSketchChecked(docs: DataFrame, stratumCol: String, textCol: String,
                                  permille: Seq[Int], accuracy: Int = 10000,
                                  tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val sk = tokenQuantilesSketch(docs, stratumCol, textCol, permille, accuracy, tokenCount)
    val toks = docs.select(col(stratumCol).as("stratum"),
      tokenCount(col(textCol)).as("n_tokens"))
    val br = toks.join(sk, "stratum")
      .groupBy(col("stratum"), col("p"), col("q_tokens"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") < col("q_tokens"), 1L).otherwise(0L)).as("__lo"),
        sum(when(col("n_tokens") <= col("q_tokens"), 1L).otherwise(0L)).as("__hi"))
    val target = expr("(p * n_docs + 999) div 1000")
    val tol = greatest(lit(1L), expr(s"(n_docs + ${accuracy - 1}) div $accuracy"))
    br.select(col("stratum"), col("p"), col("n_docs"),
      (target > col("__lo") - tol && target <= col("__hi") + tol).as("ok"))
  }

  /** Token co-occurrence lift over a bounded vocabulary — the PMI-family
    * association signal (which vocab terms travel together across
    * documents): for every pair of top-`vocabK`-df tokens co-occurring in
    * ≥ `minPairs` docs, lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (df_a·df_b),
    * the monotone argument of PMI = log₂(lift). Reported AS the ratio, not
    * the log — rankings are identical and the rational form stays IEEE-
    * exact against the oracle (the BM25 log-free-idf discipline).
    *
    * Scale shape: the vocabulary CAP is what makes co-occurrence tractable
    * — unbounded pairs are Σ(tokens-per-doc)². The k-row vocab (one
    * token-keyed aggregate) is DRIVER-HELD and attached as literals (the
    * VocabDrift discipline: a bounded-by-construction collect); each doc
    * then reduces ROW-LOCALLY to a k-bit presence MASK (a literal-map
    * lookup + bitwise fold — k ≤ 64 so one long), and
    * [[graft.functions.CoocPairCounts]] accumulates the whole upper-
    * triangular k×k count matrix as a fixed-size mergeable buffer: ≤ k²/2
    * integer increments per doc inside the partial aggregate, elementwise
    * array-add merges, ONE k²-cell row out. No pair ROW is ever
    * materialized (an explode/self-join form moves Σ k²/2 pair rows —
    * ~12M at sf0.1 on this vocab-dense corpus); the only exchanges are
    * the vocab aggregate and the 1-row buffer combine. Alphabetic cell
    * order falls out of the vocab-index sort, not a data sort. */
  def cooccurrenceLift(docs: DataFrame, idCol: String, textCol: String,
                       vocabK: Int, minPairs: Long, topK: Int): DataFrame = {
    require(vocabK > 0 && vocabK <= 64 && topK > 0,
      s"cooccurrenceLift: need 0 < vocabK ≤ 64 (one-word presence mask; " +
        s"multi-word masks are the >64 extension) and topK > 0, got ($vocabK, $topK)")
    // ONE corpus scan: the distinct-token arrays are persisted and feed
    // both the vocab aggregate (exploded) and the mask fold below
    val toksF = SessionFrames.track(docs.select(TextFns.distinctTokens(col(textCol)).as("__toks")))
    val vocabRows = toksF.select(explode(col("__toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(vocabK)
      .collect() // ≤ vocabK rows by construction
    // bit index i = ALPHABETIC rank, so cell (i, j) i<j is already the
    // (token_a < token_b) orientation the report emits
    val byToken = vocabRows.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val bitMap = map(byToken.zipWithIndex.flatMap { case ((t, _), i) =>
      Seq(lit(t), lit(1L << i)) }.toIndexedSeq: _*)
    val tokenArr = lit(byToken.map(_._1))
    val dfArr = lit(byToken.map(_._2))
    val nDocs = toksF.count() // reads the persisted arrays, not the corpus
    // try_element_at: a non-vocab token is an expected miss, never an error
    val mask = aggregate(col("__toks"), lit(0L),
      (acc, t) => acc.bitwiseOR(coalesce(try_element_at(bitMap, t), lit(0L))))
    val ia = expr("__idx div 64").cast("int") + 1
    val ib = pmod(col("__idx"), lit(64)).cast("int") + 1
    val coocUdaf = udaf(graft.functions.CoocPairCounts)
    toksF
      .select(mask.as("__mask"))
      .agg(coocUdaf(col("__mask")).as("__cells"))
      .select(posexplode(col("__cells")).as(Seq("__idx", "n_ab")))
      .filter(col("n_ab") >= greatest(lit(minPairs), lit(1L))) // empty cells never surface
      .select(
        element_at(tokenArr, ia).as("token_a"),
        element_at(tokenArr, ib).as("token_b"),
        col("n_ab"),
        graft.Tables.rnd4(
          col("n_ab") * lit(nDocs) * lit(1.0) /
            (element_at(dfArr, ia) * element_at(dfArr, ib))).as("lift"))
      .orderBy(col("lift").desc, col("token_a"), col("token_b"))
      .limit(topK)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the token co-occurrence graph — the unsupervised "what is this corpus
    * about" signal corpus cards and topic-mix audits report. Nodes are
    * tokens, an undirected edge joins two distinct tokens co-occurring
    * within `window` positions, edge weight = corpus-wide co-occurrence
    * count (edges under `minCount` are noise and dropped — this is also
    * the scale bound: the edge frame is OBSERVED-pair-sized, a sparse
    * subset of vocab², never corpus-sized).
    *
    * Determinism discipline: ranks are integer MICRO-units end to end —
    * r₀ = 10⁶, and each of the `iters` damped updates is
    * r'(i) = 150 000 + (850 000 · Σ_j (r(j)·w(j,i) div W(j))) div 10⁶
    * (d = 0.85), ALL integer multiply/div/sum, so every engine and every
    * partitioning produces bit-identical ranks — no float PageRank drift.
    * Fixed iteration count (not convergence-tested): the artifact is a
    * reproducible ranking, and 3 damped sweeps over a sparse graph already
    * orders hubs correctly (the classic TextRank setting).
    *
    * Scale shape: edge generation is ROW-LOCAL (a per-doc windowed
    * self-zip expression — no positional self-join), one shuffle to the
    * (a, b) count; each iteration is one vocab-keyed join + aggregate over
    * the CHECKPOINTED adjacency (edge-sized, read iters times — never
    * recomputed from the corpus). Token order comparisons (least/greatest)
    * are byte-order on both engines for the ASCII token space. */
  def textrankKeywords(docs: DataFrame, textCol: String, window: Int,
                       minCount: Long, iters: Int, topK: Int): DataFrame = {
    require(window >= 2 && iters >= 1 && topK > 0,
      s"textrankKeywords: need window ≥ 2, iters ≥ 1, topK > 0, got ($window, $iters, $topK)")
    // pair fan-out compiled ([[graft.functions.TokenPairsWindow]]): the
    // interpreted nested-transform lambda tree it replaces evaluated per
    // token × (window−1) across the corpus; identical pair multiset (the
    // a = b self-pairs the old form filtered are never emitted)
    val edgesRaw = docs.select(TextFns.tokens(col(textCol)).as("__t"))
      .select(explode(org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.TokenPairsWindow(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__t")),
          window))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
    val ew = edgesRaw.groupBy(col("a"), col("b")).agg(count(lit(1)).as("wt"))
      .filter(col("wt") >= minCount)
    // symmetric adjacency with each source's total incident weight riding
    // the rows — checkpointed once, read by every iteration
    val adj = ew.select(col("a").as("src"), col("b").as("dst"), col("wt"))
      .unionByName(ew.select(col("b").as("src"), col("a").as("dst"), col("wt")))
    val deg = adj.groupBy(col("src")).agg(sum(col("wt")).as("wtot"))
    val adjW = adj.join(deg, "src").localCheckpoint(true)
    var r = adjW.select(col("src").as("token")).distinct()
      .withColumn("rank_micro", lit(1000000L))
    (1 to iters).foreach { _ =>
      r = adjW.join(r, adjW("src") === r("token"))
        .select(col("dst"), expr("(rank_micro * wt) div wtot").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__s"))
        .select(col("dst").as("token"),
          (lit(150000L) + expr("(850000 * __s) div 1000000")).as("rank_micro"))
    }
    r.orderBy(col("rank_micro").desc, col("token")).limit(topK)
  }

  /** Top-k corpus vocabulary with cumulative coverage — the tokenizer-prep
    * profile: for each of the k most frequent whitespace tokens, its corpus
    * term frequency `tf`, document frequency `df`, rank, and the cumulative
    * fraction of ALL corpus token occurrences the vocabulary covers through
    * that rank (the "how big must my vocab be for X% coverage" curve).
    * Ranking ties break on the token string, so the order — and therefore
    * the coverage column — is deterministic across engines.
    *
    * Shape: one explode → token-keyed aggregate (map-side combined; the
    * exchange moves one row per distinct (partition, token)), PERSISTED so
    * the corpus-total denominator reads the aggregate, not the corpus. The
    * top-k limit plans as a distributed TakeOrdered; only the k survivors
    * reach the single-partition ranking window, so the unpartitioned window
    * is k rows at any corpus scale. */
  def vocabTop(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"vocabTop: k must be positive, got $k")
    val counts = SessionFrames.track(docs
      .select(col(idCol).as("doc_id"), explode(TextFns.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df")))
    val total = broadcast(counts.agg(sum(col("tf")).as("__total")))
    val byFreq = Window.orderBy(col("tf").desc, col("token"))
    counts
      .orderBy(col("tf").desc, col("token")).limit(k)
      .crossJoin(total)
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("coverage", graft.Tables.rnd4(
        sum(col("tf")).over(byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("__total").cast("double")))
      .select(col("rank"), col("token"), col("tf"), col("df"), col("coverage"))
  }

  /** Per-document out-of-vocabulary profile against the [[vocabTop]]
    * vocabulary: token occurrences outside the top-k vocab and their
    * fraction — the "will this tokenizer cover my corpus" signal that
    * decides vocab size and UNK handling.
    *
    * Shape: the vocab is k rows → broadcast; the corpus side explodes once
    * and aggregates straight to doc_id (map-side combined), so the only
    * exchange is one row per doc. The OOV flag rides the broadcast hash
    * join — no shuffle touches the token rows. */
  def vocabOov(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val vocab = vocabTop(docs, idCol, textCol, k)
      .select(col("token"), lit(1L).as("__in_vocab"))
    docs
      .select(col(idCol).as("doc_id"), explode(TextFns.tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", graft.Tables.rnd4(
        col("n_oov").cast("double") / col("n_tokens").cast("double")))
  }

  /** Top-k salient terms per document, scored tf·idf with a BM25-shaped,
    * LOG-FREE idf: `score = tf · (N − df + 0.5)/(df + 0.5)`. Dropping the
    * usual `ln` is deliberate: every remaining op (integer→double casts,
    * one subtract, one add, one divide, one multiply) is IEEE-exact or
    * correctly rounded, so scores — and therefore rankings — are
    * bit-identical across engines (`ln` is only ~1-ulp and may order two
    * near-equal scores differently in different libms). Monotonicity in
    * (tf ↑, df ↓) is the same as the log form's, which is all ranking uses.
    *
    * Shape: explode → groupBy (doc, term) for tf, PERSISTED (one
    * computation feeds both consumers — no second corpus scan); df via a
    * term-keyed count aggregate over it JOINED back (one row per
    * (doc, term), so the count IS the document frequency). Deliberately
    * not a count-window: term frequencies are Zipf-skewed and a hot
    * term's window partition is an unsplittable straggler at corpus
    * scale, while AQE's skew-join can split the hot join partition
    * against the 1-row df side. Corpus size N arrives by broadcast of a
    * 1-row aggregate; final top-k is a ranking window per doc. All
    * exchanges linear in distinct (doc, term) pairs. */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = SessionFrames.track(docs
      .select(col(idCol).as("doc_id"), explode(TextFns.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(countDistinct(col(idCol)).as("__n_docs")))
    val score = col("tf").cast("double") *
      ((col("__n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf
      .join(dfTab, "term")
      .crossJoin(n)
      .withColumn("score", score)
      .withColumn("rank", row_number().over(byDoc).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        graft.Tables.rnd4(col("score")).as("score"))
  }

  /** Okapi BM25 retrieval (Robertson & Spärck Jones; the SMART/Okapi
    * formulation) over whitespace tokens, scoring every document that
    * contains at least one query term — the lexical half of a
    * training-data curation retriever (decontamination lookups, targeted
    * corpus slicing, eval-set mining). One deliberate deviation, shared
    * with [[topTerms]]: the idf factor is the RATIONAL Robertson form
    * `(N − df + 0.5)/(df + 0.5)` without the `ln(1 + ·)` wrap — `ln` is a
    * transcendental whose last ulp differs across libm implementations, so
    * the wrap would break bit-exact oracle replay; since `ln(1+x)` is
    * strictly monotone in x, RANKINGS are identical to textbook BM25 and
    * only magnitudes differ. Scores for multi-term queries are a sum of
    * ≤ 2 per-term products when `queryTerms.size ≤ 2` (IEEE addition is
    * commutative, so 2-term sums are order-independent; 3+ terms would
    * need a fixed reduction order for engine-exactness).
    *
    * Shape: the posting-list predicate (`term isin queryTerms`) lands
    * BEFORE the tf aggregate, so every exchange after the corpus scan is
    * CANDIDATE-sized (docs containing a query term), not corpus-sized; df
    * and the avgdl/N scalars ride back as broadcasts; the final top-k is
    * TakeOrdered (no global sort). At 100 TB the one full scan is the
    * avgdl/dl pass — pre-computing dl at ingest (a `n_tokens` column)
    * removes it, and the candidate frames are what an inverted index
    * would serve. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int,
           k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    // default k1/b are chosen EXACTLY representable in binary (1.5, 0.75),
    // so every constant-folded subterm (k1+1 = 2.5, 1−b = 0.25) is the
    // same double in Spark and in the oracle's SQL literal — the engine-
    // exactness contract would silently weaken for a k1 like 1.2
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    require(queryTerms.size <= 2,
      "bm25: >2 query terms would make the per-doc double sum order-sensitive " +
        "(IEEE addition is not associative); extend with a fixed-order fold first")
    // per-term tf is ROW-LOCAL: the codegen'd token-in-set counter scans
    // the text once per term — no corpus explode, no posting-list shuffle
    // (the explode form moved every token through a (doc, term) aggregate
    // just to count ≤2 literal terms). The projected (doc, dl, tf…) frame
    // is persisted so the stats aggregate and the scorer share ONE scan;
    // the only exchange anywhere is the broadcast 1-row stats.
    val tfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      TextFns.tokenSetCount(col(textCol), Seq(t)).cast("long").as(s"__tf$i")
    }
    val proj = SessionFrames.track(docs.select(
      col(idCol).as("doc_id") +:
        size(TextFns.tokens(col(textCol))).cast("long").as("dl") +: tfCols: _*))
    val dfCols = queryTerms.indices.map(i =>
      sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val statAggs = sum(col("dl")).as("__sum_dl") +:
      count(lit(1)).as("__n_docs") +: dfCols
    val stats = broadcast(proj.agg(statAggs.head, statAggs.tail: _*))
    val avgdl = col("__sum_dl").cast("double") / col("__n_docs").cast("double")
    def termScore(i: Int): Column = {
      val idf = (col("__n_docs") - col(s"__df$i") + lit(0.5)) /
        (col(s"__df$i") + lit(0.5))
      val tfSat = (col(s"__tf$i").cast("double") * lit(k1 + 1.0)) /
        (col(s"__tf$i").cast("double") +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
      when(col(s"__tf$i") > 0, idf * tfSat).otherwise(lit(0.0))
    }
    // ≤2 terms ⇒ the fixed-order s0+s1 equals the posting-sum form bit for
    // bit (IEEE addition of two doubles is commutative)
    proj
      .crossJoin(stats)
      .withColumn("__score", queryTerms.indices.map(termScore).reduce(_ + _))
      .withColumn("n_terms",
        queryTerms.indices.map(i => (col(s"__tf$i") > 0).cast("long")).reduce(_ + _))
      .filter(col("n_terms") > 0) // docs with no query term never ranked
      .orderBy(col("__score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("__score").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_terms"),
        graft.Tables.rnd4(col("__score")).as("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * merge two top-k rankings of the same id space into one list by
    * `Σ 1/(c + rank)` — the standard hybrid-retrieval combiner (lexical
    * BM25 × a dense or quality ranking) that needs no score calibration
    * because it consumes only RANKS. Ids absent from one ranking
    * contribute 0 from that side (the usual convention).
    *
    * Shape: both inputs arrive already top-k'd (TakeOrdered upstream), so
    * everything here — the outer join, the fused sort — runs on ≤ 2k rows;
    * at 100 TB the cost lives in the rankers, never the fusion. The fused
    * score is a sum of two reciprocals of integer ranks: engine-exact
    * (IEEE addition of two terms is commutative, division of integers is
    * correctly rounded). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              rankA: String, rankB: String, c: Int = 60): DataFrame = {
    val fused =
      coalesce(lit(1.0) / (lit(c) + col(rankA)).cast("double"), lit(0.0)) +
        coalesce(lit(1.0) / (lit(c) + col(rankB)).cast("double"), lit(0.0))
    a.select(col(idCol), col(rankA))
      .join(b.select(col(idCol), col(rankB)), Seq(idCol), "full_outer")
      .withColumn("__f", fused)
      // no pre-sort: the global-window row_number below imposes the same
      // (single-partition) order itself; a global orderBy here only added
      // a redundant range exchange + its sampling job
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("__f").desc, col(idCol))).cast("long"))
      .select(col("fused_rank"), col(idCol), col(rankA), col(rankB),
        graft.Tables.rnd4(col("__f")).as("rrf_score"))
  }

  /** Per-doc shingle NOVELTY: of each document's distinct n-gram shingles,
    * how many occur in no other document — the corpus-diversity signal
    * (high novelty = genuinely new material; low = assembled from spans the
    * corpus already has) complementing pairwise dedup, which only sees
    * similarity concentrated in single pairs.
    *
    * Shape: the shingle explode is persisted and read twice (document
    * frequency aggregate + join-back — the [[topTerms]] df pattern: a
    * join-back lets AQE split a hot shingle's partition where a count
    * window could not). Two shingle-keyed exchanges + the per-doc rollup;
    * only (doc_id, hash) longs ride any of them. Zero-shingle docs
    * (shorter than n tokens) surface novelty 1000 — no evidence of
    * duplication. */
  def textNovelty(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = SessionFrames.track(docs
      .select(col(idCol).as("doc_id"),
        explode(TextFns.hashedShingles(col(textCol), n)).as("sh")))
    val dfTab = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val per = sh.join(dfTab, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty_permille",
        when(col("n_shingles") === 0L, lit(1000L))
          .otherwise(expr("n_unique * 1000 div n_shingles")))
  }

  /** End-to-end corpus preparation — the composed shape of a training-data
    * pipeline run: exact dedup → quality gate → stratified rebalance →
    * context-window packing, as ONE declarative plan.
    *
    * TWO exchanges total at any scale: the dedup digest shuffle and the
    * packing shard shuffle. The quality gate and the sampling filter are
    * pure per-row expressions fused into the scan/dedup stages (no
    * Exchange), and the stratum/quality columns ride the pack shuffle as
    * carried narrow columns — the full text never moves after the digest
    * shuffle. The quality threshold compares the ROUNDED score
    * ([[graft.Tables.rnd4]]), whose doubles are engine-identical, so the
    * boundary is deterministic for the oracle. */
  def corpusPrep(docs: DataFrame, idCol: String, textCol: String, stratumCol: String,
                 minQuality: Double, permille: Map[String, Int], defaultPermille: Int,
                 budgetTokens: Long, nShards: Int,
                 tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val survivors = Dedup.exactSurvivors(docs, textCol, idCol)
      .withColumn("quality", graft.Tables.rnd4(TextFns.qualityScore(col(textCol))))
      .filter(col("quality") >= lit(minQuality))
    val sampled = stratifiedSample(survivors, idCol, stratumCol, permille, defaultPermille)
      .drop("bucket")
    packWindows(sampled, idCol, textCol, budgetTokens, nShards,
      carry = Seq(stratumCol, "quality"), tokenCount = tokenCount)
  }

  /** Per-document ACCOUNTING for the [[corpusPrep]] pipeline — the lineage
    * table a data team audits: every input doc, its verdict (`duplicate` /
    * `low_quality` / `sampled_out` / `kept`, in the pipeline's stage
    * order), the survivor it lost to when deduplicated, and its token
    * mass. `sum(n_tokens) where kept` reconciles exactly against the prep
    * output; the drop reasons answer "where did my data go" without
    * re-running the pipeline with probes.
    *
    * Stage semantics are the SHARED definitions ([[Dedup.textDigest]],
    * [[graft.functions.TextFns.qualityScore]] rnd4'd, [[sampleBucket]]),
    * so the audit cannot drift from the pipeline it explains. The sample
    * bucket is a pure id function, so the `sampled_out` arm needs no
    * actual sampling run — verdict precedence reproduces the stage order.
    *
    * Shape: ONE exchange (the dedup digest window — the same shuffle the
    * pipeline itself pays); everything else is row-local. */
  def prepAudit(docs: DataFrame, idCol: String, textCol: String, stratumCol: String,
                minQuality: Double, permille: Map[String, Int], defaultPermille: Int,
                tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val wd = Window.partitionBy(Dedup.textDigest(textCol))
    val rate = permille.toSeq.sortBy(_._1).foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, p)) => when(col(stratumCol) === stratum, p).otherwise(acc)
    }
    docs
      .withColumn("survivor_id", min(col(idCol)).over(wd))
      .withColumn("quality", graft.Tables.rnd4(TextFns.qualityScore(col(textCol))))
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("verdict",
        when(col("survivor_id") =!= col(idCol), "duplicate")
          .when(col("quality") < minQuality, "low_quality")
          .when(sampleBucket(col(idCol)) >= rate, "sampled_out")
          .otherwise("kept"))
      .select(col(idCol), col(stratumCol).as("stratum"), col("survivor_id"),
        col("quality"), col("n_tokens"), col("verdict"),
        (col("verdict") === "kept").as("kept"))
  }

  /** Length-bucketed batching plan — the pad-waste profile a loader uses
    * to batch variable-length docs efficiently: each doc lands in the
    * smallest power-of-two token bucket that holds it (clamped to
    * [`minCap`, `maxCap`]; docs beyond `maxCap` truncate), and per bucket
    * the plan reports doc/batch counts plus the padding and truncation
    * token mass that bucketing choice costs. Minimizing `pad_tokens`
    * across bucket configs is the standard "bucketed batching" tuning
    * loop (the fewer buckets, the more padding; this emits the curve's
    * data points for one config).
    *
    * Shape: one corpus scan; the bucket label is a pure per-row CASE over
    * ~`log2(maxCap/minCap)` branches, and the rollup is a map-side-combined
    * aggregate onto a handful of bucket rows — no data-sized shuffle at any
    * scale. All outputs integer (the ratio column is left to the caller),
    * so the plan is engine-exact. */
  def lengthBuckets(docs: DataFrame, textCol: String,
                    minCap: Long = 32L, maxCap: Long = 2048L, batchDocs: Long = 16L,
                    tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    require(minCap > 0 && maxCap >= minCap,
      s"lengthBuckets: need 0 < minCap <= maxCap, got ($minCap, $maxCap)")
    require(batchDocs > 0, s"lengthBuckets: batchDocs must be positive, got $batchDocs")
    val caps = Iterator.iterate(minCap)(_ * 2).takeWhile(_ < maxCap).toSeq :+ maxCap
    val tok = tokenCount(col(textCol))
    // smallest cap that holds the doc; oversize clamps to maxCap (truncation)
    val cap = caps.init.reverse.foldLeft(lit(maxCap)) {
      case (acc, c) => when(tok <= c, c).otherwise(acc)
    }
    docs
      .select(tok.as("n_tokens"), cap.as("bucket_cap"))
      .groupBy(col("bucket_cap"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("bucket_cap") - least(col("n_tokens"), col("bucket_cap")))
          .as("pad_tokens"),
        sum(greatest(col("n_tokens") - lit(maxCap), lit(0L))).as("trunc_tokens"))
      .withColumn("n_batches", expr(s"(n_docs + ${batchDocs - 1}L) div ${batchDocs}L"))
  }

  /** Temperature-scaled source-mixture plan (the mT5/multilingual data-
    * balancing standard, Xue et al. 2021 §3.1 shape with α = 1/2): target
    * share of stratum i ∝ mass_i^α — big sources are damped, small ones
    * lifted, without the hand-set per-stratum targets of the fixed-target
    * mix plan. α is fixed at 1/2 because `sqrt` is IEEE-correctly-rounded
    * in both engines (a general `pow` is not), which is what keeps the
    * plan oracle-exact: weight = ⌊√mass · 10⁴⌋ is integer from there on,
    * and shares/repeat factors are integer micromille/millis divisions.
    * Valid while `n_tokens` per stratum < 2⁵³ (≈ 9e15 tokens ≈ 36 PB of
    * text — beyond the 100 TB design point).
    *
    * Shape: one map-side-combined aggregate onto a stratum-count-sized
    * frame, then a broadcast 1-row total — no data-sized shuffle; the
    * repeat factor feeds [[mixBucket]]-style application exactly like the
    * fixed-target plan. */
  def temperatureMix(docs: DataFrame, stratumCol: String, textCol: String,
                     tokenCount: Column => Column = TextFns.bpeEstimate): DataFrame = {
    val per = docs.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double")) * lit(10000.0)).cast("long"))
    val tot = broadcast(per.agg(
      sum(col("n_tokens")).as("__tot_tokens"), sum(col("weight")).as("__tot_weight")))
    per.crossJoin(tot)
      .select(col("stratum"), col("n_docs"), col("n_tokens"), col("weight"),
        expr("(n_tokens * 1000000L) div __tot_tokens").as("actual_mmille"),
        expr("(weight * 1000000L) div __tot_weight").as("target_mmille"),
        // repeat factor in millis off the integer shares (±1‰ resolution:
        // plenty for an oversample dial, and no FP division can drift)
        expr("((weight * 1000000L) div __tot_weight) * 1000L " +
          "div greatest((n_tokens * 1000000L) div __tot_tokens, 1L)")
          .as("repeat_millis"))
  }

  /** Data-constrained EPOCH ALLOCATION over a mixture plan (the planning
    * op of Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models": repeating data holds value for ~4 epochs, so a budget is
    * filled per source up to an epoch cap and the unfillable remainder is
    * surfaced instead of silently over-repeated). Input is a
    * [[temperatureMix]]-shaped frame (stratum, n_tokens, target_mmille);
    * per stratum:
    *  - desired = target share of the budget (budget = `budgetPct`% of the
    *    corpus' total tokens — >100 means a multi-epoch run);
    *  - epochs_milli = min(cap, desired/available) in millis;
    *  - alloc = min(desired, cap × available); shortfall = desired − alloc
    *    (what must come from NEW data, the paper's headline quantity).
    * Every step is a floor division of non-negative integers — truncating
    * and flooring engines agree, so the whole plan is oracle-exact. Shape:
    * a stratum-count-sized frame crossed with a broadcast 1-row total. */
  def epochAllocation(mix: DataFrame, budgetPct: Int = 200,
                      capMilli: Long = 4000L): DataFrame = {
    val tot = broadcast(mix.agg(sum(col("n_tokens")).as("__tot")))
    mix.crossJoin(tot)
      .select(col("stratum"), col("n_tokens"), col("target_mmille"),
        expr(s"(target_mmille * ((__tot * ${budgetPct}L) div 100L)) div 1000000L")
          .as("desired_tokens"))
      .select(col("stratum"), col("n_tokens"), col("target_mmille"),
        col("desired_tokens"),
        least(lit(capMilli),
          expr("(desired_tokens * 1000L) div greatest(n_tokens, 1L)"))
          .as("epochs_milli"),
        least(col("desired_tokens"), expr(s"(n_tokens * ${capMilli}L) div 1000L"))
          .as("alloc_tokens"))
      .withColumn("shortfall_tokens", col("desired_tokens") - col("alloc_tokens"))
  }

  /** Curriculum-stage assignment (the curriculum-learning data ordering of
    * Bengio et al. 2009, as a pipeline op): rank every doc by a difficulty/
    * quality score and split the ranking into `k` stages — stage 0 trains
    * first. Assignment is by cumulative count of STRICTLY-lower scores
    * (`stage = docs_below · k div total`), so equal scores always share a
    * stage (deterministic under ties; stage widths flex around heavy ties
    * rather than splitting them arbitrarily).
    *
    * Scale shape: the score histogram is a map-side-combined aggregate onto
    * the score DOMAIN (callers pass a [[graft.Tables.rnd4]]'d score, so the
    * domain is ≤ 10⁴ rows — corpus-size-INDEPENDENT); the cumulative window
    * runs over that tiny frame (single-partition by construction, bounded by
    * the domain, never by the corpus) and broadcasts back onto the docs as
    * an equi-join on the score. Two small exchanges total; the corpus never
    * sorts. Identical-op-order scores make the join keys bit-identical on
    * both engines (the rnd4 contract). */
  def curriculumStages(docs: DataFrame, score: Column, k: Int): DataFrame = {
    require(k >= 1, s"curriculumStages: k must be ≥ 1, got $k")
    val generated = Seq("score", "stage").filter(docs.columns.contains)
    require(generated.isEmpty,
      s"curriculumStages generates $generated; rename the input's column(s)")
    // persisted: the cumulative window, the total, and the stage join all
    // read ONE materialization of the domain histogram — unpersisted, each
    // branch re-scans the corpus to rebuild it (6 scans observed for the
    // curriculum entry; 2 with the persist: histogram fill + join-back).
    // Domain-sized (≤ 10⁴ rows), drained by Bench/Verify between queries.
    val hist = SessionFrames.track(docs.select(score.as("score"))
      .groupBy(col("score")).agg(count(lit(1)).as("n")))
    val below = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = broadcast(hist.agg(sum(col("n")).as("__total")))
    val staged = hist
      .withColumn("docs_below", coalesce(sum(col("n")).over(below), lit(0L)))
      .crossJoin(total)
      .select(col("score"), expr(s"docs_below * ${k}L div __total").as("stage"))
    docs.withColumn("score", score)
      .join(broadcast(staged), Seq("score"))
  }

  // -- distributed BPE merge learning (Sennrich et al. 2016) -----------------

  /** Symbol wrappers for the BPE training state: every symbol rides inside
    * one string per token as RS·sym·US, so applying the merge (a, b) is a
    * plain `replace` of RS·a·US·RS·b·US with RS·ab·US. The wrappers make a
    * match start/end unambiguous, and string replace scans left-to-right
    * over non-overlapping occurrences in both Spark (UTF8String.replace)
    * and ANSI SQL engines — which IS BPE's leftmost-first merge order, so
    * the whole training loop replays exactly in the oracle's recursive CTE
    * (the greedy-packing replay pattern). Tokens containing either marker
    * code point are excluded from the vocabulary (a guard, not a
    * restriction: U+001E/U+001F don't occur in text). */
  private[graft] val SymOpen = "\u001e"  // RS
  private[graft] val SymClose = "\u001f" // US

  /** Learn the first `nMerges` BPE merges from a corpus — the counting +
    * argmax training loop of Sennrich et al. 2016 §3.2 (whose output merge
    * list is what [[graft.functions.BpeMergeCount]] applies; together they
    * are tokenizer train-then-apply). Returns one row per learned merge:
    * (merge_rank, sym_a, sym_b, merged, n_occ), rank 1 = first merge,
    * n_occ = the pair's tf-weighted occurrence count when chosen. Ties
    * break on (sym_a, sym_b) so the list is engine-deterministic.
    *
    * Scale shape: corpus-sized work is exactly ONE token-tf aggregate
    * (map-side combined); every iteration after it runs over the DISTINCT-
    * token vocabulary — corpus-size-independent, the 100 TB posture (a
    * trillion-token corpus has a ~10M-row vocab). The per-iteration argmax
    * plans as TakeOrdered(1) and is broadcast back onto the vocab, so
    * nothing data-sized ever collects to the driver; each round's state is
    * lineage-cut exactly like [[Dedup.clusterRounds]] (localCheckpoint in
    * local mode, reliable checkpoint — required — on a cluster), previous
    * rounds' blocks released as soon as the next round materializes. The
    * loop ends early if the vocabulary runs out of pairs. Vocabs at or
    * under `localSolveMaxVocab` skip the rounds entirely and solve on the
    * driver over a bounded-by-construction collect ([[LocalSolveMaxVocab]]);
    * both paths are output-identical. */
  /** Vocab-size ceiling for [[bpeTrain]]'s single-task fast path (the
    * [[Dedup.LocalSolveMaxEdges]] pattern): at or below it the merge loop
    * runs locally over the collected vocab — bounded by construction —
    * replacing ~2·nMerges × job-latency with microseconds; above it the
    * distributed rounds run. Both paths share the pair counts, the
    * (count desc, a, b) tie-break, and leftmost-first application, so they
    * are output-identical (spec-pinned on the same corpus). */
  val LocalSolveMaxVocab: Long = 65536L

  /** Leftmost-first non-overlapping application of merge (a, b) — the
    * local twin of the wrapped-string `replace` (same scan order, so the
    * same result; the `aaa` self-pair case is the distinguishing input). */
  private def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val buf = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        buf += a + b; i += 2
      } else { buf += syms(i); i += 1 }
    }
    buf.result()
  }

  /** Driver-local merge loop over the collected wrapped vocab. */
  private def localTrain(vocab: Array[(Long, String)],
                         nMerges: Int): Seq[(Long, String, String, String, Long)] = {
    val sep = java.util.regex.Pattern.quote(SymClose + SymOpen)
    var state = vocab.map { case (tf, s) =>
      (tf, s.substring(1, s.length - 1).split(sep)) }
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((tf, syms) <- state; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + tf))
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((rank.toLong, a, b, a + b, n))
        state = state.map { case (tf, syms) => (tf, applyMerge(syms, a, b)) }
      }
      rank += 1
    }
    out.result()
  }

  def bpeTrain(docs: DataFrame, nMerges: Int,
               tokens: Column => Column = TextFns.tokens,
               localSolveMaxVocab: Long = LocalSolveMaxVocab): DataFrame = {
    val spark = docs.sparkSession
    val sc = spark.sparkContext
    val localMaster = sc.master.startsWith("local")
    if (!localMaster && sc.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "bpeTrain on a cluster requires sparkContext.setCheckpointDir on SHARED storage: " +
          "per-round reliable checkpoints on a driver-local path are silently " +
          "unrecoverable after executor loss")
    val (cut, release): (DataFrame => DataFrame, DataFrame => Unit) =
      if (localMaster && sc.getCheckpointDir.isEmpty)
        (df => df.localCheckpoint(eager = true), SessionFrames.releaseBlocks)
      else (df => df.checkpoint(eager = true), _ => ())

    // single-char tokens never produce a pair — drop them from the state
    var state = cut(
      docs.select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
        .filter(length(col("token")) >= 2 &&
          !col("token").contains(SymOpen) && !col("token").contains(SymClose))
        .select(col("tf"),
          regexp_replace(col("token"), "(.)", SymOpen + "$1" + SymClose).as("s")))

    // Single-task fast path: when the vocab fits one task comfortably, the
    // whole loop runs locally over the collected (tf, state) rows — the
    // collect is bounded by `localSolveMaxVocab` BY CONSTRUCTION (the
    // Dedup local-solve standard); the count is one job over the already-
    // materialized cut.
    if (state.count() <= localSolveMaxVocab) {
      val rows = state.collect().map(r => (r.getLong(0), r.getString(1)))
      release(state)
      import spark.implicits._
      val out = SessionFrames.track(graft.Tables.orderedReport(
        localTrain(rows, nMerges)
          .toDF("merge_rank", "sym_a", "sym_b", "merged", "n_occ"),
        "merge_rank"))
      out.count()
      return out
    }

    // the chosen pair's replace pattern/replacement, as columns of `best`
    val pat = concat(lit(SymOpen), col("a"), lit(SymClose),
      lit(SymOpen), col("b"), lit(SymClose))
    val rep = concat(lit(SymOpen), col("a"), col("b"), lit(SymClose))
    val syms = split(expr("substring(s, 2, length(s) - 2)"),
      java.util.regex.Pattern.quote(SymClose + SymOpen))

    val mergeRows = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val bestFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val best = cut(state
        .select(col("tf"), syms.as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("tf"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(element_at(sy, i) AS a, element_at(sy, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("tf").as("n_occ"))
        .orderBy(col("n_occ").desc, col("a"), col("b"))
        .limit(1))
      // bounded driver check on an already-materialized 1-row frame (the
      // IVF-centroid standard): the LOOP must know the vocab ran dry
      if (best.isEmpty) exhausted = true
      else {
        bestFrames += best
        mergeRows += best.select(lit(rank.toLong).as("merge_rank"),
          col("a").as("sym_a"), col("b").as("sym_b"),
          concat(col("a"), col("b")).as("merged"), col("n_occ"))
        val next = cut(state.crossJoin(broadcast(best))
          .select(col("tf"), replace(col("s"), pat, rep).as("s")))
        release(state)
        state = next
      }
      rank += 1
    }
    release(state)
    // pin the (≤ nMerges)-row result into a caller-drained persist, then
    // free the per-round 1-row checkpoint blocks it was computed from
    val merges = mergeRows.reduceOption(_ union _).getOrElse(
      spark.createDataFrame(sc.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "merge_rank BIGINT, sym_a STRING, sym_b STRING, merged STRING, n_occ BIGINT")))
      .transform(graft.Tables.orderedReport(_, "merge_rank"))
    val out = SessionFrames.track(merges)
    out.count()
    bestFrames.foreach(release)
    out
  }
}
