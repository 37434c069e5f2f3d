package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Multimodal

/** Incremental IMAGE near-duplicate detection at ingest (SURVEY §2.7 ×
  * §2.8) — the streaming twin of `ext_multimodal_dedup`, and the pHash
  * analogue of [[NeardupStream]]: images arrive on the same at-least-once
  * ingest as text, each new payload is decoded to its 60-bit perceptual
  * hash ONCE ([[Multimodal.imageHashes]] — the expensive half), the
  * hash's 6 LSH bands probe the accumulated band index, Hamming-verified
  * pairs land in a pair table, and the index absorbs the batch — so a
  * duplicate image is known the moment the second copy arrives. Banding
  * is LOSSLESS here (≤ [[MaxHamming]] < 6 flipped bits leaves ≥ 1
  * untouched 10-bit band by pigeonhole — [[Multimodal.phashPairs]]'s
  * argument), so the stream converges to exactly the batch tier's pairs.
  *
  * State rides [[AppendState]] (append-only deltas, atomic publish,
  * merge-on-read), per-batch I/O O(batch):
  *  - `docs`: (doc_id, source, n_chars) metadata ledger — the report must
  *    weight EVERY doc ever delivered (singletons keep weight 1) and the
  *    cross-source matrix must label both ends of a pair even when one
  *    arrived months earlier; appended FIRST so a crash window can only
  *    leave a doc-without-pairs (a singleton until the replay lands),
  *    never a pair member with no doc row (silent under-count) — the
  *    [[NeardupStream]] meta-first discipline.
  *  - `index`: (doc_id, band, __key, phash) — 6 band rows per doc, a
  *    [[Monitor.Postings]] bucketed on `__key` (as [[NeardupStream]]'s
  *    is on `sh`), so a batch's posting fetch prunes whole delta files
  *    (PartitionFilters). Distinct-on-read.
  *    Deliberately SLIM — features live once per doc in `feat`, never 6×
  *    in the band rows.
  *  - `feat`: (doc_id, feat, ‖feat‖²) — the doc-keyed integer-feature
  *    ledger backing the SEMANTIC verify ([[newSemPairs]]); zero-norm
  *    rows are not stored (they can never pair). Appended before any
  *    pair append. (Dirs written before this ledger existed keep serving
  *    the Hamming tier; the semantic tier needs the features from batch
  *    0, so such a dir is rebuilt by replay — state dir and checkpoint
  *    live and die as a unit.)
  *  - `pairs`: (doc_a < doc_b, hamming). A pair is a PURE function of the
  *    two payloads' hashes, so redelivery/splits recompute byte-equal
  *    rows and the distinct merge-on-read collapses them.
  *  - `sem_pairs`: (doc_a < doc_b, cosine ≥ [[MinCosine]]) — the SAME
  *    band probe verified by cosine over the feature ledger instead of
  *    Hamming over the folded bits (`ext_multimodal_semdedup`'s split:
  *    rescaled/shifted duplicates live past 5 flipped bits); pure per
  *    payload pair, distinct-merged like `pairs`.
  * Convergence: pair (a, b) is emitted by the batch that completes it —
  * the probe side carries the new doc's bands, the index side the older
  * doc's, and both rows carry the FULL hash, so the Hamming verify is
  * exact regardless of how arrivals were split across batches.
  *
  * 100 TB shape, per batch: decode is one mapPartitions pass over the
  * batch's payloads; the probe joins the batch's ≤ 6·|batch| band rows
  * against the bucket-pruned posting slice; candidates are Σ bucket² per
  * band (bounded by hash diversity, the batch tier's argument); the only
  * writes are the three O(batch) deltas, auto-folded by
  * [[AppendState.DefaultCompactEvery]].
  *
  * Batch/stream unification: the decision report is
  * [[Multimodal.softDedup]] shared VERBATIM with `ext_multimodal_dedup`,
  * so the two forms share ONE oracle SQL. The batch-replay form is
  * oracle-gated as `stream_multimodal_dedup` over a DOUBLED delivery
  * (hash rows are pure per doc — the distinct membership collapses it);
  * live restart / cross-batch completion / redelivery in StreamingSpec. */
object MultimodalDedupStream {

  /** Pairs at Hamming ≤ 5 are near-dups — [[Multimodal.phashPairs]]'s
    * lossless-banding bound (6 bands × 10 bits). */
  val MaxHamming = 5

  /** Sem-pair acceptance: cosine ≥ 0.9 over the integer features —
    * [[Multimodal.semPairs]]'s default, the batch twin's bound. */
  val MinCosine = 0.9

  /** One decoded fingerprint row per payload — [[Multimodal
    * .imageFeatures]] over the batch (partition-parallel decode; the
    * expensive half): (doc_id, phash, feat, ‖feat‖²). BOTH dedup tiers
    * (Hamming bands, semantic cosine) ride this one decode. */
  def featRows(batchDocs: DataFrame): DataFrame =
    Multimodal.imageFeatures(batchDocs)(batchDocs.sparkSession)

  /** A hash frame fanned out to its 6 LSH band rows — the probe unit and
    * the index-state row shape (each row carries the full hash for the
    * exact Hamming verify at probe time). */
  def bandRows(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("phash"),
      explode(sequence(lit(0), lit(5))).as("band"))
      .withColumn("__key", expr("(phash >> (band * 10)) & 1023"))

  /** Pairs completed by this batch: probe bands ⋈ merged-index bands on
    * (band, key), exact `bit_count(xor)` verify, min/max-normalized and
    * distinct'd (the `=!=` join emits new-new pairs in both directions;
    * redelivered duplicate index rows collapse here too). Output schema
    * is [[Multimodal.phashPairs]]'s — (doc_a, doc_b, hamming). */
  def newPairs(batchBands: DataFrame, mergedBands: DataFrame,
               maxHamming: Int = MaxHamming): DataFrame =
    batchBands.as("a").join(mergedBands.as("b"),
        col("a.band") === col("b.band") && col("a.__key") === col("b.__key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** SEMANTIC pairs completed by this batch — the streaming twin of
    * [[Multimodal.semPairs]], split across the slim band index and the
    * doc-keyed feature ledger: the SAME band probe that serves the
    * Hamming tier yields candidates (NO hamming cap — a rescaled
    * duplicate lives past 5 flipped bits), verified by the exact
    * integer-dot cosine ≥ `minCosine` over the ledger features. Pure per
    * payload pair → byte-equal on every delivery → the distinct merge
    * collapses redelivery, exactly like the Hamming pairs.
    *
    * Plan shape (r17): the ledger features attach to the SLIM band rows
    * BEFORE the band self-join — a doc-keyed join of O(6·|docs|) rows —
    * and the candidate stream consumes them in-flight (dot + cosine
    * verdict between the join and the survivor distinct, the batch
    * twin's shape). The first cut attached features PER CANDIDATE: two
    * doc-keyed shuffles of the Σ bucket² candidate stream, each row
    * dragging a 60-long array — ~2.3 GB exchanged at the 5 k-doc fixture
    * (42.8 s vs the batch twin's 0.6 s), and candidates ≫ 6·|docs| at
    * any scale, so per-row attach is strictly worse everywhere (guide
    * §8: decide on small rows, move heavy bytes once). Zero-norm docs
    * (absent from the ledger) drop at the attach exactly as they dropped
    * at the per-candidate inner join; the index state itself stays slim
    * — the fan-out is in-flight only, never stored. */
  def newSemPairs(batchBands: DataFrame, mergedBands: DataFrame,
                  feats: DataFrame, minCosine: Double = MinCosine): DataFrame = {
    val ledger = feats.select(col("doc_id"), col("feat"), col("__n2"))
    def withFeat(bands: DataFrame): DataFrame =
      bands.select(col("doc_id"), col("band"), col("__key")).join(ledger, "doc_id")
    withFeat(batchBands).as("a").join(withFeat(mergedBands).as("b"),
        col("a.band") === col("b.band") && col("a.__key") === col("b.__key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        graft.functions.VectorFns.longDot(col("a.feat"), col("b.feat"))
          .as("__dot"),
        col("a.__n2").as("__na"), col("b.__n2").as("__nb"))
      .withColumn("cosine",
        col("__dot").cast("double") /
          sqrt(col("__na").cast("double") * col("__nb").cast("double")))
      .filter(col("cosine") >= minCosine)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
      .distinct()
  }

  // the membership sub-states, one dir each under the target; both pair
  // states merge by distinct, as their rows are byte-equal on every
  // delivery (each is a pure function of the two payloads)
  private[graft] val Docs = new Monitor.Members("doc_id BIGINT, source STRING, n_chars BIGINT")
  private[graft] val Pairs = new Monitor.Members("doc_a BIGINT, doc_b BIGINT, hamming BIGINT")
  private val Feats = new Monitor.Members("doc_id BIGINT, feat ARRAY<BIGINT>, __n2 BIGINT")
  private[graft] val SemPairs = new Monitor.Members("doc_a BIGINT, doc_b BIGINT, cosine DOUBLE")
  private val Index = new Monitor.Postings("__key")

  /** The per-doc metadata ledger (doc_id, source, n_chars), distinct —
    * ~16 bytes + the source string per doc ever delivered, never the
    * payload; empty before the first batch. */
  def docState(spark: SparkSession, targetDir: String): DataFrame =
    Docs.state(spark, s"$targetDir/docs")

  /** The LIVE pair table (distinct-merge-on-read over the deltas). */
  def pairState(spark: SparkSession, targetDir: String): DataFrame =
    Pairs.state(spark, s"$targetDir/pairs")

  /** The doc-keyed FEATURE ledger backing the semantic verify — one
    * (doc_id, feat, ‖feat‖²) row per non-degenerate doc ever delivered
    * (zero-norm features can never pair, so they are not stored);
    * distinct-on-read. ~60 longs per doc — the same order as the
    * metadata ledger, and stored ONCE, never fanned into the band rows. */
  def featState(spark: SparkSession, targetDir: String): DataFrame =
    Feats.state(spark, s"$targetDir/feat")

  /** The LIVE semantic pair table (distinct-merge-on-read). */
  def semPairState(spark: SparkSession, targetDir: String): DataFrame =
    SemPairs.state(spark, s"$targetDir/sem_pairs")

  /** The live keep/reweight decision grid — [[Multimodal.softDedup]]
    * (shared verbatim with the batch `ext_multimodal_dedup`) over the
    * maintained doc ledger + pair state. Readable at any moment. */
  def report(spark: SparkSession, targetDir: String): DataFrame =
    Multimodal.softDedup(docState(spark, targetDir), pairState(spark, targetDir))

  /** The live SEMANTIC keep/reweight grid — [[Multimodal.softDedup]]
    * (shared verbatim with the batch `ext_multimodal_semdedup`) over the
    * SAME doc ledger plus the cosine-verified pair state: the
    * one-state-many-reports discipline, fourth report off this stream's
    * state. */
  def semReport(spark: SparkSession, targetDir: String): DataFrame =
    Multimodal.softDedup(docState(spark, targetDir), semPairState(spark, targetDir))

  /** Cross-source IMAGE-duplication matrix off the SAME live pair +
    * metadata states ([[graft.operators.Dedup.crossSourceMatrix]] —
    * shared verbatim with the batch `ext_multimodal_cross_source`, the
    * one-state-many-reports discipline): a crawl snapshot that mirrors
    * another's image assets shows up as its off-diagonal cell grows,
    * batch by batch. */
  def crossSource(spark: SparkSession, targetDir: String): DataFrame =
    graft.operators.Dedup.crossSourceMatrix(
      pairState(spark, targetDir), docState(spark, targetDir))

  /** Fold all three states' deltas ([[AppendState.compact]] — run from
    * [[applyBatch]] once `compactEvery` deltas accumulate on the index). */
  def compact(spark: SparkSession, targetDir: String): Unit = {
    Index.compact(spark, s"$targetDir/index")
    Docs.compact(spark, s"$targetDir/docs")
    Pairs.compact(spark, s"$targetDir/pairs")
    Feats.compact(spark, s"$targetDir/feat")
    SemPairs.compact(spark, s"$targetDir/sem_pairs")
  }

  /** One micro-batch apply: decode the batch's hashes ONCE, append the
    * metadata ledger first (crash-window ordering), then the batch's band
    * rows, probe the now-merged bucket-pruned index, append the completed
    * pairs. A crash between appends replays cleanly: earlier appends no-op
    * and the pair recompute is deterministic. `batchDocs` must carry the
    * docs-file schema ([[CorpusIngest.docsFileSchema]] — doc_id, text,
    * lang, source, n_chars): the ledger needs source/n_chars. */
  def applyBatch(spark: SparkSession, batchDocs: DataFrame, targetDir: String,
                 batchId: Long, maxHamming: Int = MaxHamming,
                 compactEvery: Int = AppendState.DefaultCompactEvery,
                 minCosine: Double = MinCosine): Unit = {
    val feats = featRows(batchDocs).dropDuplicates("doc_id").localCheckpoint(true)
    AppendState.append(
      batchDocs.select(col("doc_id"), col("source"), col("n_chars")).distinct(),
      s"$targetDir/docs", batchId)
    // feature ledger BEFORE any pair append (the meta-first discipline
    // extended: a sem pair must never land before both ends' features) —
    // zero-norm features can never pair and are not stored
    AppendState.append(
      feats.filter(col("__n2") > 0).select(col("doc_id"), col("feat"), col("__n2")),
      s"$targetDir/feat", batchId)
    val batchBands = bandRows(feats.select(col("doc_id"), col("phash"))).localCheckpoint(true)
    Index.append(batchBands, s"$targetDir/index", batchId)
    // duplicate postings stay in the probe: newPairs' distinct absorbs them
    val merged = Index.probe(spark, s"$targetDir/index", batchBands).getOrElse(batchBands)
      .localCheckpoint(true) // BOTH tiers probe it; materialize the fetch once
    val fresh = newPairs(batchBands, merged, maxHamming)
    AppendState.append(fresh.localCheckpoint(true), s"$targetDir/pairs", batchId)
    val freshSem = newSemPairs(batchBands, merged,
      featState(spark, targetDir), minCosine)
    AppendState.append(freshSem.localCheckpoint(true), s"$targetDir/sem_pairs", batchId)
    if (AppendState.compactionDue(s"$targetDir/index", compactEvery))
      compact(spark, targetDir)
  }

  /** Start the ingest image-dedup stream: document source dir (the
    * [[CorpusIngest.docsFileSchema]] ingest — payloads via
    * [[Multimodal.withMediaColumn]]) → per-batch decode + band probe →
    * (docs, index, pairs) append-only state under `targetDir`
    * ([[report]] reads it any time). */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            maxHamming: Int = MaxHamming,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(CorpusIngest.docStream(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _, maxHamming, compactEvery))
}
