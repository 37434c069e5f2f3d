package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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
  *  - `index`: (doc_id, band, __key, phash) — 6 band rows per doc,
  *    partitionBy'd on `bucket = pmod(__key, IndexBuckets)` so a batch's
  *    posting fetch prunes whole delta files (PartitionFilters), the
  *    [[NeardupStream.IndexBuckets]] layout discipline. Distinct-on-read.
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

  /** Band-key bucket count for the index state's file layout (the
    * [[NeardupStream.IndexBuckets]] discipline): deltas and bases are
    * partitionBy'd on `pmod(__key, IndexBuckets)` so the probe prunes to
    * the batch's buckets before the posting join runs. */
  val IndexBuckets = 16

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

  private def bucketed(bands: DataFrame): DataFrame =
    bands.withColumn("bucket",
      pmod(col("__key"), lit(IndexBuckets.toLong)).cast("int"))

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

  /** Idempotent pair merge — rows are byte-equal on every delivery (the
    * hash is a pure function of the payload), so distinct collapses any
    * multiplicity and order. Serves BOTH pair states (hamming and
    * semantic — each is a pure function of the two payloads). */
  def mergePairs(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionByName(batch).distinct()

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

  /** The per-doc metadata ledger (doc_id, source, n_chars), distinct —
    * ~16 bytes + the source string per doc ever delivered, never the
    * payload; empty before the first batch. */
  def docState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/docs")
      .map(_.distinct())
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), col("id").as("n_chars")))

  /** The LIVE pair table (distinct-merge-on-read over the deltas). */
  def pairState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/pairs")
      .map(_.distinct())
      .getOrElse(spark.range(0).select(col("id").as("doc_a"),
        col("id").as("doc_b"), lit(0L).as("hamming")))

  /** The doc-keyed FEATURE ledger backing the semantic verify — one
    * (doc_id, feat, ‖feat‖²) row per non-degenerate doc ever delivered
    * (zero-norm features can never pair, so they are not stored);
    * distinct-on-read. ~60 longs per doc — the same order as the
    * metadata ledger, and stored ONCE, never fanned into the band rows. */
  def featState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/feat")
      .map(_.distinct())
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        array().cast("array<bigint>").as("feat"), lit(0L).as("__n2")))

  /** The LIVE semantic pair table (distinct-merge-on-read). */
  def semPairState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/sem_pairs")
      .map(_.distinct())
      .getOrElse(spark.range(0).select(col("id").as("doc_a"),
        col("id").as("doc_b"), lit(0.0).as("cosine")))

  /** The probe-facing index view, PRUNED to the given buckets via the
    * partition column (whole delta files skip) — duplicate rows stay;
    * [[newPairs]]'s distinct absorbs them. */
  private def indexForBuckets(spark: SparkSession, targetDir: String,
                              buckets: Seq[Int]): Option[DataFrame] =
    AppendState.raw(spark, s"$targetDir/index")
      .map(_.filter(col("bucket").isin(buckets: _*))
        .select(col("doc_id"), col("phash"), col("band"), col("__key")))

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
    AppendState.compact(spark, s"$targetDir/index", _.distinct(),
      partitionCols = Seq("bucket"))
    AppendState.compact(spark, s"$targetDir/docs", _.distinct())
    AppendState.compact(spark, s"$targetDir/pairs", _.distinct())
    AppendState.compact(spark, s"$targetDir/feat", _.distinct())
    AppendState.compact(spark, s"$targetDir/sem_pairs", _.distinct())
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
    val batchBands =
      bucketed(bandRows(feats.select(col("doc_id"), col("phash")))).localCheckpoint(true)
    AppendState.append(batchBands, s"$targetDir/index", batchId,
      partitionCols = Seq("bucket"))
    // the partition filter is decided by an IndexBuckets-bounded collect;
    // lossless: a posting matching a batch band key is in a batch bucket
    val batchBuckets =
      batchBands.select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq
    val merged = indexForBuckets(spark, targetDir, batchBuckets)
      .getOrElse(batchBands.select(col("doc_id"), col("phash"), col("band"), col("__key")))
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
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery = {
    val raw = spark.readStream.schema(CorpusIngest.docsFileSchema).parquet(sourceDir)
    val trigger =
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime("5 seconds")
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, targetDir, batchId, maxHamming, compactEvery)
      }
      .start()
  }
}
