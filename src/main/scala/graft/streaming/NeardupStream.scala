package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.functions.TextFns

/** Incremental near-duplicate detection at INGEST (SURVEY §2.7 × §2.8) —
  * the place a 100 TB pipeline actually runs dedup: as documents arrive
  * (at-least-once), each new doc's shingles probe the accumulated
  * inverted index, exact-Jaccard-verified pairs land in a pair table, and
  * the index absorbs the batch — so duplication is known the moment the
  * second copy arrives, not at the next full-corpus batch job.
  *
  * State rides [[AppendState]] (append-only deltas, atomic publish,
  * merge-on-read), so per-batch I/O is O(batch), not O(corpus):
  *  - `index`: distinct (doc_id, 3-shingle-hash) rows — the same int64
  *    shingle rep as [[graft.operators.Dedup]]. Each batch APPENDS only its
  *    own batch-local-distinct rows; cross-delta duplicates from
  *    redelivery collapse through [[indexState]]'s distinct-on-read (or a
  *    periodic [[compact]]) — and [[newPairs]] itself is duplicate-TOLERANT
  *    (per-pair/per-shingle counts are countDistinct), so the probe reads
  *    the RAW delta union and never pays a corpus-wide distinct.
  *  - `sizes`: (doc_id, n distinct shingles) — a doc's set size is fixed
  *    at arrival, so it is STATE maintained with an O(batch) aggregate,
  *    not re-derived from the corpus-sized index every batch.
  *  - `pairs`: (doc_a < doc_b, jaccard). A pair is a PURE function of the
  *    two documents' full shingle sets, so any redelivery/split recomputes
  *    byte-equal rows and the keyed min-merge-on-read collapses them —
  *    the [[Decontam]] exactly-once-from-at-least-once argument.
  * Convergence to the batch answer: pair (a, b) is emitted by the batch
  * that completes the pair — when the LATER of a, b first enters the
  * index (the probe side carries the new doc's FULL shingle set, the
  * index side the older doc's full set, so the intersection count is
  * exact regardless of how arrivals were split across batches).
  *
  * Candidate generation carries the stop-shingle cap of the batch tiers:
  * candidates come only from shingles with arrival-time df in [2, maxDf]
  * (df-1 shingles can't form a cross-doc pair; df > maxDf shingles are
  * boilerplate whose postings would make one stop-shingle cost
  * batch × corpus candidates — the batch path's `__df BETWEEN 2 AND maxDf`
  * cut, [[graft.operators.Dedup.fuzzyPairs]]). The emitted Jaccard stays
  * EXACT: common shingles ABOVE the cap are added back by a per-candidate
  * hot-correction join (bounded by candidates × hot-shingle TYPES, and
  * free when nothing exceeds the cap). Tradeoff, stated honestly: a pair
  * whose EVERY common shingle is hot at probe time is invisible to this
  * tier — boilerplate-blindness, the price of boundedness (pair it with
  * `ext_text_boilerplate`, which measures exactly that template mass).
  * Arrival-time df only grows, so the stream's candidate set contains the
  * final-df-capped batch one; with maxDf = ∞ it converges to the exact
  * batch join. The probe is a plain inverted-index probe, NOT the batch
  * path's PPJoin prefix filter: the prefix is defined by corpus-wide
  * rarity order, which shifts with every arrival — a prefix chosen under
  * today's df is not lossless under tomorrow's. No posting list is ever
  * materialized as an in-memory array (a hot shingle's postings are
  * unbounded) — everything streams as rows through keyed exchanges.
  *
  * 100 TB shape, per batch: df and postings are computed over the index
  * SEMI-JOINED to the batch's shingles (posting-list fetch, not a corpus
  * aggregate) — and the index LAYOUT backs that claim: deltas and bases
  * are partitionBy'd on `pmod(sh, IndexBuckets)`, so the fetch first
  * prunes to the batch's buckets via PartitionFilters (whole state files
  * skip) before the semi-join runs. The only writes are the three
  * O(batch) deltas.
  * Batch-replay form oracle-gated as `stream_neardup` against the
  * exact-Jaccard SQL; live restart / redelivery / torn-write paths in
  * StreamingSpec. */
object NeardupStream {

  val Threshold = 0.5

  /** Stop-shingle cap: probe-time document frequency above which a shingle
    * is treated as boilerplate and excluded from CANDIDATE generation
    * (the Jaccard of emitted pairs still counts it, via the hot
    * correction). Generous by default — at fixture scale nothing reaches
    * it; the mechanism is pinned in StateLayoutSpec with a small cap. */
  val DefaultMaxDf = 10000L

  /** Shingle-hash bucket count for the index state's file layout: every
    * index delta (and compacted base) is partitionBy'd on
    * `bucket = pmod(sh, IndexBuckets)`, so the probe's posting fetch
    * filters to the BATCH's buckets and the scan prunes whole delta files
    * (PartitionFilters — pinned in StateLayoutSpec) instead of reading
    * the full accumulated index. This is what makes the scaladoc's
    * "partitioned by shingle, pruned co-located read" claim true in the
    * LAYOUT, not just the prose: at 100 TB the index is the corpus-sized
    * state, and a small micro-batch touches a bounded subset of buckets.
    * The bucket column is derived (pmod of sh), lives only in the state
    * layout, and is dropped from every reader-facing frame. */
  val IndexBuckets = 16

  private def bucketed(sh: DataFrame): DataFrame =
    sh.withColumn("bucket", pmod(col("sh"), lit(IndexBuckets.toLong)).cast("int"))

  /** Distinct (doc_id, sh) shingle rows of a document frame — the unit of
    * both the probe side and the index state. Deterministic per doc. */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.hashedShingles(col("text"), 3)).as("sh"))

  /** Per-doc distinct shingle-set sizes of a (distinct) shingle frame —
    * the batch's contribution to the `sizes` state. */
  def sizeRows(batchSh: DataFrame): DataFrame =
    batchSh.groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))

  /** Pairs completed by this batch, in three row-streamed legs:
    *  1. `touched`: the merged index's postings for the BATCH's shingles
    *     only (left-semi on sh — the inverted-index probe); its df table
    *     (countDistinct, immune to redelivered duplicate rows) splits the
    *     shingles into gated [2, maxDf] and hot (> maxDf);
    *  2. `cg`: probe ⋈ gated postings, then per normalized pair
    *     countDistinct(sh) = |A∩B| over gated shingles (countDistinct also
    *     collapses the doubled emission of new-new pairs, which the join
    *     produces in both directions, and any duplicate index rows);
    *  3. `ch`: the exact hot correction — candidate endpoints joined to
    *     hot postings, countDistinct over shingles common to both sides.
    * Jaccard = (cg + ch) / (na + nb − cg − ch) from the `sizes` frame —
    * exact for every emitted pair. */
  def newPairs(batchSh: DataFrame, mergedIndex: DataFrame, sizes: DataFrame,
               maxDf: Long = DefaultMaxDf, totalDocs: Option[Long] = None): DataFrame = {
    // self-probe fast path: probing the index with ITSELF (the batch-replay
    // form). batchSh is distinct per doc by contract (shingleRows), so the
    // posting fetch is an identity semi-join (skipped), df is a plain
    // count, and — every pair being new-new — the `<` join emits each
    // (pair, shingle) exactly once, so the per-pair count needs no
    // distinct. The general path keeps =!= + countDistinct, which also
    // absorbs duplicate index rows from redelivered deltas.
    val selfProbe = mergedIndex eq batchSh
    val touched =
      if (selfProbe) batchSh
      else mergedIndex
        .join(batchSh.select(col("sh")), Seq("sh"), "left_semi")
        .localCheckpoint(true) // read by the df table and both posting legs
    val dfAgg =
      if (selfProbe) count(lit(1)) else countDistinct(col("doc_id"))
    val dfTab0 = touched.groupBy(col("sh")).agg(dfAgg.as("__df"))
    // hot-shingle existence costs ONE shingle-type-sized aggregate to
    // decide — and in the common no-boilerplate batch (nothing over the
    // cap) deciding it lets the df-gating joins, the hot-correction legs,
    // and two materializations ALL drop out of the DAG: a df-1 shingle
    // emits no pair from the join anyway, so with no shingle above the
    // cap the raw probe ⋈ postings join is already exactly the gated one.
    // A caller-known doc-count bound decides for FREE: df ≤ #docs, so
    // totalDocs ≤ maxDf proves no shingle can be hot without any job
    // (parquet metadata makes the count ~free on the batch-replay form).
    val anyHot =
      if (totalDocs.exists(_ <= maxDf)) false
      else !dfTab0.filter(col("__df") > maxDf).isEmpty
    // self-probe with no hot shingle = the whole corpus arriving as ONE
    // batch with nothing capped — exactly the batch tier's problem, where
    // the PPJoin prefix filter IS lossless (both pair members are in the
    // frame and share its global rarity order; the live multi-batch path
    // below never uses prefixes because arrival-time df keeps shifting).
    // The naive sh-keyed self-join pays Σ df² candidate rows over ALL
    // shingles; the prefix join touches only each doc's rarest few.
    if (selfProbe && !anyHot)
      return graft.operators.Dedup.jaccardPairsFromShingles(batchSh, Threshold)
    def pairCount(l: DataFrame, r: DataFrame): DataFrame =
      if (selfProbe)
        l.as("l").join(r.as("r"),
            col("l.sh") === col("r.sh") && col("l.doc_id") < col("r.doc_id"))
          .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("__cg"))
      else
        l.as("l").join(r.as("r"),
            col("l.sh") === col("r.sh") && col("l.doc_id") =!= col("r.doc_id"))
          .groupBy(least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
            greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"))
          .agg(countDistinct(col("l.sh")).as("__cg"))
    val jac = col("c").cast("double") / (col("na") + col("nb") - col("c"))
    val counted =
      if (!anyHot)
        pairCount(batchSh, touched).select(col("doc_a"), col("doc_b"), col("__cg").as("c"))
      else {
        val dfTab = dfTab0
          .filter(col("__df") >= 2) // df-1 shingles can't be common to a pair
          .localCheckpoint(true) // read by the gated and hot key sets
        val gatedSh = dfTab.filter(col("__df") <= maxDf).select(col("sh"))
        val hotKeys = dfTab.filter(col("__df") > maxDf).select(col("sh"))
        val cg = pairCount(batchSh.join(gatedSh, "sh"), touched.join(gatedSh, "sh"))
          .localCheckpoint(true) // hot leg AND final join read it
        val hotDocs = touched.join(hotKeys, "sh")
        val ch = cg.select(col("doc_a"), col("doc_b"))
          .join(hotDocs.select(col("sh").as("__sa"), col("doc_id").as("doc_a")), "doc_a")
          .join(hotDocs.select(col("sh").as("__sb"), col("doc_id").as("doc_b")), "doc_b")
          .filter(col("__sa") === col("__sb"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(countDistinct(col("__sa")).as("__ch"))
        cg.join(ch, Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            (col("__cg") + coalesce(col("__ch"), lit(0L))).as("c"))
      }
    counted
      .join(sizes.select(col("doc_id").as("doc_a"), col("__n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("__n").as("nb")), "doc_b")
      .filter(jac >= Threshold)
      .select(col("doc_a"), col("doc_b"), Tables.rnd4(jac).as("jaccard"))
  }

  /** Keyed idempotent merge — applied ON READ over the raw delta union
    * (and by [[compact]]). Identical rows on every delivery ⇒ the
    * reduction collapses them; insensitive to multiplicity and order. */
  def mergePairs(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionByName(batch)
      .groupBy(col("doc_a"), col("doc_b")).agg(min(col("jaccard")).as("jaccard"))

  /** The LIVE merged index / sizes / pair tables (distinct- /
    * keyed-merge-on-read over the append-only deltas). Empty frames before
    * the first batch. */
  def indexState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/index")
      .map(_.select(col("doc_id"), col("sh")).distinct())
      .getOrElse(spark.range(0).select(col("id").as("doc_id"), lit(0L).as("sh")))

  /** The probe-facing index view: the raw delta union PRUNED to the given
    * buckets via the partition column (whole delta files skip), then
    * narrowed to the reader schema. Duplicate rows stay — [[newPairs]] is
    * duplicate-tolerant, so the probe never pays a corpus-wide distinct. */
  private def indexForBuckets(spark: SparkSession, targetDir: String,
                              buckets: Seq[Int]): Option[DataFrame] =
    AppendState.raw(spark, s"$targetDir/index")
      .map(_.filter(col("bucket").isin(buckets: _*))
        .select(col("doc_id"), col("sh")))

  def sizeState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/sizes")
      .map(_.groupBy(col("doc_id")).agg(min(col("__n")).as("__n")))
      .getOrElse(spark.range(0).select(col("id").as("doc_id"), lit(0L).as("__n")))

  def pairState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/pairs")
      .map(p => mergePairs(p.limit(0), p))
      .getOrElse(spark.range(0).select(col("id").as("doc_a"),
        col("id").as("doc_b"), lit(0.0).as("jaccard")))

  /** The per-doc metadata ledger (doc_id, source, n_chars) — membership
    * rows, distinct-on-read: pair-state reports must label BOTH ends of a
    * pair even when one end arrived months before the other, so the slim
    * metadata rides its own append-only ledger (the EmbedDriftStream
    * ledger growth class — ~16 bytes + the source string per doc, never
    * the text). Empty before the first batch. */
  def metaState(spark: SparkSession, targetDir: String): DataFrame =
    AppendState.raw(spark, s"$targetDir/meta")
      .map(_.distinct())
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), col("id").as("n_chars")))

  /** Cross-source duplication matrix off the LIVE pair + metadata states
    * ([[graft.operators.Dedup.crossSourceMatrix]] — the report definition
    * is shared verbatim with the batch `ext_dedup_cross_source`, so the
    * continuous wholesale-drop grid and the batch audit cannot drift).
    * Readable at any moment; a crawl snapshot that mirrors another shows
    * up as its off-diagonal cell grows, batch by batch. */
  def crossSource(spark: SparkSession, targetDir: String): DataFrame =
    graft.operators.Dedup.crossSourceMatrix(
      pairState(spark, targetDir), metaState(spark, targetDir))

  /** Fold all four states' deltas (run periodically; bounds read
    * amplification — see [[AppendState.compact]]). */
  def compact(spark: SparkSession, targetDir: String): Unit = {
    AppendState.compact(spark, s"$targetDir/index", _.distinct(),
      partitionCols = Seq("bucket"))
    AppendState.compact(spark, s"$targetDir/sizes",
      _.groupBy(col("doc_id")).agg(min(col("__n")).as("__n")))
    AppendState.compact(spark, s"$targetDir/pairs", p => mergePairs(p.limit(0), p))
    AppendState.compact(spark, s"$targetDir/meta", _.distinct())
  }

  /** One micro-batch apply: append the batch's metadata ledger rows,
    * distinct shingle rows and per-doc sizes (atomic, replay-skipped),
    * probe the now-merged index, append the completed pairs. A crash
    * between appends replays cleanly: earlier appends no-op and the pair
    * recompute is deterministic. `batchDocs` must carry the docs-file
    * schema ([[CorpusIngest.docsFileSchema]] — doc_id, text, lang,
    * source, n_chars): the ledger needs source/n_chars. */
  def applyBatch(spark: SparkSession, batchDocs: DataFrame, targetDir: String,
                 batchId: Long, maxDf: Long = DefaultMaxDf,
                 compactEvery: Int = AppendState.DefaultCompactEvery): Unit = {
    val batchSh = shingleRows(batchDocs).distinct().localCheckpoint(true)
    // metadata FIRST: the cross-source report inner-joins pairs to meta,
    // so a crash window must only ever leave meta-without-pairs (harmless)
    // — never a pair whose member has no metadata row yet (silent drop
    // until the replay lands)
    AppendState.append(
      batchDocs.select(col("doc_id"), col("source"), col("n_chars")).distinct(),
      s"$targetDir/meta", batchId)
    AppendState.append(bucketed(batchSh), s"$targetDir/index", batchId,
      partitionCols = Seq("bucket"))
    AppendState.append(sizeRows(batchSh), s"$targetDir/sizes", batchId)
    // probe the raw delta union PRUNED to the batch's buckets (an
    // IndexBuckets-bounded collect decides the partition filter; lossless:
    // a posting for a batch shingle is by construction in a batch bucket)
    // — newPairs is duplicate-tolerant, so the per-batch path never pays
    // the corpus-wide distinct that indexState (the reader view) applies
    val batchBuckets = bucketed(batchSh.select(col("sh")).distinct())
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq
    val merged = indexForBuckets(spark, targetDir, batchBuckets)
      .getOrElse(batchSh.limit(0))
    val fresh = newPairs(batchSh, merged, sizeState(spark, targetDir), maxDf)
    AppendState.append(fresh.localCheckpoint(true), s"$targetDir/pairs", batchId)
    // auto-fold once compactEvery deltas accumulate on the index (the
    // largest of the four states) — read amplification stays bounded with
    // no manual compact call; ≤ 0 opts out
    if (AppendState.compactionDue(s"$targetDir/index", compactEvery))
      compact(spark, targetDir)
  }

  /** Start the ingest-dedup stream: document source dir → per-batch index
    * probe → (index, sizes, pairs) append-only state under `targetDir`.
    * `compactEvery` > 0 (the default) runs [[compact]] inline from
    * [[applyBatch]] once that many deltas accumulate on the index state,
    * the largest of the four — semantics unchanged, read amplification
    * bounded with no manual compact call. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            maxDf: Long = DefaultMaxDf,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery = {
    val raw = spark.readStream.schema(CorpusIngest.docsFileSchema).parquet(sourceDir)
    val trigger =
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime("5 seconds")
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, targetDir, batchId, maxDf, compactEvery)
      }
      .start()
  }
}
