package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.{fmtTs, fmtTsSql, orderedReport, orderedRows, tsLit}
import graft.operators.{CdcOps, Dedup, Multimodal}
import graft.streaming._

/** Batch-replay forms of the streaming operators (SURVEY §2.1/§2.7).
  * Structured Streaming's prefix consistency says a stream's result is the
  * batch query over the same input, so each monitor entry here is three
  * parts: the monitor's source in batch form (what its `start` reads),
  * the kind's `batchAnswer` over that input delivered twice (the SAME seed
  * and fold the live `applyBatch` commits, so the oracle checks the live
  * composition), and the monitor's report. A monitor's batch twin in
  * `CdcQueries`/`ExtQueries` is that report over the monitor's `slice` of
  * the exactly-once input, so where the two share an oracle they share
  * the report too (StreamingSpec runs each such pair and compares rows).
  * The live readStream/watermark/foreachBatch/checkpoint path is exercised
  * end-to-end by `StreamingSpec`.
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  private val OP = Tables.opTypeSql

  /** `rows` delivered twice — the at-least-once redelivery (js:114–115)
    * every replay below feeds its monitor, which must absorb it. */
  private def twoDeliveries(rows: DataFrame): DataFrame = rows.unionByName(rows)

  /** [[CdcPipeline.changes]] in batch form, over the events delivered
    * twice (watermarks are a no-op on bounded input). */
  private def changes(s: SparkSession, d: String): DataFrame =
    CdcPipeline.transform(twoDeliveries(Tables.eventsRaw(s, d)))

  /** [[CdcPipeline.uniqueChanges]] in batch form: [[changes]] with the
    * redelivered event ids collapsed (one hash-aggregate shuffle). Four
    * monitors read this one source, so it is built once per fixture. */
  private def uniqueChanges(s: SparkSession, d: String): DataFrame =
    graft.SessionFrames.frame(s, d, "unique_changes")(CdcPipeline.dedupEvents(changes(s, d)))

  /** The deduped events, deletes kept, that the privacy and schema
    * monitors read ([[CdcPipeline.dedupEvents]] over the normalized
    * stream), over the events delivered twice. */
  private def uniqueEvents(s: SparkSession, d: String): DataFrame =
    CdcPipeline.dedupEvents(twoDeliveries(Tables.events(s, d)))

  /** js:221–248 — the change-stream tail (server-side $match + projection),
    * replayed over the bounded event log. */
  private val sourceChangestream: Q = (s, d) => {
    val raw = Tables.eventsRaw(s, d)
    CdcPipeline.transform(raw)
      .select(col("event_id"), fmtTs(col("ts")).as("ts_s"), col("user_id"),
        col("op_type"), col("props"))
      .transform(orderedRows(_, "event_id"))
  }

  /** js:104, 272–299 — checkpoint/resume with an at-least-once replay
    * window: state checkpointed at T, then the suffix from T−1d replayed on
    * top. The overlap day is applied twice; idempotent upsert makes the
    * final state identical to a clean full run — which is exactly what the
    * oracle computes. */
  private val sinkCheckpointReplay: Q = (s, d) => {
    val log = CdcOps.dropDeletes(Tables.changeLog(s, d))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val ckpt = tsLit("2024-01-20 00:00:00")
    val replayFrom = tsLit("2024-01-19 00:00:00") // 1-day at-least-once overlap
    val stateAtCkpt = CdcOps.lastWriteWins(log.filter(col("ts") < ckpt), "user_id", "ts", "event_id")
    val replayed = CdcOps.lastWriteWins(log.filter(col("ts") >= replayFrom), "user_id", "ts", "event_id")
    CdcOps.upsertMerge(stateAtCkpt, replayed, "user_id")
      .select(col("user_id"), fmtTs(col("ts")).as("last_ts"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event"))
      .transform(orderedRows(_, "user_id"))
  }

  /** The custom-state sessionization operator run in BATCH mode (the same
    * batch/stream unification as above): per user, events closer than 30 min
    * chain; a batch run emits every CLOSED session and discards each user's
    * open tail (timeouts never fire in batch) — which the oracle expresses
    * as "all sessions except each user's last". The live streaming form
    * (state store, checkpointed restart, event-time timeout) is exercised by
    * StreamingSpec and the split-invariance property in PropertySpec. */
  private val streamSessionize: Q = (s, d) => {
    val raw = Tables.eventsRaw(s, d)
    Sessionize.sessions(CdcPipeline.transform(raw)).toDF()
      .transform(orderedRows(_, "user_id", "session_start"))
  }

  /** The watermarked tumbling-window aggregation run in BATCH mode — the
    * same [[CdcPipeline.windowedOpCounts]] the streaming query executes
    * (watermarks are a no-op on bounded input, so every event counts); this
    * pins the per-day op-count semantics under the DuckDB oracle, while the
    * live watermark/late-data path stays covered by StreamingSpec. */
  private val streamWindowCounts: Q = (s, d) => {
    val raw = Tables.eventsRaw(s, d)
    CdcPipeline.windowedOpCounts(raw)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("op_type"), col("n"))
      .transform(orderedReport(_, "day", "op_type"))
  }

  /** js:114–115 — the at-least-once replay contract: the same change batch
    * delivered twice collapses back to one row per event_id
    * ([[CdcPipeline.dedupEvents]], batch form). The streaming state-store
    * path (`dropDuplicatesWithinWatermark`, cross-micro-batch) is
    * exercised end-to-end by StreamingSpec. */
  private val streamDedup: Q = (s, d) =>
    CdcPipeline.dedupEvents(twoDeliveries(Tables.events(s, d)))
      .select(col("event_id"), fmtTs(col("ts")).as("ts_s"), col("user_id"),
        col("event_type"), col("value"))
      .transform(orderedRows(_, "event_id"))

  /** The corpus-ingest pipeline over a doubled delivery: gate → digest-keyed
    * min-id-wins survivor merge. The merge is commutative + idempotent, so
    * the doubled log collapses to the clean single-run answer — which is
    * what the oracle computes directly. */
  private val streamCorpusIngest: Q = (s, d) =>
    CorpusIngest.batchAnswer(twoDeliveries(CorpusIngest.transform(Tables.documents(s, d))))
      .select(col("doc_id"), col("lang"), Tables.rnd4(col("quality")).as("quality"))
      .transform(orderedRows(_, "doc_id"))

  /** The streaming decontamination gate over a doubled delivery: `src0`
    * plays the held-out eval set, the other sources the corpus stream. The
    * verdict is a pure per-row function of (document, static index), so the
    * doubled log's verdicts are byte-identical and the keyed merge
    * collapses them to the single-run answer — what the oracle computes
    * directly. */
  private val streamDecontam: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val index = Decontam.evalIndex(docs.filter(col("source") === "src0"))
    Decontam.batchAnswer(twoDeliveries(Decontam.gate(docs.filter(col("source") =!= "src0"), index)))
      .transform(orderedRows(_, "doc_id"))
  }

  /** Session-shared completed pair state of the streaming near-dup
    * machinery (the [[ExtQueries]] ngramPairsShared discipline): one probe
    * per fixture dir fills the state both `stream_neardup` and
    * `stream_cross_source` read — the one-state-many-reports design (the
    * checkpoint holds the completed PAIR set — duplicate-mass growth
    * class, same as ngramPairsShared; corpus text never lands in it). The
    * pair set equals the full-corpus exact-Jaccard similarity join the
    * oracle computes directly (candidate generation is lossless:
    * qualifying pairs share ≥ 1 shingle by J > 0). Redelivery/duplicate-row
    * tolerance is pinned in StateLayoutSpec (doubled index ≡ single) and
    * exercised live in StreamingSpec — the benched form measures the
    * clean-probe cost. Within the probe, no eager checkpoint on the
    * shingle rows: the self-probe fast path hands them to the PPJoin
    * machinery, whose tracked persists hold them lazily. parquet metadata
    * makes the doc count ~free; df ≤ #docs, so the no-hot-shingle
    * decision costs zero jobs. */
  private[graft] def neardupPairsShared(s: SparkSession, d: String): DataFrame =
    graft.SessionFrames.frame(s, d, "neardup_pairs") {
      val docs = Tables.documents(s, d)
      val once = NeardupStream.shingleRows(docs)
      NeardupStream.Pairs.batchAnswer(NeardupStream.newPairs(once, once,
        NeardupStream.sizeRows(once), totalDocs = Some(docs.count())))
    }

  private val streamNeardup: Q = (s, d) =>
    neardupPairsShared(s, d).transform(orderedRows(_, "doc_a", "doc_b"))

  /** The incremental per-source cap over a doubled delivery: min-k per
    * source is commutative/associative/idempotent, so the doubled log
    * collapses to the one-shot batch answer, ranked by
    * [[SourceCapsStream.capK]] as the live state read is — the oracle IS
    * ext_source_caps' SQL. */
  private val streamSourceCaps: Q = (s, d) => {
    val k = ExtQueries.SourceCapK
    val docs = Tables.documents(s, d).select("doc_id", "source")
    orderedReport(
      SourceCapsStream.capK(SourceCapsStream.kind(k).batchAnswer(twoDeliveries(docs)), k),
      "source", "rk")
  }

  /** The incremental payload-shape monitor over a doubled delivery:
    * redelivered rows die in the SAME event-id dedup gate the live stream
    * runs, then the grid slice + additive merge + report give the one-shot
    * batch answer — the oracle IS agg_schema_profile's SQL. Grid-bounded
    * state growth pinned in StateLayoutSpec. */
  private val streamSchemaProfile: Q = (s, d) => {
    // checkpoint the deduped frame (slice reads it twice: parse leg +
    // slim total leg) and the domain-bounded grid (report reads it
    // twice: key cells + per-type totals) — without them the union +
    // dedup shuffle and the from_json parse re-run once per leg
    val once = uniqueEvents(s, d).localCheckpoint(true)
    val grid = SchemaProfileStream.batchAnswer(once).localCheckpoint(true)
    SchemaProfileStream.report(grid).transform(orderedReport(_, "event_type", "key"))
  }

  /** The continuously-maintained DSIR importance model over a doubled
    * delivery: redelivered documents die in the kind's doc_id dedup (the
    * batch form of the live ledger anti-join), then the grid slice +
    * additive merge + model report give the one-shot batch answer — the
    * oracle IS ext_dsir_model's SQL. */
  private val streamDsirModel: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    DsirModelStream.report(DsirModelStream.batchAnswer(twoDeliveries(docs)))
  }

  /** The IVF index-health monitor over a doubled delivery: redelivered
    * vectors die in the kind's vec_id dedup, assignments run against the
    * SAME frozen codebook, and the balance report gives the one-shot
    * answer — the oracle IS ext_sim_ivf_occupancy's SQL (Lloyd replay +
    * rollup). */
  private val streamIvfOccupancy: Q = (s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    IvfOccupancyStream.report(
      IvfOccupancyStream.kind(ExtQueries.intIvfCellsShared(s, d)).batchAnswer(twoDeliveries(e)))
  }

  /** The incremental embedding-drift monitor over a doubled delivery:
    * redelivered vectors die in the kind's vec_id dedup, then the grid
    * slice + additive merge + rank report give the one-shot batch answer
    * — the oracle IS ext_embed_drift's SQL. */
  private val streamEmbedDrift: Q = (s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    EmbedDriftStream.report(EmbedDriftStream.batchAnswer(twoDeliveries(e)))
  }

  /** The incremental k-anonymity release gate over a doubled delivery:
    * redelivered rows die in the SAME event-id dedup gate the live stream
    * runs, then the class slice + additive merge + band report give the
    * one-shot batch answer — the oracle IS agg_k_anonymity's SQL. */
  private val streamKAnonymity: Q = (s, d) => {
    // the report reads the grid twice (band rollup + stats row):
    // checkpoint the domain-bounded frame so the union + dedup + class
    // aggregate run once, not per leg
    val grid = KAnonymityStream.batchAnswer(uniqueEvents(s, d)).localCheckpoint(true)
    KAnonymityStream.report(grid)
  }

  /** The cross-source duplication matrix read off the near-dup stream's
    * pair + metadata states — the one-state-many-reports discipline: the
    * SAME pair state `stream_neardup` maintains serves the wholesale-drop
    * grid with only the slim per-doc metadata ledger added, its doubled
    * delivery collapsed by the ledger's distinct merge. The report
    * definition is [[Dedup.crossSourceMatrix]] shared verbatim with the
    * batch form, so the oracle IS ext_dedup_cross_source's SQL. */
  private val streamCrossSource: Q = (s, d) => {
    val meta = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    Dedup.crossSourceMatrix(neardupPairsShared(s, d),
      NeardupStream.Meta.batchAnswer(twoDeliveries(meta)))
  }

  /** The Hamming pair state of the ingest IMAGE near-dup pipeline over a
    * doubled delivery: a payload's 60-bit pHash is a pure function of its
    * bytes, so the doubled hash membership collapses by distinct, and the
    * band probe ([[MultimodalDedupStream.newPairs]] — the stream's own
    * machinery, self-probing the one batch) emits byte-equal pairs that
    * the pair state's distinct merge collapses. The decode rides the
    * session-shared hash checkpoint ([[ExtQueries.imageHashesShared]] —
    * decode once, serve three surfaces). */
  private def imagePairs(s: SparkSession, d: String): DataFrame = {
    val hashes = twoDeliveries(ExtQueries.imageHashesShared(s, d)).distinct()
      .localCheckpoint(true) // probe side AND index side read the bands
    val bands = MultimodalDedupStream.bandRows(hashes)
    MultimodalDedupStream.Pairs.batchAnswer(MultimodalDedupStream.newPairs(bands, bands))
  }

  /** The image near-dup decision report over [[imagePairs]]:
    * [[Multimodal.softDedup]] shared verbatim with the batch tier — the
    * oracle IS ext_multimodal_dedup's SQL. */
  private val streamMultimodalDedup: Q = (s, d) =>
    Multimodal.softDedup(Tables.documents(s, d).select(col("doc_id")), imagePairs(s, d))
      .transform(orderedRows(_, "doc_id"))

  /** The SEMANTIC image-dedup grid off the multimodal dedup stream's
    * states over a doubled delivery: the SAME band probe that serves the
    * Hamming tier yields the candidates (no hamming cap), each candidate's
    * two ends verify by cosine against the doc-keyed feature ledger
    * ([[MultimodalDedupStream.newSemPairs]] — features stored once per
    * doc, never fanned into the band rows), and the decision grid is
    * [[Multimodal.softDedup]] shared verbatim with the batch
    * `ext_multimodal_semdedup` — so the oracle IS that query's SQL.
    * Redelivered fingerprints collapse by distinct (pure per payload). */
  private val streamMultimodalSemdedup: Q = (s, d) => {
    val feats = twoDeliveries(ExtQueries.imageFeaturesShared(s, d)).distinct()
      .localCheckpoint(true) // probe side, index side AND ledger read it
    val bands = MultimodalDedupStream.bandRows(feats.select(col("doc_id"), col("phash")))
    val ledger = feats.filter(col("__n2") > 0).select(col("doc_id"), col("feat"), col("__n2"))
    Multimodal.softDedup(Tables.documents(s, d).select(col("doc_id")),
        MultimodalDedupStream.SemPairs.batchAnswer(
          MultimodalDedupStream.newSemPairs(bands, bands, ledger)))
      .transform(orderedRows(_, "doc_id"))
  }

  /** The cross-source IMAGE-duplication matrix off the SAME pair state as
    * `stream_multimodal_dedup` plus the slim (doc_id, source, n_chars)
    * metadata ledger, its doubled delivery collapsed by the ledger's
    * distinct merge; the report definition is [[Dedup.crossSourceMatrix]]
    * shared verbatim with the batch form, so the oracle IS
    * ext_multimodal_cross_source's SQL. */
  private val streamMultimodalCrossSource: Q = (s, d) => {
    val meta = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    Dedup.crossSourceMatrix(imagePairs(s, d),
      MultimodalDedupStream.Docs.batchAnswer(twoDeliveries(meta)))
  }

  /** The t-closeness report read off the k-anonymity stream's class grid
    * over a doubled delivery — the one-state-many-reports discipline: the
    * SAME grid KAnonymityStream maintains serves the third privacy tier
    * with zero extra state. The oracle IS agg_t_closeness's SQL. */
  private val streamTCloseness: Q = (s, d) =>
    KAnonymityStream.reportTCloseness(KAnonymityStream.batchAnswer(uniqueEvents(s, d)))

  /** The incremental l-diversity homogeneity gate over a doubled
    * delivery: the state is (class, user) MEMBERSHIP rows merged by set
    * union, so the doubled log is absorbed algebraically — no dedup gate
    * (contrast stream_k_anonymity's additive counts) — and collapses to
    * the one-shot batch answer: the oracle IS agg_l_diversity's SQL. */
  private val streamLDiversity: Q = (s, d) =>
    // the report checkpoints the per-class grid internally; the batch
    // answer feeds it once, so no extra checkpoint here
    LDiversityStream.report(LDiversityStream.batchAnswer(twoDeliveries(Tables.eventsRaw(s, d))))

  /** The incremental URL-canonicalization dedup over a doubled delivery:
    * the state is membership rows and every report column is
    * distinct-/min-/grouped-sum-based, so the doubled log collapses to the
    * one-shot batch answer — the oracle IS ext_dedup_url's SQL. */
  private val streamUrlDedup: Q = (s, d) => {
    val urls = Tables.documents(s, d)
      .select(col("doc_id"), ExtQueries.syntheticUrl.as("raw_url"))
    UrlDedupStream.report(UrlDedupStream.batchAnswer(twoDeliveries(urls)))
      .transform(orderedRows(_, "canon_url"))
  }

  /** The incremental prefix-template monitor over a doubled delivery: the
    * state is membership rows and every report aggregate is distinct-/
    * min-based, so the doubled log collapses to the one-shot batch answer
    * — ext_prefix_dup is the same report over the slice, and the oracle
    * IS its SQL. */
  private val streamPrefixDup: Q = (s, d) =>
    PrefixDupStream.report(PrefixDupStream.batchAnswer(twoDeliveries(Tables.documents(s, d))))

  /** The incremental funnel over a doubled delivery: per-user first-event
    * state is an element-wise min, so the doubled log collapses through
    * the keyed min-merge to the clean single-run state, and the report
    * over it is the oracle's direct computation. First-event chain
    * semantics by design — see [[FunnelStream]] for why the strict chain
    * is not incrementally computable with bounded state. */
  private val streamFunnel: Q = (s, d) =>
    FunnelStream.report(FunnelStream.kind().batchAnswer(changes(s, d)))

  /** The incremental funnel's conversion-lag report: the same min-merged
    * state table as [[streamFunnel]], rolled up to p50/p90/mean seconds
    * over first-event chain completers via the shared domain-histogram
    * quantiles. The oracle replays the first-event semantics with its own
    * row_number ranking — rank-vs-histogram equivalence is part of what's
    * pinned. */
  private val streamConversionLag: Q = (s, d) =>
    FunnelStream.lagReport(FunnelStream.kind().batchAnswer(changes(s, d)))

  /** The watermarked daily-bars aggregation run in BATCH mode — the same
    * [[CdcPipeline.windowedDailyBars]] the streaming query executes
    * (watermarks are a no-op on bounded input, so every closed-and-open
    * window reports); pins the struct-extremum OHLC semantics under the
    * oracle, while the live watermark path is in StreamingSpec. */
  private val streamDailyBars: Q = (s, d) => {
    val raw = Tables.eventsRaw(s, d)
    CdcPipeline.windowedDailyBars(raw)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("open"),
        col("high"), col("low"), col("close"), col("n_events"))
      .transform(orderedReport(_, "day"))
  }

  /** The (day, type) count state [[TopkStream]] maintains, over a doubled
    * delivery whose redelivered rows die in the event-id dedup — ONE fact
    * table behind nine reports (leaderboard, CUSUM, forecast, Sen's slope,
    * Mann–Kendall, changepoint, binseg tree, anomaly days, LTTB), so it is
    * built once per fixture, as the live monitor keeps one state table.
    * Deletes are dropped by the shared transform, so each report's oracle
    * is its batch twin's SQL with the 'error' filter spliced in. */
  private def dailyTypeCounts(s: SparkSession, d: String): DataFrame =
    graft.SessionFrames.frame(s, d, "daily_type_counts")(TopkStream.batchAnswer(uniqueChanges(s, d)))

  /** [[dailyTypeCounts]] collapsed to per-day totals at report time (state
    * stays per-type so every sibling report shares it). */
  private def dailyTotals(s: SparkSession, d: String): DataFrame =
    TopkStream.dayTotals(dailyTypeCounts(s, d))

  /** The incremental daily top-K leaderboard. */
  private val streamTopk: Q = (s, d) => TopkStream.report(dailyTypeCounts(s, d))

  /** The continuously-maintained CUSUM monitor. */
  private val streamCusum: Q = (s, d) => TopkStream.cusumReport(dailyTotals(s, d))

  /** Holt forecast. */
  private val streamHolt: Q = (s, d) => TopkStream.holtReport(dailyTypeCounts(s, d))

  /** The robust-trend pair (Sen's slope estimator + Mann–Kendall test). */
  private val streamTheilsen: Q = (s, d) => CdcQueries.theilsenReport(dailyTypeCounts(s, d))

  private val streamMannKendall: Q = (s, d) => CdcQueries.mannKendallReport(dailyTypeCounts(s, d))

  /** Changepoint detection: "WHEN did the level shift", answered live. */
  private val streamChangepoint: Q = (s, d) => CdcQueries.changepointReport(dailyTotals(s, d))

  /** LTTB chart downsampling — a live chart fetches 12 points per type,
    * not the span. */
  private val streamLttb: Q = (s, d) => TopkStream.lttbReport(dailyTypeCounts(s, d))

  /** The depth-2 binseg tree. */
  private val streamChangepointTree: Q = (s, d) =>
    CdcQueries.changepointTreeReport(dailyTotals(s, d))

  /** The 2σ daily-anomaly alarm. */
  private val streamAnomalyDays: Q = (s, d) => CdcQueries.anomalyDaysReport(dailyTotals(s, d))

  /** The ingest Benford monitor: the additive 9-row state's replay
    * protection (row dedup + transactional batch-id guard) is
    * [[BenfordStream]]'s doc; the oracle is string-derived from
    * agg_benford's SQL with the transform's delete filter spliced in. */
  private val streamBenford: Q = (s, d) =>
    BenfordStream.report(BenfordStream.batchAnswer(uniqueChanges(s, d)))

  /** The continuously-maintained per-type value quantiles: the
    * domain-histogram IS the streaming state (additive, price-domain-
    * bounded). Deletes dropped by the shared transform, so the oracle
    * filters 'error' where the batch `agg_value_quantiles` does not. */
  private val streamValueQuantiles: Q = (s, d) =>
    QuantilesStream.report(QuantilesStream.batchAnswer(uniqueChanges(s, d)))

  /** The continuously-maintained heavy-hitters sketch: ≤ K-counter
    * Misra–Gries state. K = 256 exceeds the oracle fixtures'
    * distinct-user count, so no counter is evicted and the sketch is exact
    * under the plain top-k oracle (the `agg_heavy_hitters` discipline);
    * the merged-sketch error bound in eviction mode is pinned by
    * SketchesSpec. Deletes dropped by the shared transform, so the oracle
    * filters 'error'. */
  private val streamHeavyHitters: Q = (s, d) =>
    HeavyHittersStream.report(HeavyHittersStream.batchAnswer(uniqueChanges(s, d)))

  /** The incremental SCD2 build over a doubled delivery: state is the
    * event_id-keyed deduped change set, so the doubled log collapses
    * through the keyed merge to the clean single-run change set, and the
    * report derives version/validity from it — the batch `window_scd2` is
    * the same report over the exactly-once slice (the oracle is the same
    * SQL), because unlike the funnel this state carries the full fact set,
    * not a lossy summary. */
  private val streamScd2: Q = (s, d) =>
    Scd2Stream.report(Scd2Stream.batchAnswer(changes(s, d)))

  /** Incremental retention cohorts over a doubled delivery: the state is
    * distinct (user, kind, week) facts, so the doubled log collapses
    * through the distinct-union merge to the clean single-run fact table,
    * and the report over it is the oracle's direct computation.
    * WEEK-granular anchors by design — see [[RetentionStream]] for why
    * second-anchored week_n is not incrementally computable with bounded
    * state. */
  private val streamRetention: Q = (s, d) =>
    RetentionStream.report(RetentionStream.kind().batchAnswer(changes(s, d)))

  /** The incremental gap-fill resample over a doubled delivery: state is
    * the per-(user, day) argmax fact table, so the doubled log collapses
    * through the max-merge to the clean single-run facts, and the LOCF
    * re-grid over them is the batch `window_gap_fill`, which is
    * [[GapFillStream.report]] over the exactly-once slice (the oracle is
    * the same SQL). */
  private val streamGapFill: Q = (s, d) =>
    GapFillStream.report(GapFillStream.batchAnswer(changes(s, d)))

  /** Drift alarm threshold shared by the query entry and StreamingSpec —
    * 100‰ ≈ "a source's quality-pass rate moved 10 points vs baseline". */
  final val DriftPermille = 100

  /** The drift monitors' split of the documents: the even BLOCKS
    * (`blockParity` 0) are the reference snapshot, the odd ones the
    * arrivals — block parity, because raw doc_id parity correlates
    * perfectly with the fixture's round-robin source assignment and would
    * leave every arrival source baseline-less. */
  private val blockParity = expr("(doc_id div 20L) % 2")

  /** Batch-replay form of the quality-drift monitor: baseline profile from
    * the reference blocks, arrivals = the odd blocks' verdicts delivered
    * twice. The verdict is pure per-row, so the doubled delivery collapses
    * through the keyed merge to the single-run report — what the oracle
    * computes directly. */
  private val streamQualityDrift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = QualityDrift.baseline(docs.filter(blockParity === 0))
    val arrivals = QualityDrift.gate(docs.filter(blockParity === 1))
    QualityDrift.report(QualityDrift.batchAnswer(twoDeliveries(arrivals)), base, DriftPermille)
      .transform(orderedReport(_, "source"))
  }

  /** Vocab-drift contracts shared by the query entry and StreamingSpec:
    * top-64 reference vocabulary, alarm at 50‰ of OOV token mass. */
  final val VocabDriftK = 64
  final val OovDriftPermille = 50

  /** Batch-replay form of the vocabulary-drift monitor ([[VocabDrift]]):
    * static top-k vocab + per-source baseline from the reference blocks,
    * arrivals = the odd blocks' verdicts delivered twice. The verdict is
    * pure per-row against the static vocab, so the doubled delivery
    * collapses through the keyed merge — what the oracle computes
    * directly. */
  private val streamVocabDrift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val refDocs = docs.filter(blockParity === 0)
    val vocab = VocabDrift.vocab(refDocs, VocabDriftK)
    val base = VocabDrift.baseline(refDocs, vocab)
    val arrivals = VocabDrift.gate(docs.filter(blockParity === 1), vocab)
    VocabDrift.report(VocabDrift.batchAnswer(twoDeliveries(arrivals)), base, OovDriftPermille)
      .transform(orderedReport(_, "source"))
  }

  /** Batch-replay form of the KS drift monitor ([[KsDriftStream]]): the
    * projection delivered twice, folded through the doc_id-keyed
    * IDEMPOTENT survivor merge, so the report equals the clean one-shot
    * computation, which is exactly the batch `ext_ks_drift` oracle (one
    * shared report definition). */
  private val streamKsDrift: Q = (s, d) =>
    KsDriftStream.report(KsDriftStream.histogram(KsDriftStream.batchAnswer(
        twoDeliveries(KsDriftStream.transform(Tables.documents(s, d))))))
      .transform(orderedReport(_, "source"))

  /** Batch-replay form of the per-source length-profile monitor
    * ([[LengthProfileStream]]): the corpus delivered twice, collapsed
    * through the idempotent doc-keyed membership merge, then the monitor's
    * report — which `ext_length_outliers` runs over the exactly-once
    * projection, so the oracle is shared verbatim. */
  private val streamLengthOutliers: Q = (s, d) =>
    LengthProfileStream.report(LengthProfileStream.batchAnswer(
      twoDeliveries(LengthProfileStream.transform(Tables.documents(s, d)))))

  val queries: Map[String, Q] = Map(
    "source_changestream" -> sourceChangestream,
    "sink_checkpoint" -> sinkCheckpointReplay,
    "stream_sessionize" -> streamSessionize,
    "stream_window_counts" -> streamWindowCounts,
    "stream_dedup" -> streamDedup,
    "stream_funnel" -> streamFunnel,
    "stream_scd2" -> streamScd2,
    "stream_daily_bars" -> streamDailyBars,
    "stream_topk" -> streamTopk,
    "stream_cusum" -> streamCusum,
    "stream_holt" -> streamHolt,
    "stream_theilsen" -> streamTheilsen,
    "stream_mann_kendall" -> streamMannKendall,
    "stream_changepoint" -> streamChangepoint,
    "stream_changepoint_tree" -> streamChangepointTree,
    "stream_anomaly_days" -> streamAnomalyDays,
    "stream_lttb" -> streamLttb,
    "stream_benford" -> streamBenford,
    "stream_value_quantiles" -> streamValueQuantiles,
    "stream_heavy_hitters" -> streamHeavyHitters,
    "stream_retention" -> streamRetention,
    "stream_gap_fill" -> streamGapFill,
    "stream_conversion_lag" -> streamConversionLag,
    "stream_corpus_ingest" -> streamCorpusIngest,
    "stream_decontam" -> streamDecontam,
    "stream_neardup" -> streamNeardup,
    "stream_quality_drift" -> streamQualityDrift,
    "stream_vocab_drift" -> streamVocabDrift,
    "stream_source_caps" -> streamSourceCaps,
    "stream_prefix_dup" -> streamPrefixDup,
    "stream_url_dedup" -> streamUrlDedup,
    "stream_schema_profile" -> streamSchemaProfile,
    "stream_k_anonymity" -> streamKAnonymity,
    "stream_l_diversity" -> streamLDiversity,
    "stream_t_closeness" -> streamTCloseness,
    "stream_cross_source" -> streamCrossSource,
    "stream_multimodal_dedup" -> streamMultimodalDedup,
    "stream_multimodal_semdedup" -> streamMultimodalSemdedup,
    "stream_multimodal_cross_source" -> streamMultimodalCrossSource,
    "stream_embed_drift" -> streamEmbedDrift,
    "stream_ivf_occupancy" -> streamIvfOccupancy,
    "stream_dsir_model" -> streamDsirModel,
    "stream_length_outliers" -> streamLengthOutliers,
    "stream_ks_drift" -> streamKsDrift)

  val oracle: Map[String, String] = Map(
    // the batch twin is the monitor's report over its slice of the
    // exactly-once input (ks drift: the same report over the same
    // histogram; source caps: the same TrainPrep.groupCap), and the doubled
    // delivery collapses in the kind's merge, so the pair shares the oracle
    "stream_ks_drift" -> ExtQueries.oracle("ext_ks_drift"),
    "stream_gap_fill" -> CdcQueries.oracle("window_gap_fill"),
    "stream_source_caps" -> ExtQueries.oracle("ext_source_caps"),
    "stream_prefix_dup" -> ExtQueries.oracle("ext_prefix_dup"),
    "stream_url_dedup" -> ExtQueries.oracle("ext_dedup_url"),
    "stream_k_anonymity" -> CdcQueries.oracle("agg_k_anonymity"),
    "stream_l_diversity" -> CdcQueries.oracle("agg_l_diversity"),
    "stream_t_closeness" -> CdcQueries.oracle("agg_t_closeness"),
    "stream_embed_drift" -> ExtQueries.oracle("ext_embed_drift"),
    "stream_dsir_model" -> ExtQueries.oracle("ext_dsir_model"),
    "stream_ivf_occupancy" -> ExtQueries.oracle("ext_sim_ivf_occupancy"),
    "stream_length_outliers" -> ExtQueries.oracle("ext_length_outliers"),
    // the same answer from different aggregates: the batch twin counts its
    // exactly-once input directly, the monitor folds a dedup-safe grid
    "stream_schema_profile" -> CdcQueries.oracle("agg_schema_profile"),
    // one report (Dedup.crossSourceMatrix, Multimodal.softDedup, or the
    // pair set itself) over pairs found two ways: the batch twin joins the
    // corpus at once, the stream form probes the monitor's own index; both
    // are the lossless full join, so the pair shares the batch oracle
    "stream_neardup" -> ExtQueries.oracle("ext_dedup_ngram"),
    "stream_cross_source" -> ExtQueries.oracle("ext_dedup_cross_source"),
    "stream_multimodal_dedup" -> ExtQueries.oracle("ext_multimodal_dedup"),
    "stream_multimodal_semdedup" -> ExtQueries.oracle("ext_multimodal_semdedup"),
    "stream_multimodal_cross_source" -> ExtQueries.oracle("ext_multimodal_cross_source"),

    "source_changestream" ->
      s"""SELECT event_id, ${fmtTsSql("ts")} AS ts_s, user_id, $OP AS op_type, props
         |FROM events WHERE event_type IS DISTINCT FROM 'error'
         |ORDER BY event_id""".stripMargin,

    // replay-with-overlap ≡ clean full run (idempotence) — the oracle is the
    // plain full-log last-write-wins state
    "sink_checkpoint" ->
      s"""SELECT user_id, ${fmtTsSql("ts")} AS last_ts, event_id AS last_event_id,
         |       event_type AS last_event
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |      FROM events WHERE event_type IS DISTINCT FROM 'error') q
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // gap-sessionization (strict > 1800 s closes), minus each user's last
    // (still-open) session — the batch-mode emission of the state machine
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |           WHERE event_type IS DISTINCT FROM 'error'),
        |m AS (SELECT user_id, sec,
        |        CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
        |             THEN 1 ELSE 0 END AS new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
        |g AS (SELECT user_id, sec,
        |        sum(new) OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |sess AS (SELECT user_id, sid, min(sec) AS session_start, max(sec) AS session_end,
        |                count(*) AS n_events
        |         FROM g GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events
        |FROM sess
        |WHERE sid <> (SELECT max(sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
        |ORDER BY user_id, session_start""".stripMargin,

    // batch form of the watermarked windowed agg: 1-day tumbling windows in
    // UTC ≡ date_trunc('day'); deletes dropped by the shared transform
    "stream_window_counts" ->
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, $OP AS op_type,
         |       count(*) AS n
         |FROM events WHERE event_type IS DISTINCT FROM 'error'
         |GROUP BY 1, 2 ORDER BY day, op_type""".stripMargin,

    // batch form of the incremental leaderboard: daily per-type counts
    // (deletes dropped by the shared transform) ranked top-3 per day
    "stream_topk" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |                      CAST(count(*) AS BIGINT) AS n
        |               FROM events WHERE event_type IS DISTINCT FROM 'error'
        |               GROUP BY 1, 2),
        |r AS (SELECT day, event_type, n,
        |             CAST(row_number() OVER (PARTITION BY day
        |                                     ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        |      FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, rnk, event_type, n
        |FROM r WHERE rnk <= 3 ORDER BY 1, 2""".stripMargin,

    // window_holt's SQL, string-derived, with the transform's delete
    // filter spliced into the daily CTE — one recurrence definition
    "stream_holt" -> CdcQueries.oracle("window_holt").replace(
      "FROM events GROUP BY 1, 2",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1, 2"),

    // agg_benford's SQL with the transform's delete filter spliced into
    // the digit CTE — one audit definition
    "stream_benford" -> CdcQueries.oracle("agg_benford").replace(
      "FROM events)",
      "FROM events WHERE event_type IS DISTINCT FROM 'error')"),

    // the batch twins' SQL with the transform's delete filter spliced
    // into the daily CTE: each twin runs the same report over its own
    // exactly-once daily counts (TopkStream.slice, or the per-day count)
    "stream_theilsen" -> CdcQueries.oracle("window_theilsen").replace(
      "FROM events GROUP BY 1, 2",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1, 2"),
    "stream_mann_kendall" -> CdcQueries.oracle("agg_mann_kendall").replace(
      "FROM events GROUP BY 1, 2",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1, 2"),
    "stream_changepoint" -> CdcQueries.oracle("agg_changepoint").replace(
      "FROM events GROUP BY 1",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1"),
    "stream_changepoint_tree" -> CdcQueries.oracle("agg_changepoint_tree").replace(
      "FROM events GROUP BY 1",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1"),
    "stream_anomaly_days" -> CdcQueries.oracle("agg_anomaly_days").replace(
      "FROM events GROUP BY 1",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1"),
    "stream_lttb" -> CdcQueries.oracle("window_lttb").replace(
      "FROM events GROUP BY 1, 2",
      "FROM events WHERE event_type IS DISTINCT FROM 'error' GROUP BY 1, 2"),

    // the closed-form CUSUM over daily totals of the deduped, delete-
    // filtered stream — window_cusum's SQL with the transform's filter
    // (both run TopkStream.cusumReport over a (day, n) frame)
    "stream_cusum" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |               FROM events WHERE event_type IS DISTINCT FROM 'error'
        |               GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS HUGEINT) AS D, CAST(sum(n) AS HUGEINT) AS S,
        |              CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS SS
        |       FROM daily),
        |c AS (SELECT day, n, CAST(sum(CAST(n AS HUGEINT) * D - S) OVER w AS HUGEINT) AS cy
        |      FROM daily, st WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |e AS (SELECT day, n,
        |             cy - least(min(cy) OVER w, 0) AS up,
        |             greatest(max(cy) OVER w, 0) - cy AS dn
        |      FROM c WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
        |SELECT strftime(e.day, '%Y-%m-%d') AS day, e.n,
        |       CAST(up AS BIGINT) AS cusum_up, CAST(dn AS BIGINT) AS cusum_down,
        |       up * up > 16 * (D * SS - S * S) AS shift_up,
        |       dn * dn > 16 * (D * SS - S * S) AS shift_down
        |FROM e, st ORDER BY day""".stripMargin,

    // exact top-k of the deduped, delete-filtered stream — valid as the
    // sketch oracle because K=256 > the fixture's distinct users (no
    // eviction ⇒ the Misra–Gries estimates ARE the exact counts)
    "stream_heavy_hitters" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS est_n
        |FROM events WHERE event_type IS DISTINCT FROM 'error'
        |GROUP BY user_id ORDER BY est_n DESC, user_id LIMIT 20""".stripMargin,

    // the exact histogram quantiles of the deduped, delete-filtered
    // stream — agg_value_quantiles' SQL with the transform's filter
    "stream_value_quantiles" ->
      """WITH h AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |                  CAST(count(*) AS BIGINT) AS hn
        |           FROM events WHERE event_type IS DISTINCT FROM 'error'
        |           GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(hn) AS BIGINT) AS n FROM h GROUP BY 1),
        |c AS (SELECT event_type, cents, hn,
        |             CAST(sum(hn) OVER (PARTITION BY event_type ORDER BY cents
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM h)
        |SELECT c.event_type, t.n AS n_events,
        |       min(CASE WHEN cum >= (500 * n + 999) // 1000 THEN cents END) / 100.0 AS p50,
        |       min(CASE WHEN cum >= (900 * n + 999) // 1000 THEN cents END) / 100.0 AS p90,
        |       min(CASE WHEN cum >= (990 * n + 999) // 1000 THEN cents END) / 100.0 AS p99
        |FROM c JOIN t USING (event_type)
        |GROUP BY c.event_type, t.n ORDER BY c.event_type""".stripMargin,

    // identical to the batch agg_daily_bars oracle: on bounded input the
    // watermark drops nothing and UTC day windows == calendar days
    "stream_daily_bars" ->
      """WITH p AS (SELECT CAST(ts AS DATE) AS day, ts, event_id,
        |                  round(value, 4) AS v
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT day, v,
        |             row_number() OVER (PARTITION BY day ORDER BY ts, event_id) AS rf,
        |             row_number() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rl
        |      FROM p),
        |a AS (SELECT day, max(v) AS high, min(v) AS low,
        |             CAST(count(*) AS BIGINT) AS n_events
        |      FROM p GROUP BY day)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day,
        |       o.v AS open, a.high, a.low, c.v AS close, a.n_events
        |FROM a
        |JOIN r o ON a.day = o.day AND o.rf = 1
        |JOIN r c ON a.day = c.day AND c.rl = 1
        |ORDER BY day""".stripMargin,

    // set-union state makes the incremental build byte-identical to the
    // batch window_scd2, the same report over the exactly-once slice —
    // same oracle SQL
    "stream_scd2" ->
      s"""WITH f AS (SELECT * FROM events WHERE event_type IS DISTINCT FROM 'error'),
         |ch AS (SELECT user_id, event_type, ts, event_id,
         |              lag(event_type, 1) OVER
         |                (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |       FROM f),
         |v AS (SELECT user_id, event_type, ts,
         |             CAST(row_number() OVER
         |               (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
         |             lead(ts, 1) OVER
         |               (PARTITION BY user_id ORDER BY ts, event_id) AS to_ts
         |      FROM ch WHERE prev IS NULL OR prev <> event_type)
         |SELECT user_id, version, event_type,
         |       ${fmtTsSql("ts")} AS valid_from, ${fmtTsSql("to_ts")} AS valid_to,
         |       to_ts IS NULL AS is_current
         |FROM v ORDER BY user_id, version""".stripMargin,

    // first-event chain over per-user min timestamps per stage type; the
    // doubled delivery collapses through the min-merge, so the oracle is
    // the clean single-run computation (deletes dropped by the shared
    // transform — irrelevant here, 'error' is not a stage type)
    "stream_funnel" ->
      """WITH m AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')
        |  GROUP BY 1),
        |r AS (SELECT CAST(count(t1) AS BIGINT) AS n1,
        |             CAST(count(CASE WHEN tc > t1 THEN 1 END) AS BIGINT) AS n2,
        |             CAST(count(CASE WHEN tc > t1 AND tp > tc THEN 1 END) AS BIGINT) AS n3
        |      FROM m),
        |s AS (SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, n1 AS n_users, n1 FROM r
        |      UNION ALL SELECT 2, 'click', n2, n1 FROM r
        |      UNION ALL SELECT 3, 'purchase', n3, n1 FROM r)
        |SELECT stage_idx, stage, n_users,
        |       CAST(n_users * 1000 // greatest(n1, 1) AS BIGINT) AS conv_permille
        |FROM s ORDER BY stage_idx""".stripMargin,

    // first-event chain completers' signup→purchase lag; type-1 integer-
    // rank quantiles via row_number in the oracle vs the engine's domain
    // histogram — same element by construction
    "stream_conversion_lag" ->
      """WITH m AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')
        |  GROUP BY 1),
        |c AS (SELECT CAST(floor(epoch(tp)) AS BIGINT)
        |             - CAST(floor(epoch(t1)) AS BIGINT) AS lag_sec
        |      FROM m WHERE tc > t1 AND tp > tc),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(lag_sec) AS BIGINT) AS sm FROM c),
        |r AS (SELECT lag_sec, row_number() OVER (ORDER BY lag_sec) AS rn FROM c)
        |SELECT n AS n_converters,
        |       CAST(min(CASE WHEN rn = (500 * n + 999) // 1000 THEN lag_sec END)
        |            AS BIGINT) AS p50_sec,
        |       CAST(max(CASE WHEN rn = (900 * n + 999) // 1000 THEN lag_sec END)
        |            AS BIGINT) AS p90_sec,
        |       CAST(sm // greatest(n, 1) AS BIGINT) AS mean_sec
        |FROM r, tot
        |WHERE rn = (500 * n + 999) // 1000 OR rn = (900 * n + 999) // 1000
        |GROUP BY n, sm""".stripMargin,

    // week-granular distinct facts; the doubled delivery collapses through
    // the distinct-union merge, so the oracle is the clean single-run
    // computation (deletes dropped by the shared transform)
    "stream_retention" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
        |           FROM events WHERE event_type IS DISTINCT FROM 'error'),
        |s AS (SELECT user_id, min(week) AS w0 FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, w0 AS cohort_week, week - w0 AS week_n
        |      FROM e JOIN s USING (user_id) WHERE week >= w0),
        |cnt AS (SELECT cohort_week, week_n, CAST(count(*) AS BIGINT) AS n_users
        |        FROM a GROUP BY 1, 2),
        |w0t AS (SELECT cohort_week, n_users AS w0_users FROM cnt WHERE week_n = 0)
        |SELECT c.cohort_week, week_n, n_users,
        |       CAST(n_users * 1000 // greatest(w0_users, 1) AS BIGINT)
        |         AS retention_permille
        |FROM cnt c JOIN w0t USING (cohort_week)
        |ORDER BY cohort_week, week_n""".stripMargin,

    // duplicate rows are byte-identical, so DISTINCT over the doubled log
    // is exactly the per-id dedup
    "stream_dedup" ->
      s"""SELECT DISTINCT event_id, ${fmtTsSql("ts")} AS ts_s, user_id, event_type, value
         |FROM (SELECT * FROM events UNION ALL SELECT * FROM events) e
         |ORDER BY event_id""".stripMargin,

    // idempotent ingest over a doubled delivery ≡ the clean single run:
    // quality gate then min-id winner per content digest (the quality
    // components mirror TextFns' fixed op order — the corpus-prep gate)
    "stream_corpus_ingest" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |         CAST(len(list_filter(string_split(text, ' '),
        |                x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS stop_ratio,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |           / len(string_split(text, ' ')) AS ttr,
        |         least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS len_sat
        |  FROM documents),
        |g AS (SELECT doc_id, lang,
        |             stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3 AS quality,
        |             sha256(lower(trim(text))) AS dg
        |      FROM q
        |      WHERE stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3 >= CAST(0.3 AS DOUBLE))
        |SELECT doc_id, lang, floor(quality * 10000 + 0.5) / 10000 AS quality
        |FROM (SELECT *, row_number() OVER (PARTITION BY dg ORDER BY doc_id) AS rn FROM g)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // pure per-row verdict ⇒ doubled delivery collapses to the single run:
    // per corpus doc, how many of its distinct 13-grams appear anywhere in
    // the eval slice (src0); string shingles stand in for the engine's
    // xxhash64'd ones (shared-shingle counts are hash-invariant)
    "stream_decontam" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         unnest(list_transform(generate_series(1, greatest(len(t) - 12, 0)),
        |                               i -> array_to_string(t[i:i+12], ' '))) AS shingle
        |       FROM toks),
        |idx AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |         FROM sh JOIN idx USING (shingle)
        |         WHERE sh.source <> 'src0'
        |         GROUP BY 1)
        |SELECT d.doc_id, d.source,
        |       coalesce(h.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |       coalesce(h.n_shared, CAST(0 AS BIGINT)) = 0 AS clean
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin,

    // pure per-row verdict ⇒ doubled delivery collapses to the single run;
    // the gate mirrors the corpus-report quality rule (rnd4'd score ≥ 0.3,
    // fixed op order), rates are floored integer permilles on both sides
    "stream_quality_drift" -> {
      val en = graft.functions.TextFns.stopwords("en").map(w => s"'$w'").mkString(",")
      val score = Tables.rnd4Sql("stop_ratio * 0.4 + ttr * 0.3 + len_sat * 0.3")
      s"""WITH c AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                x -> list_contains([$en], x))) AS DOUBLE)
         |           / len(string_split(text, ' ')) AS stop_ratio,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |           / len(string_split(text, ' ')) AS ttr,
         |         least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS len_sat
         |  FROM documents),
         |v AS (SELECT doc_id, source, n_tokens,
         |             CASE WHEN $score >= CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END AS pass
         |      FROM c),
         |base AS (SELECT source, CAST(count(*) AS BIGINT) AS base_docs,
         |                CAST(sum(pass) AS BIGINT) AS base_pass
         |         FROM v WHERE (doc_id // 20) % 2 = 0 GROUP BY source),
         |arr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(pass) AS BIGINT) AS n_pass,
         |               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |        FROM v WHERE (doc_id // 20) % 2 = 1 GROUP BY source)
         |SELECT a.source, n_docs, n_pass, n_tokens,
         |       CAST(n_pass * 1000 // n_docs AS BIGINT) AS pass_permille,
         |       CAST(base_pass * 1000 // base_docs AS BIGINT) AS base_permille,
         |       (base_docs IS NULL) OR
         |         abs(n_pass * 1000 // n_docs - base_pass * 1000 // base_docs)
         |           > $DriftPermille AS drift
         |FROM arr a LEFT JOIN base b USING (source)
         |ORDER BY a.source""".stripMargin
    },

    // pure per-row verdict against the STATIC top-64 vocab (trained on the
    // even-block slice, tf desc + token tie-break — the vocabTop ranking)
    // ⇒ doubled delivery collapses to the single run; rates are floored
    // integer permilles of TOKEN mass on both sides
    "stream_vocab_drift" ->
      s"""WITH rtok AS (SELECT unnest(string_split(text, ' ')) AS token
         |             FROM documents WHERE (doc_id // 20) % 2 = 0),
         |vc AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM rtok GROUP BY 1),
         |vtop AS (SELECT token FROM vc ORDER BY tf DESC, token LIMIT $VocabDriftK),
         |vl AS (SELECT list(token) AS vl FROM vtop),
         |g AS (SELECT doc_id, source,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        CAST(len(list_filter(string_split(text, ' '),
         |               x -> NOT list_contains(vl, x))) AS BIGINT) AS n_oov,
         |        (doc_id // 20) % 2 AS par
         |      FROM documents, vl),
         |base AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS base_tokens,
         |                CAST(sum(n_oov) AS BIGINT) AS base_oov
         |         FROM g WHERE par = 0 GROUP BY source),
         |arr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |               CAST(sum(n_oov) AS BIGINT) AS n_oov
         |        FROM g WHERE par = 1 GROUP BY source)
         |SELECT a.source, n_docs, n_tokens, n_oov,
         |       CAST(n_oov * 1000 // greatest(n_tokens, 1) AS BIGINT) AS oov_permille,
         |       CAST(base_oov * 1000 // greatest(base_tokens, 1) AS BIGINT) AS base_permille,
         |       (base_tokens IS NULL) OR
         |         abs(n_oov * 1000 // greatest(n_tokens, 1)
         |             - base_oov * 1000 // greatest(base_tokens, 1))
         |           > $OovDriftPermille AS drift
         |FROM arr a LEFT JOIN base b USING (source)
         |ORDER BY a.source""".stripMargin)
}
