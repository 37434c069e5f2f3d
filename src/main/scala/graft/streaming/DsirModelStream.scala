package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained DSIR importance MODEL (SURVEY §2.7 × §2.8) —
  * the incremental form of the model half of `ext_dsir_weights` (Data
  * Selection via Importance Resampling, Xie et al. 2023): the token-level
  * log p_target/p_corpus table under Laplace-½ unigram LMs over the
  * corpus vocabulary. This table IS the exportable artifact a pipeline
  * ships: scoring a NEW shard is one tokens⋈model join against it, with
  * no corpus pass — so keeping it current at ingest means every
  * downstream selection job reads a model that already reflects the
  * documents that arrived this morning.
  *
  * State design — [[EmbedDriftStream]]'s two-half discipline verbatim,
  * and for the same reasons: token counts are ADDITIVE (not idempotent)
  * under at-least-once delivery, and documents carry NO event time to
  * watermark on, so exactly-once comes from
  *  - `<target>/seen` — the doc_id LEDGER ([[AppendState]] O(batch)
  *    idempotent deltas): redelivered documents die on an anti-join;
  *  - `<target>/grid` — the ADDITIVE (token → raw_tf, tgt_tf) count grid
  *    ([[StateCommit]] versioned flips): VOCAB-bounded, rewritten
  *    atomically per batch at grid (not corpus) cost.
  * Per batch: dedup by doc_id → ledger anti-join → fold the new docs'
  * token counts into the grid under the batch-id guard → append their
  * ids. Replay before the flip re-derives the same new-doc set; replay
  * after it is refused by the marker and only re-appends ids
  * (idempotent); later redelivery dies on the ledger.
  *
  * 100 TB shape: the per-batch exchange is one map-side-combined token
  * aggregate of the batch onto the vocab-bounded grid plus one id-keyed
  * anti-join against the slim ledger; the report runs entirely on the
  * grid (one checkpointed pass + a broadcast 1-row stats frame). Nothing
  * corpus-sized is rewritten per micro-batch; [[compact]] bounds ledger
  * read amplification.
  *
  * Determinism: the `ext_dsir_weights` discipline — log-probs rounded to
  * integer micronats ON THE VOCAB-BOUNDED GRID only, every count exact.
  * Batch/stream unification: the batch `ext_dsir_model` IS
  * [[report]]([[slice]](documents)) and the two forms share ONE
  * oracle SQL; the batch-replay form is oracle-gated as
  * `stream_dsir_model` over a DOUBLED delivery collapsed by the same
  * doc_id dedup the ledger discipline applies; live
  * restart/redelivery/replay/compaction in StreamingSpec. */
object DsirModelStream extends Monitor.Ledgered {
  protected def key = "doc_id"

  /** The target slice every DSIR form in the repo scores toward (the
    * `en` documents — `ext_dsir_weights`' DsirTargetLang). */
  val TargetLang = "en"

  /** The default target predicate over a documents frame. */
  def isTarget: Column = col("lang") === TargetLang

  /** One slice's token-count grid contribution: per token the corpus
    * count and the target-slice count — ONE explode + ONE map-side-
    * combined aggregate onto the vocab-bounded grid. Tokenization is
    * [[graft.functions.TextFns.tokens]], the corpus-wide convention. */
  def slice(docs: DataFrame): DataFrame =
    docs.select(isTarget.as("__tgt"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("raw_tf"),
        sum(when(col("__tgt"), lit(1L)).otherwise(lit(0L))).as("tgt_tf"))

  /** Additive merge of a grid delta into the grid state. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.unionByName(slice)
      .groupBy(col("token"))
      .agg(sum(col("raw_tf")).as("raw_tf"), sum(col("tgt_tf")).as("tgt_tf"))

  /** The model table off the count grid — per vocab token both counts and
    * the Laplace-½ log-probs in integer micronats (the repo-wide lnMicro
    * unit), plus their difference (the per-occurrence importance
    * increment a scorer sums). The grid is checkpointed (vocab-bounded)
    * because the stats row and the projection both read it; the 1-row
    * stats frame is broadcast back. */
  def report(state: DataFrame): DataFrame = {
    val grid = state.localCheckpoint(true)
    val stats = broadcast(grid.agg(count(lit(1)).as("__v"),
      coalesce(sum(col("raw_tf")), lit(0L)).as("__rt"),
      coalesce(sum(col("tgt_tf")), lit(0L)).as("__tt")))
    def micro(c: Column, t: Column) =
      round(log((c + lit(0.5)) / (t + lit(0.5) * col("__v"))) * 1e6)
        .cast("long")
    grid.crossJoin(stats)
      .select(col("token"), col("raw_tf"), col("tgt_tf"),
        micro(col("tgt_tf"), col("__tt")).as("tgt_micro"),
        micro(col("raw_tf"), col("__rt")).as("raw_micro"),
        (micro(col("tgt_tf"), col("__tt")) -
          micro(col("raw_tf"), col("__rt"))).as("logratio_micro"))
      // token-level model grid — vocab grows with the corpus (Heaps' law),
      // so the global range sort stays for a multi-partition grid (the
      // ext_nb_train posture)
      .transform(graft.Tables.orderedRows(_, "token"))
  }

  /** Start the importance-model maintainer over the documents parquet
    * files in `sourceDir`, read with their observed schema. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(Monitor.observedStream(spark, sourceDir, "doc_id BIGINT, lang STRING, text STRING"),
      checkpointDir, availableNow)(applyBatch(spark, _, targetDir, _))
}
