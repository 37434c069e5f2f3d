package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained embedding-space drift monitor — the incremental
  * form of the batch `ext_embed_drift` gate: per embedding dimension, the
  * reference-vs-current mean shift, kept current as new vectors land
  * (SURVEY §2.7 × §2.8). A new encoder version or a domain shift in the
  * crawl surfaces at the batch it arrives, before the ANN/semdedup tiers
  * quietly degrade.
  *
  * State design — vectors arrive at-least-once and carry NO event time to
  * watermark on, so the TopkStream watermarked-dedup gate is unavailable;
  * but storing the vectors themselves as idempotent membership (the
  * KsDrift survivor-set discipline) would keep a full second copy of the
  * embedding corpus for a DIM-bounded report. Instead the state splits
  * into the minimal halves, one discipline each:
  *  - `<target>/seen` — the vec_id LEDGER ([[AppendState]], O(batch)
  *    idempotent deltas): 8 bytes per vector, the smallest possible
  *    exactly-once token absent event time;
  *  - `<target>/grid` — the ADDITIVE per-dimension sum grid
  *    ([[StateCommit]] versioned flips): dim-bounded, rewritten atomically
  *    per batch at grid (not corpus) cost.
  * Per batch: dedup the batch by vec_id, ANTI-JOIN the ledger (previously
  * delivered vectors die here), fold only the genuinely-new vectors' sums
  * into the grid under the batch-id guard, THEN append their ids to the
  * ledger. The ordering makes every crash/replay safe: a replay before
  * the grid flip re-derives the same new-row set (the ledger hasn't moved)
  * and re-merges; a replay after it is refused by the marker and only
  * re-appends ids (idempotent); rows redelivered in a LATER batch die on
  * the ledger anti-join.
  *
  * 100 TB shape: the ledger write is O(batch); the anti-join is one
  * id-keyed shuffle of the batch against the slim ledger; the grid
  * aggregate is map-side combined onto a DIM-bounded frame. Nothing
  * corpus-sized is rewritten per micro-batch; [[compact]] bounds ledger
  * read amplification.
  *
  * Batch/stream unification: the batch `ext_embed_drift` IS
  * [[report]]([[slice]](embeddings)) — exactly-once input makes the
  * one-shot slice the fully-merged grid — and the two forms share ONE
  * oracle SQL. The batch-replay form is oracle-gated as
  * `stream_embed_drift` over a DOUBLED delivery collapsed by the same
  * vec_id dedup the ledger discipline applies; live
  * restart/redelivery/replay in StreamingSpec. */
object EmbedDriftStream extends Monitor.Ledgered {
  protected def key = "vec_id"

  /** One slice's per-dimension grid contribution — 1e-4-snapped sums and
    * counts per (pos, parity-slice): reference = even vec_id, current =
    * odd (the deterministic stand-in for reference-corpus vs
    * incoming-shard frames). Map-side combined onto the dim-bounded
    * grid; additive under exactly-once input. */
  def slice(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      posexplode(transform(col("embedding"),
        v => floor(v.cast("double") * 10000.0 + 0.5).cast("long")))
        .as(Seq("pos", "v")))
      .groupBy(col("pos").cast("long").as("pos"))
      // slice predicates are =0 / ≠0 (not =1): Spark's pmod is always
      // non-negative but SQL `%` keeps the sign, so `pmod(id,2)===1` and
      // `id % 2 = 1` would disagree on a hypothetical negative id while
      // the =0/≠0 pair agrees for ALL ids. Counts via count(when(…)) —
      // count of an all-null column is 0 where sum is NULL, and the
      // oracle's count(CASE …) is 0 on an empty parity slice
      .agg(
        sum(when(pmod(col("vec_id"), lit(2)) === 0, col("v"))).as("s_ref"),
        count(when(pmod(col("vec_id"), lit(2)) === 0, lit(1))).as("n_ref"),
        sum(when(pmod(col("vec_id"), lit(2)) =!= 0, col("v"))).as("s_cur"),
        count(when(pmod(col("vec_id"), lit(2)) =!= 0, lit(1))).as("n_cur"))

  /** Additive merge of a grid delta into the grid state (sum ignores
    * nulls, so a slice whose batch had only one parity merges cleanly). */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.unionByName(slice)
      .groupBy(col("pos"))
      .agg(sum(col("s_ref")).as("s_ref"), sum(col("n_ref")).as("n_ref"),
        sum(col("s_cur")).as("s_cur"), sum(col("n_cur")).as("n_cur"))

  /** The drift report off the grid — identical columns to the batch
    * `ext_embed_drift`: per dimension the slice sums/counts and the
    * DIVISION-FREE cross-multiplied mean-shift numerator
    * s_cur·n_ref − s_ref·n_cur, ranked by |delta| (counts are
    * dimension-independent, so that IS the |Δmean| rank); ties break
    * pos-ascending. The window orders a DIM-bounded frame. */
  def report(state: DataFrame): DataFrame = {
    val g = state.withColumn("delta_num_e4",
      col("s_cur") * col("n_ref") - col("s_ref") * col("n_cur"))
    val w = Window.orderBy(abs(col("delta_num_e4")).desc, col("pos"))
    g.withColumn("drift_rank", row_number().over(w).cast("long"))
      .select(col("pos"), col("n_ref"), col("n_cur"),
        col("s_ref").as("s_ref_e4"), col("s_cur").as("s_cur_e4"),
        col("delta_num_e4"), col("drift_rank"))
      .transform(graft.Tables.orderedReport(_, "pos"))
  }

  /** Start the drift monitor over the embeddings parquet files in
    * `sourceDir`, read with their observed schema. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(
      Monitor.observedStream(spark, sourceDir, "vec_id BIGINT, embedding ARRAY<FLOAT>"),
      checkpointDir, availableNow)(applyBatch(spark, _, targetDir, _))
}
