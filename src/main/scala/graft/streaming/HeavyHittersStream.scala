package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming heavy hitters — the incremental form of the batch
  * `agg_heavy_hitters` Misra–Gries sketch: the top-frequency user_ids,
  * continuously maintained (SURVEY §2.4 sketch family × §2.7).
  *
  * State design: the state IS the sketch — ≤ `K` (key, count) counters
  * plus the seen-count row, a CONSTANT-size table at any corpus scale
  * (the whole point of the sketch tier: the batch form pays one
  * constant-size partial per partition; the streaming form pays one
  * constant-size state table per topic). Each micro-batch reduces to its
  * own ≤ K-counter summary ([[graft.functions.MisraGries]] UDAF — map-side
  * combine inside the batch), then merges into the state by the mergeable-
  * summaries rule (Agarwal et al. 2012): counter-wise sum, subtract the
  * (K+1)-th largest surviving count, drop non-positive — which preserves
  * the one-sided bound `true − n/(K+1) ≤ estimate ≤ true` for the TOTAL
  * stream length n across any batch split (SketchesSpec pins the merged
  * bound in eviction mode). Exactly-once is the [[TopkStream]] layering:
  * redelivered rows die in the watermarked event-id dedup; replayed
  * batches die on the [[StateCommit]] transactional guard (sketch merge
  * is additive, not idempotent).
  *
  * When K exceeds the distinct-key count no counter is ever evicted, the
  * sketch is exact, and batch/stream replays agree with the exact top-k —
  * the oracle-gated regime (`stream_heavy_hitters` at sf ≤ 0.01, the
  * `agg_heavy_hitters` discipline). */
object HeavyHittersStream extends Monitor.Additive {

  /** Counter budget — of the stream state and the batch `agg_heavy_hitters`,
    * which is [[report]] over [[slice]]. */
  final val K = 256

  /** Report depth. */
  final val TopN = 20

  /** Sentinel row key carrying the total stream length n (user ids are
    * digit strings, so a space-prefixed key can never collide). */
  private[streaming] val NKey = " n"

  /** One micro-batch (or batch) reduced to its ≤ K-counter summary plus
    * the n row — a single aggregate, map-side combined, one output pass
    * (the n row rides the same exploded map via map_concat). */
  def slice(events: DataFrame): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(K))
    events.agg(mg(col("user_id").cast("string")).as("sk"),
        count(lit(1)).as("__n"))
      .select(explode(map_concat(col("sk"),
        map(lit(NKey), col("__n")))).as(Seq("k", "est_n")))
  }

  /** [[mergeSketch]] at the state's counter budget `K`. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame = mergeSketch(state, slice, K)

  /** Mergeable-summaries merge of a slice sketch into the state sketch:
    * counter-wise sum, then if more than `k` counters survive, subtract
    * the (k+1)-th largest count from all and drop the non-positive — the
    * same rule as [[graft.functions.MisraGries.merge]], expressed over the
    * ≤ 2k+1-row sketch frames (every window here sorts a CONSTANT-bounded
    * frame). The n rows sum through the same groupBy. */
  def mergeSketch(state: DataFrame, slice: DataFrame, k: Int): DataFrame = {
    val combined = state.select(col("k"), col("est_n"))
      .unionByName(slice.select(col("k"), col("est_n")))
      .groupBy(col("k")).agg(sum(col("est_n")).as("est_n"))
    val w = Window.orderBy(col("est_n").desc, col("k"))
    val ranked = combined.filter(col("k") =!= NKey)
      .withColumn("__rn", row_number().over(w))
    val cut = ranked.agg(coalesce(
      max(when(col("__rn") === lit(k + 1), col("est_n"))), lit(0L)).as("__d"))
    ranked.crossJoin(cut)
      .select(col("k"), (col("est_n") - col("__d")).as("est_n"))
      .filter(col("est_n") > 0)
      .unionByName(combined.filter(col("k") === NKey))
  }

  /** Top-`topN` estimates (user_id, est_n) from the sketch state — shared
    * by the batch query `agg_heavy_hitters` (over its exactly-once slice)
    * and the stream form. */
  def report(state: DataFrame, topN: Int = TopN): DataFrame =
    state.filter(col("k") =!= NKey)
      .select(col("k").cast("long").as("user_id"), col("est_n"))
      .orderBy(col("est_n").desc, col("user_id")).limit(topN)

  /** Total stream length the state has absorbed (the bound's n). */
  def seenN(state: DataFrame): Long =
    state.filter(col("k") === NKey).select(col("est_n"))
      .collect().headOption.map(_.getLong(0)).getOrElse(0L)

  /** Start the heavy-hitters monitor over the events in `sourceDir`:
    * [[CdcPipeline.uniqueChanges]] folded into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.uniqueChanges(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
