package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TimeSeries

/** Streaming gap-fill — the incremental form of the batch
  * `window_gap_fill` resample (SURVEY §2.5 × §2.7): observations arrive
  * at-least-once and out of order; each micro-batch folds into a compacted
  * per-(key, day) last-observation state, and the LOCF-filled calendar grid
  * is derived from that state on demand.
  *
  * State design — why the state is DAILY FACTS, not filled rows: a filled
  * day's value is "the latest observation at or before it", so a late
  * batch delivering an older day can retroactively change every filled day
  * after it up to the next real observation — no bounded per-day summary
  * of FILLED rows merges correctly under reordering. The convergent
  * mergeable state is the per-(key, day) argmax-by-(ts, tiebreak) fact
  * (max-merge is commutative, associative, idempotent), bounded by
  * keys × observed days regardless of raw event volume, and [[report]]
  * re-grids at read time — the [[Scd2Stream]] "facts in state, statistics
  * at report time" trade.
  *
  * 100 TB shape: per batch the only exchange is the (key, day) argmax of
  * the batch slice against state (a transactional MERGE INTO keyed on
  * (key, day) in production); the report is [[TimeSeries.gapFillDaily]]'s
  * per-key window stack over the compacted facts.
  */
object GapFillStream extends Monitor.Additive {

  /** One slice's state contribution: purchases only, rounded value, one
    * row per (user, day) — [[TimeSeries.dailyWinners]], the same argmax
    * the merge applies, so a slice is itself a valid state table. */
  def slice(events: DataFrame): DataFrame =
    TimeSeries.dailyWinners(events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), round(col("value"), 4).as("v")),
      "user_id", "ts", "v", "event_id")

  /** Keyed argmax merge of two state tables ([[TimeSeries.dailyWinners]]
    * over their union). Max-merge on the (ts, event_id, v) struct is
    * commutative, associative, idempotent ⇒ convergent under at-least-once
    * delivery and any micro-batch split. */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    TimeSeries.dailyWinners(state.unionByName(batch), "user_id", "ts", "v", "event_id")

  /** Derive the filled calendar grid from the state table — the LOCF grid
    * [[TimeSeries.gapFillDaily]] over the compacted facts, which are the
    * per-day winners already, days as ISO strings. Shared by the batch
    * query `window_gap_fill` (over its exactly-once slice) and the stream
    * form. */
  def report(state: DataFrame): DataFrame =
    TimeSeries.gapFillDaily(state, "user_id", "v")
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("value"), col("observed"))
      .transform(graft.Tables.orderedRows(_, "user_id", "day"))

  /** Start the gap-fill state build over the events in `sourceDir`:
    * [[CdcPipeline.changes]] merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.changes(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
