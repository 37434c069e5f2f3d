package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
  * (key, day) in production); the report is [[graft.operators.TimeSeries
  * .gapFillDaily]]'s per-key window stack over the compacted facts.
  */
object GapFillStream extends Monitor.Additive {

  /** One slice's state contribution: purchases only, rounded value, one
    * row per (user, day) via the same argmax the merge applies — so a
    * slice is itself a valid state table. */
  def slice(events: DataFrame): DataFrame =
    latestPerDay(events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("event_id"), round(col("value"), 4).as("v")))

  /** Per-(user, day) argmax-by-(ts, event_id) as ONE struct-max aggregate
    * — constant-size mergeable partials (the `agg_daily_bars` shape), no
    * ranking window over raw rows. */
  private def latestPerDay(rows: DataFrame): DataFrame =
    rows.groupBy(col("user_id"), col("day"))
      .agg(max(struct(col("ts"), col("event_id"), col("v"))).as("__m"))
      .select(col("user_id"), col("day"), col("__m.ts").as("ts"),
        col("__m.event_id").as("event_id"), col("__m.v").as("v"))

  /** Keyed argmax merge of two state tables. Max-merge on the
    * (ts, event_id, v) struct is commutative, associative, idempotent ⇒
    * convergent under at-least-once delivery and any micro-batch split. */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    latestPerDay(state.unionByName(batch))

  /** Derive the filled calendar grid from the state table —
    * [[graft.operators.TimeSeries.gapFillDaily]] over the compacted facts
    * (its own per-day argmax is the identity on state rows, so batch and
    * streaming forms share one fill definition). */
  def report(state: DataFrame): DataFrame =
    graft.operators.TimeSeries.gapFillDaily(
      state.select(col("user_id"), col("ts"), col("event_id"), col("v")),
      "user_id", "ts", "v", "event_id")

  /** Start the gap-fill state build over the events in `sourceDir`:
    * [[CdcPipeline.changes]] merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.changes(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
