package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TimeSeries
import graft.operators.TimeSeries.{dec, varNum}

/** Streaming top-k leaderboard — the incremental form of the batch
  * `window_rank_change` / `sort_topk_group` ranking family: per event-time
  * day, the K most frequent event types, continuously maintained
  * (SURVEY §2.5 × §2.7).
  *
  * State design — counts are NOT idempotent under at-least-once delivery
  * (a min-merge or distinct-union absorbs redelivery; addition does not),
  * so exactly-once is layered the production way instead:
  *  1. redelivered ROWS die in `dropDuplicatesWithinWatermark(event_id)`
  *     ([[CdcPipeline.dedupEvents]] — bounded state, entries expire with
  *     the watermark; rows later than the delay are dropped outright);
  *  2. replayed BATCHES (foreachBatch re-execution after a mid-apply
  *     crash) die on the batch-id marker: the state dir records the last
  *     applied id and a re-run of the same id is a no-op — the standard
  *     foreachBatch exactly-once idiom (a transactional sink's version
  *     column in production).
  * Past those two gates the merge is a plain additive fold of the batch
  * slice's (day, type) counts into the state table — state is bounded by
  * days × types (calendar × alphabet), never event-sized.
  *
  * 100 TB shape: per batch the only exchange is the slice's map-side-
  * combined (day, type) aggregate; the report ranks a frame of at most
  * types-per-day rows per day. The same [[slice]] + [[report]]
  * run on a bounded frame (batch/stream unification) — the oracle-gated
  * `stream_topk` replay. */
object TopkStream extends Monitor.Additive {

  /** Leaderboard depth. */
  final val K = 3

  /** Per-(event-time day, type) counts of a slice — batch or micro-batch. */
  def slice(events: DataFrame): DataFrame =
    events.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Additive merge of a counted slice into the state table. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.select(col("day"), col("event_type"), col("n"))
      .unionByName(slice.select(col("day"), col("event_type"), col("n")))
      .groupBy(col("day"), col("event_type")).agg(sum(col("n")).as("n"))

  /** Rank the state table to the top-K leaderboard: per-day row_number on
    * (n desc, type) — a total order, over frames bounded by types-per-day
    * at any corpus scale. */
  def report(state: DataFrame, k: Int = K): DataFrame = {
    val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("event_type"))
    state.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("rnk"),
        col("event_type"), col("n"))
      .transform(graft.Tables.orderedReport(_, "day", "rnk"))
  }

  /** The state collapsed to per-day totals, (day, n): the series the
    * daily-total reports ([[cusumReport]], changepoint, anomaly days) read
    * off the SAME (day, type) count state the leaderboard maintains. */
  def dayTotals(state: DataFrame): DataFrame =
    state.groupBy(col("day")).agg(sum(col("n")).as("n"))

  /** CUSUM level-shift detection over a (day, n) daily-total frame (Page
    * 1954 — the change-point monitor that catches a sustained drift the 2σ
    * single-day rule cannot), shared by the batch query `window_cusum` and
    * the stream form over [[dayTotals]]: the one-sided recursion
    * C_t = max(0, C_{t−1} + y_t) is re-expressed CLOSED-FORM as a running
    * sum minus its running minimum (C_t = Y_t − min_{≤t} Y_t), so two
    * windows over the calendar-bounded day domain replace the sequential
    * recursion. Deviations are multiplied out to integers (y_t = D·n_t − S,
    * the anomaly-days discipline), the 4σ alarm compares
    * C_t² > 16·(D·SS − S²) in widened decimals — bit-exact on any engine,
    * no float accumulation anywhere. Both drift directions surface
    * (up = regression burst, down = source stall). */
  def cusumReport(daily: DataFrame): DataFrame = {
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(TimeSeries.countMoments(daily))
      .withColumn("y", col("n") * col("__D") - col("__S"))
      .withColumn("cy", sum(col("y")).over(cum))
      // the running extremum must include the EMPTY prefix (Y₀ = 0), or a
      // series that only rises would under-report its own first days
      .withColumn("cusum_up", col("cy") - least(min(col("cy")).over(cum), lit(0L)))
      .withColumn("cusum_down", greatest(max(col("cy")).over(cum), lit(0L)) - col("cy"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        col("cusum_up"), col("cusum_down"),
        (dec(col("cusum_up")) * dec(col("cusum_up")) > lit(16) * varNum).as("shift_up"),
        (dec(col("cusum_down")) * dec(col("cusum_down")) > lit(16) * varNum).as("shift_down"))
      .transform(graft.Tables.orderedReport(_, "day"))
  }

  /** Holt level + trend forecast over a (day, type) count frame — shared
    * by the batch query `window_holt` and the stream form over the state:
    * counts are the reusable fact; level/trend/forecast are derived views.
    * Delegates to [[graft.operators.CdcOps.holt]] (integer-micro,
    * engine-exact); day frames calendar-bounded per type. */
  def holtReport(state: DataFrame): DataFrame =
    graft.operators.CdcOps.holt(state, "event_type", "day", "n")
      .transform(graft.Tables.orderedReport(_, "event_type", "day"))

  /** LTTB chart downsampling ([[TimeSeries.lttb]]) of a (day, type) count
    * frame: each type's daily series reduced to 12 shape-preserving points
    * — what a dashboard fetches instead of the full span. Shared by the
    * batch query `window_lttb` and the stream form over the state. */
  def lttbReport(state: DataFrame): DataFrame =
    TimeSeries.lttb(state, "event_type", "day", "n", buckets = 10)
      .transform(graft.Tables.orderedReport(_, "event_type", "rank"))

  /** Start the incremental leaderboard over the events in `sourceDir`:
    * [[CdcPipeline.uniqueChanges]] folded into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.uniqueChanges(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
