package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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

  /** CUSUM level-shift report over the SAME (day, type) count state the
    * leaderboard maintains — the streaming form of the batch
    * `window_cusum` monitor: collapse state to daily totals, then the
    * closed-form running-sum-minus-running-extremum over the calendar-
    * bounded day frame (one continuously-maintained state table serving
    * two reports is the point: counts are the reusable fact). */
  def cusumReport(state: DataFrame): DataFrame = {
    val daily = state.groupBy(col("day")).agg(sum(col("n")).as("n"))
    val stats = broadcast(daily.agg(
      count(lit(1)).as("__D"), sum(col("n")).as("__S"),
      sum(col("n") * col("n")).as("__SS")))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val varY = dec(col("__D")) * dec(col("__SS")) - dec(col("__S")) * dec(col("__S"))
    daily.crossJoin(stats)
      .withColumn("y", col("n") * col("__D") - col("__S"))
      .withColumn("cy", sum(col("y")).over(cum))
      .withColumn("cusum_up", col("cy") - least(min(col("cy")).over(cum), lit(0L)))
      .withColumn("cusum_down", greatest(max(col("cy")).over(cum), lit(0L)) - col("cy"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        col("cusum_up"), col("cusum_down"),
        (dec(col("cusum_up")) * dec(col("cusum_up")) > lit(16) * varY).as("shift_up"),
        (dec(col("cusum_down")) * dec(col("cusum_down")) > lit(16) * varY).as("shift_down"))
      .transform(graft.Tables.orderedReport(_, "day"))
  }

  /** Holt level + trend forecast over the SAME (day, type) count state the
    * leaderboard maintains — the THIRD report off one continuously-
    * maintained fact table (with [[report]] and [[cusumReport]]): counts
    * are the reusable fact; level/trend/forecast are derived views.
    * Delegates to [[graft.operators.CdcOps.holt]] (integer-micro,
    * engine-exact); day frames calendar-bounded per type. */
  def holtReport(state: DataFrame): DataFrame =
    graft.operators.CdcOps.holt(state, "event_type", "day", "n")
      .transform(graft.Tables.orderedReport(_, "event_type", "day"))

  /** Start the incremental leaderboard over the events in `sourceDir`:
    * [[CdcPipeline.uniqueChanges]] folded into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.uniqueChanges(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
