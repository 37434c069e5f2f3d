package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-type value quantiles — the incremental form of the batch
  * `agg_value_quantiles` monitor: p50/p90/p99 of `value` per event type,
  * continuously maintained (SURVEY §2.4 × §2.7).
  *
  * State design: the batch query's domain-histogram discipline IS the
  * streaming state. Values live on a 0.01 grid, so the sufficient
  * statistic is the (type, cents) count histogram — ADDITIVE under
  * arrival (each micro-batch folds its own map-side-combined histogram
  * in), bounded by the PRICE DOMAIN × type alphabet, never event-sized.
  * Exactly-once is layered the [[TopkStream]] way: redelivered rows die
  * in the watermarked event-id dedup; replayed batches die on the
  * [[StateCommit]] versioned-write + atomic-marker-flip guard (addition
  * is not idempotent, so the guard must be transactional). The report
  * then picks type-1 quantiles from the histogram by cumulative sum —
  * integer ranks, so any engine (and any batch/stream replay) picks the
  * same element.
  *
  * 100 TB shape: per batch the only exchange is the slice's (type, cents)
  * aggregate; the report's windows sort domain-sized frames. Same
  * code path batch and stream: `agg_value_quantiles` is [[report]] over
  * [[slice]], and the oracle-gated `stream_value_quantiles` replay is
  * [[report]] over the kind's batch answer. */
object QuantilesStream extends Monitor.Additive {

  /** (type, cents, hn) histogram of a slice — batch or micro-batch. */
  def slice(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("hn"))

  /** Additive merge of a slice histogram into the state histogram. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.select(col("event_type"), col("cents"), col("hn"))
      .unionByName(slice.select(col("event_type"), col("cents"), col("hn")))
      .groupBy(col("event_type"), col("cents")).agg(sum(col("hn")).as("hn"))

  /** p50/p90/p99 per type from the histogram state: type-1 quantile at
    * permille p is `min{cents : cum ≥ ⌈p·n/1000⌉}`, cents/100.0 one exact
    * division. Shared by the batch query `agg_value_quantiles` (over its
    * exactly-once slice) and the stream form. */
  def report(state: DataFrame): DataFrame = {
    val tot = state.groupBy(col("event_type")).agg(sum(col("hn")).as("__n"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q(p: Int) =
      min(when(col("cum") >= expr(s"($p * __n + 999) div 1000"), col("cents"))) / 100.0
    state.withColumn("cum", sum(col("hn")).over(cum))
      .join(tot, "event_type")
      .groupBy(col("event_type"), col("__n"))
      .agg(q(500).as("p50"), q(900).as("p90"), q(990).as("p99"))
      .select(col("event_type"), col("__n").as("n_events"),
        col("p50"), col("p90"), col("p99"))
      .transform(graft.Tables.orderedReport(_, "event_type"))
  }

  /** Start the quantile monitor over the events in `sourceDir`:
    * [[CdcPipeline.uniqueChanges]] folded into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.uniqueChanges(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
