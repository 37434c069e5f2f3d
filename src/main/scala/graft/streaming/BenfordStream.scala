package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.CdcOps

/** Continuously-maintained Benford first-digit monitor (SURVEY §2.4 ×
  * §2.7) — the batch `agg_benford` value-authenticity audit run AT INGEST:
  * per micro-batch the slice's first-digit counts fold into a 9-row state
  * table, so a unit-mangling deploy or a fabricated-value source shifts
  * the χ² profile within one trigger interval, not at the next batch
  * audit.
  *
  * State design mirrors [[TopkStream]] exactly (the additive-count
  * discipline): digit counts are NOT redelivery-idempotent, so redelivered
  * ROWS die in the shared watermarked event-id dedup and replayed BATCHES
  * die on [[StateCommit]]'s transactional batch-id guard (versioned dir +
  * atomic marker flip). The state is NINE rows — the most bounded state in
  * the repo; per batch the only exchange is the slice's map-side-combined
  * digit aggregate. The batch query `agg_benford` is [[report]] over
  * [[slice]] — one definition, twins can't drift; batch-replay form
  * oracle-gated as `stream_benford`. */
object BenfordStream extends Monitor.Additive {

  /** Per-digit counts of a slice — batch or micro-batch. */
  def slice(events: DataFrame): DataFrame =
    events.select(CdcOps.benfordDigit(col("value")).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))

  /** Additive merge of a counted slice into the 9-row state. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.select(col("digit"), col("n_obs"))
      .unionByName(slice.select(col("digit"), col("n_obs")))
      .groupBy(col("digit")).agg(sum(col("n_obs")).as("n_obs"))

  /** The audit report ([[CdcOps.benfordReport]]) — shared by the batch
    * query `agg_benford` (over its exactly-once slice) and the stream
    * form. */
  def report(state: DataFrame): DataFrame = CdcOps.benfordReport(state)

  /** Start the ingest Benford monitor over the events in `sourceDir`:
    * [[CdcPipeline.uniqueChanges]] folded into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.uniqueChanges(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
