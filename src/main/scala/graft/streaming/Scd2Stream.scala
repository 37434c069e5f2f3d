package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.CdcOps

/** Streaming SCD2 — the incremental form of the batch `window_scd2`
  * materialization (SURVEY §2.4 × §2.7): the change stream arrives
  * at-least-once; each micro-batch folds its surviving change rows into a
  * compacted per-event change SET, and the dimension history is derived from
  * that state on demand.
  *
  * State design — why the state is the DEDUPED CHANGE LOG, not version
  * rows: SCD2 version numbers and validity intervals are order statistics
  * over a key's full history — a late batch can deliver an EARLIER change,
  * renumbering every later version and splitting an interval the previous
  * state already closed, so no bounded per-key summary of version rows
  * merges correctly under reordering. The convergent mergeable state is the
  * set of distinct change rows itself (keyed by `event_id`; set-union merge
  * is commutative, associative, idempotent), and [[report]] derives
  * (version, valid_from, valid_to, is_current) from the state at read time
  * — the same "facts in state, statistics at report time" trade
  * [[FunnelStream]] makes, except here the facts ARE the output's payload:
  * SCD2 history is O(changes) by definition, so state carries no overhead
  * over the result it serves.
  *
  * 100 TB shape: per batch the only exchange is the merge's event_id
  * grouping of state ∪ slice, which is also the dedup of redelivered rows
  * (in production the state rewrite is a transactional MERGE INTO keyed on
  * event_id — insert-if-absent); the report's window stack is per-key
  * ([[CdcOps.scd2]]'s one-shuffle shape).
  */
object Scd2Stream extends Monitor.Additive {

  /** The change columns one state row carries — the [[CdcOps.scd2]] inputs
    * (key, tracked attr, event time, tiebreak), fixture-instantiated. */
  val StateCols: Seq[String] = Seq("user_id", "event_type", "ts", "event_id")

  /** One (bounded or micro-batch) slice's state contribution: deletes
    * dropped (the reference's server-side $match, js:221–223 — re-applied
    * here so a slice built from a raw frame matches one built from
    * [[CdcPipeline.transform]], which already drops them), projected to
    * the change columns. Redelivered rows stay in: [[merge]]'s event_id
    * collapse is their dedup, so a dedup here would be a second shuffle
    * on the same key. */
  def slice(events: DataFrame): DataFrame =
    CdcOps.dropDeletes(events).select(StateCols.map(col): _*)

  /** Keyed set-union merge of two state tables: one row per event_id, all
    * payload columns min-folded (redelivered rows are byte-identical per
    * event_id, so min is the identity — spelled as an aggregate rather
    * than `first` so the merge is deterministic by construction).
    * Commutative, associative, idempotent ⇒ convergent under at-least-once
    * delivery and any micro-batch split of the input. */
  def merge(state: DataFrame, batch: DataFrame): DataFrame = {
    val payload = StateCols.filterNot(_ == "event_id").map(c => min(col(c)).as(c))
    state.unionByName(batch)
      .groupBy(col("event_id"))
      .agg(payload.head, payload.tail: _*)
  }

  /** Derive the SCD2 dimension history from the state table —
    * [[CdcOps.scd2]] over the compacted change set (per-key windows only;
    * nothing data-sized single-partition-sorts at report time), interval
    * bounds as second-precision strings. Shared by the batch query
    * `window_scd2` (over its exactly-once slice) and the stream form. */
  def report(state: DataFrame): DataFrame =
    CdcOps.scd2(state, "user_id", "event_type", "ts", "event_id")
      .select(col("user_id"), col("version"), col("event_type"),
        graft.Tables.fmtTs(col("valid_from")).as("valid_from"),
        graft.Tables.fmtTs(col("valid_to")).as("valid_to"), col("is_current"))
      .transform(graft.Tables.orderedRows(_, "user_id", "version"))

  /** Start the SCD2 build over the events in `sourceDir`:
    * [[CdcPipeline.changes]] merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.changes(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
