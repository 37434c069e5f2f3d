package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental JSON payload-shape monitoring at ingest (SURVEY §2.7 ×
  * §2.4) — the streaming form of `agg_schema_profile`: as change events
  * arrive, each batch's payload keys land in a continuously-maintained
  * state, so a producer shipping a NEW field (or dropping one) surfaces at
  * the batch it first happens, not at the next warehouse-load postmortem —
  * the monitor a schemaless replication pipeline runs in front of typed
  * consumers.
  *
  * State design ([[TopkStream]]'s exactly-once discipline — counts are NOT
  * idempotent under at-least-once delivery, so the two standard gates are
  * layered instead of event-granular membership):
  *  1. redelivered ROWS die in `dropDuplicatesWithinWatermark(event_id)`
  *     ([[CdcPipeline.dedupEvents]] — bounded state, entries expire with
  *     the watermark);
  *  2. replayed BATCHES die on the [[StateCommit]] batch-id marker
  *     (versioned write + atomic flip — the additive merge genuinely
  *     needs the replay guard to be transactional).
  * Past those gates the state is ONE additive grid at (event_type, key,
  * val) granularity — `n` events carrying that key→value pair, plus
  * mergeable first/last-seen days — and a per-type total row (key/val
  * null). Everything the report needs falls out of the grid: presence
  * count = Σ n over the key's value cells (an event carries each map key
  * once), distinct-value spread = the cell count itself, seen_from/seen_to
  * = min/max of the mergeable day bounds, denominator = the total row.
  *
  * 100 TB shape: state rows are bounded by |types| × |keys| × |value
  * domain| + |types| — the value-domain membership the spread aggregate
  * needs anyway — never by events (the previous event-granular membership
  * design was a second copy of the exploded event log; this one is the
  * grid). Per batch the only exchange is the slice's map-side-combined
  * aggregate onto that grid; the report runs entirely on the grid.
  *
  * State-layout note: this replaces the earlier event-granular
  * AppendState membership layout wholesale — a state directory written
  * by that version is NOT readable here (different schema AND commit
  * protocol); restart monitors on a fresh target + checkpoint pair.
  *
  * Batch/stream unification: the batch `agg_schema_profile` shares
  * [[kvSlice]] (the row-local parse + per-KEY fan-out) and the two forms
  * share ONE oracle SQL verbatim. The batch-replay form is oracle-gated as
  * `stream_schema_profile` over a DOUBLED delivery collapsed by the same
  * event-id dedup gate the live stream runs; live restart/redelivery in
  * StreamingSpec, grid-growth class pinned in StateLayoutSpec. */
object SchemaProfileStream extends Monitor.Additive {

  /** Row-local keyed payload fan-out off a ts-normalized events frame:
    * one (event_type, day, key, val) row per payload KEY (payload width,
    * never corpus size). Shared verbatim with the batch
    * `agg_schema_profile`. Keyless/unparsable payloads emit no row here —
    * they weigh only the per-type denominator ([[slice]]'s total rows). */
  def kvSlice(events: DataFrame): DataFrame =
    events.select(col("event_type"),
      // DATE, not a formatted string: min/max over a 4-byte date keeps the
      // grid aggregate in HashAggregate (a string buffer would force the
      // chain into sort-based aggregation); the report formats at output
      to_date(col("ts")).as("day"),
      explode(
        from_json(col("props"), "map<string,string>", Map.empty[String, String]))
        .as(Seq("key", "val")))

  /** One batch's grid delta: the kv fan-out aggregated onto the
    * (event_type, key, val) grid (count + day bounds), unioned with the
    * per-type total rows (key/val null; a keyless payload still counts).
    * Two scans of the batch — one with the JSON parse, one slim two-column
    * count — both map-side combined onto domain-bounded frames. `ts` is
    * normalized first, so either fixture encoding slices alike. */
  def slice(raw: DataFrame): DataFrame = {
    val events = graft.Tables.normalizeTs(raw)
    val kv = kvSlice(events)
      .groupBy(col("event_type"), col("key"), col("val"))
      .agg(count(lit(1)).as("n"),
        min(col("day")).as("day_min"), max(col("day")).as("day_max"))
    val tot = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        lit(null).cast("string").as("key"), lit(null).cast("string").as("val"),
        col("n"),
        lit(null).cast("date").as("day_min"), lit(null).cast("date").as("day_max"))
    kv.unionByName(tot)
  }

  /** Additive merge of a grid delta into the state grid: sum the counts,
    * widen the day bounds. Null key/val (the total rows) group together,
    * so the state keeps exactly one row per grid cell. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.unionByName(slice)
      .groupBy(col("event_type"), col("key"), col("val"))
      .agg(sum(col("n")).as("n"),
        min(col("day_min")).as("day_min"), max(col("day_max")).as("day_max"))

  /** The live shape report off the state grid — identical columns to the
    * batch `agg_schema_profile`: per (event_type, key) its event-presence
    * count and permille rate, distinct-value spread, and first/last day
    * seen. Presence = Σ n over the key's value cells; spread = the cell
    * count (one state row per distinct value by [[merge]]);
    * denominator = the per-type total row. Every aggregate runs on the
    * domain-bounded grid — no corpus-sized frame anywhere. */
  def report(state: DataFrame): DataFrame = {
    val grid = state.filter(col("key").isNotNull)
      .groupBy(col("event_type"), col("key"))
      .agg(sum(col("n")).as("n_present"),
        // count(col), not count(*): a key carried with a JSON null value
        // is one grid cell but NOT a distinct value — the batch twin's
        // countDistinct(val) and the oracle's count(DISTINCT …) both
        // ignore nulls, and this must agree with them
        count(col("val")).as("n_distinct_vals"),
        date_format(min(col("day_min")), "yyyy-MM-dd").as("seen_from"),
        date_format(max(col("day_max")), "yyyy-MM-dd").as("seen_to"))
    val tot = state.filter(col("key").isNull)
      .groupBy(col("event_type")).agg(sum(col("n")).as("__t"))
    grid.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("key"), col("n_present"),
        col("n_distinct_vals"), col("seen_from"), col("seen_to"),
        expr("n_present * 1000 div __t").as("permille"))
  }

  /** Start the ingest shape monitor over the events in `sourceDir`:
    * watermarked event-id dedup, then the grid fold into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(CdcPipeline.dedupEvents(graft.Tables.normalizeTs(
      CdcPipeline.eventStream(spark, sourceDir))), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
