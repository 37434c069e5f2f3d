package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

import graft.operators.CdcOps

/** Structured-Streaming form of the reference's CDC replication loop
  * (`mongodb-cdc-program.js:205–382`), SURVEY §2.7.
  *
  * Reference behavior → Spark mapping:
  *  - change-stream tail w/ server-side $match (js:221–248)   → `readStream`
  *    over an events directory + the same [[transform]] used in batch
  *    (batch/stream unification — one transformation function for both).
  *  - micro-batching (1000-doc buffer / 5 s flush, js:261, 326–349)
  *    → trigger (AvailableNow in tests, ProcessingTime in continuous mode).
  *  - checkpoint file {resumeToken, timestamp} every 30 s (js:104, 272–278)
  *    → built-in `checkpointLocation` offset/commit log; resume-after-crash
  *    and the CLI replay window both collapse into it.
  *  - at-least-once + idempotent per-key upsert (js:114–115, 149–202)
  *    → `foreachBatch` running [[CdcOps.lastWriteWins]] +
  *    [[CdcOps.upsertMerge]] against the target — replayed batches are
  *    no-ops, so the end-to-end effect is exactly-once.
  *  - no late-data handling in the reference → we add an event-time
  *    watermark (extension of semantics, flagged in SURVEY §2.7).
  */
object CdcPipeline {

  /** `events.parquet` schema for streaming reads (readStream demands an
    * explicit schema) — the MICROS-generation default, used only when the
    * source dir can't be probed (e.g. empty at start). [[start]] derives
    * the schema from the OBSERVED files instead: an explicit TimestampType
    * on a TIMESTAMP(NANOS) parquet fails at scan time
    * (PARQUET_TYPE_ILLEGAL), so pinning this schema would break every
    * streaming path on a NANOS-generation fixture even though
    * [[transform]] normalizes either encoding once it's readable. */
  val eventsFileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The streaming-read schema as the fixture actually encodes it: batch-
    * probe the source dir's footers (with the nanos-as-long flag armed, so
    * a NANOS generation arrives as INT64 for [[graft.Tables.normalizeTs]]
    * rather than failing the scan). A TIMESTAMP(isAdjustedToUTC=false)
    * fixture infers as TIMESTAMP_NTZ, which watermarks reject
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — coerce to TimestampType in
    * the schema, which the parquet reader accepts on either flavor (the
    * session is pinned UTC, so the instant is identical). Falls back to
    * [[eventsFileSchema]] when nothing is there to probe yet. */
  def observedEventsSchema(spark: SparkSession, sourceDir: String): StructType = {
    graft.Tables.ensureNanosAsLong(spark)
    StructType(Monitor.observedSchema(spark, sourceDir, eventsFileSchema).map {
      case f if f.name == "ts" && f.dataType == TimestampNTZType =>
        f.copy(dataType = TimestampType)
      case f => f
    })
  }

  /** The events stream over `sourceDir`, the one opener every events
    * monitor starts from: [[observedEventsSchema]], then
    * [[Monitor.fileStream]]. The stream's own session is cloned after the
    * schema probe, so it carries the nanos-as-long flag the probe set. */
  def eventStream(spark: SparkSession, sourceDir: String): DataFrame =
    Monitor.fileStream(spark, sourceDir, observedEventsSchema(spark, sourceDir))

  /** The change stream the CDC monitors read: [[eventStream]] through
    * [[transform]], watermarked an hour behind (later events drop). */
  def changes(spark: SparkSession, sourceDir: String): DataFrame =
    transform(eventStream(spark, sourceDir)).withWatermark("ts", "1 hour")

  /** [[changes]] with redelivered event ids collapsed ([[dedupEvents]]):
    * the source of every monitor whose merge adds. */
  def uniqueChanges(spark: SparkSession, sourceDir: String): DataFrame =
    dedupEvents(transform(eventStream(spark, sourceDir)))

  /** The shared batch/stream transformation: ts normalization, op-type
    * mapping, delete filtering, write-op projection (js:157–186). Applying
    * this to a bounded DataFrame is exactly the reference's
    * `--start-time/--end-time` replay path. */
  def transform(raw: DataFrame): DataFrame =
    CdcOps.dropDeletes(
      graft.Tables.normalizeTs(raw).withColumn("op_type", graft.Tables.opType))

  /** At-least-once redelivery dedup: one row per `event_id`. The
    * reference's checkpoint-after-write design admits duplicate deliveries
    * on restart (js:114–115 — "may cause duplication of records"); this
    * collapses them BEFORE any non-idempotent consumer. On a stream,
    * `dropDuplicatesWithinWatermark` keys a state store by id and expires
    * entries once the watermark passes — exactly-once rows from
    * at-least-once delivery with BOUNDED state (an unbounded
    * `dropDuplicates` would leak one entry per event forever at 100 TB);
    * on a bounded frame, a plain per-key dedup (one hash-aggregate
    * shuffle). Requires an event-time `ts` column. */
  def dedupEvents(events: DataFrame, delay: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** The LIVE upsert target ([[StateCommit.state]]: the marker names a
    * complete version — readers never observe a half-written overwrite).
    * Reads the legacy flat layout transparently. */
  def state(spark: SparkSession, targetDir: String): DataFrame =
    StateCommit.state(spark, targetDir)

  /** One idempotent micro-batch apply: current target state ⊕ batch →
    * last-write-wins merge, committed under [[StateCommit]]'s versioned
    * atomic publish (a crash mid-write can never tear the only copy; the
    * replayed-batch merge is a no-op by idempotence, the id guard just
    * skips its I/O). In production this body is a transactional MERGE INTO
    * keyed on `user_id`; the dedup-then-merge shape is identical.
    *
    * One pass per commit: the live version is opened with the batch
    * state's schema (no footer inference) and scanned once, streaming
    * into the new version's write; the batch's last-write-wins frame is
    * the one O(batch) materialization, read by both the anti-join keys
    * and the union, so the batch's source files are scanned once too. The
    * seed batch (no live version yet) streams straight into its write. */
  def applyBatch(spark: SparkSession, batch: DataFrame, targetDir: String,
                 batchId: Long = -1L): Unit = {
    val batchState = CdcOps.lastWriteWins(batch, "user_id", "ts", "event_id")
    StateCommit.applyBatch(spark, targetDir, batchId, Some(batchState.schema)) {
      case Some(base) => CdcOps.upsertMerge(base, batchState.localCheckpoint(true), "user_id")
      case None => batchState
    }
  }

  /** Watermarked tumbling-window aggregation — the stateful streaming form
    * (SURVEY §2.7): per-day op-type counters with bounded state (windows
    * close once the event-time watermark passes their end; late events
    * beyond `delay` are dropped). Works unchanged on a bounded DataFrame —
    * the batch/stream unification again. */
  def windowedOpCounts(events: DataFrame, delay: String = "1 hour"): DataFrame =
    transform(events)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("w"), col("op_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day"), col("op_type"), col("n"))

  /** Watermarked daily OHLC bars — the streaming form of the batch
    * `agg_daily_bars` rollup: open/high/low/close per event-time day,
    * continuously maintained with bounded state. First/last-of-day ride
    * MIN_BY/MAX_BY keyed on the (ts, tiebreak) struct — mergeable
    * aggregates with constant-size buffers the streaming state store
    * folds incrementally, so the state per open window is five scalars +
    * a count, never the day's rows (a ranking-window form would be
    * unexpressible here). Windows close when the watermark passes; the same
    * code runs on a bounded frame (batch/stream unification — the
    * oracle-gated replay). */
  def windowedDailyBars(events: DataFrame, delay: String = "1 hour"): DataFrame =
    transform(events)
      .filter(col("event_type") === "purchase")
      .withColumn("v", round(col("value"), 4))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        min_by(col("v"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("v")).as("high"), min(col("v")).as("low"),
        max_by(col("v"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("day"), col("open"), col("high"),
        col("low"), col("close"), col("n_events"))

  /** Start the streaming pipeline: source dir → transform → watermark →
    * foreachBatch idempotent upsert into `targetDir`.
    * `availableNow = true` drains what exists and stops (test/replay mode);
    * `false` runs continuously with the reference's 5 s cadence (js:349). */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(changes(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))

  /** Restart-backoff policy, the reference's two-tier scheme: stream errors
    * restart after 5 s (js:286–299), startup failures after 60 s
    * (js:369–382). `maxRestarts` bounds the loop for tests; production uses
    * the default unbounded form, like the reference's forever-loop. */
  final case class RestartPolicy(streamErrorBackoffMs: Long = 5000L,
                                 startupBackoffMs: Long = 60000L,
                                 maxRestarts: Int = Int.MaxValue)

  /** Supervised run of [[start]]: await termination and, on stream failure
    * or startup failure, restart from the SAME checkpoint after the
    * policy's backoff — the reference's error-recovery loop with Structured
    * Streaming's resume semantics doing the token bookkeeping. Returns the
    * number of restarts performed. `sleep` is injectable so the backoff
    * schedule is testable without wall-clock waits. */
  def supervise(spark: SparkSession, sourceDir: String, targetDir: String,
                checkpointDir: String, policy: RestartPolicy = RestartPolicy(),
                availableNow: Boolean = true,
                sleep: Long => Unit = Thread.sleep): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      val started =
        try Some(start(spark, sourceDir, targetDir, checkpointDir, availableNow))
        catch { case NonFatal(_) => None } // startup failure (js:369-382)
      started match {
        case Some(q) =>
          try { q.awaitTermination(); done = true } // clean drain / stop
          catch {
            case _: StreamingQueryException => // stream error (js:286-299)
              restarts += 1
              if (restarts >= policy.maxRestarts) done = true
              else sleep(policy.streamErrorBackoffMs)
          }
        case None =>
          restarts += 1
          if (restarts >= policy.maxRestarts) done = true
          else sleep(policy.startupBackoffMs)
      }
    }
    restarts
  }
}
