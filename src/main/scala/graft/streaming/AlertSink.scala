package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, struct, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Durable, throttled alert channel — the reference's `sendAlert` surface
  * (mongodb-cdc-program.js:72–90) and its five call-site categories
  * (checkpoint save js:114, connection js:142, bulk write js:195, change
  * stream js:288, startup js:371, health js:562), re-expressed for an
  * engine that must survive alert STORMS: the reference emails once per
  * incident with no suppression, so a crash-looping batch pages on every
  * retry and a flapping health check pages every 5 minutes.
  *
  * Two engine-owned guarantees the reference lacks:
  *  - **durability**: every raise lands FIRST in an append-only alert log
  *    ([[AppendState]] deltas under `targetDir` — atomic publish,
  *    auto-compacted), so the alert trail outlives the process that
  *    raised it and a crash inside the transport can never lose the
  *    record (the meta-first crash-window ordering);
  *  - **per-rule cooldown**: the transport fires only when the rule's
  *    last ATTEMPT is older than `cooldownMs`; suppressed raises are
  *    still logged, so the trail is complete while the pager is quiet.
  *    On restart the cooldown clock reseeds from the durable log's last
  *    attempt timestamps — a crash loop cannot reset its own throttle.
  *
  * The trail records the transport OUTCOME, not the intent: a raise is
  * logged `suppressed` (inside the window) or `attempted` (transport due)
  * BEFORE the transport runs, and only a transport that returns appends
  * the `delivered` confirmation row — so a throwing SMTP host leaves a
  * trail whose last word is `attempted`, which is exactly what an on-call
  * reader needs to know (the page never fired). The byte-transport itself
  * (SMTP/webhook — js:61–69's nodemailer; no SMTP egress in this image)
  * is the pluggable `deliver` hook; a deliver failure is contained
  * exactly as the reference contains it (js:88 — log and move on), never
  * fails the raising batch, and does NOT reset the cooldown (a broken
  * transport must not turn into a hot retry loop).
  *
  * Locking: the sink lock covers only the throttle check-then-mark and
  * the durable appends (out-of-band delta-id allocation is check-then-act
  * — [[AppendState.append]]'s single-writer contract; this lock IS the
  * in-process serialization). The transport and log compaction both run
  * OUTSIDE it: a slow SMTP host or a slow fold must not stall other
  * rules' raises (compaction serializes on its own tryLock — a raise that
  * loses that race simply skips; the next one folds).
  *
  * 100 TB shape: alert volume is rule-bounded by construction (one
  * delivery per rule per cooldown window), log appends are one-row
  * deltas, and the only reader-side work is the merge-on-read union —
  * nothing here ever touches corpus data. */
final class AlertSink(spark: SparkSession, targetDir: String,
                      cooldownMs: Long = AlertSink.DefaultCooldownMs,
                      deliver: AlertSink.Alert => Unit = _ => ()) {
  import AlertSink._

  migrateLegacyTrail(spark, targetDir)

  /** rule → epoch-ms of the last ATTEMPTED raise (the cooldown clock);
    * seeded from the durable log so a restart keeps the throttle. An
    * attempt whose transport failed still holds the window — restarting
    * must not turn a broken SMTP host into a hot page loop. */
  private val lastAttempt = new ConcurrentHashMap[String, java.lang.Long]()
  AppendState.raw(spark, targetDir).foreach { l =>
    l.filter(col("status") =!= StatusSuppressed).groupBy("rule")
      .agg(max("at_ms").as("at_ms"))
      .collect().foreach(r => lastAttempt.put(r.getString(0), r.getLong(1)))
  }

  private val compactLock = new ReentrantLock()

  /** Raise an alert: append the durable raise row, then (outside the
    * rule's cooldown) invoke the transport and confirm its outcome with a
    * second row. Returns true iff the transport was DUE (attempted) —
    * whether the page actually went out is what the TRAIL records, per
    * (rule, at_ms): `suppressed` < `attempted` < `delivered`. Callers
    * pass `nowMs` explicitly so the rule is a pure function of its inputs
    * (unit-testable without clocks; production passes
    * `System.currentTimeMillis()`). */
  def raise(rule: String, subject: String, message: String, nowMs: Long): Boolean = {
    val due = synchronized {
      val ok = Option(lastAttempt.get(rule)).forall(nowMs - _.longValue >= cooldownMs)
      append(Row(rule, subject, message, nowMs,
        if (ok) StatusAttempted else StatusSuppressed))
      if (ok) lastAttempt.put(rule, nowMs)
      ok
    }
    if (due) {
      try {
        deliver(Alert(rule, subject, message, nowMs))
        // outcome confirmation — the only row that may claim a delivery
        synchronized {
          append(Row(rule, subject, message, nowMs, StatusDelivered))
        }
      } catch {
        case NonFatal(e) =>
          // js:88: a transport failure is logged, never propagated — the
          // cooldown stands (no hot loop on a broken SMTP host) and the
          // trail's last word for this raise stays 'attempted'
          System.err.println(s"[alert] deliver failed for '$rule': $e")
      }
    }
    // fold OUTSIDE the sink lock: a slow compaction must not stall other
    // raisers; tryLock serializes concurrent folds (compact vs compact is
    // not safe), and a skipped fold just waits for the next raise
    if (AppendState.compactionDue(targetDir, AppendState.DefaultCompactEvery) &&
        compactLock.tryLock()) {
      try if (AppendState.compactionDue(targetDir, AppendState.DefaultCompactEvery))
        AppendState.compact(spark, targetDir, df => df) // log rows are unique events
      finally compactLock.unlock()
    }
    due
  }

  /** One durable log row (caller holds the sink lock — the out-of-band id
    * allocation needs a single in-process writer). */
  private def append(row: Row): Unit =
    AppendState.append(
      spark.createDataFrame(java.util.List.of(row), LogSchema),
      targetDir, -1L) // out-of-band id: alerts are events, not batch state

  /** The RAW durable trail (rule, subject, message, at_ms, status) —
    * every raise row plus every delivery confirmation; merge-on-read over
    * the deltas; empty before the first raise. */
  def rawLog: DataFrame =
    AppendState.raw(spark, targetDir).getOrElse(
      spark.createDataFrame(java.util.List.of[Row](), LogSchema))

  /** The alert trail, one row per raise with its FINAL outcome: the
    * highest-ranked status per (rule, subject, message, at_ms) —
    * `delivered` beats `attempted` beats `suppressed` — so a reader sees
    * `attempted` exactly when a due page never made it out. */
  def log: DataFrame = {
    val ranked = rawLog.withColumn("__r",
      when(col("status") === StatusDelivered, 2)
        .when(col("status") === StatusAttempted, 1).otherwise(0))
    ranked.groupBy(col("rule"), col("subject"), col("message"), col("at_ms"))
      .agg(max(struct(col("__r"), col("status"))).as("__m"))
      .select(col("rule"), col("subject"), col("message"), col("at_ms"),
        col("__m.status").as("status"))
  }

  /** The reference's health loop (js:556–562: alert when replication lag
    * exceeds the threshold), wired to [[LagMonitor]]: one rule per stalled
    * query, so each query pages on its own cooldown. Returns the number
    * of raises whose transport was DUE this sweep. */
  def sweep(monitor: LagMonitor, nowMs: Long): Int =
    monitor.stalledById.count { case (id, h) =>
      raise(s"lag:$id", "Replication Lag",
        s"query $id batch ${h.batchId}: ${h.reason}", nowMs)
    }

  /** The drift side of the ops loop: evaluate each rule's breach
    * predicate against its monitor's MAINTAINED report frame and page
    * `drift:<query>` once per cooldown while the breach persists — the
    * reference pages on its one health metric (js:556–562); a 100 TB
    * ingest pages on every monitor it maintains. Zero new state: the rule
    * reads the same report the registered query serves
    * (one-state-many-reports), and the only driver-side materialization
    * is the breached slice capped at [[AlertSink.MaxDetailRows]] + 1 rows
    * (the page quotes a sample and points at the report; it never copies
    * it). Returns the number of rules whose transport was due. */
  def sweepDrift(rules: Seq[DriftRule], nowMs: Long): Int =
    rules.count { r =>
      val breached = r.report().filter(r.breach).limit(MaxDetailRows + 1).collect()
      breached.nonEmpty && {
        val shown = breached.take(MaxDetailRows).map(r.describe)
        val more = if (breached.length > MaxDetailRows) Seq("…and more") else Nil
        raise(s"drift:${r.query}", s"Drift: ${r.query}",
          (shown ++ more).mkString("; "), nowMs)
      }
    }
}

object AlertSink {
  /** js:545's cadence made a throttle: at most one page per rule per
    * 15 minutes; every raise is still durably logged. */
  val DefaultCooldownMs: Long = 15 * 60 * 1000L

  /** Trail statuses, in outcome order: a raise inside the window;
    * a due raise whose transport was invoked (and, absent the
    * confirmation row, never returned); a confirmed delivery. */
  val StatusSuppressed = "suppressed"
  val StatusAttempted = "attempted"
  val StatusDelivered = "delivered"

  final case class Alert(rule: String, subject: String, message: String, atMs: Long)

  private[streaming] val LogSchema = StructType(Seq(
    StructField("rule", StringType, nullable = false),
    StructField("subject", StringType, nullable = false),
    StructField("message", StringType, nullable = false),
    StructField("at_ms", LongType, nullable = false),
    StructField("status", StringType, nullable = false)))

  /** One-time in-place migration of a trail written by the previous
    * layout (`delivered: boolean`, logged BEFORE the transport ran): map
    * it onto the outcome schema — `delivered = true` can only honestly
    * claim `attempted` (that layout never recorded whether the transport
    * returned), `false` was a suppressed raise — and rebuild the dir so
    * later appends union cleanly. The trail is rule × cooldown bounded,
    * so the one collect is bounded by construction. */
  private def migrateLegacyTrail(spark: SparkSession, targetDir: String): Unit =
    AppendState.raw(spark, targetDir).foreach { old =>
      if (!old.columns.contains("status") && old.columns.contains("delivered")) {
        val mapped = old.select(col("rule"), col("subject"), col("message"),
          col("at_ms"),
          when(col("delivered"), lit(StatusAttempted))
            .otherwise(lit(StatusSuppressed)).as("status"))
        val rows = mapped.collect()
        StateCommit.sweep(new java.io.File(targetDir))(_ => true)
        AppendState.append(
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), LogSchema),
          targetDir, -1L)
      }
    }

  /** A drift-alert rule: a monitor's maintained REPORT frame (the
    * one-state-many-reports discipline — zero new state is kept for
    * alerting) plus the breach predicate over its rows and a one-line
    * per-row renderer for the page body. `query` names the monitor
    * exactly as its registered query key does, so the rule id
    * (`drift:<query>`) joins the trail back to the query surface. */
  final case class DriftRule(query: String, report: () => DataFrame,
                             breach: org.apache.spark.sql.Column,
                             describe: Row => String)

  /** Max breached rows quoted in one page body — the page is a pointer to
    * the report frame, not a copy of it. */
  val MaxDetailRows = 5
}
