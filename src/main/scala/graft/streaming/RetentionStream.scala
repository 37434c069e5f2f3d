package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming retention cohorts — the incremental companion of the batch
  * `agg_retention` rollup, built with the same bounded-mergeable-state
  * discipline as [[FunnelStream]] (SURVEY §2.4 × §2.7).
  *
  * State design — why WEEK-granular: the batch query measures week_n from
  * the user's first-signup SECOND (`(epoch(ts) − epoch(t0)) div 604800`),
  * so a late-arriving earlier signup shifts every previously-computed
  * week_n — second-anchored retention is not incrementally computable
  * without keeping the raw per-user event log. Anchoring cohorts and
  * activity to absolute EPOCH WEEKS (`epoch div 604800`) makes the state
  * pure distinct facts that never need revision: one row per (user, kind,
  * week), where kind is `signup` (the weeks the user signed up in — min
  * taken at report time) or `act` (the weeks the user was active).
  * Distinct-union is commutative, associative and idempotent, so
  * redelivered batches, checkpointed restarts, and ANY micro-batch split
  * converge to the one-shot answer. The week-boundary difference vs the
  * second-anchored batch form is the documented trade (an event in the
  * signup week but before the signup second counts here, not there).
  *
  * 100 TB shape: per batch the only exchange is the distinct over the
  * batch SLICE's (user, kind, week) rows — map-side combined, weeks
  * collapse hard; state is bounded by users × active weeks (a year adds
  * ≤ 53 rows per active user), and the report is two small aggregates
  * over it. In production the state rewrite is MERGE INTO ... WHEN NOT
  * MATCHED INSERT (insert-only facts); the convergence is identical.
  */
object RetentionStream {

  private val SecondsPerWeek = 604800L

  /** Roll the fact table up to weekly retention cohorts: users cohorted by
    * first-signup epoch week, per-(cohort, weeks-since) distinct-user
    * counts, permille vs the cohort's week 0 (the batch report's shape on
    * week-granular anchors). Activity before the cohort week is ignored,
    * as in the batch form's `ts >= t0` gate. */
  def report(state: DataFrame): DataFrame = {
    val anchors = state.filter(col("kind") === "signup")
      .groupBy(col("user_id")).agg(min(col("week")).as("w0"))
    val cnt = state.filter(col("kind") === "act")
      .join(anchors, "user_id")
      .filter(col("week") >= col("w0"))
      .select(col("user_id"), col("w0").as("cohort_week"),
        (col("week") - col("w0")).as("week_n"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_n"))
      .agg(count(lit(1)).as("n_users"))
    val w0 = broadcast(cnt.filter(col("week_n") === 0)
      .select(col("cohort_week"), col("n_users").as("__w0")))
    cnt.join(w0, "cohort_week")
      .select(col("cohort_week"), col("week_n"), col("n_users"),
        expr("n_users * 1000 div greatest(__w0, 1L)").as("retention_permille"))
      .transform(graft.Tables.orderedReport(_, "cohort_week", "week_n"))
  }

  /** The fact-table state kind for cohorts anchored on `anchorType`,
    * under [[StateCommit]]. */
  def kind(anchorType: String = "signup"): Monitor.Kind = new Monitor.Additive {

    /** The distinct (user_id, kind, week) facts of one (bounded or
      * micro-batch) slice. Every event contributes an `act` fact; events
      * of `anchorType` (the cohort-defining event — signup by default)
      * additionally contribute a `signup` fact. */
    def slice(events: DataFrame): DataFrame = {
      // integer div (a double `/` would detour through FP)
      val week = expr(s"unix_timestamp(ts) div $SecondsPerWeek").as("week")
      val acts = events.select(col("user_id"), lit("act").as("kind"), week)
      val signups = events.filter(col("event_type") === anchorType)
        .select(col("user_id"), lit("signup").as("kind"), week)
      acts.unionByName(signups).distinct()
    }

    /** Distinct-union merge of two fact tables — the whole state
      * transition. */
    def merge(state: DataFrame, slice: DataFrame): DataFrame =
      state.unionByName(slice).distinct()
  }

  /** The live (user, kind, week) fact table. */
  def state(spark: SparkSession, targetDir: String): DataFrame = kind().state(spark, targetDir)

  /** Start the incremental retention pipeline over the events in
    * `sourceDir`: [[CdcPipeline.changes]] merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            anchorType: String = "signup"): StreamingQuery =
    Monitor.run(CdcPipeline.changes(spark, sourceDir), checkpointDir, availableNow)(
      kind(anchorType).applyBatch(spark, _, targetDir, _))
}
