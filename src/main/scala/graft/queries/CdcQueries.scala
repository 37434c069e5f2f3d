package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SessionFrames, Tables}
import graft.Tables.{changeLog, events, eventsInRange, fmtTs, orderedRows, tsLit}
import graft.operators.{CdcOps, TimeSeries}
import graft.operators.TimeSeries.{countMoments, dec, varNum}
import graft.streaming.{BenfordStream, GapFillStream, HeavyHittersStream, QuantilesStream,
  Scd2Stream, TopkStream}

/** Event-log (CDC) queries over the `events` fixture, each paired with ANSI
  * SQL for the DuckDB oracle. Every query ends in an ORDER BY on a unique
  * key so output is engine-independent; timestamps are emitted as
  * second-precision strings (ns-parquet vs µs-Spark safe); floating
  * aggregates are rounded to 4 decimals (input data lives on a 0.01 grid, so
  * the rounded value is never at a round-half boundary).
  */
object CdcQueries {
  type Q = (SparkSession, String) => DataFrame

  private val OP = Tables.opTypeSql
  private def TS(c: String) = Tables.fmtTsSql(c)

  // -- filters / projections ------------------------------------------------

  /** js:221–223 — server-side $match on operationType; deletes dropped. */
  private val filterOptype: Q = (s, d) =>
    CdcOps.dropDeletes(changeLog(s, d))
      .select(col("event_id"), col("user_id"), col("event_type"), col("op_type"),
        round(col("value"), 4).as("value"))
      .transform(orderedRows(_, "event_id"))

  /** js:226–232 — clusterTime range appended to the $match. */
  private val filterTimeRange: Q = (s, d) =>
    eventsInRange(s, d, "2024-01-05 00:00:00", "2024-01-10 00:00:00")
      .select(col("event_id"), fmtTs(col("ts")).as("ts_s"), col("user_id"), col("event_type"))
      .transform(orderedRows(_, "event_id"))

  /** js:489–496 — conjunctive ns / ts-range / op-IN oplog predicate. */
  private val filterOplogPred: Q = (s, d) =>
    eventsInRange(s, d, "2024-01-02 00:00:00", "2024-01-20 00:00:00")
      .filter(col("event_type").isin("click", "purchase") && col("user_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), round(col("value"), 4).as("value"))
      .transform(orderedRows(_, "event_id"))

  /** js:160–176 — change event → write-op shape (key + post-image). */
  private val projectEvent: Q = (s, d) =>
    CdcOps.dropDeletes(changeLog(s, d))
      .select(col("event_id"), col("op_type"), col("user_id").as("doc_key"), col("props").as("doc"))
      .transform(orderedRows(_, "event_id"))

  /** js:499 — `o._id ?? o2._id`: key encoded differently per op type. */
  private val projectIdExtract: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        coalesce(
          when(col("event_type") === "purchase", get_json_object(col("props"), "$.k").cast("long")),
          col("user_id")).as("doc_id"))
      .transform(orderedRows(_, "event_id"))

  // -- sources --------------------------------------------------------------

  /** js:486–496 — bounded oplog scan: pushed-down filter + limit 100. */
  private val sourceOplogScan: Q = (s, d) =>
    eventsInRange(s, d, "2024-01-03 00:00:00", "2024-01-25 00:00:00")
      .filter(col("event_type").isin("signup", "click", "view"))
      .orderBy(col("ts"), col("event_id"))
      .limit(100)
      .select(col("event_id"), fmtTs(col("ts")).as("ts_s"), col("user_id"), col("event_type"))
      .transform(graft.Tables.orderedReport(_, "event_id"))

  /** js:407, 421, 504–505 — findOne({_id}): point lookup by key. */
  private val sourcePointLookup: Q = (s, d) =>
    events(s, d)
      .filter(col("user_id") === 7)
      .select(col("event_id"), fmtTs(col("ts")).as("ts_s"), col("event_type"),
        round(col("value"), 4).as("value"), col("props"))
      .transform(graft.Tables.orderedReport(_, "event_id"))

  // -- CDC state ------------------------------------------------------------

  /** js:167–176 — last-write-wins current state per key (ranking window). */
  private val aggLastwriteWins: Q = (s, d) =>
    CdcOps.lastWriteWins(CdcOps.dropDeletes(changeLog(s, d)), "user_id", "ts", "event_id")
      .select(col("user_id"), fmtTs(col("ts")).as("last_ts"), col("event_type").as("last_event"),
        round(col("value"), 4).as("last_value"), col("props").as("last_props"))
      .transform(orderedRows(_, "user_id"))

  /** js:149–202 — idempotent upsert merge of a batch into a base state. */
  private val sinkUpsert: Q = (s, d) => {
    val log = CdcOps.dropDeletes(changeLog(s, d))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
    val cut = tsLit("2024-01-15 00:00:00")
    val base = CdcOps.lastWriteWins(log.filter(col("ts") < cut), "user_id", "ts", "event_id")
    val batch = CdcOps.lastWriteWins(log.filter(col("ts") >= cut), "user_id", "ts", "event_id")
    CdcOps.upsertMerge(base, batch, "user_id")
      .select(col("user_id"), fmtTs(col("ts")).as("last_ts"), col("event_type").as("last_event"),
        round(col("value"), 4).as("last_value"))
      .transform(orderedRows(_, "user_id"))
  }

  /** Session-shared day-partitioned copy of the change log, written once
    * per fixture ([[graft.SessionFrames.dir]]: rewritten when the fixture
    * changes, deleted with the JVM): the warehouse LAYOUT a 100 TB event
    * log actually lands in — one directory per event-time day, so any
    * time-bounded consumer reads only its days' files instead of
    * row-group-pruning a monolith. */
  private def partitionedLog(s: SparkSession, d: String): String =
    SessionFrames.dir(s, d, "partlog") { out =>
      events(s, d).withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(out)
    }

  /** Partitioned sink + PRUNED read-back: one day's slice served from the
    * day-partitioned copy. The plan must show the predicate as a
    * `PartitionFilters` entry (directory pruning — PlanSpec-pinned), not a
    * data filter: at 100 TB that is the difference between listing one
    * directory and scanning the year. Values are oracle-checked against
    * the flat table, pinning write→layout→prune→read end to end. */
  private val sinkPartitioned: Q = (s, d) =>
    s.read.parquet(partitionedLog(s, d))
      .filter(col("day") === to_date(lit("2024-01-10")))
      .select(col("event_id"), fmtTs(col("ts")).as("ts_s"), col("user_id"),
        col("event_type"))
      .transform(orderedRows(_, "event_id"))

  /** Session-shared Z-ORDERED copy of the event log ([[partitionedLog]]'s
    * lifecycle): range-partitioned and sorted by the bit-interleaved
    * (user_id, day-index) Morton key, so every file covers a bounded
    * RECTANGLE in (user, day) — the lakehouse data-skipping layout for
    * workloads that filter on BOTH dimensions, where a single-column sort
    * clusters only its own column. */
  private def zorderLog(s: SparkSession, d: String): String =
    SessionFrames.dir(s, d, "zorder") { out =>
      val withDims = events(s, d).select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day_idx"))
      graft.operators.Bucketing.zOrderWrite(
        withDims.withColumn("z_key",
          graft.operators.Bucketing.zKey(col("user_id"), col("day_idx"), bits = 16)),
        out, "user_id", "day_idx", bits = 16, files = 8)
    }

  /** Z-ordered sink + rectangle read-back: a (user-range × day-range)
    * slice served from the Morton-clustered copy — at 100 TB the 2-D
    * predicate prunes whole files via min/max stats on EITHER dimension
    * (disjoint per-file z-ranges pinned by PartitionSpec). Values are
    * oracle-checked against the flat table with the same interleave
    * arithmetic, pinning write → layout → read end to end. */
  private val sinkZorder: Q = (s, d) =>
    s.read.parquet(zorderLog(s, d))
      .filter(col("user_id").between(40, 80) && col("day_idx").between(5, 12))
      .select(col("event_id"), col("user_id"), col("day_idx"), col("z_key"))
      .transform(orderedRows(_, "event_id"))

  /** Shared funnel stage frame — built ONCE per fixture and checkpointed
    * for the session ([[graft.SessionFrames.frame]]): one row per signed-up
    * user with that user's strict stage-entry timestamps — t1 = first
    * signup, t2 = first click STRICTLY AFTER t1, t3 = first purchase
    * STRICTLY AFTER t2; t2/t3 null when the user never reached the stage.
    * [[aggFunnel]] and [[aggConversionLag]] consume this one computation
    * instead of each re-deriving per-stage min-ts frames from the log
    * ([[aggRetention]] shares the [[signupAnchors]] layer below it).
    *
    * Shape: each stage is a user-keyed min-ts aggregate joined to the
    * previous stage's (user, entry-ts) frame — stage frames are USER-sized
    * (≪ the event log), shrink monotonically, and join on the same user
    * key; the event scan is pruned per stage by the pushed event_type
    * predicate (PlanSpec pins it on the builder's plan). At 100 TB the log
    * is scanned per stage but never shuffled wider than one row per
    * qualifying user, and the checkpointed frame is user-sized. */
  private[graft] def buildSignupAnchors(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
  /** The signup anchor frame alone, shared separately from the full stage
    * frame: [[aggRetention]] needs ONLY first-signup times, so it must not
    * pay the click/purchase stage joins when run in isolation (a bench
    * regression when it did). */
  private[graft] def signupAnchors(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "signup_anchors")(buildSignupAnchors(s, d))
  private[graft] def buildFunnelStages(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.stageEntryTimes(events(s, d), "user_id", "event_type", "ts",
      Seq("signup", "click", "purchase"),
      anchor = Some(signupAnchors(s, d).select(col("user_id"), col("t1").as("t_signup"))))
      .select(col("user_id"), col("t_signup").as("t1"),
        col("t_click").as("t2"), col("t_purchase").as("t3"))
  private[graft] def funnelStages(s: SparkSession, d: String): DataFrame =
    SessionFrames.frame(s, d, "funnel_stages")(buildFunnelStages(s, d))

  /** Ordered conversion funnel over the event log — the classic
    * event-analytics rollup a CDC consumer runs: users reaching each stage
    * of signup → click → purchase, where each stage's event must come
    * STRICTLY AFTER the user's previous-stage entry (a purchase before the
    * first post-signup click does not convert). Output: one row per stage
    * with reach and permille vs stage 1.
    *
    * Reach counts are one agg over the shared [[funnelStages]] frame
    * (stage k reached ⇔ t_k non-null), unpivoted via `stack` — a dry
    * stage reports 0 from the count itself, no literal-table join needed. */
  private val aggFunnel: Q = (s, d) =>
    funnelStages(s, d)
      .agg(count(lit(1)).as("n1"), count(col("t2")).as("n2"), count(col("t3")).as("n3"))
      .select(
        expr("stack(3, 1L, 'signup', n1, 2L, 'click', n2, 3L, 'purchase', n3)" +
          " AS (stage_idx, stage, n_users)"),
        col("n1").as("__top"))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        expr("n_users * 1000 div greatest(__top, 1L)").as("conv_permille"))
      .transform(graft.Tables.orderedReport(_, "stage_idx"))

  /** Conversion-lag profile — the funnel's timing companion: over users who
    * complete the full signup → click → purchase chain, the exact p50/p90
    * seconds from signup to purchase plus the integer mean. Quantiles are
    * type-1 with INTEGER rank arithmetic (`(p‰·n + 999) div 1000` — the
    * token-quantiles pattern), so both engines pick the same element.
    *
    * Scale shape: [[graft.operators.Funnel.lagQuantiles]] — the domain-
    * histogram quantile pattern (see its scaladoc; the round-9 row_number
    * form ranked every converter on one task, the 100 TB scale-killer this
    * replaced) over the shared [[funnelStages]] converter slice. */
  private val aggConversionLag: Q = (s, d) =>
    graft.operators.Funnel.lagQuantiles(
      funnelStages(s, d).filter(col("t3").isNotNull)
        .select((expr("unix_timestamp(t3)") - expr("unix_timestamp(t1)")).as("lag_sec")))

  /** The parameterized N-stage funnel ([[graft.operators.Funnel]])
    * instantiated at FOUR stages — the same strict-chain semantics as
    * [[aggFunnel]] with `view` inserted between signup and click, pinning
    * that the operator composes at any k (the library form a user
    * configures; the 3-stage entry above rides the shared session cache
    * instead). */
  private val aggFunnelSteps: Q = (s, d) => {
    val stages = Seq("signup", "view", "click", "purchase")
    graft.operators.Funnel.report(
      graft.operators.Funnel.stageEntryTimes(
        events(s, d), "user_id", "event_type", "ts", stages), stages)
  }

  /** Weekly retention cohorts — the other classic event-log rollup: users
    * cohorted by their first-signup epoch-week, with per-(cohort, weeks
    * since signup) active-user counts and retention permille vs the
    * cohort's week 0. Weeks are INTEGER epoch-week numbers
    * (`epoch_sec div 604800`) rather than calendar `date_trunc('week')` —
    * engine-exact by construction, immune to week-start conventions.
    *
    * Shape: the anchor frame is the shared [[signupAnchors]] aggregate
    * (t1 = first signup — no per-query re-aggregation of the log, and no
    * dependence on the later funnel stages); activity
    * distinct-collapses to (user, cohort, week) before counting, so the
    * count exchange carries at most users × active-weeks rows; week-0
    * denominators ride back as a broadcast. */
  private val aggRetention: Q = (s, d) => {
    val e = events(s, d)
    val first = signupAnchors(s, d).select(col("user_id"), col("t1").as("t0"))
    val act = e.join(first, "user_id").filter(col("ts") >= col("t0"))
      .select(col("user_id"),
        expr("unix_timestamp(t0) div 604800").as("cohort_week"),
        expr("(unix_timestamp(ts) - unix_timestamp(t0)) div 604800").as("week_n"))
      .distinct()
    // persisted: the per-(cohort, week) counts feed BOTH the report rows
    // and the week-0 denominator broadcast — without it the events join +
    // distinct runs twice (one per branch). Domain-sized (cohorts × active
    // weeks), drained by Bench/Verify between queries.
    val cnt = SessionFrames.track(
      act.groupBy(col("cohort_week"), col("week_n"))
        .agg(count(lit(1)).as("n_users")))
    val w0 = broadcast(cnt.filter(col("week_n") === 0)
      .select(col("cohort_week"), col("n_users").as("__w0")))
    cnt.join(w0, "cohort_week")
      .select(col("cohort_week"), col("week_n"), col("n_users"),
        expr("n_users * 1000 div greatest(__w0, 1L)").as("retention_permille"))
      .transform(graft.Tables.orderedReport(_, "cohort_week", "week_n"))
  }

  // -- aggregations ---------------------------------------------------------

  /** js:155, 254, 267–269 — per-op-type counters. */
  private val aggOpCounts: Q = (s, d) =>
    graft.Tables.orderedReport(CdcOps.opCounts(changeLog(s, d)), "op_type")

  /** js:499 — distinct document ids touched in a window. */
  private val aggDistinctIds: Q = (s, d) =>
    eventsInRange(s, d, "2024-01-05 00:00:00", "2024-01-20 00:00:00")
      .select(col("user_id")).distinct()
      .transform(orderedRows(_, "user_id"))

  /** HLL approximate distinct — the 100 TB form of [[aggDistinctIds]]: exact
    * distinct shuffles every key; the HLL++ sketch is fixed-size and merges
    * map-side, so the answer costs one partial-agg pass regardless of
    * cardinality. The sketch estimate itself is not oracle-expressible
    * (DuckDB's HLL differs), so the checked claim is the sketch's CONTRACT —
    * the estimate lands within 5% of the exact count. Two caveats, on
    * purpose: (1) the query pays the exact countDistinct shuffle purely to
    * state that contract — do NOT "optimize" it away, and do not read this
    * query's bench time as the HLL fast path; (2) rsd is a relative
    * standard deviation, not a guaranteed bound — for fixed input the
    * boolean is deterministic, but re-verify it whenever the events fixture
    * changes. rsd=0.02 (a still-tiny 2^12-register sketch) holds the 5%
    * claim through sf0.1 (1500 users: 0.4% off, where the 0.05 default
    * strayed 6.7%) — found by running the oracle gate at bench scale. */
  private val aggApproxDistinct: Q = (s, d) =>
    events(s, d).agg(
      countDistinct(col("user_id")).as("n_users"),
      count(lit(1)).as("n_events"),
      (abs(approx_count_distinct(col("user_id"), 0.02) - countDistinct(col("user_id")))
        <= countDistinct(col("user_id")) * lit(0.05)).as("hll_within_5pct"))

  /** The HLL fast path alone — what [[aggApproxDistinct]]'s timing no longer
    * shows since it added the exact countDistinct for the contract check:
    * one fixed-size sketch, map-side merged, no distinct shuffle. The
    * estimate is deterministic (HLL++ merge is order-independent) but not
    * oracle-expressible → rows-only driver check. */
  private val aggApproxDistinctFast: Q = (s, d) =>
    events(s, d).agg(
      approx_count_distinct(col("user_id"), 0.02).as("n_users_est"),
      count(lit(1)).as("n_events"))

  /** Rollup of op counts by (event_type, day) — Catalyst Expand. */
  private val aggRollup: Q = (s, d) =>
    events(s, d)
      .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
      .rollup(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"), CdcOps.exactSum(col("value")).as("sum_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("et"),
        coalesce(col("d"), lit("ALL")).as("d"), col("n"), col("sum_value"))
      .transform(graft.Tables.orderedReport(_, "et", "d"))

  /** Cube of counts by (event_type, dow) — the full grouping-sets lattice
    * (Catalyst Expand, 4 grouping sets in one pass). */
  private val aggCube: Q = (s, d) =>
    events(s, d)
      .withColumn("dow", dayofweek(col("ts")).cast("long"))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("event_type"), lit("ALL")).as("et"),
        coalesce(col("dow"), lit(-1L)).as("dow"), col("n"))
      .transform(graft.Tables.orderedReport(_, "et", "dow"))

  /** Explicit GROUPING SETS (the general lattice [[aggRollup]]/[[aggCube]]
    * specialize): the four sets {(type, dow), (type), (dow), ()} in ONE
    * Expand pass, discriminated by `grouping_id()` — the bitmask
    * (type = MSB) that tells a real NULL from an aggregated-away level,
    * which the coalesce-to-sentinel trick alone cannot. Same single-shuffle
    * shape as cube: Expand multiplies rows 4× map-side, the aggregate is
    * map-side combined, nothing else moves. */
  private val aggGroupingSets: Q = (s, d) =>
    events(s, d)
      .withColumn("dow", dayofweek(col("ts")).cast("long"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("dow")), Seq(col("event_type")),
          Seq(col("dow")), Seq()),
        col("event_type"), col("dow"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        CdcOps.exactSum(col("value")).as("sum_value"))
      .select(col("gid"), coalesce(col("event_type"), lit("ALL")).as("et"),
        coalesce(col("dow"), lit(-1L)).as("dow"), col("n"), col("sum_value"))
      .transform(graft.Tables.orderedReport(_, "gid", "et", "dow"))

  /** js:541–600 — replication-lag health check ("now" is a parameter). */
  private val aggHealth: Q = (s, d) =>
    CdcOps.healthCheck(events(s, d), "ts", nowEpochSec = 1706745600L, thresholdSec = 300L)

  // -- windows / sort / limit -----------------------------------------------

  /** Running per-key total — analytic window (SURVEY §2.5). */
  private val windowRunning: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), round(col("value"), 4).as("value"),
        round(sum(col("value")).over(w), 4).as("running"))
      .transform(orderedRows(_, "user_id", "event_id"))
  }

  /** Old-vs-new image delta per key — lag/lead (CDC delta detection). */
  private val windowDelta: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 4).as("delta"),
        lead(col("event_type"), 1).over(w).as("next_event"))
      .transform(orderedRows(_, "user_id", "event_id"))
  }

  /** Gap-based sessionization (30-min inactivity): classic event-stream
    * operator — lag to flag session starts, running sum to number them, one
    * aggregate per session. Two windows + one groupBy, all on the same
    * user_id partitioning → a single shuffle. */
  private val windowSession: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ep = unix_timestamp(col("ts"))
    val gap = ep - lag(ep, 1).over(byUser)
    events(s, d)
      .withColumn("__new", when(gap.isNull || gap > 1800L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"))
      .transform(orderedRows(_, "user_id", "session_id"))
  }

  /** Rolling 7-event median of purchase value per user — the robust
    * smoothing baseline a mean-based rolling average can't give (one fat
    * outlier drags a mean for 7 rows; the median shrugs it off). Spark has
    * no median window function; the frame is ROWS 6 PRECEDING..CURRENT —
    * BOUNDED — so `collect_list` over the window is a ≤7-element array and
    * the lower median (rank ⌈k/2⌉, = DuckDB `quantile_disc 0.5`) is an
    * ELEMENT PICK from `array_sort`: no interpolation arithmetic, bit-exact
    * cross-engine. One user-keyed shuffle; the per-row array never grows
    * with the corpus. */
  private val windowRollingMedian: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    val sorted = array_sort(collect_list(col("value")).over(w))
    events(s, d).filter(col("event_type") === "purchase")
      .withColumn("__s", sorted)
      .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts_s"),
        round(col("value"), 4).as("value"),
        size(col("__s")).cast("long").as("n_frame"),
        round(element_at(col("__s"),
          floor((size(col("__s")) + 1) / 2).cast("int")), 4).as("rolling_median"))
      .transform(orderedRows(_, "user_id", "event_id"))
  }

  /** SCD type-2 dimension history from the change log — the warehouse
    * materialization the reference's replication feeds but never builds
    * (js:167–176 applies each post-image LAST-WRITE-WINS, discarding
    * history; SCD2 is the standard shape that keeps it): per key, one
    * version row per CHANGE of the tracked attribute (consecutive
    * same-value updates collapse into the open interval), with
    * `[valid_from, valid_to)` bounds chained by lead() and `is_current`
    * on the open row.
    *
    * Shape: one lag() to drop no-change updates, then row_number() + lead()
    * to number versions and close intervals — all three windows share the
    * same `(user_id)×(ts, event_id)` partitioning, so the whole
    * materialization is ONE shuffle of the change log and every window is
    * per-key (no global sort anywhere). At 100 TB this is the incremental
    * dimension-build that runs per key-partition: the exactly-once log is
    * [[Scd2Stream]]'s slice, and the materialization is its report, shared
    * by the batch query and the stream form (`stream_scd2`). */
  private val windowScd2: Q = (s, d) =>
    Scd2Stream.report(Scd2Stream.slice(changeLog(s, d)))

  /** orderBy + limit — TakeOrderedAndProject (top-k, SURVEY §2.5). */
  private val sortTopk: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), round(col("value"), 4).as("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(20)

  // -- scalar functions -----------------------------------------------------

  /** js:104, 215, 227–231 — timestamp parse/format/epoch arithmetic. */
  private val scalarDatetime: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        hour(col("ts")).cast("long").as("hh"),
        dayofweek(col("ts")).cast("long").as("dow"),
        unix_timestamp(col("ts")).as("epoch_s"),
        date_format(col("ts") + expr("INTERVAL 1 DAY"), "yyyy-MM-dd").as("next_day"))
      .transform(orderedRows(_, "event_id"))

  /** js:84, 490 — string scalars: namespace interpolation (`db.coll`),
    * regexp_replace, case/length/substring family. */
  private val scalarString: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        concat_ws(".", lit("appdb"), col("event_type")).as("ns"),
        upper(col("event_type")).as("et_upper"),
        regexp_replace(col("event_type"), "[aeiou]", "_").as("et_devowel"),
        substring(col("event_type"), 1, 3).as("et3"),
        length(col("event_type")).cast("long").as("et_len"))
      .transform(orderedRows(_, "event_id"))

  /** js:97, 110, 469 — JSON extract over the dynamic payload column. */
  private val scalarJson: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        length(col("props")).cast("long").as("props_len"))
      .transform(orderedRows(_, "event_id"))

  /** Calendar resample + gap fill (§2.5): each user's per-day last purchase
    * value, re-gridded onto that user's full [first-day, last-day] calendar
    * span with missing days carried forward (LOCF) — the time-series
    * regularization every downstream daily model/report needs over an
    * irregular event log. `observed` marks real vs filled days.
    *
    * Shape: [[GapFillStream]]'s report over its slice — the per-day winner
    * and the LOCF grid shared by the batch query and the stream form
    * ([[TimeSeries.gapFillDaily]]'s scaladoc has the per-key partitioning
    * argument; edge semantics — single-day spans, multi-day gaps, same-day
    * ties — are spec-pinned there). */
  private val windowGapFill: Q = (s, d) =>
    GapFillStream.report(GapFillStream.slice(events(s, d)))

  /** [[windowGapFill]]'s straight-line sibling (§2.5): missing days take
    * the linear interpolation between surrounding observations instead of
    * the last value flat ([[graft.operators.TimeSeries.interpolateDaily]]
    * — determinism and per-key-window shape documented there). */
  private val windowInterpolate: Q = (s, d) =>
    TimeSeries.interpolateDaily(TimeSeries.dailyWinners(
      events(s, d).filter(col("event_type") === "purchase")
        .withColumn("v", round(col("value"), 4)),
      "user_id", "ts", "v", "event_id"), "user_id", "v")
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("value"), col("observed"))
      .transform(orderedRows(_, "user_id", "day"))

  /** Cumulative distinct-user reach per day (§2.5) — "users ever seen
    * through day D", the growth-curve companion of
    * [[windowSlidingDistinct]]: cumulative distinct is NOT a window
    * aggregate (distinct doesn't decompose over frames), but it IS a
    * first-seen aggregate — each user counts exactly once, on their first
    * active day — so the curve is per-user min(day), a per-day count, and
    * one running sum over the DAY DOMAIN (calendar-bounded; the
    * unpartitioned window sees one row per day at any corpus size — the
    * domain-histogram discipline). Days with no new users still report
    * (gap fill via the observed-day frame). */
  private val windowCumulativeDistinct: Q = (s, d) => {
    val e = events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
    val firstSeen = e.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val days = e.select(col("day")).distinct()
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(firstSeen, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_total", sum(col("n_new")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_new"), col("n_total"))
      .transform(graft.Tables.orderedReport(_, "day"))
  }

  /** Daily OHLC bars over purchase values (§2.4) — the classic
    * time-series bar rollup (open = first value of the day, high/low,
    * close = last): first/last are MIN_BY/MAX_BY keyed on the
    * (ts, tiebreak) struct — constant-size mergeable partials inside ONE
    * map-side-combined day-keyed aggregate. The struct ordering key makes
    * Catalyst plan SortAggregate, but the sort is PARTITION-LOCAL on the
    * low-cardinality day key over time-ordered log data (near-sorted
    * already) and the partial combine still runs before the exchange —
    * only one row per (partition, day) ever shuffles, where the textbook
    * row_number-per-day form shuffles and sorts every raw row. The oracle
    * computes the same bars via ranking windows, pinning the
    * argmin/argmax statement. */
  private val aggDailyBars: Q = (s, d) => {
    val p = events(s, d).filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"), col("ts"), col("event_id"),
        round(col("value"), 4).as("v"))
    p.groupBy(col("day"))
      .agg(
        min_by(col("v"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("v")).as("high"), min(col("v")).as("low"),
        max_by(col("v"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
      .transform(Tables.orderedReport(_, "day"))
  }

  /** 7-day trailing distinct-user reach per day (§2.5) — the sliding-window
    * DISTINCT that plain window frames can't express (distinct doesn't
    * decompose over a sliding frame): re-expressed as contribution explode
    * — each (day, user) activity fact contributes to the 7 window-end days
    * it is visible from, then one distinct-count per window end.
    *
    * Scale shape: facts are per-day-DEDUPED before the ×7 fan-out (the
    * (day, user) frame is orders below the raw log), the fan-out is a
    * bounded explode, and the count is a map-side-partitioned distinct
    * aggregate keyed by day — no per-user state, no window sort, no
    * quadratic day×day join. */
  private val windowSlidingDistinct: Q = (s, d) => {
    val e = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = e.select(col("day").as("w_day")).distinct()
    e.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("w_day"))
      .join(days, "w_day") // report only observed days, not the +6 tail
      .groupBy(col("w_day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
      .select(date_format(col("w_day"), "yyyy-MM-dd").as("day"), col("n_users_7d"))
      .transform(graft.Tables.orderedReport(_, "day"))
  }

  /** The per-day event count (day, n): ONE map-side-combined day
    * aggregate, the daily-total series every per-day report here reads
    * (EWMA, anomaly days and weekdays, changepoint, binseg tree, CUSUM).
    * The per-(day, type) counts are [[TopkStream]]'s slice. */
  private def dayCounts(s: SparkSession, d: String): DataFrame =
    events(s, d).groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))

  /** 7-day exponentially-decayed smoothing of daily event volume (§2.5) —
    * the trend line an ops dashboard draws over the raw daily counts:
    * ewma(d) = Σ_{j=0..6} n(d−j)/2ʲ / Σ_{j} 1/2ʲ over OBSERVED days
    * (a missing calendar day contributes neither value nor weight).
    *
    * Exactness: α = ½ makes every weight a power of two — weights come
    * from `shiftleft`, never `pow` (transcendental, last-ulp
    * engine-dependent) — so each term n/2ʲ and every partial sum is an
    * EXACT double (counts ≪ 2⁴⁰, weights ≥ 2⁻⁶ ⇒ all sums are multiples
    * of 2⁻⁶ well inside the mantissa): the result is order-independent
    * and deterministic before [[graft.Tables.rnd4]] even rounds.
    *
    * Scale shape: the same contribution-explode as
    * [[windowSlidingDistinct]] — per-day counts first (map-side combined,
    * day-keyed), then a bounded ×7 fan-out of DAY-sized rows and one
    * day-keyed sum; no window sort, no per-key state, no day×day join. */
  private val windowEwma: Q = (s, d) => {
    val daily = dayCounts(s, d)
    val w2 = expr("shiftleft(1, __j)").cast("double")
    val sm = daily
      .select(col("day").as("__sday"), col("n").as("__sn"),
        explode(sequence(lit(0), lit(6))).as("__j"))
      .select(date_add(col("__sday"), col("__j")).as("day"),
        (col("__sn").cast("double") / w2).as("__term"), (lit(1.0) / w2).as("__w"))
      .groupBy(col("day"))
      .agg(sum(col("__term")).as("__num"), sum(col("__w")).as("__den"))
    daily.join(sm, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        graft.Tables.rnd4(col("__num") / col("__den")).as("ewma_7d"))
      .transform(graft.Tables.orderedReport(_, "day"))
  }

  /** Holt level + trend smoothing of per-type daily volume (§2.5) —
    * [[graft.operators.CdcOps.holt]]: the forecast line the flat EWMA
    * can't draw. Integer-micro recurrence with explicit floor-halves ⇒
    * engine-exact; per-key fold over calendar-bounded day frames. The
    * (day, type) counts are [[TopkStream]]'s slice and the report its
    * `holtReport`, shared by the batch query and the stream form. */
  private val windowHolt: Q = (s, d) => TopkStream.holtReport(TopkStream.slice(events(s, d)))

  /** LTTB chart downsampling ([[graft.operators.TimeSeries.lttb]], §2.5):
    * each type's daily series reduced to 12 shape-preserving points —
    * what a dashboard fetches instead of the full span. Integer-exact
    * greedy, so the whole selection hash-gates against the unrolled
    * per-bucket SQL replay. [[TopkStream]]'s `lttbReport` over its slice,
    * shared by the batch query and the stream form. */
  private val windowLttb: Q = (s, d) => TopkStream.lttbReport(TopkStream.slice(events(s, d)))

  /** Theil–Sen robust trend (§2.5): per event type the MEDIAN of all
    * pairwise day-slopes of the daily-volume series — the outlier-immune
    * answer to "is this stream growing" (one anomalous day corrupts a
    * least-squares slope; the pairwise median shrugs it off, 29.3%
    * breakdown point).
    *
    * Determinism: each slope is ONE IEEE division of two small integers
    * (identical bits on any engine); the median is a row_number pick under
    * the total order (slope, Δn, Δday) — rows tying on ALL THREE carry the
    * same slope, so the selected VALUE is deterministic even where the
    * winning row is not. Lower median at even counts ((m+1) div 2).
    *
    * Scale shape: the pair frame is per-type D²/2 with D CALENDAR-bounded
    * (the domain-histogram discipline — day-pair rows, never event rows),
    * so the per-type ranking window is bounded at any corpus size. */
  private val windowTheilsen: Q = (s, d) => theilsenReport(TopkStream.slice(events(s, d)))

  /** The Theil–Sen report over any (event_type, day, n) daily frame —
    * shared by the batch query and the maintained-count-state stream
    * form. */
  private[queries] def theilsenReport(daily: DataFrame): DataFrame = {
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        (col("b.n") - col("a.n")).cast("double").as("__dy"),
        datediff(col("b.day"), col("a.day")).cast("double").as("__dx"))
      .select(col("event_type"), (col("__dy") / col("__dx")).as("__slope"),
        col("__dy"), col("__dx"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("__slope"), col("__dy"), col("__dx"))
    pairs
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("__rn") === expr("(__m + 1) div 2"))
      .select(col("event_type"), col("__m").as("n_pairs"),
        graft.Tables.rnd4(col("__slope")).as("slope_per_day"))
      .transform(graft.Tables.orderedReport(_, "event_type"))
  }

  /** Benford first-digit audit (§2.4) — the classic value-authenticity /
    * data-quality check: the distribution of the first significant digit
    * of `value` against Benford's law, with the per-digit χ² contribution
    * (fabricated or unit-mangled values light up specific digits; the
    * audit names them instead of one opaque statistic).
    *
    * Determinism: the digit comes from the CENTS integer's leading
    * character (string head — identical on both engines, no float log);
    * the nine Benford probabilities are shared 15-digit DECIMAL LITERALS
    * (log10(1+1/d) precomputed — embedding the same literal on both sides
    * beats calling each engine's libm log10); each row's expected count
    * and χ² term are one fixed IEEE op sequence. The digit domain is a
    * literal 1..9 frame, so zero-count digits still audit. [[BenfordStream]]'s
    * report over its slice, shared by the batch query and the stream form. */
  private val aggBenford: Q = (s, d) => BenfordStream.report(BenfordStream.slice(events(s, d)))

  /** Mann–Kendall trend TEST (§2.4) — the significance companion to the
    * `window_theilsen` estimator (the standard monitoring pairing: Sen's
    * slope says how fast, Mann–Kendall says whether it's real): per event
    * type S = Σ_{i<j} sign(n_j − n_i) over the daily-volume series, the
    * tie-corrected variance numerator 18·Var(S) = D(D−1)(2D+5) −
    * Σ_g t_g(t_g−1)(2t_g+5), and the continuity-corrected
    * z = (S − sign(S)) / √(var18/18).
    *
    * S and var18 are EXACT integers (sign sums and tie-group cubics over
    * calendar-bounded frames); z is one fixed IEEE op sequence on them
    * (divide, sqrt, divide) — deterministic cross-engine. Pair frame
    * per-type D²/2, D calendar-bounded; tie groups from one (type, n)
    * aggregate. */
  private val aggMannKendall: Q = (s, d) => mannKendallReport(TopkStream.slice(events(s, d)))

  /** The Mann–Kendall report over any (event_type, day, n) daily frame —
    * shared by the batch query and the maintained-count-state stream
    * form. */
  private[queries] def mannKendallReport(daily: DataFrame): DataFrame = {
    val sStat = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.n") - col("a.n")).cast("long")).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("__groups"), // unused; keeps agg non-empty shape clear
        sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as("__tie_sum"),
        sum(col("__t")).as("n_days"))
    val z = (col("s_stat") - signum(col("s_stat")).cast("long")).cast("double") /
      sqrt(col("var18").cast("double") / 18.0)
    sStat.join(ties, "event_type")
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) - col("__tie_sum"))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
        graft.Tables.rnd4(when(col("var18") === 0, lit(0.0)).otherwise(z)).as("z"))
      .transform(Tables.orderedReport(_, "event_type"))
  }

  /** Daily-volume anomaly flags (§2.4) — the ingest-QC alarm over the
    * event log: days whose count deviates more than 2σ from the mean.
    * The textbook form compares against float mean/stddev — sum-of-squares
    * accumulation order differs between engines, and a last-ulp difference
    * FLIPS a boundary flag. The 2σ rule multiplied out is pure integer
    * arithmetic: |n − S/D| > 2σ  ⇔  (n·D − S)² > 4·(D·SS − S²) for
    * S = Σn, SS = Σn², D = #days — evaluated in decimal(38,0) (the
    * quadratic terms exceed int64 around 10¹² events/window; the oracle's
    * HUGEINT matches exactly). Flags are engine-exact by construction.
    *
    * Shape: one map-side-combined day aggregate; the (D, S, SS) stats ride
    * a broadcast 1-row cross join; the flag is row-local. */
  private val aggAnomalyDays: Q = (s, d) => anomalyDaysReport(dayCounts(s, d))

  /** The 2σ daily-anomaly report over any (day, n) frame — shared by the
    * batch query and the maintained-count-state stream form. */
  private[queries] def anomalyDaysReport(daily: DataFrame): DataFrame = {
    val dev = dec(col("n") * col("__D") - col("__S"))
    daily.crossJoin(countMoments(daily))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        (dev * dev > lit(4) * varNum).as("is_outlier"))
      .transform(Tables.orderedReport(_, "day"))
  }

  /** Weekday-adjusted daily-anomaly flags (§2.4) — the seasonality-aware
    * variant of [[aggAnomalyDays]]: the same multiplied-out integer 2σ
    * rule, but each day compares against ITS OWN day-of-week group's
    * (D, S, SS) — weekly rhythm is the #1 false-positive source in
    * volume alarms (every Saturday "anomalous" against a Mon–Fri mean,
    * real Tuesday incidents masked by the weekend spread). The weekday
    * index is epoch-day arithmetic ((days-since-1970 + 3) mod 7, 0 = Mon)
    * — no locale-dependent day names, identical in any engine. Shape:
    * one day aggregate, 7-row broadcast stats, row-local flags. */
  private val aggAnomalyDow: Q = (s, d) => {
    val daily = dayCounts(s, d)
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")) + 3, lit(7))
          .cast("long"))
    val dev = dec(col("n") * col("__D") - col("__S"))
    daily.join(countMoments(daily, col("dow")), "dow")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dow"),
        col("n"), (dev * dev > lit(4) * varNum).as("is_outlier"))
      .transform(Tables.orderedReport(_, "day"))
  }

  /** Offline changepoint detection (§2.4 trend family) — binary
    * segmentation's first-level scan over the daily event-volume series:
    * for every candidate split t the SSE reduction
    * gain(t) = S_t²/t + (S−S_t)²/(D−t) − S²/D, top-3 candidates ranked by
    * gain — the "WHEN exactly did the level shift" answer that
    * `window_cusum` (sequential alarm) and `agg_mann_kendall` (is there a
    * trend at all) don't give. First-level binary segmentation is the
    * standard offline scan (Scott & Knott 1974 lineage); deeper recursion
    * is the same pass re-run per reported segment.
    *
    * Exactness: gain is a RATIONAL — gnum(t)/gden(t) with
    * gnum = S_t²(D−t)D + (S−S_t)²tD − S²t(D−t) and gden = t(D−t)D — and
    * two candidates compare by cross-multiplication in decimal(38,0)
    * (HUGEINT on the oracle side; a float gain rank-flips on last-ulp
    * ties). The cross product gnum·gden reaches ~3·S²·D⁵ (|gnum| ≤
    * 3·S²·D², gden ≤ D³), so the rank is exact while 3·S²·D⁵ < 10³⁸ —
    * e.g. three years of days (D ≈ 10³) leaves S < ~10¹⁰ daily-total
    * headroom. Beyond it the two sides would fail DIFFERENTLY: Spark's
    * non-ANSI decimal multiply nulls (condition silently false,
    * mis-ranked rows) where DuckDB's HUGEINT raises — so the report
    * ENFORCES the bound at runtime from the (D, S) stats row and raises
    * on violation instead of mis-ranking silently. Ties break
    * day-ascending, so the top-3 is a pure function of the counts.
    *
    * Shape: one map-side-combined day aggregate; prefix sums over the
    * CALENDAR-BOUNDED day domain (the domain-histogram discipline — one
    * row per day at any corpus size); the exact rank is a ≤D² pair
    * comparison on that same bounded frame (the Mann–Kendall pair
    * discipline). Nothing here is ever corpus-sized. */
  private val aggChangepoint: Q = (s, d) => changepointReport(dayCounts(s, d))

  /** The changepoint report over any (day, n) daily frame — shared by the
    * batch query and the maintained-count-state stream form (the
    * mannKendallReport pairing). */
  private[graft] def changepointReport(dailyIn: DataFrame): DataFrame = {
    // the day frame is CALENDAR-bounded (≤D rows) but derived from a
    // corpus-sized aggregate — checkpoint it ONCE so the stats leg and the
    // two sides of the D² rank join all read the tiny frame instead of
    // re-scanning the corpus (4 parquet scans → 1; PlanSpec pins this)
    val daily = dailyIn.localCheckpoint(true)
    // EXACTNESS GUARD (the docstring bound, enforced): the rank's
    // cross-multiplication gnum·gden reaches ~3·S²·D⁵; past decimal(38,0)
    // Spark's non-ANSI multiply NULLs out — the comparison turns silently
    // false and mis-ranks — where DuckDB's HUGEINT raises. The (D, S)
    // stats row costs one 1-row aggregate over the already-checkpointed
    // calendar-bounded frame, so check it here and fail LOUD instead.
    val g = daily.agg(count(lit(1)).as("__d"),
      coalesce(sum(col("n")), lit(0L)).as("__s")).head()
    val (gD, gS) = (BigInt(g.getLong(0)), BigInt(g.getLong(1)).abs)
    require(3 * gS * gS * gD.pow(5) < BigInt(10).pow(38),
      s"changepoint rank: 3·S²·D⁵ = ${3 * gS * gS * gD.pow(5)} exceeds the " +
        s"decimal(38,0) exactness bound 1e38 (D=$gD days, S=$gS total) — the " +
        "cross-multiplied gain compare would overflow to null and mis-rank " +
        "silently; pre-aggregate to a coarser grain or rescale the counts")
    // the guard already holds the exact (D, S) row — ride it into the rank
    // as a literal broadcast frame instead of re-aggregating the same two
    // values in a second job
    val s = daily.sparkSession
    val stats = broadcast(s.range(1)
      .select(lit(g.getLong(0)).as("__D"), lit(g.getLong(1)).as("__S")))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = daily
      .withColumn("s_t", sum(col("n")).over(cum))
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .crossJoin(stats)
      .filter(col("t") < col("__D"))
      .withColumn("s_r", col("__S") - col("s_t"))
      .withColumn("gnum",
        dec(col("s_t")) * dec(col("s_t")) * dec((col("__D") - col("t")) * col("__D"))
          + dec(col("s_r")) * dec(col("s_r")) * dec(col("t") * col("__D"))
          - dec(col("__S")) * dec(col("__S")) * dec(col("t") * (col("__D") - col("t"))))
      .withColumn("gden", dec(col("t") * (col("__D") - col("t")) * col("__D")))
    val better = col("b.gnum") * col("a.gden") > col("a.gnum") * col("b.gden") ||
      (col("b.gnum") * col("a.gden") === col("a.gnum") * col("b.gden") &&
        col("b.day") < col("a.day"))
    cand.as("a").join(cand.as("b"), better, "left")
      .groupBy(col("a.day").as("day"), col("a.t").as("t"), col("a.__D").as("__D"),
        col("a.s_t").as("s_t"), col("a.s_r").as("s_r"),
        col("a.gnum").as("gnum"), col("a.gden").as("gden"))
      .agg(count(col("b.day")).as("__better"))
      .filter(col("__better") < 3)
      .select((col("__better") + 1).cast("long").as("rank"),
        date_format(col("day"), "yyyy-MM-dd").as("split_day"),
        col("t").as("left_days"), (col("__D") - col("t")).as("right_days"),
        expr("s_t * 1000 div t").as("left_mean_milli"),
        expr("s_r * 1000 div (__D - t)").as("right_mean_milli"),
        expr("(1000 * gnum) div gden").cast("long").as("gain_milli"))
      .transform(graft.Tables.orderedReport(_, "rank"))
  }

  /** Depth-2 binary-segmentation tree (§2.4) — [[aggChangepoint]]'s
    * recursion made explicit: the root split, then the best sub-split
    * INSIDE each side (the classic binseg tree a capacity planner reads
    * as "the regime changed here, and within the new regime, here").
    * Same exact-rational gain arithmetic (BigInt cross-multiplication ≡
    * the oracle's HUGEINT), same day-ascending tie rule; a side too short
    * to split (< 2 days) simply emits no row.
    *
    * The tree is SEQUENTIAL (children depend on the root pick), so it
    * runs as one pass over the CALENDAR-bounded daily frame inside a
    * single flatMapGroups task (the Holt/LTTB recurrence discipline) —
    * never corpus-sized, never driver-side. */
  private val aggChangepointTree: Q = (s, d) => changepointTreeReport(dayCounts(s, d))

  /** The depth-2 tree over any (day, n) daily frame — shared by the batch
    * query and the maintained-count-state stream form. */
  private[queries] def changepointTreeReport(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val daily = dailyIn
      .select(col("day").cast("string"), col("n").cast("long")).as[(String, Long)]
    daily.groupByKey(_ => 0).flatMapGroups { (_, it) =>
      val rows = it.toArray.sortBy(_._1)
      val y = rows.map(_._2)
      val pre = y.scanLeft(0L)(_ + _)
      def bestSplit(lo: Int, hi: Int): Option[(Int, BigInt, BigInt)] = {
        val dSeg = hi - lo
        if (dSeg < 2) None
        else {
          val sSeg = pre(hi) - pre(lo)
          var best: Option[(Int, BigInt, BigInt)] = None
          var t = lo + 1
          while (t < hi) {
            val lt = t - lo; val rt = hi - t
            val sl = pre(t) - pre(lo); val sr = sSeg - sl
            val gnum = BigInt(sl) * sl * rt * dSeg + BigInt(sr) * sr * lt * dSeg -
              BigInt(sSeg) * sSeg * lt * rt
            val gden = BigInt(lt) * rt * dSeg
            val better = best.forall { case (_, bn, bd) => gnum * bd > bn * gden }
            if (better) best = Some((t, gnum, gden)) // strict > keeps the earliest day on ties
            t += 1
          }
          best
        }
      }
      def row(seg: String, lo: Int, hi: Int, pick: (Int, BigInt, BigInt)) = {
        val (t, gnum, gden) = pick
        val lt = t - lo; val rt = hi - t
        val sl = pre(t) - pre(lo); val sr = (pre(hi) - pre(lo)) - sl
        (seg, rows(t - 1)._1, lt.toLong, rt.toLong,
          sl * 1000L / lt, sr * 1000L / rt, (BigInt(1000) * gnum / gden).toLong)
      }
      val n = rows.length
      bestSplit(0, n).toSeq.flatMap { root =>
        val t = root._1
        Seq(row("root", 0, n, root)) ++
          bestSplit(0, t).map(p => row("left", 0, t, p)) ++
          bestSplit(t, n).map(p => row("right", t, n, p))
      }.iterator
    }.toDF("segment", "split_day", "left_days", "right_days",
      "left_mean_milli", "right_mean_milli", "gain_milli")
      .transform(graft.Tables.orderedReport(_, "segment"))
  }

  /** k-anonymity audit (§2.4 privacy family) — the re-identification-risk
    * grid a pipeline owner reads before RELEASING event data: rows sharing
    * the same quasi-identifier combination (event_type, day, coarse value
    * bucket) form an equivalence class; a class of size 1 is a uniquely
    * re-identifiable record (Sweeney 2002's k-anonymity: a release is
    * k-anonymous iff every class has ≥ k records). Report: per class-size
    * band (1 / 2–4 / 5–9 / 10+), how many classes and rows land there and
    * the row share in permille — plus the dataset's k (the min class
    * size) on every row, the single number the release gate checks.
    *
    * Shape: ONE map-side-combined aggregate onto the quasi-identifier
    * grid (types × days × buckets — DOMAIN-bounded, never corpus-sized),
    * then band/total rollups on that bounded frame with the 1-row stats
    * frame broadcast back. All integers. Class slice and band report are
    * shared verbatim with the streaming form
    * ([[graft.streaming.KAnonymityStream]] — exactly-once batch input
    * makes the one-shot slice the fully-merged grid). */
  private val aggKAnonymity: Q = (s, d) => {
    import graft.streaming.KAnonymityStream
    KAnonymityStream.report(KAnonymityStream.slice(events(s, d)))
  }

  /** l-diversity release audit (Machanavajjhala et al. 2007) — the
    * companion gate to [[aggKAnonymity]] on the SAME quasi-identifier
    * grid: k-anonymity counts how small a class gets, l-diversity counts
    * how UNIFORM the sensitive attribute (user_id) is inside it — a class
    * of 50 rows that all belong to one user re-identifies that user as
    * surely as a class of 1. Per distinct-user band (1 / 2–4 / 5–9 / 10+)
    * the class count and share, plus the dataset's l (min distinct users
    * over classes) on every row.
    *
    * Shape: one distinct projection + one map-side-combined distinct
    * aggregate onto the DOMAIN-bounded quasi grid, then band/total
    * rollups on that grid with the 1-row stats frame broadcast back.
    * Slice and report are shared verbatim with the streaming form
    * ([[graft.streaming.LDiversityStream]] — membership set union is
    * homomorphic under slicing, so one-shot batch input IS the
    * fully-merged state). */
  private val aggLDiversity: Q = (s, d) => {
    import graft.streaming.LDiversityStream
    LDiversityStream.report(LDiversityStream.slice(events(s, d)))
  }

  /** t-closeness release audit (Li, Li & Venkatasubramanian 2007) — the
    * third tier of the privacy trio over the SAME quasi grid as
    * [[aggKAnonymity]]: per (event_type, day) class, the ordered EMD
    * between the class's value-bucket distribution and the global one,
    * in exact integer permille, plus the dataset t = max on every row.
    * Catches the class l-diversity misses: diverse-but-skewed toward a
    * revealing tail. See [[graft.streaming.KAnonymityStream
    * .reportTCloseness]] for the division-free cumulative-share
    * arithmetic and the domain-bounded plan. */
  private val aggTCloseness: Q = (s, d) => {
    import graft.streaming.KAnonymityStream
    KAnonymityStream.reportTCloseness(KAnonymityStream.slice(events(s, d)))
  }

  /** Heavy hitters via a Misra–Gries sketch ([[graft.functions.MisraGries]],
    * §2.4 sketch family): top-20 most frequent user_ids from a k=256-counter
    * mergeable summary — ONE constant-size partial per partition merged up
    * the combine tree, vs the full every-key shuffle exact top-k pays at
    * 100 TB. k=256 exceeds the ORACLE fixtures' distinct-user count
    * (sf ≤ 0.01), so no counter is ever evicted there and the sketch is
    * EXACT under the plain count/top-k oracle; at bench scale (sf0.1,
    * 1500 users) and beyond it runs in genuine eviction mode, where
    * SketchesSpec pins the n/(k+1) one-sided bound and heavy-key
    * retention the oracle can't express. [[HeavyHittersStream]]'s report
    * over its slice, shared by the batch query and the stream form. */
  private val aggHeavyHitters: Q = (s, d) =>
    HeavyHittersStream.report(HeavyHittersStream.slice(events(s, d)))

  /** Grouped top-k (top-3 spenders per event_type, §2.5 sort family) as a
    * HIERARCHICAL two-phase ranking: a per-(group, salt) partial top-3 over
    * the user-sized spend aggregate, then the real ranking over the ≤
    * salts×3-row survivors per group. A single ranking window partitioned
    * only by event_type would funnel every user of a hot type through one
    * task (the conversion-lag scale-killer shape, r9 verdict); hierarchical
    * top-k bounds every sorted frame — phase 1 by 1/salts of a type's
    * users, phase 2 by a CONSTANT 24 rows — and is exact: each salt's
    * top-3 is a superset of that salt's contribution to the global top-3.
    * Ties break on user_id, so ranks are engine-independent. */
  private val sortTopkGroup: Q = (s, d) => {
    val spend = events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(CdcOps.exactSum(col("value")).as("sum_value"))
    val salted = spend.withColumn("__salt", pmod(col("user_id"), lit(8)))
    val w1 = Window.partitionBy(col("event_type"), col("__salt"))
      .orderBy(col("sum_value").desc, col("user_id"))
    val survivors = salted
      .withColumn("__r", row_number().over(w1)).filter(col("__r") <= 3)
    val w2 = Window.partitionBy(col("event_type"))
      .orderBy(col("sum_value").desc, col("user_id"))
    survivors
      .withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("event_type"), col("rnk"), col("user_id"), col("sum_value"))
      .transform(graft.Tables.orderedReport(_, "event_type", "rnk"))
  }

  /** Quartile bucketing of each event_type's DAYS by daily volume (§2.5
    * ranking family): ntile(4) partitioned by type over the daily-count
    * aggregate — every ranked frame is calendar-bounded (days per type),
    * never data-sized, at any corpus scale. Ordering (n desc, day) is
    * total, so bucket assignment is engine-independent; both engines use
    * the standard front-loaded ntile split (first buckets get the
    * remainder rows). */
  private val windowNtile: Q = (s, d) => {
    val daily = TopkStream.slice(events(s, d))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("day"))
    daily.withColumn("quartile", ntile(4).over(w).cast("long"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("quartile"))
      .transform(graft.Tables.orderedReport(_, "event_type", "day"))
  }

  /** Longest consecutive-active-day streak per user — the classic
    * gaps-and-islands rewrite (engagement analytics; also the shape behind
    * SLA uptime runs): per-user distinct active days, island id =
    * day_index − row_number (constant within a consecutive run), then max
    * island length. Every window is user-partitioned over that user's
    * distinct DAYS (calendar-bounded at any corpus scale); the distinct
    * collapse is the only corpus-sized shuffle, keyed by user. */
  private val windowStreak: Q = (s, d) => {
    val days = events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("di"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("di"))
    val islands = days
      .withColumn("island", col("di") - row_number().over(w))
      .groupBy(col("user_id"), col("island")).agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"), sum(col("len")).as("n_active_days"))
      .transform(orderedRows(_, "user_id"))
  }

  /** CUSUM level-shift detection on the daily volume series (Page 1954 —
    * the change-point monitor that catches a sustained drift the 2σ
    * single-day rule [[aggAnomalyDays]] cannot): the one-sided CUSUM
    * recursion C_t = max(0, C_{t−1} + y_t) is re-expressed CLOSED-FORM as
    * a running sum minus its running minimum (C_t = Y_t − min_{≤t} Y_t),
    * so two windows over the calendar-bounded day domain replace the
    * sequential recursion. Deviations are multiplied out to integers
    * (y_t = D·n_t − S, the anomaly-days discipline), the 4σ alarm
    * compares C_t² > 16·(D·SS − S²) in widened decimals — bit-exact on
    * any engine, no float accumulation anywhere. Both drift directions
    * surface (up = regression burst, down = source stall). The report is
    * [[TopkStream]]'s `cusumReport`, shared by the batch query and the
    * stream form. */
  private val windowCusum: Q = (s, d) => TopkStream.cusumReport(dayCounts(s, d))

  /** Exact per-type value quantiles (p50/p90/p99) by the domain-histogram
    * discipline ([[graft.operators.Funnel.lagQuantiles]] / the curriculum
    * pattern): values live on a 0.01 grid, so they collapse to a
    * (type, cents, n) histogram — map-side combined, bounded by the PRICE
    * DOMAIN, not the corpus — and the type-1 quantile at permille p is
    * `min{cents : cum ≥ ⌈p·n/1000⌉}` by cumulative sum per type. The only
    * window sorts domain-sized frames; an `approx_percentile` sketch would
    * trade the exactness for nothing here. Integer ranks ⇒ any engine
    * picks the same element; cents/100.0 is one exact division.
    * [[QuantilesStream]]'s report over its slice (the histogram), shared
    * by the batch query and the stream form. */
  private val aggValueQuantiles: Q = (s, d) =>
    QuantilesStream.report(QuantilesStream.slice(events(s, d)))

  /** Day-over-day leaderboard movement: each day's event types ranked by
    * volume (ties broken by name ⇒ the rank is total and engine-
    * independent), joined to the previous day's ranking on (type, day−1)
    * for the movement delta — the "what surged overnight" monitor. Every
    * ranking window is day-partitioned (frame = types-per-day, alphabet-
    * bounded at any corpus scale); the day-over-day pairing is an
    * equi-join of the day×type aggregate with itself. First-appearance
    * days carry null prev_rnk/delta. */
  private val windowRankChange: Q = (s, d) => {
    val daily = TopkStream.slice(events(s, d))
    val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("event_type"))
    val ranked = daily.withColumn("rnk", row_number().over(w).cast("long"))
    val prev = ranked.select(col("event_type"),
      date_add(col("day"), 1).as("day"), col("rnk").as("prev_rnk"))
    ranked.join(prev, Seq("event_type", "day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("n"), col("rnk"), col("prev_rnk"),
        (col("prev_rnk") - col("rnk")).as("delta"))
      .transform(graft.Tables.orderedReport(_, "day", "event_type"))
  }

  /** Seasonality profile: the (day-of-week × hour) activity matrix in long
    * form — events and distinct users per cell. ONE map-side-combined
    * aggregate to a 7×24-bounded frame; the distinct-user count shuffles
    * one row per (cell, user), never raw events, at any scale. */
  private val aggSeasonality: Q = (s, d) =>
    events(s, d)
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hh"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .transform(graft.Tables.orderedReport(_, "dow", "hh"))

  /** Per-type lag-{1,7} autocorrelation of the daily volume series (the
    * time-series diagnostic behind seasonality detection). Pairs come from
    * an EQUI-join of the daily frame to itself on (type, day − lag) — gap
    * days pair with nothing, no positional lag() that silently misreads
    * across holes — and Pearson r is assembled from INTEGER moments
    * (n, Σx, Σy, Σxy, Σx², Σy² over long counts, products widened to
    * decimal like [[aggAnomalyDays]]'s 2σ rule), so the only floating
    * steps are one division and one IEEE-exact sqrt: bit-identical on any
    * engine, any partitioning. Every frame is calendar-bounded. Constant
    * series (zero variance) yield null r. */
  private val windowAutocorr: Q = (s, d) => {
    import s.implicits._
    val daily = TopkStream.slice(events(s, d))
    val lagged = daily.crossJoin(broadcast(Seq(1, 7).toDF("lag")))
      .withColumn("prev_day", date_sub(col("day"), col("lag")))
    val pairs = lagged.alias("a").join(
      daily.select(col("event_type"), col("day").as("prev_day"), col("n").as("pn")).alias("b"),
      Seq("event_type", "prev_day"))
    val m = pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("np"), sum(col("n")).as("sx"), sum(col("pn")).as("sy"),
        sum(dec(col("n")) * dec(col("pn"))).as("sxy"),
        sum(dec(col("n")) * dec(col("n"))).as("sxx"),
        sum(dec(col("pn")) * dec(col("pn"))).as("syy"))
    val num = dec(col("np")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    val vx = dec(col("np")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    val vy = dec(col("np")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
    m.select(col("event_type"), col("lag").cast("long").as("lag"),
        col("np").as("n_pairs"),
        Tables.rnd4(when(vx > 0 && vy > 0,
          num.cast("double") / sqrt(vx.cast("double") * vy.cast("double")))).as("r"))
      .transform(graft.Tables.orderedReport(_, "event_type", "lag"))
  }

  /** Robust per-type outlier detection by median/MAD (the
    * median-absolute-deviation rule that survives the very outliers a
    * mean/σ z-score is dragged by): per event_type the exact lower median
    * of value, the MAD, and how many events sit beyond 3·MAD. Both
    * medians ride the [[aggValueQuantiles]] domain-histogram discipline
    * via the shared [[graft.operators.Robust.madOutliers]] machinery —
    * the corpus collapses ONCE to a (type, cents, n) histogram (map-side
    * combined, PRICE-domain-bounded); the deviation pass re-groups that
    * HISTOGRAM (never the corpus) around the per-type median, and every
    * rank pick is an integer-rank cumulative-sum min — no data-sized sort
    * anywhere, engine-exact at any scale. Lower-median (rank ⌈n/2⌉)
    * convention keeps every statistic an integer cents value. */
  private val aggRobustOutliers: Q = (s, d) => {
    val hist = SessionFrames.track(
      events(s, d)
        .groupBy(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .agg(count(lit(1)).as("hn")))
    graft.operators.Robust.madOutliers(hist, "event_type", "cents")
      .select(col("event_type"), col("__n").as("n_events"),
        (col("med") / 100.0).as("median"), (col("mad") / 100.0).as("mad"),
        col("n_outliers"),
        expr("n_outliers * 1000 div __n").as("outlier_permille"))
      .transform(graft.Tables.orderedReport(_, "event_type"))
  }

  /** Per-user purchase drawdown — the running-peak shortfall curve
    * (finance's max-drawdown, read here as "how far below their best
    * cumulative spend level is this user now"): cumulative value, running
    * peak, current drawdown and the worst drawdown so far, per purchase.
    * ALL integer cents (values live on the 0.01 grid): three running
    * aggregates over ONE user-keyed ordering — a single shuffle, no
    * self-join; each output is one exact /100.0 at the end. */
  private val windowDrawdown: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d).filter(col("event_type") === "purchase")
      .withColumn("__cents", round(col("value") * 100).cast("long"))
      .withColumn("__cum", sum(col("__cents")).over(w))
      .withColumn("__peak", max(col("__cum")).over(w))
      .withColumn("__dd", col("__peak") - col("__cum"))
      .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts_s"),
        (col("__cum") / 100.0).as("cum_value"),
        (col("__peak") / 100.0).as("peak_value"),
        (col("__dd") / 100.0).as("drawdown"),
        (max(col("__dd")).over(w) / 100.0).as("max_drawdown"))
      .transform(orderedRows(_, "user_id", "event_id"))
  }

  /** Audience overlap between event types: for every type pair, how many
    * users do BOTH, with the Jaccard of the two audiences — the
    * cross-feature adoption matrix. The corpus collapses ONCE to the
    * distinct (user, type) frame; the pair count is a user-keyed self-join
    * whose fan-out is (types-per-user choose 2) ≤ |types|² — bounded by
    * the type alphabet, never by event volume; totals are |types|-sized.
    * Jaccard = c/(na+nb−c): integer counts, one trailing division. */
  private val aggAudienceOverlap: Q = (s, d) => {
    val u = events(s, d).select(col("user_id"), col("event_type")).distinct()
    val tot = u.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = u.as("a").join(u.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(tot.select(col("event_type").as("type_a"), col("n").as("n_a")), "type_a")
      .join(tot.select(col("event_type").as("type_b"), col("n").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        Tables.rnd4(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double")).as("jaccard"))
      .transform(graft.Tables.orderedReport(_, "type_a", "type_b"))
  }

  /** Gini concentration of engagement per event type — "is this feature's
    * usage spread across users or owned by a few": over per-user event
    * counts c₁≤…≤cₙ, G = (2·Σi·cᵢ − (n+1)·Σc)/(n·Σc). The corpus
    * collapses ONCE to (type, user, c); the rank runs within the type's
    * user slice (user-domain-sized window); ties rank by (c, user_id) but
    * Σi·cᵢ is tie-order-invariant (equal c swap freely), so the statistic
    * is engine-independent. Exact integer moments, ONE trailing division. */
  private val aggGini: Q = (s, d) => {
    val counts = events(s, d)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"), col("user_id"))
    counts
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(col("i") * col("c")).as("s_ic"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        Tables.rnd4(
          (lit(2L) * col("s_ic") - (col("n_users") + 1L) * col("n_events")).cast("double") /
            (col("n_users") * col("n_events")).cast("double")).as("gini"))
      .transform(graft.Tables.orderedReport(_, "event_type"))
  }

  /** Burstiness per event type: the Fano factor (variance-to-mean ratio)
    * of HOURLY event counts — ≈1 for a Poisson-steady source, ≫1 when
    * traffic arrives in bursts (incident storms, batch jobs, replays).
    * Domain-histogram discipline: the calendar-hour domain comes from one
    * global min/max aggregate and `sequence` (zero-count hours count —
    * dropping them understates variance), the per-(type, hour) counts are
    * map-side combined, and the grid is (types × hours)-bounded, never
    * corpus-sized. Fano = (n·Σc² − (Σc)²)/(n·Σc): exact integer moments,
    * ONE trailing division ⇒ bit-identical cross-engine. Int64 bound:
    * per-(type, hour) counts ≤ ~10⁹ keep c² in range; beyond that widen
    * the moment sums to decimal. */
  private val aggBurstiness: Q = (s, d) => {
    val ev = events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
    val hours = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    ev.select(col("event_type")).distinct()
      .crossJoin(hours)
      .join(counts, Seq("event_type", "h"), "left")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(coalesce(col("c"), lit(0L))).as("n_events"),
        sum(coalesce(col("c"), lit(0L)) * coalesce(col("c"), lit(0L))).as("s2"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        Tables.rnd4((col("n_hours") * col("s2") - col("n_events") * col("n_events")).cast("double") /
          (col("n_hours") * col("n_events")).cast("double")).as("fano"))
      .transform(graft.Tables.orderedReport(_, "event_type"))
  }

  /** Event-type Markov transition matrix — the sequence-analytics rollup
    * behind "what do users do next" dashboards and session-model priors:
    * per user, consecutive (ts, event_id)-ordered event pairs → corpus
    * (from, to) counts + integer row-permille probabilities. ONE
    * user-partitioned lead() window over the scan (each user's events
    * sort within their own partition slice), then a map-side-combined
    * aggregate to a |types|²-bounded frame — the matrix never grows with
    * the corpus. Tie-break on event_id makes the ordering total, so the
    * pairing is engine-independent. */
  private val aggTransitionMatrix: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("__t"))
    pairs.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000 div __t").as("permille"))
      .transform(graft.Tables.orderedReport(_, "from_type", "to_type"))
  }

  /** JSON payload schema profile — the CDC "did a producer change the
    * document shape" monitor (the reference replicates schemaless
    * documents; downstream warehouses break on silent shape drift): per
    * (event_type, payload key) its presence count and rate, distinct-value
    * spread, and first/last day seen — a key appearing with a late
    * first-seen day IS the drift signal. The payload parses ONCE per row
    * into a string map (`from_json` map<string,string> — schemaless by
    * construction, no DDL to drift from); the explode fans out per KEY
    * (payload width, not corpus size), then one map-side-combined
    * aggregate onto the |types|×|keys|-bounded grid. The per-type totals
    * are a second slim scan (two columns) broadcast back — a keyless
    * payload still counts in its type's denominator. */
  private val aggSchemaProfile: Q = (s, d) => {
    val ev = events(s, d)
    // same membership slice as the streaming monitor; the exactly-once
    // batch input lets the aggregates stay count(*) (one row per
    // (event, key) by construction) and the denominator a slim
    // two-column scan with no JSON parse
    val grid = graft.streaming.SchemaProfileStream.kvSlice(ev)
      .groupBy(col("event_type"), col("key"))
      .agg(count(lit(1)).as("n_present"),
        countDistinct(col("val")).as("n_distinct_vals"),
        date_format(min(col("day")), "yyyy-MM-dd").as("seen_from"),
        date_format(max(col("day")), "yyyy-MM-dd").as("seen_to"))
    val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("__t"))
    grid.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("key"), col("n_present"),
        col("n_distinct_vals"), col("seen_from"), col("seen_to"),
        expr("n_present * 1000 div __t").as("permille"))
      .transform(graft.Tables.orderedReport(_, "event_type", "key"))
  }


  /** Top-10 length-3 event-type journeys WITHIN sessions — the "what do
    * user journeys look like" report one window past the sessionization
    * and transition-matrix code that already exists: trigram paths beat
    * the Markov matrix at surfacing multi-step flows (view>cart>purchase)
    * the pairwise counts wash out. Same 30-min gap rule as
    * `window_session`; a trigram counts only when all three events share
    * a session (sessions are contiguous runs, so 1st and 3rd sharing a
    * session id implies the 2nd does too). ONE user-keyed shuffle carries
    * every window (session numbering AND the two leads share the
    * partitioning/ordering), then a map-side-combined aggregate onto the
    * |types|³-bounded path domain — the final top-10 sort runs on that
    * bounded frame, never on the corpus. Ties break path-ascending, so
    * the ranking is a pure function of the counts. */
  /** The corpus-side half of [[aggSessionPaths]]: in-session trigram →
    * count, the single pass whose plan shape PlanSpec pins (one user-keyed
    * exchange feeding every window, one path-keyed aggregate exchange). */
  private[graft] def buildSessionTrigrams(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ep = unix_timestamp(col("ts"))
    val gap = ep - lag(ep, 1).over(byUser)
    events(s, d)
      .withColumn("__new", when(gap.isNull || gap > 1800L, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(run))
      .withColumn("__t2", lead(col("event_type"), 1).over(byUser))
      .withColumn("__t3", lead(col("event_type"), 2).over(byUser))
      .withColumn("__s3", lead(col("__sid"), 2).over(byUser))
      .filter(col("__s3") === col("__sid")) // null-safe: drops tail rows too
      .groupBy(concat_ws(">", col("event_type"), col("__t2"), col("__t3")).as("path"))
      .agg(count(lit(1)).as("n"))
  }

  private val aggSessionPaths: Q = (s, d) => {
    val tri = buildSessionTrigrams(s, d)
      .localCheckpoint(true) // ≤ |types|³ rows; total + top-k read it twice
    val tot = tri.agg(sum(col("n")).as("__t")) // 1 row; broadcast cross
    tri.crossJoin(broadcast(tot))
      .select(col("path"), col("n"), expr("n * 1000 div __t").as("permille"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("path")))) // ≤10 rows: single task
      .select(col("rank").cast("long").as("rank"), col("path"), col("n"), col("permille"))
      .transform(graft.Tables.orderedReport(_, "rank"))
  }

  /** Last-touch conversion attribution — the marketing-analytics classic:
    * each purchase is credited to the user's most recent PRIOR
    * non-purchase event (the "touch"), purchases with no prior touch fall
    * to 'none'; rollup = conversions + exact revenue per channel. ONE
    * user-partitioned `last(ignoreNulls)` window over an unbounded-
    * preceding-to-−1 frame (running state, no self-join, no per-purchase
    * scan-back), then a |types|-bounded aggregate. The window is the same
    * user-keyed shape as the session/funnel family — nothing sorts
    * outside its user partition at any scale. */
  private val aggAttribution: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events(s, d)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
    touched.filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("attributed_type"))
      .agg(count(lit(1)).as("n_purchases"),
        CdcOps.exactSum(col("value")).as("total_value"))
      .transform(graft.Tables.orderedReport(_, "attributed_type"))
  }

  // ---------------------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "agg_transition_matrix" -> aggTransitionMatrix,
    "agg_session_paths" -> aggSessionPaths,
    "agg_schema_profile" -> aggSchemaProfile,
    "agg_burstiness" -> aggBurstiness,
    "agg_audience_overlap" -> aggAudienceOverlap,
    "agg_gini" -> aggGini,
    "window_drawdown" -> windowDrawdown,
    "agg_attribution" -> aggAttribution,
    "agg_robust_outliers" -> aggRobustOutliers,
    "filter_optype" -> filterOptype,
    "filter_time_range" -> filterTimeRange,
    "filter_oplog_pred" -> filterOplogPred,
    "project_event" -> projectEvent,
    "project_id_extract" -> projectIdExtract,
    "source_oplog_scan" -> sourceOplogScan,
    "source_point_lookup" -> sourcePointLookup,
    "agg_lastwrite_wins" -> aggLastwriteWins,
    "sink_upsert" -> sinkUpsert,
    "sink_partitioned" -> sinkPartitioned,
    "sink_zorder" -> sinkZorder,
    "agg_funnel" -> aggFunnel,
    "agg_funnel_steps" -> aggFunnelSteps,
    "agg_retention" -> aggRetention,
    "agg_conversion_lag" -> aggConversionLag,
    "agg_op_counts" -> aggOpCounts,
    "agg_distinct_ids" -> aggDistinctIds,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_approx_distinct_fast" -> aggApproxDistinctFast,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_health" -> aggHealth,
    "window_running" -> windowRunning,
    "window_delta" -> windowDelta,
    "window_session" -> windowSession,
    "window_scd2" -> windowScd2,
    "window_gap_fill" -> windowGapFill,
    "window_interpolate" -> windowInterpolate,
    "window_sliding_distinct" -> windowSlidingDistinct,
    "window_ewma" -> windowEwma,
    "window_holt" -> windowHolt,
    "window_theilsen" -> windowTheilsen,
    "window_cumulative_distinct" -> windowCumulativeDistinct,
    "agg_daily_bars" -> aggDailyBars,
    "agg_anomaly_days" -> aggAnomalyDays,
    "agg_anomaly_dow" -> aggAnomalyDow,
    "agg_mann_kendall" -> aggMannKendall,
    "agg_changepoint" -> aggChangepoint,
    "agg_changepoint_tree" -> aggChangepointTree,
    "agg_k_anonymity" -> aggKAnonymity,
    "agg_l_diversity" -> aggLDiversity,
    "agg_t_closeness" -> aggTCloseness,
    "agg_benford" -> aggBenford,
    "agg_heavy_hitters" -> aggHeavyHitters,
    "sort_topk" -> sortTopk,
    "sort_topk_group" -> sortTopkGroup,
    "window_ntile" -> windowNtile,
    "window_autocorr" -> windowAutocorr,
    "window_rank_change" -> windowRankChange,
    "agg_seasonality" -> aggSeasonality,
    "agg_value_quantiles" -> aggValueQuantiles,
    "window_cusum" -> windowCusum,
    "window_lttb" -> windowLttb,
    "window_streak" -> windowStreak,
    "window_rolling_median" -> windowRollingMedian,
    "scalar_datetime" -> scalarDatetime,
    "scalar_string" -> scalarString,
    "scalar_json" -> scalarJson)

  /** Oracle replay of [[graft.operators.TimeSeries.lttb]]: the per-type
    * indexed series, interior bucket labels and floor-mean centroids, then
    * the B greedy picks UNROLLED as chained CTEs (pick b joins pick b−1
    * and bucket b+1's anchor); types at/under the budget pass through
    * whole. Every quantity is an exact BIGINT, so the selection
    * hash-gates. */
  private def lttbSql(buckets: Int): String = {
    val steps = (0 until buckets).map { b =>
      val anchor =
        if (b == buckets - 1) "SELECT etype, idx AS cx, y AS cy FROM lastp"
        else s"SELECT etype, cx, cy FROM cent WHERE b0 = ${b + 1}"
      s"""a$b AS ($anchor),
         |s${b + 1} AS (
         |  SELECT etype, idx, y FROM (
         |    SELECT c.etype, c.idx, c.y,
         |           row_number() OVER (PARTITION BY c.etype ORDER BY
         |             abs((p.idx - a.cx) * (c.y - p.y)
         |                 - (p.idx - c.idx) * (a.cy - p.y)) DESC,
         |             c.idx) AS rn
         |    FROM big c
         |    JOIN s$b p ON p.etype = c.etype
         |    JOIN a$b a ON a.etype = c.etype
         |    WHERE c.b0 = $b
         |  ) z WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to buckets)
      .map(b => s"UNION ALL SELECT etype, CAST($b AS BIGINT), idx, y FROM s$b")
      .mkString("\n")
    s"""WITH daily AS (SELECT event_type AS etype, CAST(ts AS DATE) AS day,
       |                      CAST(count(*) AS BIGINT) AS y
       |               FROM events GROUP BY 1, 2),
       |ix AS (SELECT etype, day, y,
       |              CAST(row_number() OVER (PARTITION BY etype ORDER BY day) - 1
       |                   AS BIGINT) AS idx
       |       FROM daily),
       |meta AS (SELECT etype, CAST(count(*) AS BIGINT) AS cnt FROM ix GROUP BY 1),
       |big AS (SELECT ix.etype, ix.idx, ix.y,
       |               CAST((ix.idx - 1) * $buckets // (m.cnt - 2) AS BIGINT) AS b0
       |        FROM ix JOIN meta m USING (etype)
       |        WHERE m.cnt > ${buckets + 2} AND ix.idx BETWEEN 1 AND m.cnt - 2),
       |small AS (SELECT ix.etype, ix.idx AS rank, ix.day, ix.y
       |          FROM ix JOIN meta m USING (etype) WHERE m.cnt <= ${buckets + 2}),
       |cent AS (SELECT etype, b0, CAST(sum(idx) // count(*) AS BIGINT) AS cx,
       |                CAST(sum(y) // count(*) AS BIGINT) AS cy
       |         FROM big GROUP BY 1, 2),
       |lastp AS (SELECT ix.etype, ix.idx, ix.y
       |          FROM ix JOIN meta m USING (etype)
       |          WHERE ix.idx = m.cnt - 1 AND m.cnt > ${buckets + 2}),
       |s0 AS (SELECT ix.etype, ix.idx, ix.y
       |       FROM ix JOIN meta m USING (etype)
       |       WHERE ix.idx = 0 AND m.cnt > ${buckets + 2}),
       |$steps,
       |sel AS (
       |  SELECT etype, CAST(0 AS BIGINT) AS rank, idx, y FROM s0
       |  $unions
       |  UNION ALL SELECT etype, CAST(${buckets + 1} AS BIGINT), idx, y FROM lastp)
       |SELECT u.etype AS event_type, u.rank,
       |       strftime(u.day, '%Y-%m-%d') AS day, u.y AS n
       |FROM (SELECT sel.etype, sel.rank, ix.day, sel.y
       |      FROM sel JOIN ix ON ix.etype = sel.etype AND ix.idx = sel.idx
       |      UNION ALL SELECT etype, rank, day, y FROM small) u
       |ORDER BY event_type, rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "agg_transition_matrix" ->
      """WITH p AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS to_type
        |           FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tt FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |       CAST(c.n * 1000 // t.tt AS BIGINT) AS permille
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY 1, 2""".stripMargin,

    "agg_schema_profile" ->
      """WITH kv AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |                   unnest(json_keys(props)) AS key, props
        |            FROM events),
        |pk AS (SELECT event_type, key, CAST(count(*) AS BIGINT) AS n_present,
        |              CAST(count(DISTINCT json_extract_string(props, '$."' || key || '"'))
        |                AS BIGINT) AS n_distinct_vals,
        |              min(day) AS seen_from, max(day) AS seen_to
        |       FROM kv GROUP BY 1, 2),
        |t AS (SELECT event_type, count(*) AS tt FROM events GROUP BY 1)
        |SELECT pk.event_type, pk.key, pk.n_present, pk.n_distinct_vals,
        |       pk.seen_from, pk.seen_to,
        |       CAST(pk.n_present * 1000 // t.tt AS BIGINT) AS permille
        |FROM pk JOIN t USING (event_type) ORDER BY 1, 2""".stripMargin,

    "agg_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM e),
        |t AS (
        |  SELECT event_type AS t1, sid,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3,
        |         lead(sid, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
        |  FROM s),
        |c AS (SELECT t1 || '>' || t2 || '>' || t3 AS path, CAST(count(*) AS BIGINT) AS n
        |      FROM t WHERE s3 = sid GROUP BY 1),
        |tt AS (SELECT sum(n) AS tot FROM c),
        |top AS (SELECT path, n, CAST(n * 1000 // tt.tot AS BIGINT) AS permille
        |        FROM c, tt ORDER BY n DESC, path LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank,
        |       path, n, permille
        |FROM top ORDER BY rank""".stripMargin,

    // the three running aggregates layer CTE by CTE (DuckDB forbids nested
    // window calls); all integer cents until the final /100.0
    "window_drawdown" ->
      s"""WITH p AS (SELECT user_id, event_id, ts,
         |                  CAST(round(value * 100) AS BIGINT) AS cents
         |           FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, event_id, ts,
         |             CAST(sum(cents) OVER w AS BIGINT) AS cum
         |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |                          ROWS UNBOUNDED PRECEDING)),
         |k AS (SELECT user_id, event_id, ts, cum,
         |             CAST(max(cum) OVER w AS BIGINT) AS peak
         |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |                          ROWS UNBOUNDED PRECEDING)),
         |dd AS (SELECT user_id, event_id, ts, cum, peak, peak - cum AS d,
         |              CAST(max(peak - cum) OVER w AS BIGINT) AS mdd
         |       FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING))
         |SELECT user_id, event_id, ${TS("ts")} AS ts_s,
         |       cum / 100.0 AS cum_value, peak / 100.0 AS peak_value,
         |       d / 100.0 AS drawdown, mdd / 100.0 AS max_drawdown
         |FROM dd ORDER BY user_id, event_id""".stripMargin,

    // distinct (user, type) self-join on the user key; totals |types|-sized
    "agg_audience_overlap" ->
      """WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |             CAST(count(*) AS BIGINT) AS n_both
        |      FROM u a JOIN u b ON a.user_id = b.user_id
        |                       AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, ta.n AS n_a, tb.n AS n_b, p.n_both,
        |       floor((CAST(p.n_both AS DOUBLE) /
        |              CAST(ta.n + tb.n - p.n_both AS DOUBLE)) * 10000 + 0.5) / 10000
        |         AS jaccard
        |FROM p JOIN t ta ON p.type_a = ta.event_type
        |       JOIN t tb ON p.type_b = tb.event_type
        |ORDER BY 1, 2""".stripMargin,

    // Σi·cᵢ over the (c, user_id)-ranked counts is tie-order-invariant
    "agg_gini" ->
      """WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, c,
        |             CAST(row_number() OVER (PARTITION BY event_type
        |                                     ORDER BY c, user_id) AS BIGINT) AS i
        |      FROM c),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(sum(c) AS BIGINT) AS n_events,
        |             CAST(sum(i * c) AS BIGINT) AS s_ic
        |      FROM r GROUP BY 1)
        |SELECT event_type, n_users, n_events,
        |       floor((CAST(2 * s_ic - (n_users + 1) * n_events AS DOUBLE) /
        |              CAST(n_users * n_events AS DOUBLE)) * 10000 + 0.5) / 10000 AS gini
        |FROM m ORDER BY event_type""".stripMargin,

    // the hour domain is generate_series over the global min/max so
    // zero-count hours enter the moments; Fano in exact integer arithmetic
    "agg_burstiness" ->
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |          FROM b),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
        |        FROM ev GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, coalesce(c.c, 0) AS c
        |         FROM types t CROSS JOIN hours hr
        |         LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = hr.h),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |             CAST(sum(c) AS BIGINT) AS n_events,
        |             CAST(sum(c * c) AS BIGINT) AS s2
        |      FROM grid GROUP BY 1)
        |SELECT event_type, n_hours, n_events,
        |       floor((CAST(n_hours * s2 - n_events * n_events AS DOUBLE) /
        |              CAST(n_hours * n_events AS DOUBLE)) * 10000 + 0.5) / 10000
        |         AS fano
        |FROM m ORDER BY event_type""".stripMargin,

    // the quantile histogram twice over: corpus → cents histogram → lower
    // median; histogram re-grouped by |cents − med| → MAD; all integer
    "agg_robust_outliers" ->
      """WITH h AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |                  CAST(count(*) AS BIGINT) AS hn
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(hn) AS BIGINT) AS n FROM h GROUP BY 1),
        |c1 AS (SELECT event_type, cents, hn,
        |              sum(hn) OVER (PARTITION BY event_type ORDER BY cents
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM h),
        |med AS (SELECT c1.event_type,
        |               min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS med
        |        FROM c1 JOIN t USING (event_type) GROUP BY 1),
        |dv AS (SELECT h.event_type, abs(h.cents - med.med) AS dev,
        |              CAST(sum(hn) AS BIGINT) AS hn
        |       FROM h JOIN med USING (event_type) GROUP BY 1, 2),
        |c2 AS (SELECT event_type, dev, hn,
        |              sum(hn) OVER (PARTITION BY event_type ORDER BY dev
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM dv),
        |mad AS (SELECT c2.event_type,
        |               min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
        |        FROM c2 JOIN t USING (event_type) GROUP BY 1)
        |SELECT dv.event_type, t.n AS n_events,
        |       med.med / 100.0 AS median, mad.mad / 100.0 AS mad,
        |       CAST(coalesce(sum(CASE WHEN dv.dev > 3 * mad.mad THEN dv.hn END), 0)
        |            AS BIGINT) AS n_outliers,
        |       CAST(coalesce(sum(CASE WHEN dv.dev > 3 * mad.mad THEN dv.hn END), 0)
        |            * 1000 // t.n AS BIGINT) AS outlier_permille
        |FROM dv JOIN med USING (event_type) JOIN mad USING (event_type)
        |JOIN t USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,

    "agg_attribution" ->
      """WITH tch AS (SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT coalesce(touch, 'none') AS attributed_type,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
        |         AS total_value
        |FROM tch WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "filter_optype" ->
      s"""SELECT event_id, user_id, event_type, $OP AS op_type, round(value, 4) AS value
         |FROM events WHERE event_type IS DISTINCT FROM 'error' ORDER BY event_id""".stripMargin,

    "filter_time_range" ->
      s"""SELECT event_id, ${TS("ts")} AS ts_s, user_id, event_type
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-10 00:00:00'
         |ORDER BY event_id""".stripMargin,

    "filter_oplog_pred" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS value
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |  AND ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id % 2 = 0
        |ORDER BY event_id""".stripMargin,

    "project_event" ->
      s"""SELECT event_id, $OP AS op_type, user_id AS doc_key, props AS doc
         |FROM events WHERE event_type IS DISTINCT FROM 'error' ORDER BY event_id""".stripMargin,

    "project_id_extract" ->
      """SELECT event_id,
        |       coalesce(CASE WHEN event_type = 'purchase'
        |                     THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END,
        |                user_id) AS doc_id
        |FROM events ORDER BY event_id""".stripMargin,

    "source_oplog_scan" ->
      s"""SELECT event_id, ts_s, user_id, event_type FROM (
         |  SELECT event_id, ${TS("ts")} AS ts_s, user_id, event_type
         |  FROM events
         |  WHERE event_type IN ('signup', 'click', 'view')
         |    AND ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts < TIMESTAMP '2024-01-25 00:00:00'
         |  ORDER BY ts, event_id LIMIT 100) q
         |ORDER BY event_id""".stripMargin,

    "source_point_lookup" ->
      s"""SELECT event_id, ${TS("ts")} AS ts_s, event_type, round(value, 4) AS value, props
         |FROM events WHERE user_id = 7 ORDER BY event_id""".stripMargin,

    "agg_lastwrite_wins" ->
      s"""SELECT user_id, ${TS("ts")} AS last_ts, event_type AS last_event,
         |       round(value, 4) AS last_value, props AS last_props
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |      FROM events WHERE event_type IS DISTINCT FROM 'error') q
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "sink_upsert" ->
      s"""WITH filtered AS (SELECT * FROM events WHERE event_type IS DISTINCT FROM 'error'),
         |base AS (SELECT user_id, ts, event_type, value
         |         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |               FROM filtered WHERE ts < TIMESTAMP '2024-01-15 00:00:00') q WHERE rn = 1),
         |batch AS (SELECT user_id, ts, event_type, value
         |          FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |                FROM filtered WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') q WHERE rn = 1),
         |merged AS (SELECT * FROM batch
         |           UNION ALL
         |           SELECT * FROM base b WHERE NOT EXISTS (SELECT 1 FROM batch x WHERE x.user_id = b.user_id))
         |SELECT user_id, ${TS("ts")} AS last_ts, event_type AS last_event, round(value, 4) AS last_value
         |FROM merged ORDER BY user_id""".stripMargin,

    // type-1 rank quantiles with integer rank arithmetic over the
    // user-sized converter frame; p50 and p90 picked in one pass
    "agg_conversion_lag" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |            WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(t1) AS t1, min(ts) AS t2
         |       FROM events e JOIN s1 USING (user_id)
         |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(t1) AS t1, min(ts) AS t3
         |       FROM events e JOIN s2 USING (user_id)
         |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
         |lag AS (SELECT CAST(floor(epoch(t3)) AS BIGINT)
         |               - CAST(floor(epoch(t1)) AS BIGINT) AS lag_sec FROM s3),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(lag_sec) AS BIGINT) AS sm FROM lag),
         |r AS (SELECT lag_sec, row_number() OVER (ORDER BY lag_sec) AS rn FROM lag)
         |SELECT n AS n_converters,
         |       CAST(min(CASE WHEN rn = (500 * n + 999) // 1000 THEN lag_sec END)
         |            AS BIGINT) AS p50_sec,
         |       CAST(max(CASE WHEN rn = (900 * n + 999) // 1000 THEN lag_sec END)
         |            AS BIGINT) AS p90_sec,
         |       CAST(sm // greatest(n, 1) AS BIGINT) AS mean_sec
         |FROM r, tot
         |WHERE rn = (500 * n + 999) // 1000 OR rn = (900 * n + 999) // 1000
         |GROUP BY n, sm""".stripMargin,

    // integer epoch-weeks (div 604800) on both sides; floor(epoch()) is the
    // second truncation unix_timestamp performs
    "agg_retention" ->
      s"""WITH first AS (SELECT user_id, min(ts) AS t0 FROM events
         |               WHERE event_type = 'signup' GROUP BY 1),
         |act AS (SELECT DISTINCT e.user_id,
         |          CAST(floor(epoch(t0)) AS BIGINT) // 604800 AS cohort_week,
         |          (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(t0)) AS BIGINT))
         |            // 604800 AS week_n
         |        FROM events e JOIN first USING (user_id)
         |        WHERE ts >= t0),
         |cnt AS (SELECT cohort_week, week_n, CAST(count(*) AS BIGINT) AS n_users
         |        FROM act GROUP BY 1, 2),
         |w0 AS (SELECT cohort_week, n_users AS w0_users FROM cnt WHERE week_n = 0)
         |SELECT c.cohort_week, week_n, n_users,
         |       CAST(n_users * 1000 // greatest(w0_users, 1) AS BIGINT)
         |         AS retention_permille
         |FROM cnt c JOIN w0 USING (cohort_week)
         |ORDER BY cohort_week, week_n""".stripMargin,

    // each stage strictly after the user's previous-stage entry
    "agg_funnel" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |            WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
         |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
         |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
         |agg AS (
         |  SELECT st.stage_idx, st.stage, coalesce(r.n_users, CAST(0 AS BIGINT)) AS n_users
         |  FROM (VALUES (CAST(1 AS BIGINT), 'signup'), (CAST(2 AS BIGINT), 'click'),
         |               (CAST(3 AS BIGINT), 'purchase')) st(stage_idx, stage)
         |  LEFT JOIN (
         |    SELECT 1 AS stage_idx, CAST(count(*) AS BIGINT) AS n_users FROM s1
         |    UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
         |    UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3) r
         |    ON st.stage_idx = r.stage_idx),
         |top AS (SELECT n_users AS t FROM agg WHERE stage_idx = 1)
         |SELECT stage_idx, stage, n_users,
         |       CAST(n_users * 1000 // greatest(t, 1) AS BIGINT) AS conv_permille
         |FROM agg, top ORDER BY stage_idx""".stripMargin,

    // the 4-stage strict chain: each stage's first event strictly after the
    // user's previous-stage entry; same shape as agg_funnel at k=4
    "agg_funnel_steps" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |            WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
         |       WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
         |       WHERE event_type = 'click' AND ts > t2 GROUP BY 1),
         |s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e JOIN s3 USING (user_id)
         |       WHERE event_type = 'purchase' AND ts > t3 GROUP BY 1),
         |agg AS (
         |  SELECT st.stage_idx, st.stage, coalesce(r.n_users, CAST(0 AS BIGINT)) AS n_users
         |  FROM (VALUES (CAST(1 AS BIGINT), 'signup'), (CAST(2 AS BIGINT), 'view'),
         |               (CAST(3 AS BIGINT), 'click'), (CAST(4 AS BIGINT), 'purchase'))
         |       st(stage_idx, stage)
         |  LEFT JOIN (
         |    SELECT 1 AS stage_idx, CAST(count(*) AS BIGINT) AS n_users FROM s1
         |    UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
         |    UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3
         |    UNION ALL SELECT 4, CAST(count(*) AS BIGINT) FROM s4) r
         |    ON st.stage_idx = r.stage_idx),
         |top AS (SELECT n_users AS t FROM agg WHERE stage_idx = 1)
         |SELECT stage_idx, stage, n_users,
         |       CAST(n_users * 1000 // greatest(t, 1) AS BIGINT) AS conv_permille
         |FROM agg, top ORDER BY stage_idx""".stripMargin,

    // the flat table filtered to the same day — layout must not change values
    "sink_partitioned" ->
      s"""SELECT event_id, ${TS("ts")} AS ts_s, user_id, event_type
         |FROM events WHERE date_trunc('day', ts) = DATE '2024-01-10'
         |ORDER BY event_id""".stripMargin,

    // same shift/mask interleave terms via Bucketing.zKeySql — exact int64
    "sink_zorder" -> {
      val z = graft.operators.Bucketing.zKeySql("user_id", "day_idx", 16)
      s"""WITH e AS (SELECT event_id, user_id,
         |                  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx
         |           FROM events)
         |SELECT event_id, user_id, day_idx, $z AS z_key
         |FROM e WHERE user_id BETWEEN 40 AND 80 AND day_idx BETWEEN 5 AND 12
         |ORDER BY event_id""".stripMargin
    },

    "agg_op_counts" ->
      s"""SELECT $OP AS op_type, count(*) AS n,
         |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
         |FROM events GROUP BY 1 ORDER BY op_type""".stripMargin,

    "agg_distinct_ids" ->
      """SELECT DISTINCT user_id FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY user_id""".stripMargin,

    // the HLL estimate itself is engine-specific; the oracle checks the
    // sketch contract (see aggApproxDistinct): estimate within 5% of truth
    "agg_approx_distinct" ->
      """SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events,
        |       true AS hll_within_5pct
        |FROM events""".stripMargin,

    "agg_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS et, coalesce(d, 'ALL') AS d,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
        |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, value FROM events) q
        |GROUP BY ROLLUP(event_type, d) ORDER BY et, d""".stripMargin,

    "agg_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS et, coalesce(dow, -1) AS dow, count(*) AS n
        |FROM (SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow FROM events) q
        |GROUP BY CUBE(event_type, dow) ORDER BY et, dow""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT CAST(grouping_id(event_type, dow) AS BIGINT) AS gid,
        |       coalesce(event_type, 'ALL') AS et, coalesce(dow, -1) AS dow,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
        |FROM (SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, value
        |      FROM events) q
        |GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow), ())
        |ORDER BY gid, et, dow""".stripMargin,

    "agg_health" ->
      s"""SELECT ${TS("max(ts)")} AS last_ts,
         |       1706745600 - CAST(floor(epoch(max(ts))) AS BIGINT) AS lag_seconds,
         |       (1706745600 - CAST(floor(epoch(max(ts))) AS BIGINT)) < 300 AS healthy
         |FROM events""".stripMargin,

    "window_running" ->
      """SELECT user_id, event_id, round(value, 4) AS value,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING), 4) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "window_delta" ->
      """SELECT user_id, event_id,
        |       round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta,
        |       lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "window_session" ->
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(floor(epoch(ts)) AS BIGINT)
         |           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
         |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM e)
         |SELECT user_id, session_id, count(*) AS n_events,
         |       ${TS("min(ts)")} AS session_start, ${TS("max(ts)")} AS session_end
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // lag drops no-change updates; version/valid_to windows rerun over the
    // surviving change rows (same per-key partitioning on both engines)
    "window_scd2" ->
      s"""WITH f AS (SELECT * FROM events WHERE event_type IS DISTINCT FROM 'error'),
         |ch AS (SELECT user_id, event_type, ts, event_id,
         |              lag(event_type, 1) OVER
         |                (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |       FROM f),
         |v AS (SELECT user_id, event_type, ts,
         |             CAST(row_number() OVER
         |               (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
         |             lead(ts, 1) OVER
         |               (PARTITION BY user_id ORDER BY ts, event_id) AS to_ts
         |      FROM ch WHERE prev IS NULL OR prev <> event_type)
         |SELECT user_id, version, event_type,
         |       ${TS("ts")} AS valid_from, ${TS("to_ts")} AS valid_to,
         |       to_ts IS NULL AS is_current
         |FROM v ORDER BY user_id, version""".stripMargin,

    // LOCF via the count-of-non-nulls group trick (engine-portable; no
    // IGNORE NULLS dependence): within a fill group only the first day is
    // observed, so max() over (user, grp) is the carried value
    "window_gap_fill" ->
      """WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
        |                  round(value, 4) AS v
        |           FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT user_id, day, v FROM (
        |        SELECT *, row_number() OVER
        |          (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM p) q WHERE rn = 1),
        |span AS (SELECT user_id,
        |                CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |                                            CAST(hi AS TIMESTAMP),
        |                                            INTERVAL 1 DAY)) AS DATE) AS day
        |         FROM (SELECT user_id, min(day) AS lo, max(day) AS hi
        |               FROM d GROUP BY user_id) b),
        |j AS (SELECT s.user_id, s.day, d.v
        |      FROM span s LEFT JOIN d ON s.user_id = d.user_id AND s.day = d.day),
        |g AS (SELECT user_id, day, v,
        |             count(v) OVER (PARTITION BY user_id ORDER BY day) AS grp
        |      FROM j)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       max(v) OVER (PARTITION BY user_id, grp) AS value,
        |       v IS NOT NULL AS observed
        |FROM g ORDER BY user_id, day""".stripMargin,

    // the interpolation is one fixed op sequence (divide, multiply, add)
    // on caller-rounded operands — bit-identical on both engines
    "window_interpolate" ->
      s"""WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
         |                  round(value, 4) AS v
         |           FROM events WHERE event_type = 'purchase'),
         |d AS (SELECT user_id, day, v FROM (
         |        SELECT *, row_number() OVER
         |          (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
         |        FROM p) q WHERE rn = 1),
         |span AS (SELECT user_id,
         |                CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
         |                                            CAST(hi AS TIMESTAMP),
         |                                            INTERVAL 1 DAY)) AS DATE) AS day
         |         FROM (SELECT user_id, min(day) AS lo, max(day) AS hi
         |               FROM d GROUP BY user_id) b),
         |j AS (SELECT s.user_id, s.day, d.v
         |      FROM span s LEFT JOIN d ON s.user_id = d.user_id AND s.day = d.day),
         |w AS (SELECT user_id, day, v,
         |        last_value(v IGNORE NULLS) OVER wp AS vp,
         |        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS dp,
         |        first_value(v IGNORE NULLS) OVER wn AS vn,
         |        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS dn
         |      FROM j
         |      WINDOW wp AS (PARTITION BY user_id ORDER BY day
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             wn AS (PARTITION BY user_id ORDER BY day
         |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
         |       ${Tables.rnd4Sql("CASE WHEN v IS NOT NULL THEN v ELSE vp + (vn - vp) * " +
                  "(CAST(date_diff('day', dp, day) AS DOUBLE) / CAST(date_diff('day', dp, dn) AS DOUBLE)) END")} AS value,
         |       v IS NOT NULL AS observed
         |FROM w ORDER BY user_id, day""".stripMargin,

    // the 2σ rule in multiplied-out integer form — HUGEINT here, decimal(38,0)
    // in the engine; exact on both, so the boundary can never flip
    "agg_anomaly_days" ->
      """WITH dcount AS (SELECT CAST(ts AS DATE) AS day,
        |                       CAST(count(*) AS BIGINT) AS n
        |                FROM events GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS HUGEINT) AS D,
        |              CAST(sum(n) AS HUGEINT) AS S,
        |              CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS SS
        |       FROM dcount)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n,
        |       (CAST(n AS HUGEINT) * D - S) * (CAST(n AS HUGEINT) * D - S)
        |         > 4 * (D * SS - S * S) AS is_outlier
        |FROM dcount, st ORDER BY day""".stripMargin,

    // the LTTB greedy unrolled per bucket (the unrolled-Lloyd discipline):
    // each step's pick is an exact-integer doubled-triangle-area argmax
    // against the previous pick and the next bucket's floor-mean centroid
    "window_lttb" -> lttbSql(10),

    // the same multiplied-out 2σ rule per weekday group; the weekday index
    // is epoch-day arithmetic, never a locale day name
    "agg_anomaly_dow" ->
      """WITH dcount AS (SELECT CAST(ts AS DATE) AS day,
        |                       CAST(count(*) AS BIGINT) AS n
        |                FROM events GROUP BY 1),
        |dw AS (SELECT day, n,
        |              CAST((day - DATE '1970-01-01' + 3) % 7 AS BIGINT) AS dow
        |       FROM dcount),
        |st AS (SELECT dow, CAST(count(*) AS HUGEINT) AS D,
        |              CAST(sum(n) AS HUGEINT) AS S,
        |              CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS SS
        |       FROM dw GROUP BY 1)
        |SELECT strftime(dw.day, '%Y-%m-%d') AS day, dw.dow, dw.n,
        |       (CAST(n AS HUGEINT) * D - S) * (CAST(n AS HUGEINT) * D - S)
        |         > 4 * (D * SS - S * S) AS is_outlier
        |FROM dw JOIN st USING (dow) ORDER BY day""".stripMargin,

    // cumulative distinct = first-seen counting; the oracle states it as a
    // correlated count-distinct-≤-day, the engine as min(day) + running sum
    "window_cumulative_distinct" ->
      """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |fs AS (SELECT user_id, min(day) AS day FROM e GROUP BY user_id),
        |nn AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY day),
        |days AS (SELECT DISTINCT day FROM e)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |       coalesce(nn.n_new, 0) AS n_new,
        |       CAST(sum(coalesce(nn.n_new, 0)) OVER
        |         (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_total
        |FROM days d LEFT JOIN nn ON d.day = nn.day
        |ORDER BY day""".stripMargin,

    // first/last stated as ranking windows here vs struct extrema in the
    // engine — the equivalence is what's pinned
    "agg_daily_bars" ->
      """WITH p AS (SELECT CAST(ts AS DATE) AS day, ts, event_id,
        |                  round(value, 4) AS v
        |           FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT day, v,
        |             row_number() OVER (PARTITION BY day ORDER BY ts, event_id) AS rf,
        |             row_number() OVER (PARTITION BY day ORDER BY ts DESC, event_id DESC) AS rl
        |      FROM p),
        |a AS (SELECT day, max(v) AS high, min(v) AS low,
        |             CAST(count(*) AS BIGINT) AS n_events
        |      FROM p GROUP BY day)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day,
        |       o.v AS open, a.high, a.low, c.v AS close, a.n_events
        |FROM a
        |JOIN r o ON a.day = o.day AND o.rf = 1
        |JOIN r c ON a.day = c.day AND c.rl = 1
        |ORDER BY day""".stripMargin,

    // the oracle states the window directly as a range join; the engine's
    // contribution-explode form must agree day for day
    "window_sliding_distinct" ->
      """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM e),
        |w AS (SELECT d.day AS w_day, e.user_id
        |      FROM days d JOIN e ON e.day >= d.day - 6 AND e.day <= d.day)
        |SELECT strftime(w_day, '%Y-%m-%d') AS day,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
        |FROM w GROUP BY w_day ORDER BY day""".stripMargin,

    // the oracle states the decayed window as a range join; 1 << j keeps
    // every weight a power of two, so both engines' sums are exact (see
    // the query doc)
    "window_ewma" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
         |              FROM events GROUP BY 1),
         |c AS (SELECT a.day AS day, b.n AS bn, date_diff('day', b.day, a.day) AS j
         |      FROM daily a JOIN daily b ON b.day >= a.day - 6 AND b.day <= a.day)
         |SELECT strftime(c.day, '%Y-%m-%d') AS day, d.n AS n,
         |       ${graft.Tables.rnd4Sql(
                   "sum(CAST(bn AS DOUBLE) / (1 << j)) / sum(1.0 / (1 << j))")} AS ewma_7d
         |FROM c JOIN daily d ON c.day = d.day
         |GROUP BY c.day, d.n ORDER BY day""".stripMargin,

    // the Holt recurrence unrolled as a per-key recursive CTE; fd2 makes
    // the dividend even before dividing, so `//` here and `div` in the
    // engine agree on negative trends (see CdcOps.holt)
    "window_holt" -> {
      def fd2(e: String) = s"(($e) - ((($e) % 2) + 2) % 2) // 2"
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |i AS (SELECT event_type, day, n,
         |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
         |             AS BIGINT) AS t
         |      FROM daily),
         |h AS (
         |  SELECT a.event_type, a.t, a.day, a.n,
         |         a.n * 1000000 AS s,
         |         CAST(coalesce(b.n - a.n, 0) * 1000000 AS BIGINT) AS b
         |  FROM i a LEFT JOIN i b ON b.event_type = a.event_type AND b.t = 2
         |  WHERE a.t = 1
         |  UNION ALL
         |  SELECT nx.event_type, nx.t, nx.day, nx.n, x.s2,
         |         CAST(${fd2("x.s2 - h.s + h.b")} AS BIGINT)
         |  FROM h
         |  JOIN i nx ON nx.event_type = h.event_type AND nx.t = h.t + 1,
         |  LATERAL (SELECT CAST(${fd2("nx.n * 1000000 + h.s + h.b")} AS BIGINT)
         |           AS s2) x)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
         |       s AS level_micro, b AS trend_micro,
         |       CAST(s + b AS BIGINT) AS forecast_micro
         |FROM h ORDER BY event_type, day""".stripMargin
    },

    // digit from the cents string head; probabilities are the SAME
    // 15-digit literals the engine embeds (no libm log10 on either side);
    // N sums the audited digits 1–9 only, as the engine's report does: a
    // value whose cents round to 0 has digit 0, which neither side audits
    "agg_benford" -> {
      val caseP = graft.operators.CdcOps.BenfordP
        .map { case (dg, ps) => s"WHEN $dg THEN $ps" }.mkString(" ")
      s"""WITH c AS (SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT)
         |                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |           FROM events),
         |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY 1),
         |dom AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS digit),
         |f AS (SELECT dom.digit, coalesce(o.n_obs, 0) AS n_obs,
         |             (SELECT CAST(sum(n_obs) AS BIGINT) FROM o
         |              WHERE digit BETWEEN 1 AND 9) AS N,
         |             CASE dom.digit $caseP END AS p
         |      FROM dom LEFT JOIN o ON dom.digit = o.digit)
         |SELECT digit, n_obs,
         |       ${graft.Tables.rnd4Sql("CAST(N AS DOUBLE) * p")} AS expected_n,
         |       ${graft.Tables.rnd4Sql(
             "(CAST(n_obs AS DOUBLE) - CAST(N AS DOUBLE) * p)" +
               " * (CAST(n_obs AS DOUBLE) - CAST(N AS DOUBLE) * p)" +
               " / (CAST(N AS DOUBLE) * p)")} AS chi2_term
         |FROM f ORDER BY digit""".stripMargin
    },

    // S and the tie-corrected variance numerator are exact integers; z is
    // one fixed IEEE op sequence on them (continuity-corrected)
    "agg_mann_kendall" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT a.event_type,
         |        CAST(sum(CASE WHEN b.n > a.n THEN 1
         |                      WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |      FROM daily a JOIN daily b
         |        ON a.event_type = b.event_type AND a.day < b.day
         |      GROUP BY 1),
         |g AS (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
         |      FROM daily GROUP BY 1, 2),
         |v AS (SELECT event_type,
         |        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
         |        CAST(sum(t) AS BIGINT) AS n_days
         |      FROM g GROUP BY 1)
         |SELECT s.event_type, v.n_days, s.s_stat,
         |       CAST(v.n_days * (v.n_days - 1) * (2 * v.n_days + 5) - v.tie_sum
         |            AS BIGINT) AS var18,
         |       ${graft.Tables.rnd4Sql(
             "CASE WHEN v.n_days * (v.n_days - 1) * (2 * v.n_days + 5) - v.tie_sum = 0" +
               " THEN 0.0 ELSE CAST(s.s_stat - CASE WHEN s.s_stat > 0 THEN 1" +
               " WHEN s.s_stat < 0 THEN -1 ELSE 0 END AS DOUBLE)" +
               " / sqrt(CAST(v.n_days * (v.n_days - 1) * (2 * v.n_days + 5) - v.tie_sum" +
               " AS DOUBLE) / 18.0) END")} AS z
         |FROM s JOIN v ON s.event_type = v.event_type
         |ORDER BY s.event_type""".stripMargin,

    // the depth-2 binseg tree: root argmax via the NOT EXISTS pair
    // compare, each side's argmax over segment-local sums off the same
    // prefix CTE — all HUGEINT cross-multiplication, floor-milli output
    "agg_changepoint_tree" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |                      CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS d_days,
        |               CAST(sum(n) AS BIGINT) AS s_all FROM daily),
        |pre AS (SELECT day,
        |               CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_t,
        |               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |        FROM daily),
        |rc AS (SELECT day, t, t AS lt, d_days - t AS rt, s_t AS sl, s_all - s_t AS sr,
        |              CAST(s_t AS HUGEINT) * s_t * (d_days - t) * d_days
        |                + CAST(s_all - s_t AS HUGEINT) * (s_all - s_t) * t * d_days
        |                - CAST(s_all AS HUGEINT) * s_all * t * (d_days - t) AS gnum,
        |              CAST(t AS HUGEINT) * (d_days - t) * d_days AS gden
        |       FROM pre, tot WHERE t < d_days),
        |root AS (SELECT * FROM rc a WHERE NOT EXISTS (
        |           SELECT 1 FROM rc b WHERE b.gnum * a.gden > a.gnum * b.gden
        |              OR (b.gnum * a.gden = a.gnum * b.gden AND b.day < a.day))),
        |lc AS (SELECT p.day, p.t - 0 AS lt, r.t - p.t AS rt,
        |              p.s_t AS sl, r.sl - p.s_t AS sr
        |       FROM pre p, root r WHERE p.t < r.t),
        |lg AS (SELECT day, lt, rt, sl, sr,
        |              CAST(sl AS HUGEINT) * sl * rt * (lt + rt)
        |                + CAST(sr AS HUGEINT) * sr * lt * (lt + rt)
        |                - CAST(sl + sr AS HUGEINT) * (sl + sr) * lt * rt AS gnum,
        |              CAST(lt AS HUGEINT) * rt * (lt + rt) AS gden
        |       FROM lc),
        |lbest AS (SELECT * FROM lg a WHERE NOT EXISTS (
        |            SELECT 1 FROM lg b WHERE b.gnum * a.gden > a.gnum * b.gden
        |               OR (b.gnum * a.gden = a.gnum * b.gden AND b.day < a.day))),
        |rcnd AS (SELECT p.day, p.t - r.t AS lt, d_days - p.t AS rt,
        |                p.s_t - r.sl AS sl, (s_all - r.sl) - (p.s_t - r.sl) AS sr
        |         FROM pre p, root r, tot WHERE p.t > r.t AND p.t < d_days),
        |rg AS (SELECT day, lt, rt, sl, sr,
        |              CAST(sl AS HUGEINT) * sl * rt * (lt + rt)
        |                + CAST(sr AS HUGEINT) * sr * lt * (lt + rt)
        |                - CAST(sl + sr AS HUGEINT) * (sl + sr) * lt * rt AS gnum,
        |              CAST(lt AS HUGEINT) * rt * (lt + rt) AS gden
        |       FROM rcnd),
        |rbest AS (SELECT * FROM rg a WHERE NOT EXISTS (
        |            SELECT 1 FROM rg b WHERE b.gnum * a.gden > a.gnum * b.gden
        |               OR (b.gnum * a.gden = a.gnum * b.gden AND b.day < a.day)))
        |SELECT segment, strftime(day, '%Y-%m-%d') AS split_day,
        |       lt AS left_days, rt AS right_days,
        |       CAST(sl * 1000 // lt AS BIGINT) AS left_mean_milli,
        |       CAST(sr * 1000 // rt AS BIGINT) AS right_mean_milli,
        |       CAST(1000 * gnum // gden AS BIGINT) AS gain_milli
        |FROM (SELECT 'root' AS segment, day, lt, rt, sl, sr, gnum, gden FROM root
        |      UNION ALL SELECT 'left', day, lt, rt, sl, sr, gnum, gden FROM lbest
        |      UNION ALL SELECT 'right', day, lt, rt, sl, sr, gnum, gden FROM rbest) u
        |ORDER BY segment""".stripMargin,

    // the gain rational compares by cross-multiplication in HUGEINT —
    // exactly the engine's decimal(38,0) arithmetic
    "agg_changepoint" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |                      CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS d_days,
        |               CAST(sum(n) AS BIGINT) AS s_all FROM daily),
        |pre AS (SELECT day,
        |               CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_t,
        |               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |        FROM daily),
        |cand AS (SELECT day, t, d_days, s_t, s_all - s_t AS s_r,
        |                CAST(s_t AS HUGEINT) * s_t * (d_days - t) * d_days
        |                  + CAST(s_all - s_t AS HUGEINT) * (s_all - s_t) * t * d_days
        |                  - CAST(s_all AS HUGEINT) * s_all * t * (d_days - t) AS gnum,
        |                CAST(t AS HUGEINT) * (d_days - t) * d_days AS gden
        |         FROM pre, tot WHERE t < d_days),
        |r AS (SELECT a.*,
        |        1 + (SELECT count(*) FROM cand b
        |             WHERE b.gnum * a.gden > a.gnum * b.gden
        |                OR (b.gnum * a.gden = a.gnum * b.gden AND b.day < a.day)) AS rank
        |      FROM cand a)
        |SELECT CAST(rank AS BIGINT) AS rank, strftime(day, '%Y-%m-%d') AS split_day,
        |       t AS left_days, d_days - t AS right_days,
        |       CAST(s_t * 1000 // t AS BIGINT) AS left_mean_milli,
        |       CAST(s_r * 1000 // (d_days - t) AS BIGINT) AS right_mean_milli,
        |       CAST(1000 * gnum // gden AS BIGINT) AS gain_milli
        |FROM r WHERE rank <= 3 ORDER BY rank""".stripMargin,

    "agg_k_anonymity" ->
      """WITH cl AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                   CAST(floor(value / 10) AS BIGINT) AS vbucket,
        |                   CAST(count(*) AS BIGINT) AS n
        |            FROM events GROUP BY 1, 2, 3),
        |b AS (SELECT CASE WHEN n = 1 THEN '1' WHEN n <= 4 THEN '2-4'
        |                  WHEN n <= 9 THEN '5-9' ELSE '10+' END AS band, n
        |      FROM cl),
        |g AS (SELECT band, CAST(count(*) AS BIGINT) AS n_classes,
        |             CAST(sum(n) AS BIGINT) AS n_rows
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS rows_all,
        |             CAST(min(n) AS BIGINT) AS k_anon FROM cl)
        |SELECT band, n_classes, n_rows,
        |       CAST(n_rows * 1000 // rows_all AS BIGINT) AS rows_permille,
        |       k_anon AS k_anonymity
        |FROM g, t ORDER BY band""".stripMargin,

    // the same quasi grid as agg_k_anonymity; per-class DISTINCT-user
    // counts, banded — the membership projection collapses duplicates
    // exactly like the engine's distinct slice
    "agg_l_diversity" ->
      """WITH mem AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
        |                    CAST(floor(value / 10) AS BIGINT) AS vbucket,
        |                    user_id
        |             FROM events),
        |cl AS (SELECT event_type, day, vbucket,
        |              CAST(count(*) AS BIGINT) AS l
        |       FROM mem GROUP BY 1, 2, 3),
        |b AS (SELECT CASE WHEN l = 1 THEN '1' WHEN l <= 4 THEN '2-4'
        |                  WHEN l <= 9 THEN '5-9' ELSE '10+' END AS band, l
        |      FROM cl),
        |g AS (SELECT band, CAST(count(*) AS BIGINT) AS n_classes,
        |             CAST(sum(l) AS BIGINT) AS n_class_users
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS classes_all,
        |             CAST(min(l) AS BIGINT) AS l_div FROM cl)
        |SELECT band, n_classes, n_class_users,
        |       CAST(n_classes * 1000 // classes_all AS BIGINT) AS classes_permille,
        |       l_div AS l_diversity
        |FROM g, t ORDER BY band""".stripMargin,

    // the ordered-EMD cumulative-share comparison is division-free
    // integers (|cn·N_g − cg·N_c| per lattice cell) with ONE trailing
    // permille division; the C×B lattice comes from the same cross join
    "agg_t_closeness" ->
      """WITH cl AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                   CAST(floor(value / 10) AS BIGINT) AS vbucket,
        |                   CAST(count(*) AS BIGINT) AS n
        |            FROM events GROUP BY 1, 2, 3),
        |cls AS (SELECT event_type, day, CAST(sum(n) AS BIGINT) AS n_c
        |        FROM cl GROUP BY 1, 2),
        |bk AS (SELECT vbucket, CAST(sum(n) AS BIGINT) AS g_b FROM cl GROUP BY 1),
        |bkc AS (SELECT vbucket,
        |               CAST(sum(g_b) OVER (ORDER BY vbucket) AS BIGINT) AS cg
        |        FROM bk),
        |st AS (SELECT CAST(sum(g_b) AS BIGINT) AS ng,
        |              CAST(count(*) AS BIGINT) AS nb FROM bk),
        |lat AS (SELECT c.event_type, c.day, c.n_c, b.vbucket, b.cg,
        |               coalesce(g.n, 0) AS n0
        |        FROM cls c CROSS JOIN bkc b
        |        LEFT JOIN cl g ON g.event_type = c.event_type
        |                      AND g.day = c.day AND g.vbucket = b.vbucket),
        |cum AS (SELECT event_type, day, n_c, cg,
        |          CAST(sum(n0) OVER (PARTITION BY event_type, day
        |                             ORDER BY vbucket) AS BIGINT) AS cn
        |        FROM lat),
        |pc AS (SELECT event_type, day, n_c AS n_rows,
        |         CASE WHEN st.nb <= 1 THEN 0
        |              ELSE CAST(sum(abs(cn * st.ng - cg * n_c)) * 1000
        |                        // ((st.nb - 1) * n_c * st.ng) AS BIGINT)
        |         END AS t_milli
        |       FROM cum, st GROUP BY event_type, day, n_c, st.nb, st.ng),
        |mx AS (SELECT CAST(max(t_milli) AS BIGINT) AS t_max FROM pc)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_rows,
        |       t_milli, t_max AS t_closeness
        |FROM pc, mx ORDER BY event_type, day""".stripMargin,

    // median-of-slopes under the (slope, dy, dx) total order — full-tie
    // rows share the slope value, so the picked VALUE is deterministic
    "window_theilsen" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT a.event_type,
         |        CAST(b.n - a.n AS DOUBLE) AS dy,
         |        CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS dx
         |      FROM daily a JOIN daily b
         |        ON a.event_type = b.event_type AND a.day < b.day),
         |r AS (SELECT event_type, dy / dx AS slope,
         |        CAST(row_number() OVER (PARTITION BY event_type
         |          ORDER BY dy / dx, dy, dx) AS BIGINT) AS rn,
         |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
         |      FROM p)
         |SELECT event_type, m AS n_pairs, ${graft.Tables.rnd4Sql("slope")} AS slope_per_day
         |FROM r WHERE rn = (m + 1) // 2 ORDER BY event_type""".stripMargin,

    // k=256 > distinct users ⇒ the sketch never evicts ⇒ exact counts; the
    // oracle is therefore the plain frequency top-k
    "agg_heavy_hitters" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS est_n
        |FROM events GROUP BY user_id
        |ORDER BY est_n DESC, user_id LIMIT 20""".stripMargin,

    "sort_topk" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS value
        |FROM events ORDER BY round(value, 4) DESC, event_id LIMIT 20""".stripMargin,

    // the oracle states grouped top-k as ONE ranking window; the engine's
    // salted two-phase hierarchy must agree row for row
    "sort_topk_group" ->
      """WITH spend AS (SELECT event_type, user_id,
        |        round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
        |      FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, sum_value,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY sum_value DESC, user_id) AS rnk
        |      FROM spend)
        |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, user_id, sum_value
        |FROM r WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin,

    "window_ntile" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                      CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1, 2)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |       CAST(ntile(4) OVER (PARTITION BY event_type
        |                           ORDER BY n DESC, day) AS BIGINT) AS quartile
        |FROM daily ORDER BY event_type, day""".stripMargin,

    // integer moments (HUGEINT here, decimal(38,0) in the engine) + one
    // division + one IEEE sqrt — exact on both engines; see the query doc
    "window_autocorr" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |                      CAST(count(*) AS BIGINT) AS n
         |               FROM events GROUP BY 1, 2),
         |l AS (SELECT unnest([1, 7]) AS lag),
         |p AS (SELECT a.event_type, l.lag, a.n AS x, b.n AS y
         |      FROM daily a CROSS JOIN l
         |      JOIN daily b ON b.event_type = a.event_type
         |                  AND b.day = a.day - CAST(l.lag AS INTEGER)),
         |m AS (SELECT event_type, lag, CAST(count(*) AS HUGEINT) AS np,
         |             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |      FROM p GROUP BY 1, 2)
         |SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
         |       CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0 THEN
         |         ${Tables.rnd4Sql("CAST(np * sxy - sx * sy AS DOUBLE) " +
             "/ sqrt(CAST(np * sxx - sx * sx AS DOUBLE) " +
             "* CAST(np * syy - sy * sy AS DOUBLE))")}
         |       END AS r
         |FROM m ORDER BY event_type, lag""".stripMargin,

    "window_rank_change" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |                      CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1, 2),
        |r AS (SELECT day, event_type, n,
        |             CAST(row_number() OVER (PARTITION BY day
        |                                     ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        |      FROM daily)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day, a.event_type, a.n, a.rnk,
        |       b.rnk AS prev_rnk, b.rnk - a.rnk AS delta
        |FROM r a LEFT JOIN r b
        |  ON b.event_type = a.event_type AND b.day = a.day - 1
        |ORDER BY 1, 2""".stripMargin,

    "agg_seasonality" ->
      """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hh,
        |       count(*) AS n_events, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY dow, hh""".stripMargin,

    "window_streak" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |                     date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
        |              FROM events),
        |isl AS (SELECT user_id,
        |               di - row_number() OVER (PARTITION BY user_id ORDER BY di) AS island
        |        FROM days),
        |runs AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        |         FROM isl GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak,
        |       count(*) AS n_streaks, CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    // quantile_disc(0.5) is the discrete lower median — the same element
    // the engine picks from its sorted bounded frame (no interpolation)
    "window_rolling_median" ->
      s"""SELECT user_id, event_id, ${TS("ts")} AS ts_s,
         |       round(value, 4) AS value,
         |       CAST(count(*) OVER w AS BIGINT) AS n_frame,
         |       round(quantile_disc(value, 0.5) OVER w, 4) AS rolling_median
         |FROM events WHERE event_type = 'purchase'
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin,

    // the oracle states the one-sided CUSUM recursion in its closed
    // running-sum-minus-running-extremum form — identical integer
    // arithmetic, HUGEINT where the engine widens to decimal
    "window_cusum" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS HUGEINT) AS D, CAST(sum(n) AS HUGEINT) AS S,
        |              CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS SS
        |       FROM daily),
        |c AS (SELECT day, n, CAST(n AS HUGEINT) * D - S AS y,
        |             CAST(sum(CAST(n AS HUGEINT) * D - S) OVER w AS HUGEINT) AS cy
        |      FROM daily, st WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |e AS (SELECT day, n,
        |             cy - least(min(cy) OVER w, 0) AS up,
        |             greatest(max(cy) OVER w, 0) - cy AS dn
        |      FROM c WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
        |SELECT strftime(e.day, '%Y-%m-%d') AS day, e.n,
        |       CAST(up AS BIGINT) AS cusum_up, CAST(dn AS BIGINT) AS cusum_down,
        |       up * up > 16 * (D * SS - S * S) AS shift_up,
        |       dn * dn > 16 * (D * SS - S * S) AS shift_down
        |FROM e, st ORDER BY day""".stripMargin,

    // the oracle states the quantiles directly as ordered-set ranks over
    // the cents grid; the engine's histogram + cumulative-sum pick must
    // agree element for element (type-1, integer ranks on both sides)
    "agg_value_quantiles" ->
      """WITH h AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |                  CAST(count(*) AS BIGINT) AS hn
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(hn) AS BIGINT) AS n FROM h GROUP BY 1),
        |c AS (SELECT event_type, cents, hn,
        |             CAST(sum(hn) OVER (PARTITION BY event_type ORDER BY cents
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM h)
        |SELECT c.event_type, t.n AS n_events,
        |       min(CASE WHEN cum >= (500 * n + 999) // 1000 THEN cents END) / 100.0 AS p50,
        |       min(CASE WHEN cum >= (900 * n + 999) // 1000 THEN cents END) / 100.0 AS p90,
        |       min(CASE WHEN cum >= (990 * n + 999) // 1000 THEN cents END) / 100.0 AS p99
        |FROM c JOIN t USING (event_type)
        |GROUP BY c.event_type, t.n ORDER BY c.event_type""".stripMargin,

    "scalar_datetime" ->
      """SELECT event_id,
        |       strftime(ts, '%Y-%m-%d') AS day,
        |       CAST(hour(ts) AS BIGINT) AS hh,
        |       CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       strftime(ts + INTERVAL 1 DAY, '%Y-%m-%d') AS next_day
        |FROM events ORDER BY event_id""".stripMargin,

    "scalar_string" ->
      """SELECT event_id,
        |       concat_ws('.', 'appdb', event_type) AS ns,
        |       upper(event_type) AS et_upper,
        |       regexp_replace(event_type, '[aeiou]', '_', 'g') AS et_devowel,
        |       substring(event_type, 1, 3) AS et3,
        |       CAST(length(event_type) AS BIGINT) AS et_len
        |FROM events ORDER BY event_id""".stripMargin,

    "scalar_json" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CAST(length(props) AS BIGINT) AS props_len
        |FROM events ORDER BY event_id""".stripMargin)
}
