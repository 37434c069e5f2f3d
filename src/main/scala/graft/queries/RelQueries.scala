package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{changeLog, customer, events, fmtTs, fmtTsSql, lineitem, nation, orders, orderedRows, region}
import graft.operators.{AsOf, Bucketing, CdcOps, RangeJoin, Skew}

/** Relational join-strategy queries (SURVEY §2.3). The reference reconciles
  * via an N+1 `findOne` loop (`mongodb-cdc-program.js:503–505`); at table
  * scale the same semantics land on Catalyst's physical join menu — these
  * queries pin each strategy under the oracle:
  *
  *  - `join_broadcast`: dimension joins small enough to replicate
  *    (customer ⋈ nation ⋈ region) — BroadcastHashJoin, zero shuffle of the
  *    small sides; at 100 TB the fact side still never shuffles.
  *  - `join_sortmerge`: fact-to-fact (orders ⋈ lineitem) — SortMergeJoin /
  *    shuffled hash, both sides hash-partitioned on the key.
  *  - `join_antisemi`: "missing in target" (js:423–432) as a left-anti join.
  *  - `join_post_image`: `fullDocument:'updateLookup'` (js:236) — the latest
  *    change event per key joined to the current dimension row.
  */
object RelQueries {
  type Q = (SparkSession, String) => DataFrame

  /** customer ⋈ nation ⋈ region rollup; dims are broadcast — the plan must
    * show BroadcastHashJoin with no exchange on the customer side. */
  private val joinBroadcast: Q = (s, d) =>
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), CdcOps.exactSum(col("c_acctbal")).as("sum_acctbal"))
      .transform(graft.Tables.orderedReport(_, "r_name", "n_name"))

  /** orders ⋈ lineitem revenue per (status, priority): both sides large →
    * shuffle on l_orderkey/o_orderkey, SortMergeJoin. The `merge` hint pins
    * the strategy at oracle scale too (at sf0.01 orders fits in a broadcast,
    * which Catalyst would rightly prefer; at 100 TB both sides are facts and
    * SMJ/shuffled-hash is the only viable plan). Revenue accumulated in
    * decimal so partial-agg order is irrelevant (exact 4-dp grid: 2-dp
    * price × 2-dp discount). */
  private val joinSortmerge: Q = (s, d) =>
    orders(s, d).hint("merge")
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double"), 4).as("revenue"))
      .transform(graft.Tables.orderedReport(_, "o_orderstatus", "o_orderpriority"))

  /** Customers with no urgent order — left-anti, the relational "missing in
    * target" (js:423–432). (Every customer has ≥1 order in the fixture, so
    * the plain no-orders form would be vacuously empty.) */
  private val joinAntisemi: Q = (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .transform(orderedRows(_, "c_custkey"))

  /** js:236 — `fullDocument:'updateLookup'`: latest event per key, joined to
    * the dimension row it targets (stream-static join analog). */
  private val joinPostImage: Q = (s, d) =>
    CdcOps.lastWriteWins(CdcOps.dropDeletes(changeLog(s, d)), "user_id", "ts", "event_id")
      .join(customer(s, d), col("user_id") === col("c_custkey"), "inner")
      .select(
        col("user_id"), fmtTs(col("ts")).as("last_ts"), col("event_type").as("last_event"),
        col("c_name"), col("c_mktsegment"),
        round(col("c_acctbal"), 4).as("acctbal"))
      .transform(orderedRows(_, "user_id"))

  /** As-of join (SURVEY §2.3): each purchase matched to the user's latest
    * click at-or-before it — "state as of T" (js:478–538) without the
    * reference's N+1 lookups. One shuffle (union + ranking window). */
  private val joinAsof: Q = (s, d) => {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    AsOf.asOfJoin(purchases, clicks, "user_id", "ts", "ts", "event_id", Seq("event_id", "value"))
      .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts_s"),
        col("asof_event_id").as("click_id"), round(col("asof_value"), 4).as("click_value"))
      .transform(orderedRows(_, "event_id"))
  }

  /** Nearest-in-time as-of: each purchase matched to the user's CLOSEST
    * click within ±1 h (ties backward) — [[AsOf.asOfNearest]]'s two-window
    * single-shuffle form; null when no click lands in the window. */
  private val joinAsofNearest: Q = (s, d) => {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    AsOf.asOfNearest(purchases, clicks, "user_id", "ts", "ts", "event_id",
      Seq("event_id", "value"), toleranceSec = 3600L)
      .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts_s"),
        col("nearest_dir"), col("nearest_delta_s"),
        col("nearest_event_id").as("click_id"),
        round(col("nearest_value"), 4).as("click_value"))
      .transform(orderedRows(_, "event_id"))
  }

  /** Range join, binned (SURVEY §2.3 extension): per order, line items
    * (any order's) shipped within 7 days of its order date — an interval
    * join that would be a nested loop without the bin equi-key.
    *
    * Scale note: the window spans ~1,700 line items per order, so joining
    * raw rows materializes orders × 1,700 pairs just to count them. The
    * count is additive over days and both columns are midnight-aligned, so
    * the build side PRE-AGGREGATES to (day, n) — ~2.5k rows — and the range
    * join runs over that: the matched-pair table shrinks by the per-day row
    * count, exactly (pre-aggregate before a range join whenever the
    * aggregate distributes over the range). */
  private val joinRange: Q = (s, d) => {
    val daily = lineitem(s, d)
      .groupBy(col("l_shipdate").as("ship_day"))
      .agg(count(lit(1)).as("n_day"))
    val probe = orders(s, d)
      .withColumn("ship_lo", col("o_orderdate"))
      .withColumn("ship_hi", col("o_orderdate") + expr("INTERVAL 7 DAY"))
    // broadcast the pre-aggregated build side (one row per ship DAY — a few
    // thousand at any SF): the 8×-exploded probe side then joins in place
    // with no exchange; without the hint Catalyst broadcast the exploded
    // PROBE side, which grows with the fact table
    RangeJoin.binned(probe, "ship_lo", "ship_hi", broadcast(daily), "ship_day",
      binSeconds = 86400L)
      .groupBy(col("o_orderkey"))
      .agg(sum(col("n_day")).as("n_shipped"))
      .transform(orderedRows(_, "o_orderkey"))
  }

  /** Hot-key fact ⋈ dim enrichment under explicit salting (§2.3 skew
    * posture): the events fact carries only ~150 distinct user_ids, so a
    * plain shuffle join lands each hot key's thousands of rows on ONE task;
    * [[Skew.saltedJoin]] spreads every key over `saltFactor` tasks (fact
    * rows salted, dim rows replicated). The oracle pins the operator's
    * contract — row-identical to the unsalted join. */
  private val joinSkewSalted: Q = (s, d) =>
    Skew.saltedJoin(
      events(s, d).select(col("event_id"), col("user_id"), col("event_type")),
      customer(s, d).select(col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment")),
      "user_id", saltFactor = 8)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_mktsegment"))
      .transform(orderedRows(_, "event_id"))

  /** Point-in-time join (§2.3 × §2.4): each purchase labeled with the
    * user's funnel-touchpoint dimension version (SCD2 over the
    * signup/click/view sub-log) valid AT PURCHASE TIME — the "what did the
    * key look like when the fact happened" question the reference can only
    * answer for NOW (its reconcile findOne reads current state,
    * js:504–505); the [[CdcOps.scd2]] history makes any past instant
    * addressable, and [[CdcOps.temporalJoin]] is the addressing operator.
    * Left join: a purchase before the user's first touch keeps null
    * version columns. Dimension history is change-sized → broadcast here;
    * key-partitioned shuffle at 100 TB — either way versions-per-key
    * matches, never a range cross product. */
  private val joinTemporal: Q = (s, d) => {
    val ev = events(s, d)
    val dim = CdcOps.scd2(
      ev.filter(col("event_type").isin("signup", "click", "view")),
      "user_id", "event_type", "ts", "event_id")
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    CdcOps.temporalJoin(facts, dim, "user_id", "ts")
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts_s"),
        round(col("value"), 4).as("value"),
        col("version").as("touch_version"), col("event_type").as("touch"),
        fmtTs(col("valid_from")).as("touch_since"))
      .transform(orderedRows(_, "event_id"))
  }

  /** Fact ⋈ fact on identically-bucketed layouts (§4 partitioning story):
    * both sides written `bucketBy(8, orderkey) sortBy(orderkey)`, so the
    * join — and the per-key aggregate after it, which reuses the same
    * partitioning — runs with no exchange on either side (BucketingSpec
    * pins the zero-Exchange plan; this entry pins the VALUES against the
    * plain-join oracle).
    *
    * The bucketed write is the amortized-at-ingest cost, so it runs once
    * per session per fixture (table names key on the fixture dir — a
    * different dir can never read a stale layout; a fresh session's empty
    * catalog triggers the rewrite): a cold run pays ingest + join, repeat
    * runs measure what the layout is FOR — the exchange-free join. */
  private val joinBucketed: Q = (s, d) => {
    val suffix = (d.hashCode.toLong & 0xFFFFFFFFL).toHexString
    val (ordersT, lineitemT) = (s"graft_b_orders_$suffix", s"graft_b_lineitem_$suffix")
    if (!s.catalog.tableExists(ordersT) || !s.catalog.tableExists(lineitemT)) {
      Bucketing.writeBucketed(orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        ordersT, "o_orderkey", buckets = 8)
      Bucketing.writeBucketed(lineitem(s, d).select(col("l_orderkey")),
        lineitemT, "l_orderkey", buckets = 8)
    }
    Bucketing.bucketedJoin(s, ordersT, lineitemT, "o_orderkey", "l_orderkey")
      .groupBy(col("o_orderkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"))
      .transform(orderedRows(_, "o_orderkey"))
  }

  /** Which user sessions overlapped an error incident — a true interval ×
    * interval overlap join (§2.3): left = 30-min-gap user sessions (the
    * `window_session` definition, same 1800 s constant), right = 10-min-gap
    * incident windows sessionized over the error sub-log. Executed by
    * [[RangeJoin.overlapBinned]] with 1-hour bins: equi-join on the bin,
    * exact overlap as a residual, each pair kept only in its canonical bin —
    * no nested loop, no post-join distinct. The error sub-log is
    * ops-alert-sized (rate-bounded by the alarm pipeline it feeds), so its
    * single-sequence incident window is a domain fact, not a scale leak —
    * shard by day and merge boundary incidents if errors ever become
    * corpus-sized. Epochs floor PER TIMESTAMP before the overlap-seconds
    * arithmetic (sub-second parts must not shift the count). */
  private val joinIntervalOverlap: Q = (s, d) => {
    val ev = events(s, d)
    val ep = unix_timestamp(col("ts"))
    def sessionize(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec,
                   gapSecs: Long): DataFrame = {
      val gap = ep - lag(ep, 1).over(w)
      df.withColumn("__new", when(gap.isNull || gap > gapSecs, 1L).otherwise(0L))
        .withColumn("__sid",
          sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val sessions = sessionize(ev,
      Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")), 1800L)
      .groupBy(col("user_id"), col("__sid").as("session_id"))
      .agg(min(col("ts")).as("s_lo"), max(col("ts")).as("s_hi"),
        count(lit(1)).as("n_events"))
    val incidents = sessionize(ev.filter(col("event_type") === "error"),
      Window.orderBy(col("ts"), col("event_id")), 600L)
      .groupBy(col("__sid").as("incident_id"))
      .agg(min(col("ts")).as("i_lo"), max(col("ts")).as("i_hi"),
        count(lit(1)).as("n_errors"))
    RangeJoin.overlapBinned(sessions, "s_lo", "s_hi", incidents, "i_lo", "i_hi", 3600L)
      .select(col("user_id"), col("session_id"), col("incident_id"),
        fmtTs(col("s_lo")).as("session_start"), fmtTs(col("i_lo")).as("incident_start"),
        (least(unix_timestamp(col("s_hi")), unix_timestamp(col("i_hi"))) -
          greatest(unix_timestamp(col("s_lo")), unix_timestamp(col("i_lo"))) + 1)
          .as("overlap_secs"),
        col("n_events"), col("n_errors"))
      .transform(orderedRows(_, "user_id", "session_id", "incident_id"))
  }

  val queries: Map[String, Q] = Map(
    "join_interval_overlap" -> joinIntervalOverlap,
    "join_broadcast" -> joinBroadcast,
    "join_sortmerge" -> joinSortmerge,
    "join_antisemi" -> joinAntisemi,
    "join_post_image" -> joinPostImage,
    "join_asof" -> joinAsof,
    "join_asof_nearest" -> joinAsofNearest,
    "join_range" -> joinRange,
    "join_skew_salted" -> joinSkewSalted,
    "join_temporal" -> joinTemporal,
    "join_bucketed" -> joinBucketed)

  val oracle: Map[String, String] = Map(
    // sessions/incidents restated with the window_session CTE shape; the
    // overlap join stated directly as the inequality pair predicate
    "join_interval_overlap" ->
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id,
         |         CAST(floor(epoch(ts)) AS BIGINT)
         |           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
         |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         |  FROM events),
         |sx AS (
         |  SELECT user_id, ts,
         |         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM e),
         |sess AS (SELECT user_id, session_id, min(ts) AS s_lo, max(ts) AS s_hi,
         |                CAST(count(*) AS BIGINT) AS n_events
         |         FROM sx GROUP BY 1, 2),
         |er AS (
         |  SELECT ts, event_id,
         |         CAST(floor(epoch(ts)) AS BIGINT)
         |           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
         |             OVER (ORDER BY ts, event_id) AS gap
         |  FROM events WHERE event_type = 'error'),
         |ix AS (
         |  SELECT ts,
         |         CAST(sum(CASE WHEN gap IS NULL OR gap > 600 THEN 1 ELSE 0 END)
         |           OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |           AS incident_id
         |  FROM er),
         |inc AS (SELECT incident_id, min(ts) AS i_lo, max(ts) AS i_hi,
         |               CAST(count(*) AS BIGINT) AS n_errors
         |        FROM ix GROUP BY 1)
         |SELECT s.user_id, s.session_id, i.incident_id,
         |       ${fmtTsSql("s.s_lo")} AS session_start,
         |       ${fmtTsSql("i.i_lo")} AS incident_start,
         |       least(CAST(floor(epoch(s.s_hi)) AS BIGINT),
         |             CAST(floor(epoch(i.i_hi)) AS BIGINT))
         |         - greatest(CAST(floor(epoch(s.s_lo)) AS BIGINT),
         |                    CAST(floor(epoch(i.i_lo)) AS BIGINT)) + 1 AS overlap_secs,
         |       s.n_events, i.n_errors
         |FROM sess s JOIN inc i ON s.s_lo <= i.i_hi AND i.i_lo <= s.s_hi
         |ORDER BY 1, 2, 3""".stripMargin,

    "join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_sortmerge" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_lines,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "join_antisemi" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_range" ->
      """SELECT o_orderkey, count(*) AS n_shipped
        |FROM orders o JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "join_asof" ->
      s"""WITH purchases AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
         |clicks AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, ${fmtTsSql("p.ts")} AS ts_s,
         |       c.event_id AS click_id, round(c.value, 4) AS click_value
         |FROM purchases p LEFT JOIN LATERAL (
         |  SELECT event_id, value FROM clicks c
         |  WHERE c.user_id = p.user_id AND c.ts <= p.ts
         |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) c ON true
         |ORDER BY p.event_id""".stripMargin,

    // nearest stated directly: minimize |Δ|, backward on ties, greatest
    // event_id within a direction — the engine's two-window pick must
    // agree. Epochs floor PER TIMESTAMP (unix_timestamp semantics) before
    // differencing: sub-second parts must not shift a delta by one
    "join_asof_nearest" ->
      s"""WITH purchases AS (SELECT user_id, event_id, ts, value,
         |                          CAST(floor(epoch(ts)) AS BIGINT) AS es
         |                   FROM events WHERE event_type = 'purchase'),
         |clicks AS (SELECT user_id, event_id, ts, value,
         |                  CAST(floor(epoch(ts)) AS BIGINT) AS es
         |           FROM events WHERE event_type = 'click')
         |SELECT p.user_id, p.event_id, ${fmtTsSql("p.ts")} AS ts_s,
         |       CASE WHEN c.event_id IS NULL THEN NULL
         |            WHEN c.ts <= p.ts THEN 'backward' ELSE 'forward' END AS nearest_dir,
         |       abs(c.es - p.es) AS nearest_delta_s,
         |       c.event_id AS click_id, round(c.value, 4) AS click_value
         |FROM purchases p LEFT JOIN LATERAL (
         |  SELECT event_id, value, ts, es FROM clicks c
         |  WHERE c.user_id = p.user_id AND abs(c.es - p.es) <= 3600
         |  ORDER BY abs(c.es - p.es) ASC,
         |           CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END ASC,
         |           CASE WHEN c.ts <= p.ts THEN -epoch(c.ts) ELSE epoch(c.ts) END ASC,
         |           c.event_id DESC
         |  LIMIT 1) c ON true
         |ORDER BY p.event_id""".stripMargin,

    "join_post_image" ->
      s"""WITH latest AS (
         |  SELECT * FROM (
         |    SELECT user_id, ts, event_type,
         |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE event_type IS DISTINCT FROM 'error') q
         |  WHERE rn = 1)
         |SELECT user_id, ${fmtTsSql("ts")} AS last_ts, event_type AS last_event,
         |       c_name, c_mktsegment, round(c_acctbal, 4) AS acctbal
         |FROM latest JOIN customer ON user_id = c_custkey
         |ORDER BY user_id""".stripMargin,

    // the salted form must be row-identical to this PLAIN join — the salt
    // is physical-execution detail the result must not reflect
    "join_skew_salted" ->
      """SELECT event_id, user_id, event_type, c_name, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,

    // SCD2 derivation identical to window_scd2's oracle; the join addresses
    // a half-open interval per (user, purchase-instant)
    "join_temporal" ->
      s"""WITH f AS (SELECT user_id, event_type, ts, event_id FROM events
         |           WHERE event_type IN ('signup', 'click', 'view')),
         |ch AS (SELECT user_id, event_type, ts, event_id,
         |              lag(event_type, 1) OVER
         |                (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |       FROM f),
         |v AS (SELECT user_id, event_type, ts,
         |             CAST(row_number() OVER
         |               (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
         |             lead(ts, 1) OVER
         |               (PARTITION BY user_id ORDER BY ts, event_id) AS to_ts
         |      FROM ch WHERE prev IS NULL OR prev <> event_type),
         |p AS (SELECT event_id, user_id, ts, value FROM events
         |      WHERE event_type = 'purchase')
         |SELECT p.event_id, p.user_id, ${fmtTsSql("p.ts")} AS ts_s,
         |       round(p.value, 4) AS value,
         |       v.version AS touch_version, v.event_type AS touch,
         |       ${fmtTsSql("v.ts")} AS touch_since
         |FROM p LEFT JOIN v ON p.user_id = v.user_id
         |  AND p.ts >= v.ts AND (v.to_ts IS NULL OR p.ts < v.to_ts)
         |ORDER BY p.event_id""".stripMargin,

    // bucketing likewise: a layout choice, not a semantic one
    "join_bucketed" ->
      """SELECT o_orderkey, o_orderstatus, count(*) AS n_lines
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin)
}
