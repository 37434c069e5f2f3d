package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core CDC operators, re-expressed as declarative Spark transformations.
  *
  * The reference applies a change stream to a target collection with
  * idempotent per-key upserts (`mongodb-cdc-program.js:149–202`): inserts via
  * `insertOne`, updates via `updateOne {$set, upsert: true}`, deletes dropped
  * (js:159, 177). Its correctness hinges on per-key last-write-wins order,
  * which it gets implicitly from single-threaded arrival; at Spark scale we
  * synthesize it explicitly from `(ts, event_id)` — a ranking window, not a
  * loop. All operators here are `DataFrame => DataFrame` (distributed,
  * shuffle-on-key); nothing collects to the driver.
  */
object CdcOps {

  /** Drop deletes — the reference's server-side
    * `$match {operationType: {$in: ['insert','update']}}` (js:221–223).
    *
    * Filtered on the PHYSICAL `event_type` column, not the derived
    * `op_type`: op_type ∈ {insert, update} ⇔ event_type outside
    * [[graft.Tables.deleteEventTypes]] under the [[graft.Tables.opType]]
    * mapping — both derive from that ONE constant, so the inversion cannot
    * drift (null-safe — a null event_type maps to 'update' and is kept).
    * A predicate on a stored column reaches the parquet scan as a pushed
    * filter, while one on a derived CASE WHEN runs post-scan on every row.
    * At 100 TB that is the difference between row groups pruned by
    * statistics and a full decode of the delete stream. */
  def dropDeletes(changeLog: DataFrame): DataFrame =
    changeLog.filter(
      graft.Tables.deleteEventTypes
        .map(t => !(col("event_type") <=> t))
        .reduce(_ && _))

  /** Last-write-wins current state per key: for N events on one key, the
    * final state is the one with the greatest `(ts, tiebreak)`
    * (js:167–176; tiebreak synthesized, see class doc).
    * One shuffle on `key`; ranking window, no global sort. */
  def lastWriteWins(log: DataFrame, key: String, ts: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts).desc, col(tiebreak).desc)
    log.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** SCD type-2 dimension history — the full-history counterpart of
    * [[lastWriteWins]] (which is what the reference materializes,
    * js:167–176, discarding everything but the last post-image): per key,
    * one version row per CHANGE of the tracked attribute, consecutive
    * same-value writes collapsed into the open interval, `[valid_from,
    * valid_to)` chained by lead() and `is_current` on the open row.
    * Returns (key, version, attr, valid_from, valid_to, is_current) with
    * raw timestamp bounds (`valid_to` null on the current row).
    *
    * One shuffle on `key`; the change-filter lag, version row_number and
    * interval lead all share the same `(key)×(ts, tiebreak)` window
    * partitioning, so nothing ever sorts globally — the per-key shape
    * that holds at any corpus size. */
  def scd2(log: DataFrame, key: String, attr: String,
           ts: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    log
      .withColumn("__prev", lag(col(attr), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(attr))
      .select(col(key), col(attr), col(ts), col(tiebreak))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .select(col(key), col("version"), col(attr),
        col(ts).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Point-in-time (temporal) join — each fact row matched to the dimension
    * VERSION valid at the fact's event time: the consumer-side counterpart
    * of [[scd2]] (a fact asks "what did this key look like when the event
    * happened?", the question the reference answers with a per-document
    * `findOne` at reconcile time, js:504–505, but against current state
    * only — SCD2 history makes it answerable for ANY past instant).
    *
    * `dim` must be [[scd2]]-shaped on `key`: half-open `[valid_from,
    * valid_to)` intervals, null `valid_to` on the open row, non-overlapping
    * per key — so each fact matches at most one version and a fact before
    * the key's first version (or with no dimension key at all) survives
    * with null version columns (left join).
    *
    * Scale shape: an equi-join on `key` carrying the interval predicate as
    * the join residual — Catalyst broadcasts the dimension when it fits
    * (SCD2 history is change-sized, orders below the fact log) and falls
    * back to a key-partitioned shuffle otherwise; either way the per-key
    * match set is versions-per-key (small), never a range cross product. */
  def temporalJoin(facts: DataFrame, dim: DataFrame,
                   key: String, ts: String): DataFrame = {
    val d = dim.withColumnRenamed(key, "__dim_key")
    facts.join(d,
        facts(key) === d("__dim_key") &&
          facts(ts) >= d("valid_from") &&
          (d("valid_to").isNull || facts(ts) < d("valid_to")),
        "left")
      .drop("__dim_key")
  }

  /** Idempotent upsert merge (js:149–202): rows from `batchState` win; rows
    * from `base` survive only for keys absent from the batch — `updateOne
    * {upsert:true}` semantics at table scale. Expressed as anti-join + union
    * so Catalyst can broadcast the (small) batch key set — un-deduped: a
    * repeated key cannot change a left-anti join's result, and a
    * `distinct` would cost an aggregate, a shuffle and a job. Applying the
    * same batch twice is a no-op (the reference's at-least-once
    * idempotence contract, js:114–115). */
  def upsertMerge(base: DataFrame, batchState: DataFrame, key: String): DataFrame =
    base
      .join(batchState.select(col(key)), Seq(key), "left_anti")
      .unionByName(batchState)

  /** Per-op-type counters — the reference's `stats {inserts, updates, errors}`
    * (js:155, 254, 267–269) as a hash aggregate. */
  def opCounts(changeLog: DataFrame): DataFrame =
    changeLog
      .groupBy(col("op_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))

  /** Engine-independent sum of a 2-decimal-grid double: accumulate as
    * decimal (exact, order-insensitive — partial-aggregation order differs
    * between Spark and the oracle), then surface as double. */
  def exactSum(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double"), 4)

  /** Benford first-digit expectations as shared 15-digit DECIMAL LITERALS
    * (log10(1+1/d) precomputed) — embedding the same literal in engine and
    * oracle beats calling each engine's libm log10. */
  val BenfordP: Seq[(Int, String)] = Seq(
    1 -> "0.301029995663981", 2 -> "0.176091259055681", 3 -> "0.124938736608300",
    4 -> "0.096910013008056", 5 -> "0.079181246047625", 6 -> "0.066946789630613",
    7 -> "0.057991946977687", 8 -> "0.051152522447381", 9 -> "0.045757490560675")

  /** First significant digit of the cents integer — string head, no float
    * log; value must be positive 2-decimal. */
  def benfordDigit(value: Column): Column =
    substring(round(value * 100).cast("long").cast("string"), 1, 1).cast("long")

  /** The Benford audit report over a (digit, n_obs) count frame: full 1–9
    * domain (zero-count digits still audit), expected counts and per-digit
    * χ² contributions — one fixed IEEE op sequence per row over the 9-row
    * frame, totals riding it as an unpartitioned window sum. Shared by the
    * batch `agg_benford` and the ingest-time stream form. */
  def benfordReport(digitCounts: DataFrame): DataFrame = {
    val spark = digitCounts.sparkSession
    val domain = spark.range(1, 10).select(col("id").as("digit"))
    val p = BenfordP.foldLeft(lit(0.0)) { case (acc, (dg, ps)) =>
      when(col("digit") === dg, lit(ps.toDouble)).otherwise(acc)
    }
    val w = Window.partitionBy()
    domain.join(digitCounts, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .withColumn("__N", sum(col("n_obs")).over(w))
      .withColumn("__exp", col("__N").cast("double") * p)
      .select(col("digit"), col("n_obs"),
        graft.Tables.rnd4(col("__exp")).as("expected_n"),
        graft.Tables.rnd4((col("n_obs").cast("double") - col("__exp")) *
          (col("n_obs").cast("double") - col("__exp")) / col("__exp")).as("chi2_term"))
      .transform(graft.Tables.orderedReport(_, "digit"))
  }

  /** Holt double-exponential smoothing (level + TREND) of a per-key daily
    * series — what the EWMA trend line can't give an ops dashboard: a
    * one-step forecast that tracks drift direction. α = β = ½:
    * s_t = ½·y_t + ½·(s_{t−1} + b_{t−1}); b_t = ½·(s_t − s_{t−1}) + ½·b_{t−1};
    * init s₁ = y₁, b₁ = y₂ − y₁ (0 for a single-day key); forecast = s + b.
    *
    * Determinism: the float form is NOT engine-safe (denominators grow as
    * 4ᵗ and overflow the mantissa within weeks, after which accumulation
    * order matters), so the recurrence runs in integer MICRO-units with an
    * explicit floor-halve at each step: fd2(x) = (x − pmod(x, 2)) div 2 —
    * the subtraction makes the dividend EVEN, so truncating and flooring
    * division agree and the oracle's `//` matches exactly for negative
    * trends too. Bit-identical on every engine by construction.
    *
    * Shape: input is the (key, day, n) daily aggregate (map-side
    * combined); the sequential fold runs per key via `flatMapGroups` —
    * the one honest imperative recurrence (documented, like the greedy
    * packer): per-group rows are CALENDAR-bounded at any corpus scale, so
    * group memory is days-sized, and keys distribute across executors. */
  def holt(daily: DataFrame, keyCol: String, dayCol: String, nCol: String): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily
      .select(col(keyCol).cast("string"), col(dayCol).cast("string").as("__day"),
        col(nCol).cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k: String, it: Iterator[(String, String, Long)]) =>
        val rows = it.toArray.sortBy(_._2) // ISO dates sort chronologically
        def fd2(x: Long): Long = (x - java.lang.Math.floorMod(x, 2L)) / 2
        val y = rows.map(_._3 * 1000000L)
        val out = Array.ofDim[(String, String, Long, Long, Long)](rows.length)
        var s = y(0)
        var b = if (rows.length >= 2) y(1) - y(0) else 0L
        out(0) = (k, rows(0)._2, rows(0)._3, s, b)
        var t = 1
        while (t < rows.length) {
          val s2 = fd2(y(t) + s + b)
          b = fd2(s2 - s + b)
          s = s2
          out(t) = (k, rows(t)._2, rows(t)._3, s, b)
          t += 1
        }
        out.iterator
      }
      .toDF(keyCol, dayCol, nCol, "level_micro", "trend_micro")
      .withColumn("forecast_micro", col("level_micro") + col("trend_micro"))
  }

  /** Replication-lag health check (js:541–600): lag = `now` − max event time,
    * healthy iff under `thresholdSec` (reference: 300 s, js:557). `now` is a
    * parameter, never wall clock — determinism for the oracle. */
  def healthCheck(events: DataFrame, ts: String, nowEpochSec: Long, thresholdSec: Long): DataFrame =
    events
      .agg(max(col(ts)).as("last_ts"))
      .select(
        graft.Tables.fmtTs(col("last_ts")).as("last_ts"),
        (lit(nowEpochSec) - unix_timestamp(col("last_ts"))).as("lag_seconds"))
      .withColumn("healthy", col("lag_seconds") < thresholdSec)
}
