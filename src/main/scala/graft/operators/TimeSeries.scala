package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization operators (SURVEY §2.5): the steps between an
  * irregular event log and the daily grid a downstream model/report reads.
  * Reference analog: none (the reference replicates rows; any time-series
  * shaping happens in its consumers) — [EXT] surface, but the first thing a
  * warehouse consumer builds on a CDC-landed event table.
  */
object TimeSeries {

  /** Per-(key, day) last observation: the argmax by (`ts`, `tiebreak`) as
    * ONE struct-max aggregate — constant-size mergeable partials (the
    * `agg_daily_bars` shape), no ranking window over raw rows. Output:
    * (key, day, ts, tiebreak, value). The pick is commutative, associative
    * and idempotent, so it is also the merge of two winner frames
    * ([[graft.streaming.GapFillStream]]'s state): `tiebreak` makes it
    * deterministic when two observations share `ts`. */
  def dailyWinners(obs: DataFrame, key: String, ts: String,
                   value: String, tiebreak: String): DataFrame =
    obs.groupBy(col(key), to_date(col(ts)).as("day"))
      .agg(max(struct(col(ts), col(tiebreak), col(value))).as("__m"))
      .select(col(key), col("day"), col(s"__m.$ts").as(ts),
        col(s"__m.$tiebreak").as(tiebreak), col(s"__m.$value").as(value))

  /** [[dailyWinners]]' (key, day, `value`) rows re-gridded onto each key's
    * full [first-day, last-day] calendar span with missing days carried
    * forward (LOCF). Output: (key, day, value, observed) — `observed` marks
    * real vs filled days; the first day of every key's span is observed by
    * construction, so no value is ever null. `value` should be pre-rounded
    * by the caller if an oracle will compare it.
    *
    * Scale shape: the span is a per-key 2-row aggregate exploded through
    * `sequence()` (array-of-days, calendar-bounded, never data-sized); the
    * fill is a running last-non-null over a PER-KEY window. Everything
    * partitions by key — the output is keys × span-days, the
    * materialization the operator exists to produce, and no global sort or
    * driver loop appears anywhere. */
  def gapFillDaily(winners: DataFrame, key: String, value: String): DataFrame = {
    val daily = winners.select(col(key), col("day"), col(value).as("__v"))
    val wFill = Window.partitionBy(col(key)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendarSpan(daily, key).join(daily, Seq(key, "day"), "left")
      .withColumn("value", last(col("__v"), ignoreNulls = true).over(wFill))
      .select(col(key), col("day"), col("value"), col("__v").isNotNull.as("observed"))
  }

  /** Each key's full [first-day, last-day] calendar span (one row per
    * (key, day); calendar-bounded explode, never data-sized). */
  private def calendarSpan(daily: DataFrame, key: String): DataFrame =
    daily.groupBy(col(key))
      .agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(col(key), explode(sequence(col("__lo"), col("__hi"))).as("day"))

  /** [[gapFillDaily]]'s straight-line sibling: missing days take the
    * LINEAR interpolation between the surrounding observations,
    * v = vp + (vn − vp)·(d − dp)/(dn − dp), instead of carrying the last
    * value flat. Span ends are observed by construction, so every filled
    * day has both neighbours.
    *
    * Determinism: vp/vn are caller-rounded; the interpolation is ONE fixed
    * sequence of IEEE ops ((d−dp)/(dn−dp) division first, then multiply,
    * then add) on identical operands in both engines — no aggregation
    * order anywhere — so the pre-round double is bit-identical (rounded
    * through [[graft.Tables.rnd4]] for the oracle hash).
    *
    * Scale shape: identical to [[gapFillDaily]] — everything partitions by
    * key; the neighbour lookups are two per-key running windows
    * (last/first ignoreNulls), not joins. */
  def interpolateDaily(winners: DataFrame, key: String, value: String): DataFrame = {
    val daily = winners.select(col(key), col("day"), col(value).as("__v"))
    val wPrev = Window.partitionBy(col(key)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(key)).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("__v").isNotNull, col("day"))
    val frac = datediff(col("day"), col("__dp")).cast("double") /
      datediff(col("__dn"), col("__dp")).cast("double")
    calendarSpan(daily, key).join(daily, Seq(key, "day"), "left")
      .withColumn("__vp", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__dp", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("__vn", first(col("__v"), ignoreNulls = true).over(wNext))
      .withColumn("__dn", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("value",
        when(col("__v").isNotNull, col("__v"))
          .otherwise(col("__vp") + (col("__vn") - col("__vp")) * frac))
      .select(col(key), col("day"), graft.Tables.rnd4(col("value")).as("value"),
        col("__v").isNotNull.as("observed"))
  }

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) — the
    * chart-serving decimation every time-series store ships: reduce each
    * key's daily series to `buckets`+2 points while preserving its visual
    * shape (the selected point per bucket maximizes the triangle area
    * against the previously kept point and the NEXT bucket's centroid, so
    * spikes and elbows survive where naive every-Nth sampling erases
    * them). First and last points always kept; a series already at or
    * under the budget passes through whole.
    *
    * Integer-exact: x is the chronological index (even spacing — date
    * gaps must not skew bucket widths), doubled areas are integer cross
    * products |(x_p−c_x)(y−y_p) − (x_p−x)(c_y−y_p)|, bucket centroids are
    * integer floor-means, ties break earliest-index — the selection is a
    * pure function of the series that an unrolled per-bucket SQL replay
    * reproduces row for row.
    *
    * Scale shape: the greedy is sequential per key by definition, so it
    * runs as one `flatMapGroups` pass over each key's CALENDAR-bounded
    * daily frame (the [[graft.operators.CdcOps.holt]] recurrence
    * discipline) — keys parallelize, no key's frame ever exceeds its
    * day span, and nothing is driver-side. */
  def lttb(daily: DataFrame, keyCol: String, dayCol: String, nCol: String,
           buckets: Int): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily
      .select(col(keyCol).cast("string"), col(dayCol).cast("string").as("__day"),
        col(nCol).cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k: String, it: Iterator[(String, String, Long)]) =>
        val rows = it.toArray.sortBy(_._2) // ISO dates sort chronologically
        val n = rows.length
        if (n <= buckets + 2) {
          rows.zipWithIndex.map { case ((_, d, y), i) => (k, i.toLong, d, y) }.iterator
        } else {
          val y = rows.map(_._3)
          // interior index i ∈ [1, n−2] lands in bucket (i−1)·B div (n−2)
          def b0(i: Int): Int = (((i - 1).toLong * buckets) / (n - 2)).toInt
          val members = Array.fill(buckets)(List.newBuilder[Int])
          var i = 1
          while (i <= n - 2) { members(b0(i)) += i; i += 1 }
          val cents: Array[(Long, Long)] = members.map { mb =>
            val m = mb.result()
            // floorDiv, not `/`: the docstring promises FLOOR-means and the
            // SQL twin divides with `//` — truncation would diverge on
            // negative y (x sums are indices, always non-negative)
            (Math.floorDiv(m.map(_.toLong).sum, m.length),
              Math.floorDiv(m.map(y(_)).sum, m.length))
          }
          val sel = new Array[Int](buckets + 2)
          sel(0) = 0
          var b = 0
          while (b < buckets) {
            val (cx, cy) =
              if (b == buckets - 1) ((n - 1).toLong, y(n - 1)) else cents(b + 1)
            val xp = sel(b).toLong
            val yp = y(sel(b))
            var best = -1
            var bestA = -1L
            members(b).result().foreach { c =>
              val a = math.abs((xp - cx) * (y(c) - yp) - (xp - c) * (cy - yp))
              if (a > bestA) { bestA = a; best = c } // first max wins: earliest index
            }
            sel(b + 1) = best
            b += 1
          }
          sel(buckets + 1) = n - 1
          sel.zipWithIndex.map { case (idx, r) =>
            (k, r.toLong, rows(idx)._2, y(idx))
          }.iterator
        }
      }
      .toDF(keyCol, "rank", dayCol, nCol)
  }

  /** `c` widened to decimal(38,0), where the multiplied-out σ rules and
    * moment products of counts evaluate (the oracle's HUGEINT matches
    * exactly; int64 overflows around 10¹² events per window). */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** The integer moments of a (…, n) daily count frame per `groups` (none:
    * one row) — `__D` days, `__S` = Σn, `__SS` = Σn² — broadcast for the
    * join back to the days. The stats of every multiplied-out σ rule over
    * a daily series: the 2σ anomaly days (whole series and per weekday)
    * and the CUSUM alarm, which compare against [[varNum]]. */
  def countMoments(daily: DataFrame, groups: Column*): DataFrame =
    broadcast(daily.groupBy(groups: _*).agg(
      count(lit(1)).as("__D"), sum(col("n")).as("__S"),
      sum(col("n") * col("n")).as("__SS")))

  /** D·SS − S² over [[countMoments]]' columns: D² times the variance of
    * n, exact in decimal(38,0) — |n − S/D| > kσ ⇔ (n·D − S)² > k²·varNum. */
  val varNum: Column = dec(col("__D")) * dec(col("__SS")) - dec(col("__S")) * dec(col("__S"))
}
