package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** Gap-fill edge semantics the fixture-scale oracle can't isolate:
  * single-day spans, multi-day LOCF carries, same-day tiebreaks, and
  * per-key span independence. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def obs(rows: (Long, Long, String, Double)*): DataFrame =
    rows.toDF("eid", "k", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  private def grid(df: DataFrame): Seq[(Long, String, Double, Boolean)] =
    TimeSeries.gapFillDaily(TimeSeries.dailyWinners(df, "k", "ts", "v", "eid"), "k", "v")
      .select(col("k"), col("day").cast("string"), col("value"), col("observed"))
      .as[(Long, String, Double, Boolean)].collect().toSeq.sorted

  test("a single-day key yields exactly one observed row") {
    val g = grid(obs((1, 7, "2024-01-05 10:00:00", 3.5)))
    assert(g === Seq((7L, "2024-01-05", 3.5, true)))
  }

  test("LOCF carries the last observation across a multi-day gap") {
    val g = grid(obs(
      (1, 1, "2024-01-01 09:00:00", 1.0),
      (2, 1, "2024-01-04 09:00:00", 4.0)))
    assert(g === Seq(
      (1L, "2024-01-01", 1.0, true),
      (1L, "2024-01-02", 1.0, false),
      (1L, "2024-01-03", 1.0, false),
      (1L, "2024-01-04", 4.0, true)))
  }

  test("same-day winner is the latest (ts, tiebreak); exact-ts ties break on the tiebreaker") {
    val g = grid(obs(
      (1, 1, "2024-01-01 09:00:00", 1.0),
      (2, 1, "2024-01-01 18:00:00", 2.0), // later ts wins the day
      (5, 2, "2024-01-01 12:00:00", 5.0),
      (9, 2, "2024-01-01 12:00:00", 9.0), // same ts: higher eid wins
      (7, 2, "2024-01-01 12:00:00", 7.0)))
    assert(g === Seq((1L, "2024-01-01", 2.0, true), (2L, "2024-01-01", 9.0, true)))
  }

  test("keys keep independent spans (no cross-key fill or span bleed)") {
    val g = grid(obs(
      (1, 1, "2024-01-01 09:00:00", 1.0),
      (2, 1, "2024-01-03 09:00:00", 3.0),
      (3, 2, "2024-01-10 09:00:00", 10.0)))
    assert(g === Seq(
      (1L, "2024-01-01", 1.0, true),
      (1L, "2024-01-02", 1.0, false),
      (1L, "2024-01-03", 3.0, true),
      (2L, "2024-01-10", 10.0, true)))
  }

  test("holt replays the textbook alpha=beta=1/2 recurrence within micro rounding") {
    val daily = Seq(
      ("a", "2024-01-01", 10L), ("a", "2024-01-02", 14L), ("a", "2024-01-03", 19L),
      ("a", "2024-01-04", 22L), ("a", "2024-01-05", 30L),
      ("b", "2024-01-01", 5L), // single-day key: level = y, trend = 0
      ("c", "2024-01-02", 9L), ("c", "2024-01-01", 20L) // falling (negative trend)
    ).toDF("event_type", "day", "n")
    val got = graft.operators.CdcOps.holt(daily, "event_type", "day", "n")
      .select("event_type", "day", "n", "level_micro", "trend_micro", "forecast_micro")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // float reference: s = y/2 + (s'+b')/2; b = (s-s')/2 + b'/2; each
    // floor-halve in micro moves a value by < 1, so after 5 steps the
    // integer series sits within a few micro of the float one
    def ref(ys: Seq[Long]): Seq[(Double, Double)] = {
      var s = ys.head.toDouble
      var b = if (ys.length >= 2) (ys(1) - ys.head).toDouble else 0.0
      (s, b) +: ys.drop(1).map { y =>
        val s2 = y / 2.0 + (s + b) / 2.0
        b = (s2 - s) / 2.0 + b / 2.0
        s = s2
        (s, b)
      }
    }
    val ra = ref(Seq(10L, 14L, 19L, 22L, 30L))
    Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05")
      .zip(ra).foreach { case (day, (es, eb)) =>
        val (_, s, b, f) = got(("a", day))
        assert(math.abs(s - es * 1e6) <= 8, s"a $day level")
        assert(math.abs(b - eb * 1e6) <= 8, s"a $day trend")
        assert(f === s + b, s"a $day forecast")
      }
    assert(got(("b", "2024-01-01")) === ((5L, 5000000L, 0L, 5000000L)))
    // falling series: trend must be negative and the forecast below level
    val (_, _, bc, fc) = got(("c", "2024-01-02"))
    assert(bc < 0L && fc < got(("c", "2024-01-02"))._2)
  }

  test("lttb keeps endpoints and the spike; short series pass through whole") {
    def day(i: Int) = f"2024-01-${i + 1}%02d"
    // 20 flat days with one spike at day 8 (index 7): the downsample must
    // keep both endpoints and the spike, in chronological rank order
    val flat = (0 until 20).map(i => ("a", day(i), if (i == 7) 500L else 10L))
    val short = (0 until 5).map(i => ("b", day(i), i * 2L))
    val daily = (flat ++ short).toDF("k", "day", "n")
    val got = TimeSeries.lttb(daily, "k", "day", "n", buckets = 3)
      .as[(String, Long, String, Long)].collect().toSeq.sorted
    val a = got.filter(_._1 == "a")
    assert(a.length === 5) // first + 3 buckets + last
    assert(a.head._3 === day(0) && a.last._3 === day(19))
    assert(a.exists(_._4 === 500L), s"spike lost: $a")
    // ranks are dense and days strictly increase with rank
    assert(a.map(_._2) === (0L until 5L))
    assert(a.map(_._3) === a.map(_._3).sorted)
    // the short series passes through at its own indices
    val b = got.filter(_._1 == "b")
    assert(b.map(r => (r._2, r._3, r._4)) ===
      (0 until 5).map(i => (i.toLong, day(i), i * 2L)))
  }
}
