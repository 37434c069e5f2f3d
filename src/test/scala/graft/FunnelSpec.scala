package graft

import graft.operators.Funnel
import graft.streaming.FunnelStream

/** The parameterized funnel operator: strict-chain semantics at any k, the
  * report's dry-stage behavior, and the documented divergence between the
  * batch strict chain and the streaming first-event relaxation. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  private def ev(rows: (Long, String, Long)*) =
    rows.map { case (u, t, s) => (u, t, ts(s)) }.toDF("user_id", "event_type", "ts")

  test("stageEntryTimes applies the strict chain at k=4") {
    // u1 completes in order; u2's click precedes its view (chain stops
    // there); u3 never signs up (no row at all)
    val e = ev(
      (1L, "signup", 100), (1L, "view", 200), (1L, "click", 300), (1L, "purchase", 400),
      (2L, "signup", 100), (2L, "click", 150), (2L, "view", 200),
      (3L, "view", 100), (3L, "click", 200), (3L, "purchase", 300))
    val stages = Seq("signup", "view", "click", "purchase")
    val r = Funnel.stageEntryTimes(e, "user_id", "event_type", "ts", stages)
      .collect().map(row => row.getLong(0) -> row).toMap
    assert(r.keySet === Set(1L, 2L))
    assert(r(1L).getTimestamp(1) === ts(100) && r(1L).getTimestamp(4) === ts(400))
    assert(r(2L).getTimestamp(2) === ts(200)) // view after signup
    assert(r(2L).isNullAt(3) && r(2L).isNullAt(4)) // no click after the view
  }

  test("a stage event BEFORE the previous stage's entry does not convert (strictness)") {
    // the purchase precedes the first post-signup click: strict chain
    // finds the LATER purchase; the first-event relaxation fails the chain
    val e = ev(
      (1L, "signup", 100), (1L, "purchase", 150), (1L, "click", 200), (1L, "purchase", 300))
    val strict = Funnel.stageEntryTimes(e, "user_id", "event_type", "ts", FunnelStream.Stages)
      .collect().head
    assert(strict.getTimestamp(3) === ts(300)) // t_purchase = the later one
    val relaxed = FunnelStream.report(FunnelStream.kind().slice(e))
      .select("stage_idx", "n_users").as[(Long, Long)].collect().toMap
    assert(relaxed(1L) === 1L && relaxed(2L) === 1L)
    assert(relaxed(3L) === 0L) // min purchase (150) < min click (200): no chain
  }

  test("report counts reach per stage with dry stages at 0, at any k") {
    val e = ev((1L, "a", 10), (1L, "b", 20), (2L, "a", 10))
    val stages = Seq("a", "b", "c")
    val rep = Funnel.report(
      Funnel.stageEntryTimes(e, "user_id", "event_type", "ts", stages), stages)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(rep === Seq((1L, "a", 2L, 1000L), (2L, "b", 1L, 500L), (3L, "c", 0L, 0L)))
  }

  test("streaming state generalizes to custom stage lists through merge and report") {
    val stages = Seq("a", "b")
    val e1 = ev((1L, "a", 10), (2L, "a", 30))
    val e2 = ev((1L, "b", 20), (2L, "b", 25)) // u2's b precedes its a: no chain
    val kind = FunnelStream.kind(stages)
    val merged = kind.merge(kind.slice(e1), kind.slice(e2))
    val rep = FunnelStream.report(merged, stages)
      .select("stage_idx", "n_users").as[(Long, Long)].collect().toMap
    assert(rep === Map(1L -> 2L, 2L -> 1L))
  }

  test("lagReport profiles chain completers via the domain-histogram quantiles") {
    // three completers with lags 100, 200, 300 s; one chain-incomplete
    // user (b before a) contributes nothing. n=3: p50 rank 2 → 200,
    // p90 rank 3 → 300, mean = 200
    val stages = Seq("a", "b")
    val e = ev(
      (1L, "a", 1000), (1L, "b", 1100),
      (2L, "a", 1000), (2L, "b", 1200),
      (3L, "a", 1000), (3L, "b", 1300),
      (4L, "b", 900), (4L, "a", 1000))
    val r = FunnelStream.lagReport(FunnelStream.kind(stages).slice(e), stages)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r === Seq((3L, 200L, 300L, 200L)))
    // empty converter set → zero rows, like the batch form
    assert(FunnelStream.lagReport(
      FunnelStream.kind(stages).slice(ev((4L, "b", 900), (4L, "a", 1000))),
      stages).collect().isEmpty)
  }

  test("single-stage funnel degenerates to a reach count") {
    val e = ev((1L, "signup", 10), (2L, "signup", 20), (2L, "click", 30))
    val rep = Funnel.report(
      Funnel.stageEntryTimes(e, "user_id", "event_type", "ts", Seq("signup")),
      Seq("signup")).as[(Long, String, Long, Long)].collect().toSeq
    assert(rep === Seq((1L, "signup", 2L, 1000L)))
  }
}
