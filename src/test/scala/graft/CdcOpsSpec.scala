package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CdcOps

/** CDC-semantics edge cases the DuckDB oracle can't isolate (SURVEY §5.2):
  * delete-drop (js:177), last-write-wins tie-break, upsert idempotence
  * under at-least-once replay (js:114–115). */
class CdcOpsSpec extends SparkSpec {
  import spark.implicits._

  private def log(rows: (Long, Long, String, String)*): DataFrame =
    rows.toDF("event_id", "user_id", "ts_s", "op_type")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  test("dropDeletes removes delete events and keeps insert/update (js:159,177)") {
    // filters the PHYSICAL event_type column ('error' maps to delete);
    // a null event_type maps to 'update' and must be KEPT (null-safe filter)
    val l = Seq((1L, 1L, "signup"), (2L, 1L, "error"), (3L, 2L, "click"),
      (4L, 3L, null.asInstanceOf[String])).toDF("event_id", "user_id", "event_type")
    assert(CdcOps.dropDeletes(l).select("event_id").as[Long].collect().sorted === Seq(1L, 3L, 4L))
  }

  test("lastWriteWins picks the greatest (ts, tiebreak) per key") {
    val l = log((1, 1, "2024-01-01 00:00:00", "insert"),
      (2, 1, "2024-01-02 00:00:00", "update"), // later ts wins
      (3, 2, "2024-01-01 00:00:00", "insert"))
    val r = CdcOps.lastWriteWins(l, "user_id", "ts", "event_id")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 2L, 2L -> 3L))
  }

  test("lastWriteWins breaks exact ts ties by the synthesized tiebreaker") {
    val l = log((5, 1, "2024-01-01 00:00:00", "update"),
      (9, 1, "2024-01-01 00:00:00", "update"), // same ts, higher event_id
      (7, 1, "2024-01-01 00:00:00", "update"))
    val r = CdcOps.lastWriteWins(l, "user_id", "ts", "event_id")
      .select("event_id").as[Long].collect()
    assert(r === Seq(9L))
  }

  test("upsertMerge is idempotent: applying the same batch twice equals once (js:114-115)") {
    val base = log((1, 1, "2024-01-01 00:00:00", "insert"),
      (2, 2, "2024-01-01 00:00:00", "insert"))
    val batch = log((3, 2, "2024-01-02 00:00:00", "update"),
      (4, 3, "2024-01-02 00:00:00", "insert"))
    val once = CdcOps.upsertMerge(base, batch, "user_id")
    val twice = CdcOps.upsertMerge(once, batch, "user_id")
    val a = once.select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val b = twice.select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(a === b)
    assert(a === Set((1L, 1L), (2L, 3L), (3L, 4L)))
  }

  test("upsertMerge keeps base rows for keys absent from the batch") {
    val base = log((1, 1, "2024-01-01 00:00:00", "insert"))
    val batch = log((2, 9, "2024-01-02 00:00:00", "insert"))
    val r = CdcOps.upsertMerge(base, batch, "user_id")
      .select("user_id").as[Long].collect().toSet
    assert(r === Set(1L, 9L))
  }

  test("upsertMerge without distinct keys: a batch repeating keys gives exactly the rows of the distinct form") {
    val base = log((1, 1, "2024-01-01 00:00:00", "insert"),
      (2, 2, "2024-01-01 00:00:00", "insert"), (3, 3, "2024-01-01 00:00:00", "insert"))
    // keys 2 and 4 repeat (an un-deduped batch); key 3 repeats the base's
    val batch = log((4, 2, "2024-01-02 00:00:00", "update"),
      (5, 2, "2024-01-03 00:00:00", "update"), (6, 4, "2024-01-02 00:00:00", "insert"),
      (7, 4, "2024-01-02 00:00:00", "update"), (8, 3, "2024-01-02 00:00:00", "update"))
    val distinctForm = base
      .join(batch.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .unionByName(batch)
    def rows(df: DataFrame) =
      df.select("user_id", "event_id", "op_type").as[(Long, Long, String)].collect().sorted.toSeq
    val got = rows(CdcOps.upsertMerge(base, batch, "user_id"))
    assert(got === rows(distinctForm))
    assert(got === Seq((1L, 1L, "insert"), (2L, 4L, "update"), (2L, 5L, "update"),
      (3L, 8L, "update"), (4L, 6L, "insert"), (4L, 7L, "update")))
  }

  private def attrLog(rows: (Long, Long, String, String)*): DataFrame =
    rows.toDF("event_id", "user_id", "ts_s", "attr")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  test("scd2 collapses no-change writes and versions only on attribute change") {
    val l = attrLog(
      (1, 1, "2024-01-01 00:00:00", "a"),
      (2, 1, "2024-01-02 00:00:00", "a"), // no-change update → collapsed
      (3, 1, "2024-01-03 00:00:00", "b"),
      (4, 2, "2024-01-01 00:00:00", "x"))
    val r = CdcOps.scd2(l, "user_id", "attr", "ts", "event_id")
      .select("user_id", "version", "attr", "is_current")
      .as[(Long, Long, String, Boolean)].collect().toSet
    assert(r === Set((1L, 1L, "a", false), (1L, 2L, "b", true), (2L, 1L, "x", true)))
  }

  test("scd2 intervals chain: valid_to of version k = valid_from of k+1, open tail") {
    val l = attrLog(
      (1, 1, "2024-01-01 00:00:00", "a"),
      (2, 1, "2024-01-05 00:00:00", "b"),
      (3, 1, "2024-01-09 00:00:00", "c"))
    val rows = CdcOps.scd2(l, "user_id", "attr", "ts", "event_id")
      .orderBy("version")
      .select(col("version"), col("valid_from").cast("string"),
        col("valid_to").cast("string"))
      .as[(Long, String, String)].collect()
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(rows(0)._3 === rows(1)._2 && rows(1)._3 === rows(2)._2)
    assert(rows(2)._3 === null)
  }

  test("scd2 reopens a returning value as a NEW version (a→b→a = 3 versions)") {
    val l = attrLog(
      (1, 1, "2024-01-01 00:00:00", "a"),
      (2, 1, "2024-01-02 00:00:00", "b"),
      (3, 1, "2024-01-03 00:00:00", "a"))
    val r = CdcOps.scd2(l, "user_id", "attr", "ts", "event_id")
      .select("version", "attr").as[(Long, String)].collect().toSet
    assert(r === Set((1L, "a"), (2L, "b"), (3L, "a")))
  }

  test("scd2 breaks exact-ts ties by the tiebreaker column") {
    val l = attrLog(
      (5, 1, "2024-01-01 00:00:00", "a"),
      (9, 1, "2024-01-01 00:00:00", "b"), // same ts: event_id 9 is LATER
      (7, 1, "2024-01-01 00:00:00", "a"))
    // order by (ts, event_id): a(5) → a(7) collapsed → b(9) current
    val r = CdcOps.scd2(l, "user_id", "attr", "ts", "event_id")
      .select("version", "attr", "is_current")
      .as[(Long, String, Boolean)].collect().toSet
    assert(r === Set((1L, "a", false), (2L, "b", true)))
  }

  private def facts(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("fact_id", "user_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  test("temporalJoin addresses half-open [valid_from, valid_to) intervals") {
    val dim = CdcOps.scd2(attrLog(
      (1, 1, "2024-01-01 00:00:00", "a"),
      (2, 1, "2024-01-03 00:00:00", "b")), "user_id", "attr", "ts", "event_id")
    val f = facts(
      (10, 1, "2024-01-02 00:00:00"), // inside v1
      (11, 1, "2024-01-03 00:00:00"), // ON the boundary: v1's valid_to is
                                      // EXCLUSIVE, v2's valid_from inclusive
      (12, 1, "2024-01-09 00:00:00")) // open tail
    val r = CdcOps.temporalJoin(f, dim, "user_id", "ts")
      .select("fact_id", "version", "attr").as[(Long, Long, String)]
      .collect().map { case (id, v, a) => id -> ((v, a)) }.toMap
    assert(r === Map(10L -> (1L, "a"), 11L -> (2L, "b"), 12L -> (2L, "b")))
  }

  test("temporalJoin keeps facts before the first version / without a dim key (left join)") {
    val dim = CdcOps.scd2(attrLog((1, 1, "2024-01-05 00:00:00", "a")),
      "user_id", "attr", "ts", "event_id")
    val f = facts(
      (10, 1, "2024-01-02 00:00:00"), // before user 1's first version
      (11, 2, "2024-01-06 00:00:00")) // user 2 has no dim history at all
    val r = CdcOps.temporalJoin(f, dim, "user_id", "ts")
      .select("fact_id", "version").as[(Long, Option[Long])].collect().toMap
    assert(r === Map(10L -> None, 11L -> None))
    // and each fact survives exactly once — a null match never drops or dups
    assert(CdcOps.temporalJoin(f, dim, "user_id", "ts").count() === 2)
  }

  test("temporalJoin at 'now' agrees with lastWriteWins (the current-state degenerate case)") {
    // the reference can only answer point-in-time questions for NOW
    // (js:504-505); SCD2 + temporalJoin generalizes it — so at a ts beyond
    // every change, the matched version must be exactly the last write
    val l = attrLog(
      (1, 1, "2024-01-01 00:00:00", "a"), (2, 1, "2024-01-03 00:00:00", "b"),
      (3, 2, "2024-01-02 00:00:00", "x"), (4, 2, "2024-01-02 00:00:00", "y"),
      (5, 3, "2024-01-05 00:00:00", "q"))
    val dim = CdcOps.scd2(l, "user_id", "attr", "ts", "event_id")
    val now = facts((1 to 3).map(u => (900L + u, u.toLong, "2024-12-31 00:00:00")): _*)
    val viaTemporal = CdcOps.temporalJoin(now, dim, "user_id", "ts")
      .select("user_id", "attr").as[(Long, String)].collect().toMap
    val viaLww = CdcOps.lastWriteWins(l, "user_id", "ts", "event_id")
      .select("user_id", "attr").as[(Long, String)].collect().toMap
    assert(viaTemporal === viaLww)
    // and the matched versions are exactly the open (is_current) rows
    val current = CdcOps.temporalJoin(now, dim, "user_id", "ts")
      .select("is_current").as[Boolean].collect()
    assert(current.length === 3 && current.forall(identity))
  }

  test("temporalJoin matches each fact to AT MOST one version (non-overlap)") {
    val dim = CdcOps.scd2(attrLog(
      (1, 1, "2024-01-01 00:00:00", "a"),
      (2, 1, "2024-01-02 00:00:00", "b"),
      (3, 1, "2024-01-03 00:00:00", "c")), "user_id", "attr", "ts", "event_id")
    val f = facts((1 to 8).map(i => (100L + i, 1L, s"2024-01-0$i 12:00:00")): _*)
    val joined = CdcOps.temporalJoin(f, dim, "user_id", "ts")
    assert(joined.count() === 8) // one output row per fact, always
    assert(joined.groupBy("fact_id").count().filter(col("count") > 1).count() === 0)
  }
}
