package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec

/** The durable throttled alert channel (js:72–90's sendAlert surface):
  * per-rule cooldown, complete durable OUTCOME trail (suppressed <
  * attempted < delivered), restart-proof throttle, contained transport
  * failures, drift-rule sweeps over maintained monitor reports. */
class AlertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String = tmp("alerts").resolve("log").toString

  private def outcomes(sink: AlertSink): Seq[(String, Long, String)] =
    sink.log.select("rule", "at_ms", "status")
      .as[(String, Long, String)].collect().sortBy(r => (r._2, r._1)).toSeq

  test("per-rule cooldown: storms collapse to one delivery per window; every raise is logged") {
    val delivered = scala.collection.mutable.ArrayBuffer.empty[AlertSink.Alert]
    val sink = new AlertSink(spark, dir(), cooldownMs = 1000L, deliver = delivered += _)

    assert(sink.raise("bulk-write", "Bulk Write Failure", "batch 7 failed", nowMs = 0L))
    // the crash-looping retry storm: suppressed but logged
    assert(!sink.raise("bulk-write", "Bulk Write Failure", "batch 7 failed", nowMs = 200L))
    assert(!sink.raise("bulk-write", "Bulk Write Failure", "batch 7 failed", nowMs = 999L))
    // a DIFFERENT rule is not throttled by the first one's window
    assert(sink.raise("checkpoint", "Checkpoint Save Failure", "disk full", nowMs = 500L))
    // past the window: pages again
    assert(sink.raise("bulk-write", "Bulk Write Failure", "batch 9 failed", nowMs = 1500L))

    assert(delivered.map(a => (a.rule, a.atMs)).toSeq ===
      Seq(("bulk-write", 0L), ("checkpoint", 500L), ("bulk-write", 1500L)))
    // the trail is COMPLETE, one outcome per raise: a transport that
    // returned confirms to 'delivered'; suppressed raises stay visible
    assert(outcomes(sink) === Seq(
      ("bulk-write", 0L, "delivered"), ("bulk-write", 200L, "suppressed"),
      ("checkpoint", 500L, "delivered"), ("bulk-write", 999L, "suppressed"),
      ("bulk-write", 1500L, "delivered")))
  }

  test("restart reseeds the cooldown from the durable log — a crash loop cannot reset its own throttle") {
    val d = dir()
    val first = new AlertSink(spark, d, cooldownMs = 1000L)
    assert(first.raise("stream-error", "Change Stream Error", "cursor died", nowMs = 100L))
    // process restarts (new sink over the same log dir): still inside the
    // window, so the replayed failure is suppressed...
    val second = new AlertSink(spark, d, cooldownMs = 1000L)
    assert(!second.raise("stream-error", "Change Stream Error", "cursor died", nowMs = 600L))
    // ...and pages again once the window has genuinely passed
    assert(second.raise("stream-error", "Change Stream Error", "cursor died", nowMs = 1200L))
  }

  test("a throwing transport is contained AND the trail says so: the raise stays 'attempted', never 'delivered'") {
    val d = dir()
    val sink = new AlertSink(spark, d, cooldownMs = 1000L,
      deliver = _ => throw new RuntimeException("smtp down"))
    assert(sink.raise("startup", "CDC Startup Failure", "boom", nowMs = 0L)) // no throw
    assert(!sink.raise("startup", "CDC Startup Failure", "boom", nowMs = 100L))
    // the durable trail records the OUTCOME: the due raise was attempted
    // but no delivery confirmation exists — an on-call reader can see the
    // page never fired, instead of a trail claiming it did
    assert(outcomes(sink) ===
      Seq(("startup", 0L, "attempted"), ("startup", 100L, "suppressed")))
    // no-hot-loop stands across restart too: the failed ATTEMPT holds the
    // cooldown window after a reseed (a broken SMTP host must not page
    // once per crash-loop iteration)
    val second = new AlertSink(spark, d, cooldownMs = 1000L)
    assert(!second.raise("startup", "CDC Startup Failure", "boom", nowMs = 500L))
    assert(second.raise("startup", "CDC Startup Failure", "boom", nowMs = 1100L))
  }

  test("concurrent raises across many rules never double-page, never lose a row, and fold the log outside the raise lock") {
    val delivered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sink = new AlertSink(spark, dir(), cooldownMs = 60000L,
      deliver = a => { delivered.add(a.rule); () })
    val rules = (0 until 6).map(i => s"rule-$i")
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    // 4 raisers per rule racing in one window: exactly one attempt each —
    // enough total raises (24) to trip DefaultCompactEvery several times,
    // so the tryLock'd fold runs concurrently with other raisers
    val futures = for (r <- rules; _ <- 0 until 4) yield pool.submit(
      new Runnable { def run(): Unit = { start.await(); sink.raise(r, "s", "m", 0L); () } })
    start.countDown()
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(delivered.size === rules.size) // one page per rule, no double-page
    // every raise kept its durable row (24 raises + 6 confirmations)...
    val raw = sink.rawLog.select("rule", "status").as[(String, String)].collect().toSeq
    assert(raw.size === rules.size * 4 + rules.size)
    assert(raw.count(_._2 == "attempted") === rules.size)
    assert(raw.count(_._2 == "suppressed") === rules.size * 3)
    assert(raw.count(_._2 == "delivered") === rules.size)
    // ...and the outcome view resolves each (rule, at_ms) to its final word
    val trail = outcomes(sink)
    assert(trail.size === rules.size)
    assert(trail.forall(_._3 == "delivered"))
  }

  test("out-of-band append id collision: a racing writer gets a clean retry, a persistent collision names the single-writer contract") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val d = dir()
    val schema = StructType(Seq(StructField("v", LongType, nullable = false)))
    def df(v: Long) = spark.createDataFrame(java.util.List.of(Row(v)), schema)
    AppendState.append(df(1L), d, -1L)
    // steal the id the next out-of-band append will compute, between its
    // allocation and its publish: simulate by pre-creating delta=1..2 so
    // the first computed id is taken — append must retry onto a free id
    AppendState.append(df(2L), d, -1L)
    AppendState.append(df(3L), d, -1L)
    assert(AppendState.deltaIds(d) === Seq(0L, 1L, 2L))
    // a lost publish race: the id this append will compute (3) is claimed
    // between its allocation and its rename. A plain FILE at the delta
    // path is invisible to the id listing (deltaIds keeps directories
    // only) but fails the ATOMIC_MOVE — exactly the raced-writer shape
    assert(Files.write(new java.io.File(d, "delta=3").toPath, Array[Byte](1))
      .toFile.isFile)
    AppendState.append(df(4L), d, -1L) // clean retry onto the next free id
    assert(AppendState.deltaIds(d) === Seq(0L, 1L, 2L, 4L))
    assert(AppendState.raw(spark, d).get.count() === 4L)
    // a persistent collision (every retry candidate claimed) names the
    // single-writer contract instead of an opaque ATOMIC_MOVE failure
    (5L to 11L).foreach { i =>
      Files.write(new java.io.File(d, s"delta=$i").toPath, Array[Byte](1)); ()
    }
    val e = intercept[IllegalStateException] { AppendState.append(df(5L), d, -1L) }
    assert(e.getMessage.contains("SINGLE writer"))
  }

  test("a round-16 trail (delivered: boolean) migrates in place to the outcome schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val d = dir()
    val legacySchema = StructType(Seq(
      StructField("rule", StringType, nullable = false),
      StructField("subject", StringType, nullable = false),
      StructField("message", StringType, nullable = false),
      StructField("at_ms", LongType, nullable = false),
      StructField("delivered", BooleanType, nullable = false)))
    AppendState.append(spark.createDataFrame(java.util.List.of(
      Row("bulk-write", "s", "m", 100L, true),
      Row("bulk-write", "s", "m", 200L, false)), legacySchema), d, -1L)
    val sink = new AlertSink(spark, d, cooldownMs = 1000L)
    // the old layout logged delivered=true BEFORE the transport ran, so
    // the honest migration is 'attempted' (it cannot claim a delivery)
    assert(outcomes(sink) ===
      Seq(("bulk-write", 100L, "attempted"), ("bulk-write", 200L, "suppressed")))
    // the migrated attempt holds the cooldown window
    assert(!sink.raise("bulk-write", "s", "m", nowMs = 900L))
    assert(sink.raise("bulk-write", "s", "m", nowMs = 1200L))
  }

  test("sweep pages one rule per stalled query off the LagMonitor") {
    val delivered = scala.collection.mutable.ArrayBuffer.empty[AlertSink.Alert]
    val sink = new AlertSink(spark, dir(), cooldownMs = 1000L, deliver = delivered += _)
    val mon = new LagMonitor(thresholdMs = 1000L)
    assert(sink.sweep(mon, nowMs = 0L) === 0) // nothing stalled, nothing paged
    // drive a real stalled query through the listener: a rate-limited
    // stream that never initializes a watermark assesses as stalled
    spark.streams.addListener(mon)
    val q = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").start()
    try {
      var tries = 0
      while (mon.stalledById.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(mon.stalledById.nonEmpty)
      assert(sink.sweep(mon, nowMs = 0L) === 1)
      assert(sink.sweep(mon, nowMs = 100L) === 0) // same query, inside cooldown
      assert(delivered.size === 1 && delivered.head.rule.startsWith("lag:"))
    } finally {
      q.stop()
      spark.streams.removeListener(mon)
    }
  }

  test("drift rules page off the maintained monitor reports: breach → one page per cooldown with a complete trail, recovery → quiet") {
    import org.apache.spark.sql.functions.col
    val delivered = scala.collection.mutable.ArrayBuffer.empty[AlertSink.Alert]
    val sink = new AlertSink(spark, dir(), cooldownMs = 1000L, deliver = delivered += _)
    val stateDir = tmp("vocabstate").resolve("st").toString
    val vocab = Seq("the", "quick", "fox")
    val baseDocs = Seq((1L, "the quick fox", "web"), (2L, "the quick the", "web"))
      .toDF("doc_id", "text", "source")
    val base = VocabDrift.baseline(baseDocs, vocab)
    val rule = DriftAlerts.vocab(spark, stateDir, base, driftPermille = 100)

    // live state matching the baseline: no breach, no page
    VocabDrift.applyBatch(spark,
      VocabDrift.gate(baseDocs, vocab), stateDir, batchId = 0L)
    assert(sink.sweepDrift(Seq(rule), nowMs = 0L) === 0)

    // an OOV flood from a new batch crosses the monitor's band: one page
    // per cooldown while the breach persists, suppressed raises logged
    VocabDrift.applyBatch(spark,
      VocabDrift.gate(Seq((3L, "zzz qqq vvv www", "web")).toDF("doc_id", "text", "source"),
        vocab), stateDir, batchId = 1L)
    assert(sink.sweepDrift(Seq(rule), nowMs = 100L) === 1)
    assert(sink.sweepDrift(Seq(rule), nowMs = 200L) === 0) // inside cooldown
    assert(sink.sweepDrift(Seq(rule), nowMs = 1200L) === 1) // breach persists: re-page
    assert(delivered.map(_.rule).toSeq === Seq("drift:stream_vocab_drift", "drift:stream_vocab_drift"))
    assert(delivered.head.message.contains("source=web"))
    val trail = outcomes(sink)
    assert(trail.map(_._3) === Seq("delivered", "suppressed", "delivered"))
    assert(sink.log.filter(col("rule") === "drift:stream_vocab_drift").count() === 3L)
  }

  test("the schema-profile rule pages when a key goes missing from a type's payloads, off the grid the monitor wrote") {
    val delivered = scala.collection.mutable.ArrayBuffer.empty[AlertSink.Alert]
    val sink = new AlertSink(spark, dir(), cooldownMs = 1000L, deliver = delivered += _)
    val stateDir = tmp("schemastate").resolve("st").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
    def events(from: Long, n: Int, props: String) =
      (from until from + n).map(id => (id, "click", ts, props)).toDF("event_id", "event_type", "ts", "props")
    val rule = DriftAlerts.schemaProfile(spark, stateDir, minPermille = 500L)

    // every click carries both keys: present 1000‰, no page
    SchemaProfileStream.applyBatch(spark, events(0L, 4, """{"k": "1", "p": "x"}"""), stateDir, batchId = 0L)
    assert(sink.sweepDrift(Seq(rule), nowMs = 0L) === 0)

    // the producer stops sending `p`: 4 of 10 clicks carry it, 400‰ < 500‰
    SchemaProfileStream.applyBatch(spark, events(4L, 6, """{"k": "2"}"""), stateDir, batchId = 1L)
    assert(sink.sweepDrift(Seq(rule), nowMs = 100L) === 1)
    assert(delivered.map(_.rule).toSeq === Seq("drift:stream_schema_profile"))
    assert(delivered.head.message === "event_type=click key=p present=400‰")
  }

  test("the source-caps rule pages when a source fills its cap, off the state the monitor wrote") {
    val delivered = scala.collection.mutable.ArrayBuffer.empty[AlertSink.Alert]
    val sink = new AlertSink(spark, dir(), cooldownMs = 1000L, deliver = delivered += _)
    val stateDir = tmp("capstate").resolve("st").toString
    val k = 3
    val kind = SourceCapsStream.kind(k)
    val rule = DriftAlerts.sourceCaps(spark, stateDir, k)

    // two sources, both under the cap: no page
    kind.applyBatch(spark, Seq((1L, "web"), (2L, "web"), (3L, "wiki")).toDF("doc_id", "source"),
      stateDir, batchId = 0L)
    assert(sink.sweepDrift(Seq(rule), nowMs = 0L) === 0)

    // `web` reaches k retained docs (a redelivered doc does not count twice)
    kind.applyBatch(spark, Seq((2L, "web"), (7L, "web"), (9L, "web")).toDF("doc_id", "source"),
      stateDir, batchId = 1L)
    assert(SourceCapsStream.state(spark, stateDir, k).filter($"source" === "web")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 7L))
    assert(sink.sweepDrift(Seq(rule), nowMs = 100L) === 1)
    assert(delivered.map(_.message).toSeq === Seq("source=web at cap k=3"))
  }
}
