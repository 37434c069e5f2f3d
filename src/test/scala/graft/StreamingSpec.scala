package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.operators.CdcOps
import graft.streaming.CdcPipeline

/** End-to-end streaming pipeline test (SURVEY §5.4): stream the events
  * fixture through the foreachBatch upsert in two micro-batch waves with a
  * checkpointed restart in between, then reconcile against the batch
  * last-write-wins answer — the reference's own ops verification loop
  * (`compareDocumentsInTimeWindow`), automated. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  test("streamed upsert + checkpointed restart converges to the batch answer; replay is a no-op") {
    val sf = "/root/testdata/sf0.001"
    val src = tmp("cdc-src")
    val tgt = tmp("cdc-tgt").resolve("state").toString
    val ckp = tmp("cdc-ckp").toString

    // the full change log, read the batch way (nanos ts already converted)
    val all = Tables.events(spark, sf)
    val cut = Tables.tsLit("2024-01-15 00:00:00")

    // the file-stream source lists leaf files in the source dir, so each
    // wave's part-files land flat in `src` under a unique prefix
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"cdc-stage-$wave")
      Tables.events(spark, sf)
        .filter(pred)
        .coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // wave 1: events before the cut arrive as the first stream file
    arrive("wave1", col("ts") < cut)
    CdcPipeline.start(spark, src.toString, tgt, ckp).awaitTermination()

    // wave 2: the rest arrives later; the query restarts from the checkpoint
    arrive("wave2", col("ts") >= cut)
    CdcPipeline.start(spark, src.toString, tgt, ckp).awaitTermination()

    val expected = CdcOps.lastWriteWins(
      CdcOps.dropDeletes(Tables.changeLog(spark, sf)), "user_id", "ts", "event_id")
    val got = CdcPipeline.state(spark, tgt)

    // reconcile: zero differing documents (keys + chosen last event)
    val diff = graft.operators.Reconcile.diffSummary(
      expected.select("user_id", "event_id", "ts", "event_type"),
      got.select("user_id", "event_id", "ts", "event_type"),
      "user_id",
      Seq(Reconcile.plain("event_id"), Reconcile.plain("event_type")))
    import spark.implicits._
    val (total, differing) = diff.as[(Long, Long)].collect().head
    assert(total === expected.count())
    assert(differing === 0L)

    // restart with no new data: state unchanged (at-least-once idempotence)
    val before = got.orderBy("user_id").collect().toSeq
    CdcPipeline.start(spark, src.toString, tgt, ckp).awaitTermination()
    val after = CdcPipeline.state(spark, tgt).orderBy("user_id").collect().toSeq
    assert(before === after)
  }

  test("watermarked windowed aggregation emits exactly the batch answer for closed windows") {
    val sf = "/root/testdata/sf0.001"
    val src = tmp("agg-src")
    val ckp = tmp("agg-ckp").toString

    // stage the full events file as one stream input
    val staging = tmp("agg-stage")
    Tables.events(spark, sf)
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, src.resolve(f.getName)))

    val stream = spark.readStream.schema(CdcPipeline.eventsFileSchema).parquet(src.toString)
    val q = CdcPipeline.windowedOpCounts(stream)
      .writeStream
      .option("checkpointLocation", ckp)
      .format("memory").queryName("win_counts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import spark.implicits._
    val streamed = spark.table("win_counts")
      .select(col("day").cast("string"), col("op_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    val batch = CdcPipeline.windowedOpCounts(
      Tables.events(spark, sf))
      .select(col("day").cast("string"), col("op_type"), col("n"))
      .as[(String, String, Long)].collect().toMap2()

    // append mode only emits windows closed under the final watermark —
    // every emitted row must equal the batch answer, and most days must emit
    assert(streamed.nonEmpty)
    streamed.foreach { case (day, op, n) =>
      assert(batch.get((day, op)).contains(n), s"window ($day,$op) mismatch")
    }
    val batchDays = batch.keys.map(_._1).toSet
    val streamedDays = streamed.map(_._1)
    assert(streamedDays.size >= batchDays.size - 2) // at most the tail windows unclosed
  }

  test("watermarked daily bars: closed windows match the batch OHLC exactly") {
    val sf = "/root/testdata/sf0.001"
    val src = tmp("bars-src")
    val ckp = tmp("bars-ckp").toString
    val staging = tmp("bars-stage")
    Tables.events(spark, sf)
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, src.resolve(f.getName)))

    val stream = spark.readStream
      .schema(CdcPipeline.observedEventsSchema(spark, src.toString)).parquet(src.toString)
    val q = CdcPipeline.windowedDailyBars(stream)
      .writeStream
      .option("checkpointLocation", ckp)
      .format("memory").queryName("win_bars")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Double, Double, Double, Double, Long)] =
      df.select(col("day").cast("string"), col("open"), col("high"),
        col("low"), col("close"), col("n_events"))
        .as[(String, Double, Double, Double, Double, Long)].collect().toSeq
    val streamed = rows(spark.table("win_bars"))
    val batch = rows(CdcPipeline.windowedDailyBars(Tables.events(spark, sf)))
      .map(b => b._1 -> b).toMap
    // append mode only emits watermark-closed windows; each emitted bar
    // must equal the batch bar bit for bit (struct extrema incl. ties)
    assert(streamed.nonEmpty)
    streamed.foreach(b => assert(batch.get(b._1).contains(b), s"bar ${b._1} mismatch"))
    assert(streamed.size >= batch.size - 2) // at most the tail windows unclosed
  }

  test("LagMonitor flags a stalled source and clears a fresh one") {
    import graft.streaming.LagMonitor

    // pure alarm rule (the reference's 5-minute replication-lag alert)
    val t = LagMonitor.DefaultThresholdMs
    val now = 1700000000000L
    assert(!LagMonitor.assess(now, Some(now - 1000), 0, t).stalled)
    val old = LagMonitor.assess(now, Some(now - t - 1), 3, t)
    assert(old.stalled && old.lagMs === t + 1 && old.batchId === 3)
    assert(LagMonitor.assess(now, None, 0, t).stalled) // no watermark = alert

    // end-to-end: listener sees the watermarked query's progress; the
    // fixture's newest event time is years behind the wall clock, so the
    // monitor must flag the source as stalled
    val sf = "/root/testdata/sf0.001"
    val src = tmp("lag-src")
    val ckp = tmp("lag-ckp").toString
    val staging = tmp("lag-stage")
    Tables.events(spark, sf)
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, src.resolve(f.getName)))

    val monitor = LagMonitor.attach(spark)
    try {
      val stream = spark.readStream.schema(CdcPipeline.eventsFileSchema).parquet(src.toString)
      // a LIVE (ProcessingTime) query: health must be observable while the
      // query runs, and the entry must be EVICTED once it terminates
      val q = CdcPipeline.windowedOpCounts(stream)
        .writeStream.option("checkpointLocation", ckp)
        .format("memory").queryName("lag_counts").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()
      // listener delivery is async — poll for a progress snapshot that has
      // processed the data batch (state rows + batch duration populated)
      val deadline = System.currentTimeMillis() + 30000
      var h = monitor.health(q.id)
      while (!h.exists(x => x.stateRows > 0 && x.batchDurationMs > 0)
        && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        h = monitor.health(q.id)
      }
      assert(h.nonEmpty, "listener never saw query progress")
      assert(h.get.stalled, s"fixture watermark is years old — expected stalled, got $h")
      assert(monitor.stalled.nonEmpty)
      // the serverStatus half (js:549–584): throughput/state stats are wired
      assert(h.get.batchDurationMs > 0, s"batch duration missing: $h")
      assert(h.get.stateRows > 0, s"windowed agg held no state rows: $h")

      q.stop()
      q.awaitTermination()
      val evictBy = System.currentTimeMillis() + 30000
      while (monitor.health(q.id).nonEmpty && System.currentTimeMillis() < evictBy)
        Thread.sleep(50)
      assert(monitor.health(q.id).isEmpty, "terminated query must be evicted from the monitor")
      assert(monitor.stalled.isEmpty)
    } finally spark.streams.removeListener(monitor)
  }

  test("continuous-mode pipeline killed mid-stream recovers from the checkpoint") {
    val sf = "/root/testdata/sf0.001"
    val src = tmp("cont-src")
    val tgt = tmp("cont-tgt").resolve("state").toString
    val ckp = tmp("cont-ckp").toString
    val cut = Tables.tsLit("2024-01-15 00:00:00")

    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"cont-stage-$wave")
      Tables.events(spark, sf)
        .filter(pred).coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // wave 1 arrives; the pipeline runs in CONTINUOUS mode (ProcessingTime
    // cadence — the reference's 5 s flush loop, js:349)
    arrive("wave1", col("ts") < cut)
    val q = CdcPipeline.start(spark, src.toString, tgt, ckp, availableNow = false)
    val deadline = System.currentTimeMillis() + 60000
    while (q.recentProgress.forall(_.numInputRows == 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(q.recentProgress.exists(_.numInputRows > 0), "first batch never processed")
    q.stop() // kill mid-stream (the reference's crash-restart loop, js:286-299)
    q.awaitTermination()

    // wave 2 arrives while the pipeline is down; restart from the SAME
    // checkpoint drains it and converges to the batch answer
    arrive("wave2", col("ts") >= cut)
    CdcPipeline.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    val expected = CdcOps.lastWriteWins(
      CdcOps.dropDeletes(Tables.changeLog(spark, sf)), "user_id", "ts", "event_id")
    val diff = Reconcile.diffSummary(
      expected.select("user_id", "event_id", "ts", "event_type"),
      CdcPipeline.state(spark, tgt).select("user_id", "event_id", "ts", "event_type"),
      "user_id",
      Seq(Reconcile.plain("event_id"), Reconcile.plain("event_type")))
    val (total, differing) = diff.as[(Long, Long)].collect().head
    assert(total === expected.count())
    assert(differing === 0L)
  }

  test("supervise retries startup failures with the 60 s backoff tier, then drains") {
    val sf = "/root/testdata/sf0.001"
    val root = tmp("sup-root")
    val src = root.resolve("missing-src") // does not exist yet → startup failure
    val tgt = root.resolve("state").toString
    val ckp = root.resolve("ckp").toString

    val backoffs = scala.collection.mutable.ArrayBuffer[Long]()
    val sleep: Long => Unit = { ms =>
      backoffs += ms
      if (backoffs.size == 1) {
        // "operator fixes the source" between retries: dir appears with data
        Files.createDirectories(src)
        val staging = tmp("sup-stage")
        Tables.events(spark, sf)
          .coalesce(1).write.mode("overwrite").parquet(staging.toString)
        staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => Files.move(f.toPath, src.resolve(f.getName)))
      }
    }
    val restarts = CdcPipeline.supervise(spark, src.toString, tgt, ckp,
      CdcPipeline.RestartPolicy(maxRestarts = 5), availableNow = true, sleep = sleep)
    assert(restarts === 1)
    assert(backoffs.toSeq === Seq(60000L)) // the startup tier, not the stream tier
    assert(CdcPipeline.state(spark, tgt).count() > 0) // drained after recovery

    // a permanently broken source stops at maxRestarts with the right cadence
    val backoffs2 = scala.collection.mutable.ArrayBuffer[Long]()
    val r2 = CdcPipeline.supervise(spark, root.resolve("never-exists").toString,
      tgt, root.resolve("ckp2").toString,
      CdcPipeline.RestartPolicy(maxRestarts = 3), availableNow = true,
      sleep = backoffs2 += _)
    assert(r2 === 3)
    assert(backoffs2.toSeq === Seq(60000L, 60000L)) // no sleep after the final attempt
  }

  test("dropDuplicatesWithinWatermark collapses redelivered batches to exactly-once rows") {
    import spark.implicits._
    val src = tmp("dedup-src")
    def utc(hhmm: String): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.LocalDateTime.parse(s"2024-03-01T$hhmm")
        .toInstant(java.time.ZoneOffset.UTC))
    // one change batch of three events...
    def deliver(name: String): Unit = {
      val staging = tmp(s"dedup-stage-$name")
      Seq((1L, utc("10:00")), (2L, utc("10:05")), (3L, utc("10:10")))
        .map { case (id, ts) => (id, ts, id, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }
    deliver("a"); deliver("b") // ...delivered TWICE (at-least-once replay)

    val acc = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = spark.readStream.schema(CdcPipeline.eventsFileSchema)
      .option("maxFilesPerTrigger", 1) // force the duplicates into SEPARATE
      .parquet(src.toString)           // micro-batches: state-store dedup, not in-batch
    val q = CdcPipeline.dedupEvents(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("dedup-ckp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("event_id").as[Long].collect().foreach(acc.add)
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = acc.asScala.toSeq
    assert(got.sorted === Seq(1L, 2L, 3L), s"redelivery leaked through: $got")
  }

  test("corpus ingest: redelivery + restart converge to the batch survivor answer") {
    import graft.streaming.CorpusIngest
    import spark.implicits._
    val src = tmp("ingest-src")
    val tgt = tmp("ingest-tgt").resolve("state").toString
    val ckp = tmp("ingest-ckp").toString

    val good = "the quick brown fox jumps over a lazy dog and the dog is not amused at all of it"
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val staging = tmp(s"ingest-stage-$name")
      rows.map { case (id, text, lang) => (id, text, lang, "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: a kept doc, its higher-id in-batch duplicate, and junk the
    // quality gate must drop before any state is touched
    val wave1 = Seq((10L, good, "en"), (30L, good, "en"), (40L, "zz zz", "xx"))
    deliver("w1", wave1)
    CorpusIngest.start(spark, src.toString, tgt, ckp).awaitTermination()

    // wave 2: wave 1 redelivered (at-least-once) + a LOWER-id duplicate of
    // the kept doc + a genuinely new doc — the min-id winner must flip to 5
    val wave2 = wave1 ++ Seq((5L, good, "en"),
      (50L, good.replace("fox", "cat"), "en"))
    deliver("w2", wave2)
    CorpusIngest.start(spark, src.toString, tgt, ckp).awaitTermination()

    val got = CorpusIngest.state(spark, tgt)
      .select("doc_id", "lang", "quality").as[(Long, String, Double)]
      .collect().sortBy(_._1)
    // batch answer over the union of everything delivered once
    val all = (wave1 ++ wave2).distinct
      .map { case (id, text, lang) => (id, text, lang, "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val expect = CorpusIngest.mergeSurvivors(
      CorpusIngest.transform(all).limit(0), CorpusIngest.transform(all))
      .select("doc_id", "lang", "quality").as[(Long, String, Double)]
      .collect().sortBy(_._1)
    assert(got === expect)
    assert(got.map(_._1).toSeq === Seq(5L, 50L)) // min-id flip + new doc; junk gated out

    // replay with no new data: state unchanged (idempotence)
    CorpusIngest.start(spark, src.toString, tgt, ckp).awaitTermination()
    val again = CorpusIngest.state(spark, tgt)
      .select("doc_id", "lang", "quality").as[(Long, String, Double)]
      .collect().sortBy(_._1)
    assert(again === got)
  }

  test("incremental KS drift: restart + redelivery + batch replay converge to the batch report") {
    import graft.streaming.KsDriftStream
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val src = tmp("ks-src")
    val tgt = tmp("ks-tgt").resolve("state").toString
    val ckp = tmp("ks-ckp").toString

    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"ks-stage-$wave")
      Tables.documents(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$wave-${f.getName}")))
    }

    // the survivor state must accumulate across the checkpointed restart
    arrive("wave1", col("doc_id") < 200)
    KsDriftStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("doc_id") >= 200)
    KsDriftStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double)] =
      df.orderBy("source").as[(String, Long, Double)].collect().toSeq
    val expected = rows(SparkEntry.queries("ext_ks_drift")(spark, sf))
    assert(expected.nonEmpty && expected.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    assert(rows(KsDriftStream.report(KsDriftStream.histogram(
      KsDriftStream.state(spark, tgt)))) === expected)

    // redelivered rows (fresh file names, same docs): the idempotent
    // doc-keyed merge absorbs them by algebra
    arrive("wave2again", col("doc_id") >= 200)
    KsDriftStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(KsDriftStream.report(KsDriftStream.histogram(
      KsDriftStream.state(spark, tgt)))) === expected)

    // replayed batch (the whole corpus re-applied out of band): still a no-op
    KsDriftStream.applyBatch(spark,
      KsDriftStream.transform(Tables.documents(spark, sf)), tgt)
    assert(rows(KsDriftStream.report(KsDriftStream.histogram(
      KsDriftStream.state(spark, tgt)))) === expected)

    // and the batch-replay query form shares the definition (twins can't drift)
    assert(rows(graft.queries.StreamQueries.queries("stream_ks_drift")(spark, sf))
      === expected)
  }

  test("length-profile monitor: restart + redelivery + replay converge to the batch outlier gate") {
    import graft.streaming.LengthProfileStream
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val src = tmp("lp-src")
    val tgt = tmp("lp-tgt").resolve("state").toString
    val ckp = tmp("lp-ckp").toString

    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"lp-stage-$wave")
      Tables.documents(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$wave-${f.getName}")))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long, Long, Long)] =
      df.orderBy("source").as[(String, Long, Long, Long, Long, Long)].collect().toSeq

    // state accumulates across the checkpointed restart
    arrive("wave1", col("doc_id") < 200)
    LengthProfileStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("doc_id") >= 200)
    LengthProfileStream.start(spark, src.toString, tgt, ckp, compactEvery = 2)
      .awaitTermination()

    val expected = rows(SparkEntry.queries("ext_length_outliers")(spark, sf))
    assert(expected.nonEmpty && expected.forall(r => r._3 > 0))
    assert(rows(LengthProfileStream.report(
      LengthProfileStream.state(spark, tgt))) === expected)

    // redelivered rows (fresh file names, same docs): the idempotent
    // doc-keyed membership merge absorbs them — counts must NOT double
    arrive("wave2again", col("doc_id") >= 200)
    LengthProfileStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(LengthProfileStream.report(
      LengthProfileStream.state(spark, tgt))) === expected)

    // whole corpus re-applied out of band: still a no-op
    LengthProfileStream.applyBatch(spark,
      LengthProfileStream.transform(Tables.documents(spark, sf)), tgt)
    assert(rows(LengthProfileStream.report(
      LengthProfileStream.state(spark, tgt))) === expected)

    // and the batch-replay query form shares the definition (twins can't drift)
    assert(rows(graft.queries.StreamQueries.queries("stream_length_outliers")(spark, sf))
      === expected)
  }

  test("streaming decontamination: verdicts match the batch gate; redelivery and replay are no-ops") {
    import graft.streaming.Decontam
    import spark.implicits._
    val src = tmp("decon-src")
    val tgt = tmp("decon-tgt").resolve("verdicts").toString
    val ckp = tmp("decon-ckp").toString

    // the eval set: one benchmark prompt of 16 tokens — any 13-token window
    // of it is a contaminating shingle
    val evalText = "what is the capital of france and when was the eiffel tower " +
      "finished according to records"
    val evalDocs = Seq((9000L, evalText, "en", "eval", evalText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val contaminated = "noise before the span what is the capital of france and " +
      "when was the eiffel tower finished according to plan and noise after"
    val clean = "the quick brown fox jumps over a lazy dog while the cat watches " +
      "from a warm windowsill nearby every single afternoon"

    def deliver(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = tmp(s"decon-stage-$name")
      rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: one contaminated doc, one clean doc
    val wave1 = Seq((1L, contaminated), (2L, clean))
    deliver("w1", wave1)
    Decontam.start(spark, src.toString, evalDocs, tgt, ckp).awaitTermination()

    // wave 2: wave 1 redelivered (at-least-once) + a new clean doc
    val wave2 = wave1 ++ Seq((3L, clean.replace("fox", "hare") + " entirely"))
    deliver("w2", wave2)
    Decontam.start(spark, src.toString, evalDocs, tgt, ckp).awaitTermination()

    val got = Decontam.state(spark, tgt)
      .select("doc_id", "source", "n_shared", "clean")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)

    // batch answer: the gate run once over everything delivered exactly once
    val all = (wave1 ++ wave2).distinct
      .map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val expect = Decontam.gate(all, Decontam.evalIndex(evalDocs))
      .select("doc_id", "source", "n_shared", "clean")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
    assert(got === expect)
    assert(got.map(t => t._1 -> t._4).toMap === Map(1L -> false, 2L -> true, 3L -> true))
    assert(got.find(_._1 == 1L).get._3 > 0L) // the straddling 13-grams were counted

    // replay with no new data: verdict table unchanged (idempotence)
    Decontam.start(spark, src.toString, evalDocs, tgt, ckp).awaitTermination()
    val again = Decontam.state(spark, tgt)
      .select("doc_id", "source", "n_shared", "clean")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
    assert(again === got)
  }

  test("streaming near-dup: pairs complete across batches and match the batch join") {
    import graft.streaming.NeardupStream
    import spark.implicits._
    val src = tmp("ndup-src")
    val tgt = tmp("ndup-tgt").toString
    val ckp = tmp("ndup-ckp").toString

    val a = "a b c d e f g h"       // 6 shingles
    val b = "a b c d e f g x"       // shares 5 of 7 distinct → J = 5/7
    val c = "p q r s t u v w"       // unrelated

    def deliver(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = tmp(s"ndup-stage-$name")
      rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: doc a alone — no pairs can exist yet
    deliver("w1", Seq((1L, a)))
    NeardupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(NeardupStream.pairState(spark, tgt).count() === 0L)

    // wave 2: near-dup b arrives (+ unrelated c, + a redelivered) —
    // the cross-batch pair (1, 2) must complete now
    deliver("w2", Seq((1L, a), (2L, b), (3L, c)))
    NeardupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val got = NeardupStream.pairState(spark, tgt)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val all = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val expect = graft.operators.Dedup
      .ngramJaccard(all, "text", "doc_id", n = 3, threshold = NeardupStream.Threshold)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    SessionFrames.release(spark)
    assert(got === expect)
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))

    // replay with no new data: state unchanged (idempotence)
    NeardupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val again = NeardupStream.pairState(spark, tgt)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(again === got)
    // the index holds each doc's distinct shingles exactly once
    val idxCounts = NeardupStream.indexState(spark, tgt)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(idxCounts === Map(1L -> 6L, 2L -> 6L, 3L -> 6L))

    // one-state-many-reports: the cross-source matrix off the SAME live
    // pair state + the metadata ledger — all docs are source "web", so
    // the one (1, 2) pair lands in the one diagonal cell with doc 2 (the
    // min-id rule's loser) as its victim
    val xsrc = NeardupStream.crossSource(spark, tgt)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(xsrc === Seq(("web", "web", 1L, 1L, b.length.toLong)))
    // ledger growth class: one metadata row per doc ever delivered
    assert(NeardupStream.metaState(spark, tgt).count() === 3L)
  }

  test("streaming multimodal dedup: image pairs complete across batches; report matches the batch tier") {
    import graft.streaming.MultimodalDedupStream
    import graft.operators.Multimodal
    import spark.implicits._
    val src = tmp("mmd-src")
    val tgt = tmp("mmd-tgt").toString
    val ckp = tmp("mmd-ckp").toString

    // the fixture's stub payload is the text bytes (withMediaColumn), so
    // identical text = identical payload = hamming-0 image pair; the
    // others are unrelated payloads
    val dup = "the very same promotional banner embedded on two mirror pages"
    val other = "an entirely different photograph with its own caption text"
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val staging = tmp(s"mmd-stage-$name")
      rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: the first copy alone — no pairs can exist yet, but the doc
    // ledger already weights it as a singleton
    deliver("w1", Seq((1L, dup, "web")))
    MultimodalDedupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(MultimodalDedupStream.pairState(spark, tgt).count() === 0L)
    assert(MultimodalDedupStream.report(spark, tgt)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
      === Seq((1L, 1L, 1L, 1000000L, true)))

    // wave 2: the second copy arrives from a DIFFERENT source (+ an
    // unrelated image, + the first copy REDELIVERED) — the cross-batch
    // pair (1, 2) must complete now
    deliver("w2", Seq((1L, dup, "web"), (2L, dup, "mirror"), (3L, other, "web")))
    MultimodalDedupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val pairs = MultimodalDedupStream.pairState(spark, tgt)
      .as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 === 0L) // identical payloads: hamming 0

    // the live report equals the batch tier over the union of deliveries
    // (Multimodal.softDedup shared verbatim — one definition)
    val allDocs = Seq((1L, dup), (2L, dup), (3L, other)).toDF("doc_id", "text")
    // one-state-many-reports: the cross-source matrix off the SAME pair
    // state + metadata ledger — the (1, 2) pair crosses web→mirror with
    // doc 2 (the min-id rule's loser) as its victim
    val xsrc = graft.streaming.MultimodalDedupStream.crossSource(spark, tgt)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(xsrc === Seq(("mirror", "web", 1L, 1L, dup.length.toLong)))
    val expect = Multimodal.softDedup(allDocs,
        Multimodal.phashPairs(Multimodal.imageHashes(allDocs)(spark)))
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val got = MultimodalDedupStream.report(spark, tgt)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    SessionFrames.release(spark)
    assert(got === expect)
    assert(got.map(r => (r._1, r._5)) === Seq((1L, true), (2L, false), (3L, true)))

    // replay with no new data: state unchanged (idempotence)
    MultimodalDedupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(MultimodalDedupStream.pairState(spark, tgt)
      .as[(Long, Long, Long)].collect().sortBy(p => (p._1, p._2)).toSeq === pairs)
    // ledger growth class: one doc row per doc ever delivered, 6 band
    // rows per doc in the index — never payload-sized state
    assert(MultimodalDedupStream.docState(spark, tgt).count() === 3L)
  }

  test("streaming multimodal SEMANTIC tier: a rescaled duplicate that escapes the hamming tier completes across batches") {
    import graft.streaming.MultimodalDedupStream
    import graft.operators.Multimodal
    import spark.implicits._
    // the KnnSpec planted construction: cell-granular flat noise (small
    // diffs flip sign between variants → hamming ≫ 5) over a stable
    // strong bottom row (one band intact, cosine ≈ 1)
    def semImage(w: Int, h: Int, variant: Int, pattern: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val gx = x * 11 / w; val gy = y * 6 / h
        val v =
          if (gy == 5) { if (((gx + pattern) % 2) == 0) 230 else 20 }
          else 128 + ((gx * 31 + gy * 37 + variant * 41) % 9) - 4
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, "png", out))
      out.toByteArray
    }
    val a = semImage(64, 48, 0, 0)
    val b = semImage(80, 60, 7, 0) // rescaled + shifted: semantic duplicate
    val c = semImage(64, 48, 3, 1) // different content
    val tgt = tmp("mmsem-tgt").toString
    def docsDf(rows: Seq[(Long, Array[Byte])]) =
      rows.map { case (id, m) => (id, s"payload $id", "en", "web", 0L, m) }
        .toDF("doc_id", "text", "lang", "source", "n_chars", "media")

    // batch 0: first copy + the unrelated image — nothing can pair yet
    MultimodalDedupStream.applyBatch(spark, docsDf(Seq(1L -> a, 3L -> c)), tgt, 0L)
    assert(MultimodalDedupStream.semPairState(spark, tgt).count() === 0L)

    // batch 1: the rescaled duplicate (+ copy 1 REDELIVERED) — the sem
    // pair completes across batches against the batch-0 feature ledger
    MultimodalDedupStream.applyBatch(spark, docsDf(Seq(2L -> b, 1L -> a)), tgt, 1L)
    val sem = MultimodalDedupStream.semPairState(spark, tgt)
      .as[(Long, Long, Double)].collect().toSeq
    assert(sem.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(sem.head._3 >= 0.99)
    // ...and it genuinely ESCAPED the hamming tier (the split the
    // semantic state exists for)
    assert(MultimodalDedupStream.pairState(spark, tgt).count() === 0L)

    // fourth report off the same state: min-id keep on {1,2}, 3 singleton
    val report = MultimodalDedupStream.semReport(spark, tgt)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(report.map(r => (r._1, r._2, r._5)) ===
      Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
    // equals the batch twin over the full corpus (one shared definition)
    val all = docsDf(Seq(1L -> a, 2L -> b, 3L -> c))
    val expect = Multimodal.softDedup(all.select($"doc_id"),
        Multimodal.semPairs(Multimodal.imageFeatures(all)(spark)))
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    SessionFrames.release(spark)
    assert(report === expect)

    // redelivery of everything changes nothing (pure pairs, distinct merge)
    MultimodalDedupStream.applyBatch(spark, all, tgt, 2L)
    assert(MultimodalDedupStream.semPairState(spark, tgt)
      .as[(Long, Long, Double)].collect().toSeq === sem)
    // ledger growth class: one feature row per non-degenerate doc
    assert(MultimodalDedupStream.featState(spark, tgt).count() === 3L)
  }

  test("streaming prefix templates: groups complete across batches and survive redelivery + compaction") {
    import graft.streaming.PrefixDupStream
    import spark.implicits._
    val src = tmp("pfx-src")
    val tgt = tmp("pfx-tgt").resolve("state").toString
    val ckp = tmp("pfx-ckp").toString

    // 8-token template opener shared across docs and sources
    val opener = "the quick brown fox jumps over the lazy"
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val staging = tmp(s"pfx-stage-$name")
      rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: one templated doc + one unique doc — no group yet
    deliver("w1", Seq((1L, s"$opener dog body one", "web"),
      (9L, "completely unrelated text here", "web")))
    PrefixDupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(PrefixDupStream.report(PrefixDupStream.state(spark, tgt)).count() === 0L)

    // wave 2: the second and third copies arrive (one from ANOTHER source),
    // plus doc 1 redelivered — the group must complete, counted once
    deliver("w2", Seq((1L, s"$opener dog body one", "web"),
      (2L, s"$opener dog body two", "web"),
      (3L, s"$opener dog body three", "blog")))
    PrefixDupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    def got() = PrefixDupStream.report(PrefixDupStream.state(spark, tgt))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got() === Seq((opener, 3L, 2L, 1L)))

    // replay with no new data, then compact: report unchanged
    PrefixDupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === Seq((opener, 3L, 2L, 1L)))
    PrefixDupStream.compact(spark, tgt)
    assert(got() === Seq((opener, 3L, 2L, 1L)))
    // compaction collapsed the redelivered membership rows to one per doc
    assert(PrefixDupStream.state(spark, tgt)
      .filter($"prefix" === opener).count() === 3L)
  }

  test("streaming schema profile: a new payload key surfaces with its arrival day; redelivery counts once") {
    import graft.streaming.SchemaProfileStream
    import spark.implicits._
    val src = tmp("shp-src")
    val tgt = tmp("shp-tgt").resolve("state").toString
    val ckp = tmp("shp-ckp").toString

    def deliver(name: String, rows: Seq[(Long, String, String, String)]): Unit = {
      val staging = tmp(s"shp-stage-$name")
      rows.map { case (id, day, tpe, props) =>
        (id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), id % 5, tpe, 1.0, props)
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: the steady shape — every click carries only {"k": …}
    deliver("w1", Seq(
      (1L, "2024-01-01", "click", """{"k": 7}"""),
      (2L, "2024-01-01", "click", """{"k": 9}""")))
    SchemaProfileStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    def got() = SchemaProfileStream.report(SchemaProfileStream.state(spark, tgt))
      .as[(String, String, Long, Long, String, String, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got() === Seq(("click", "k", 2L, 2L, "2024-01-01", "2024-01-01", 1000L)))

    // wave 2: the producer ships a NEW field on day 3 (+ event 1
    // redelivered — the watermarked event-id dedup must kill it, + a
    // keyless payload that must still count in the denominator, + a JSON
    // null value that counts as PRESENCE but not as a distinct value) —
    // the drift signal is the late seen_from
    deliver("w2", Seq(
      (1L, "2024-01-01", "click", """{"k": 7}"""),
      (3L, "2024-01-03", "click", """{"k": 7, "exp": "a"}"""),
      (4L, "2024-01-03", "click", """{}"""),
      (5L, "2024-01-03", "click", """{"exp": null}""")))
    SchemaProfileStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val want = Seq(
      ("click", "exp", 2L, 1L, "2024-01-03", "2024-01-03", 400L),
      ("click", "k", 3L, 2L, "2024-01-01", "2024-01-03", 600L))
    assert(got() === want)

    // restart with no new data: no new batch, report unchanged
    SchemaProfileStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === want)

    // a replayed batch id is refused by the StateCommit marker even with
    // different rows — the additive grid cannot double-count
    val before = got()
    SchemaProfileStream.applyBatch(spark,
      Seq((99L, java.sql.Timestamp.valueOf("2024-01-09 10:00:00"), 0L, "click",
        1.0, """{"k": 1}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      tgt, batchId = 0L)
    assert(got() === before)

    // growth class: the state is the (type, key, val) grid + one total row
    // per type — 5 events landed, but the grid holds only the 4 distinct
    // (key, val) cells ("k"→7, "k"→9, "exp"→"a", "exp"→null) + 1 total
    assert(SchemaProfileStream.state(spark, tgt).count() === 5L)
  }

  test("streaming embed drift: the dim grid accumulates across batches; the id ledger kills redelivery") {
    import graft.streaming.EmbedDriftStream
    import spark.implicits._
    val src = tmp("edr-src")
    val tgt = tmp("edr-tgt").resolve("state").toString
    val ckp = tmp("edr-ckp").toString

    def deliver(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      val staging = tmp(s"edr-stage-$name")
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: even ids = reference slice, odd = current; dim 1 drifts
    deliver("w1", Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 1f)), (2L, Seq(0f, 1f)), (3L, Seq(0f, -1f))))
    EmbedDriftStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    def got() = EmbedDriftStream.report(EmbedDriftStream.state(spark, tgt))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got() === Seq(
      (0L, 2L, 2L, 10000L, 10000L, 0L, 2L),
      (1L, 2L, 2L, 10000L, 0L, -20000L, 1L)))

    // wave 2: vec 1 redelivered (the ledger anti-join must kill it — the
    // additive grid cannot double-count) + one new vector per slice; the
    // drift flips to dimension 0
    deliver("w2", Seq(
      (1L, Seq(1f, 1f)), (4L, Seq(2f, 0f)), (5L, Seq(0f, 2f))))
    EmbedDriftStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val want = Seq(
      (0L, 3L, 3L, 30000L, 10000L, -60000L, 1L),
      (1L, 3L, 3L, 10000L, 20000L, 30000L, 2L))
    assert(got() === want)

    // restart with no new data: no new batch, report unchanged
    EmbedDriftStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === want)

    // a replayed batch id is refused by the grid marker AND the ledger
    // delta guard, even with different rows
    EmbedDriftStream.applyBatch(spark,
      Seq((99L, Seq(9f, 9f))).toDF("vec_id", "embedding"), tgt, batchId = 0L)
    assert(got() === want)

    // ledger compaction changes nothing; growth class: the grid is the
    // dim frame (2 rows), the ledger is one id per delivered vector (6)
    EmbedDriftStream.compact(spark, tgt)
    assert(got() === want)
    assert(EmbedDriftStream.state(spark, tgt).count() === 2L)
    assert(EmbedDriftStream.seenIds(spark, tgt).count() === 6L)
  }

  test("streaming IVF occupancy: cell counts accumulate under the frozen codebook; the ledger kills redelivery") {
    import graft.streaming.IvfOccupancyStream
    import spark.implicits._
    val src = tmp("ivo-src")
    val tgt = tmp("ivo-tgt").resolve("state").toString
    val ckp = tmp("ivo-ckp").toString
    // frozen 2-cell codebook on the snapped 1e-6 grid: cell 0 = x-axis,
    // cell 1 = y-axis — the monitor's contract is assignment against
    // THESE centroids, not retraining
    val cells = Seq(0 -> Array(1000000L, 0L), 1 -> Array(0L, 1000000L))

    def deliver(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      val staging = tmp(s"ivo-stage-$name")
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    deliver("w1", Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f))))
    IvfOccupancyStream.start(spark, src.toString, cells, tgt, ckp).awaitTermination()
    def got() = IvfOccupancyStream.report(IvfOccupancyStream.state(spark, tgt))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got() === Seq(
      (0L, 2L, 666L, 2L, 1L, 1333L),
      (1L, 1L, 333L, 2L, 1L, 1333L)))

    // wave 2: vec 1 redelivered (ledger anti-join) + one new vector per
    // cell — the balance tightens
    deliver("w2", Seq(
      (1L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 1.2f)), (4L, Seq(1f, 0.2f))))
    IvfOccupancyStream.start(spark, src.toString, cells, tgt, ckp).awaitTermination()
    val want = Seq(
      (0L, 3L, 600L, 3L, 2L, 1200L),
      (1L, 2L, 400L, 3L, 2L, 1200L))
    assert(got() === want)

    // restart with no new data, replayed batch id, compaction: unchanged
    IvfOccupancyStream.start(spark, src.toString, cells, tgt, ckp).awaitTermination()
    assert(got() === want)
    IvfOccupancyStream.applyBatch(spark,
      Seq((99L, Seq(9f, 9f))).toDF("vec_id", "embedding"), cells, tgt, batchId = 0L)
    assert(got() === want)
    IvfOccupancyStream.compact(spark, tgt)
    assert(got() === want)
    // growth class: grid = cells (2 rows), ledger = one id per vector (5)
    assert(IvfOccupancyStream.state(spark, tgt).count() === 2L)
    assert(IvfOccupancyStream.seenIds(spark, tgt).count() === 5L)
  }

  test("streaming k-anonymity: the risk grid accumulates across batches; redelivery counts once") {
    import graft.streaming.KAnonymityStream
    import spark.implicits._
    val src = tmp("kan-src")
    val tgt = tmp("kan-tgt").resolve("state").toString
    val ckp = tmp("kan-ckp").toString

    def deliver(name: String, rows: Seq[(Long, String, String, Double)]): Unit = {
      val staging = tmp(s"kan-stage-$name")
      rows.map { case (id, day, tpe, value) =>
        (id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), id % 5, tpe, value, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: two clicks share a class (bucket 0); the purchase is a
    // size-1 class — the dataset is only 1-anonymous from the start
    deliver("w1", Seq(
      (1L, "2024-01-01", "click", 5.0),
      (2L, "2024-01-01", "click", 7.0),
      (3L, "2024-01-01", "purchase", 15.0)))
    KAnonymityStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    def got() = KAnonymityStream.report(KAnonymityStream.state(spark, tgt))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got() === Seq(("1", 1L, 1L, 333L, 1L), ("2-4", 1L, 2L, 666L, 1L)))

    // wave 2: event 1 redelivered (the dedup gate must kill it — the
    // additive class count cannot double) + two more clicks join the
    // bucket-0 class + a new day-2 class
    deliver("w2", Seq(
      (1L, "2024-01-01", "click", 5.0),
      (4L, "2024-01-01", "click", 3.0),
      (5L, "2024-01-01", "click", 9.0),
      (6L, "2024-01-02", "click", 25.0)))
    KAnonymityStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val want = Seq(("1", 2L, 2L, 333L, 1L), ("2-4", 1L, 4L, 666L, 1L))
    assert(got() === want)

    // restart with no new data: no new batch, report unchanged
    KAnonymityStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === want)

    // a replayed batch id is refused by the StateCommit marker
    KAnonymityStream.applyBatch(spark,
      Seq((99L, java.sql.Timestamp.valueOf("2024-01-09 10:00:00"), 0L, "click",
        1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      tgt, batchId = 0L)
    assert(got() === want)

    // growth class: state is the quasi-identifier grid — 3 classes for 7
    // delivered events
    assert(KAnonymityStream.state(spark, tgt).count() === 3L)

    // one-state-many-reports: the t-closeness report off the SAME live
    // grid equals the clean one-shot batch computation over the delivered
    // events (exactly-once state ≡ batch slice)
    val liveT = KAnonymityStream.reportTCloseness(
      KAnonymityStream.state(spark, tgt)).collect().toSeq
    val batchT = KAnonymityStream.reportTCloseness(
      KAnonymityStream.classSlice(spark.read.parquet(src.toString)
        .transform(graft.Tables.normalizeTs)
        .dropDuplicates("event_id"))).collect().toSeq // redelivered wave collapses
    assert(liveT === batchT && liveT.nonEmpty)
  }

  test("streaming URL dedup: variants collapse across batches and survive redelivery + compaction") {
    import graft.streaming.UrlDedupStream
    import spark.implicits._
    val src = tmp("url-src")
    val tgt = tmp("url-tgt").resolve("state").toString
    val ckp = tmp("url-ckp").toString

    def deliver(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = tmp(s"url-stage-$name")
      rows.toDF("doc_id", "raw_url")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: one variant of the page + an unrelated page
    deliver("w1", Seq(
      (1L, "https://www.Example.com/a/?utm_source=feed"),
      (9L, "https://other.org/x")))
    UrlDedupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    def got() = UrlDedupStream.report(UrlDedupStream.state(spark, tgt))
      .as[(String, String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got() === Seq(
      ("example.com/a", "example.com", 1L, 1L, 1L, 1L),
      ("other.org/x", "other.org", 1L, 1L, 9L, 1L)))

    // wave 2: two MORE variants of the same canonical page (scheme/port/
    // tracking noise) from new crawls, doc 1 redelivered — the group must
    // read 3 docs over 3 raw variants, survivor still doc 1
    deliver("w2", Seq(
      (1L, "https://www.Example.com/a/?utm_source=feed"),
      (2L, "HTTP://EXAMPLE.com:80/a"),
      (3L, "https://example.com:443/a?gclid=zz")))
    UrlDedupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val want = Seq(
      ("example.com/a", "example.com", 3L, 3L, 1L, 3L),
      ("other.org/x", "other.org", 1L, 1L, 9L, 1L))
    assert(got() === want)

    // replay with no new data, then compact: report unchanged, and the
    // redelivered membership rows collapse to one per (canon, raw, doc)
    UrlDedupStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === want)
    UrlDedupStream.compact(spark, tgt)
    assert(got() === want)
    assert(UrlDedupStream.state(spark, tgt)
      .filter($"canon_url" === "example.com/a").count() === 3L)
  }

  test("streaming l-diversity: distinct-user classes accumulate; membership absorbs redelivery") {
    import graft.streaming.LDiversityStream
    import spark.implicits._
    val src = tmp("ldv-src")
    val tgt = tmp("ldv-tgt").resolve("state").toString
    val ckp = tmp("ldv-ckp").toString

    def deliver(name: String, rows: Seq[(Long, String, Long, String, Double)]): Unit = {
      val staging = tmp(s"ldv-stage-$name")
      rows.map { case (id, day, user, tpe, value) =>
        (id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), user, tpe, value, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: both clicks in the bucket-0 class belong to ONE user — the
    // class is size-2 but 1-diverse (the case k-anonymity cannot see)
    deliver("w1", Seq(
      (1L, "2024-01-01", 1L, "click", 5.0),
      (2L, "2024-01-01", 1L, "click", 7.0),
      (3L, "2024-01-01", 2L, "purchase", 15.0)))
    LDiversityStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    def got() = LDiversityStream.report(LDiversityStream.state(spark, tgt))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got() === Seq(("1", 2L, 2L, 1000L, 1L)))

    // wave 2: event 1 redelivered (the membership union must absorb it)
    // + two NEW users join the bucket-0 click class (now 3-diverse) + a
    // day-2 class from the already-seen user 1
    deliver("w2", Seq(
      (1L, "2024-01-01", 1L, "click", 5.0),
      (4L, "2024-01-01", 3L, "click", 9.0),
      (5L, "2024-01-01", 4L, "click", 3.0),
      (6L, "2024-01-02", 1L, "click", 25.0)))
    LDiversityStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val want = Seq(("1", 2L, 2L, 666L, 1L), ("2-4", 1L, 3L, 333L, 1L))
    assert(got() === want)

    // restart with no new data, then compact: report unchanged, and the
    // state folds to one row per DISTINCT (class, user) — 5 rows for 7
    // delivered events (the domain-product growth class)
    LDiversityStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === want)
    LDiversityStream.compact(spark, tgt)
    assert(got() === want)
    assert(LDiversityStream.state(spark, tgt).count() === 5L)
  }

  test("streaming DSIR model: token grid accumulates; the doc ledger kills redelivery; stream ≡ one-shot batch") {
    import graft.streaming.DsirModelStream
    import spark.implicits._
    val src = tmp("dsm-src")
    val tgt = tmp("dsm-tgt").resolve("state").toString
    val ckp = tmp("dsm-ckp").toString

    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val staging = tmp(s"dsm-stage-$name")
      rows.toDF("doc_id", "lang", "text")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }
    // the unification property: the maintained model must equal the clean
    // one-shot batch computation over the documents delivered so far
    def oneShot(rows: Seq[(Long, String, String)]) =
      DsirModelStream.report(DsirModelStream.gridSlice(
        rows.toDF("doc_id", "lang", "text")))
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    def got() = DsirModelStream.report(DsirModelStream.state(spark, tgt))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq

    val w1 = Seq((0L, "en", "a b"), (1L, "fr", "a c"))
    deliver("w1", w1)
    DsirModelStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === oneShot(w1))

    // wave 2: doc 1 redelivered (the ledger anti-join must kill it — the
    // additive token counts cannot double) + one new target doc growing
    // the vocab
    deliver("w2", Seq((1L, "fr", "a c"), (2L, "en", "c c d")))
    DsirModelStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val want = oneShot(w1 :+ (2L, "en", "c c d"))
    assert(got() === want)

    // restart with no new data: no new batch, model unchanged
    DsirModelStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(got() === want)

    // a replayed batch id is refused by the grid marker AND the ledger
    // delta guard, even with different rows
    DsirModelStream.applyBatch(spark,
      Seq((99L, "en", "zz zz")).toDF("doc_id", "lang", "text"), tgt, batchId = 0L)
    assert(got() === want)

    // ledger compaction changes nothing; growth class: the grid is the
    // vocab frame (4 tokens), the ledger one id per delivered doc (3)
    DsirModelStream.compact(spark, tgt)
    assert(got() === want)
    assert(DsirModelStream.state(spark, tgt).count() === 4L)
    assert(DsirModelStream.seenIds(spark, tgt).count() === 3L)
  }

  test("inline leveled compaction (compactEvery=1) folds every batch without changing the report") {
    import graft.streaming.PrefixDupStream
    import spark.implicits._
    val src = tmp("pfxc-src")
    val tgt = tmp("pfxc-tgt").resolve("state").toString
    val ckp = tmp("pfxc-ckp").toString
    val opener = "one two three four five six seven eight"
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val staging = tmp(s"pfxc-stage-$name")
      rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }
    deliver("w1", Seq((1L, s"$opener tail a", "web"), (2L, s"$opener tail b", "web")))
    PrefixDupStream.start(spark, src.toString, tgt, ckp, compactEvery = 1)
      .awaitTermination()
    // doc 1 redelivered + a third copy from another source
    deliver("w2", Seq((1L, s"$opener tail a", "web"), (3L, s"$opener tail c", "blog")))
    PrefixDupStream.start(spark, src.toString, tgt, ckp, compactEvery = 1)
      .awaitTermination()
    val got = PrefixDupStream.report(PrefixDupStream.state(spark, tgt))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq((opener, 3L, 2L, 1L)))
    // every batch folded: the state is the compacted base, one row per doc
    assert(PrefixDupStream.state(spark, tgt).count() === 3L)
  }

  test("streaming source caps: min-k per source converges across restart + redelivery") {
    import graft.streaming.SourceCapsStream
    import spark.implicits._
    val src = tmp("caps-src")
    val tgt = tmp("caps-tgt").resolve("state").toString
    val ckp = tmp("caps-ckp").toString
    val k = 3

    def deliver(name: String, rows: Seq[(Long, String)]): Unit = {
      val staging = tmp(s"caps-stage-$name")
      rows.map { case (id, source) => (id, s"text $id", "en", source, 7L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // wave 1: web gets 4 docs (one over the cap already), blog 1
    val wave1 = Seq((10L, "web"), (20L, "web"), (30L, "web"), (40L, "web"), (15L, "blog"))
    deliver("w1", wave1)
    SourceCapsStream.start(spark, src.toString, tgt, ckp, k).awaitTermination()
    assert(SourceCapsStream.state(spark, tgt, k)
      .filter($"source" === "web").select("doc_id").as[Long].collect().sorted
      === Seq(10L, 20L, 30L))

    // wave 2: wave 1 redelivered + a LOWER web id (must displace 30) + new source
    val wave2 = wave1 ++ Seq((5L, "web"), (77L, "wiki"))
    deliver("w2", wave2)
    SourceCapsStream.start(spark, src.toString, tgt, ckp, k).awaitTermination()

    def got() = SourceCapsStream.state(spark, tgt, k)
      .select("doc_id", "source", "rk").as[(Long, String, Long)]
      .collect().sortBy(r => (r._2, r._3)).toSeq
    val all = (wave1 ++ wave2).distinct.toDF("doc_id", "source")
    val expect = SourceCapsStream.capK(all, k)
      .select("doc_id", "source", "rk").as[(Long, String, Long)]
      .collect().sortBy(r => (r._2, r._3)).toSeq
    assert(got() === expect)
    assert(got().filter(_._2 == "web").map(_._1) === Seq(5L, 10L, 20L))

    // replay with no new data, then compact: state unchanged
    SourceCapsStream.start(spark, src.toString, tgt, ckp, k).awaitTermination()
    assert(got() === expect)
    SourceCapsStream.compact(spark, tgt, k)
    assert(got() === expect)
  }

  test("MongoDB connector wiring: option map encodes the reference's watch call") {
    import graft.streaming.MongoSource
    val base = MongoSource.MongoCdc("mongodb://auth-host/", "appdb", "users")

    // default start: latest (the watch default when no token/time, js:246)
    val o = MongoSource.options(base)
    assert(o("spark.mongodb.read.connection.uri") === "mongodb://auth-host/")
    assert(o("spark.mongodb.read.database") === "appdb")
    assert(o("spark.mongodb.read.collection") === "users")
    assert(o("spark.mongodb.read.change.stream.startup.mode") === "latest")
    // the server-side insert+update $match (js:221–223)
    assert(o("spark.mongodb.read.aggregation.pipeline").contains("\"insert\"") &&
      o("spark.mongodb.read.aggregation.pipeline").contains("\"update\"") &&
      o("spark.mongodb.read.aggregation.pipeline").contains("operationType"))
    // fullDocument: updateLookup (js:236)
    assert(o("spark.mongodb.read.change.stream.lookup.full.document") === "updateLookup")

    // startAtOperationTime (js:243–244) → timestamp startup mode, ISO-8601
    val t = MongoSource.options(base.copy(startAtEpochSec = Some(1706745600L)))
    assert(t("spark.mongodb.read.change.stream.startup.mode") === "timestamp")
    assert(t("spark.mongodb.read.change.stream.startup.mode.timestamp.start.at.operation.time")
      === "2024-02-01T00:00:00Z")

    // resume tokens live in the checkpoint (js:241–242 → offset log)
    assert(MongoSource.resumeFrom("/ckpt/run1", None) === "/ckpt/run1")
    intercept[IllegalArgumentException] {
      MongoSource.resumeFrom("/ckpt/run1", Some("82646E..."))
    }

    // the configured reader builds without the connector jar (load() is
    // the only call that needs it)
    MongoSource.reader(spark, base)

    // envelope → canonical event shape (js:160–176)
    import spark.implicits._
    val env = Seq(("insert", java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
      """{"_id": "u7"}""", """{"_id": "u7", "v": 1}"""))
      .toDF("operationType", "clusterTime", "documentKey", "fullDocument")
    val row = MongoSource.fromChangeStream(env)
      .select("op_type", "doc_key", "doc").as[(String, String, String)].collect().head
    assert(row === (("insert", "u7", """{"_id": "u7", "v": 1}""")))
  }

  test("funnel and retention reports behave on EMPTY state (dry stream startup)") {
    import graft.streaming.{FunnelStream, RetentionStream}
    import spark.implicits._
    // funnel: the 1-row aggregate + stack still yields all three stages,
    // each 0 — a dashboard reading a just-started pipeline sees the frame,
    // not an empty result
    val noEvents = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("user_id", "event_type", "ts")
    val f = FunnelStream.report(FunnelStream.userState(noEvents))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(f === Seq((1L, "signup", 0L, 0L), (2L, "click", 0L, 0L), (3L, "purchase", 0L, 0L)))
    // retention: no facts → no cohorts → zero rows (nothing to anchor)
    assert(RetentionStream.report(
      RetentionStream.userWeeks(noEvents)).collect().isEmpty)
  }

  test("incremental funnel: checkpointed restart + redelivery converge to the batch report") {
    import graft.streaming.FunnelStream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("fun-src")
    val tgt = tmp("fun-tgt").resolve("state").toString
    val ckp = tmp("fun-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"fun-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // wave 1, then wave 2 after a restart from the checkpoint — per-user
    // chains spanning the cut must merge across the restart
    arrive("wave1", col("ts") < cut)
    FunnelStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    FunnelStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long)] =
      df.as[(Long, String, Long, Long)].collect().toSeq
    val expected = rows(FunnelStream.report(
      FunnelStream.userState(CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    val got = rows(FunnelStream.report(FunnelStream.state(spark, tgt)))
    assert(expected.head._3 > 0) // the fixture has signups — a real funnel
    assert(got === expected)

    // wave 2 redelivered as fresh files (at-least-once): min-merge makes
    // the replay a no-op
    arrive("wave2again", col("ts") >= cut)
    FunnelStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(FunnelStream.report(FunnelStream.state(spark, tgt))) === expected)
  }

  test("incremental SCD2: checkpointed restart + redelivery converge to the batch history") {
    import graft.streaming.Scd2Stream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("scd-src")
    val tgt = tmp("scd-tgt").resolve("state").toString
    val ckp = tmp("scd-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"scd-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // wave 2 closes intervals wave 1 left open and renumbers nothing it
    // shouldn't: versions spanning the cut must chain across the restart
    arrive("wave1", col("ts") < cut)
    Scd2Stream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    Scd2Stream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Boolean)] =
      df.select(col("user_id"), col("version"), col("event_type"), col("is_current"))
        .as[(Long, Long, String, Boolean)].collect().toSet
    val expected = rows(Scd2Stream.report(
      Scd2Stream.slice(CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(expected.exists(_._2 > 1)) // real multi-version histories
    assert(rows(Scd2Stream.report(Scd2Stream.state(spark, tgt))) === expected)

    // wave 2 redelivered as fresh files (at-least-once): the event_id-keyed
    // set-union merge makes the replay a no-op
    arrive("wave2again", col("ts") >= cut)
    Scd2Stream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(Scd2Stream.report(Scd2Stream.state(spark, tgt))) === expected)
  }

  test("incremental gap-fill: checkpointed restart + redelivery converge to the batch grid") {
    import graft.streaming.GapFillStream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("gf-src")
    val tgt = tmp("gf-tgt").resolve("state").toString
    val ckp = tmp("gf-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"gf-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // wave 2 extends spans wave 1 left short AND retro-fills days between
    // wave-1 observations: the state merge must re-grid, not append
    arrive("wave1", col("ts") < cut)
    GapFillStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    GapFillStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double, Boolean)] =
      df.select(col("user_id"), date_format(col("day"), "yyyy-MM-dd"),
        col("value"), col("observed"))
        .as[(Long, String, Double, Boolean)].collect().toSet
    val expected = rows(GapFillStream.report(
      GapFillStream.slice(CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(expected.exists(!_._4)) // real filled (unobserved) days exist
    assert(rows(GapFillStream.report(GapFillStream.state(spark, tgt))) === expected)

    // wave 2 redelivered as fresh files (at-least-once): the (user, day)
    // argmax merge makes the replay a no-op
    arrive("wave2again", col("ts") >= cut)
    GapFillStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(GapFillStream.report(GapFillStream.state(spark, tgt))) === expected)
  }

  test("incremental retention: checkpointed restart + redelivery converge to the batch report") {
    import graft.streaming.RetentionStream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("ret-src")
    val tgt = tmp("ret-tgt").resolve("facts").toString
    val ckp = tmp("ret-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"ret-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // cohorts anchored in wave 1 accrue activity weeks from wave 2 — the
    // cross-restart continuity the fact-table state must provide
    arrive("wave1", col("ts") < cut)
    RetentionStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    RetentionStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.as[(Long, Long, Long, Long)].collect().toSeq
    val expected = rows(RetentionStream.report(
      RetentionStream.userWeeks(CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(expected.exists(_._2 > 0)) // some cohort retains past week 0
    assert(rows(RetentionStream.report(RetentionStream.state(spark, tgt))) === expected)

    // redelivery: distinct-union makes the replay a no-op
    arrive("wave2again", col("ts") >= cut)
    RetentionStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(RetentionStream.report(RetentionStream.state(spark, tgt))) === expected)
  }

  test("incremental heavy hitters: restart + row redelivery + batch replay all converge") {
    import graft.streaming.HeavyHittersStream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("hh-src")
    val tgt = tmp("hh-tgt").resolve("sketch").toString
    val ckp = tmp("hh-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"hh-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // K=256 > the fixture's distinct users: every per-batch sketch and
    // every merge stays exact, so the maintained state must equal the
    // batch form bit for bit across the restart
    arrive("wave1", col("ts") < cut)
    HeavyHittersStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    HeavyHittersStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.as[(Long, Long)].collect().toSeq
    val clean = CdcPipeline.transform(Tables.eventsRaw(spark, sf))
    val expected = rows(HeavyHittersStream.report(HeavyHittersStream.sketch(clean)))
    assert(expected.nonEmpty)
    assert(rows(HeavyHittersStream.report(
      HeavyHittersStream.state(spark, tgt))) === expected)
    // the state's n row carries the total deduped stream length
    assert(HeavyHittersStream.seenN(
      HeavyHittersStream.state(spark, tgt)) === clean.count())

    // redelivered rows: watermark late-drop + id dedup keep the sketch exact
    arrive("wave2again", col("ts") >= cut)
    HeavyHittersStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(HeavyHittersStream.report(
      HeavyHittersStream.state(spark, tgt))) === expected)

    // replayed BATCH: the transactional guard refuses the re-merge
    HeavyHittersStream.applyBatch(spark, clean, tgt, batchId = 0L)
    assert(rows(HeavyHittersStream.report(
      HeavyHittersStream.state(spark, tgt))) === expected)
  }

  test("incremental value quantiles: restart + row redelivery + batch replay all converge") {
    import graft.streaming.QuantilesStream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("vq-src")
    val tgt = tmp("vq-tgt").resolve("hist").toString
    val ckp = tmp("vq-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"vq-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // the additive histogram must accumulate across the checkpointed restart
    arrive("wave1", col("ts") < cut)
    QuantilesStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    QuantilesStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double, Double, Double)] =
      df.as[(String, Long, Double, Double, Double)].collect().toSeq
    val expected = rows(QuantilesStream.report(QuantilesStream.histogram(
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(expected.nonEmpty && expected.forall(r => r._3 <= r._4 && r._4 <= r._5))
    assert(rows(QuantilesStream.report(QuantilesStream.state(spark, tgt))) === expected)

    // redelivered rows (fresh file names, same events): watermark late-drop
    // + within-watermark id dedup — the additive histogram never sees them
    arrive("wave2again", col("ts") >= cut)
    QuantilesStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(QuantilesStream.report(QuantilesStream.state(spark, tgt))) === expected)

    // replayed BATCH (same id re-applied): the transactional guard refuses it
    QuantilesStream.applyBatch(spark,
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)), tgt, batchId = 0L)
    assert(rows(QuantilesStream.report(QuantilesStream.state(spark, tgt))) === expected)

    // and the maintained histogram must agree with the batch-replay query
    // form (one definition, twins can't drift)
    assert(rows(graft.queries.StreamQueries.queries("stream_value_quantiles")(spark, sf))
      === expected)
  }

  test("ingest benford monitor: digit counts accumulate across restart; replays can't double") {
    import graft.streaming.BenfordStream
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val src = tmp("bf-src")
    val tgt = tmp("bf-tgt").resolve("digits").toString
    val ckp = tmp("bf-ckp").toString
    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"bf-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Double)] =
      df.as[(Long, Long, Double, Double)].collect().toSeq

    arrive("w1", col("ts") < cut)
    BenfordStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("w2", col("ts") >= cut)
    BenfordStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    val expected = rows(BenfordStream.report(BenfordStream.digitCounts(
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(expected.map(_._2).sum > 0)
    assert(rows(BenfordStream.report(BenfordStream.state(spark, tgt))) === expected)

    // redelivered rows die in the watermarked id dedup
    arrive("w2again", col("ts") >= cut)
    BenfordStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(BenfordStream.report(BenfordStream.state(spark, tgt))) === expected)

    // replayed batch dies on the marker guard
    BenfordStream.applyBatch(spark,
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)), tgt, batchId = 0L)
    assert(rows(BenfordStream.report(BenfordStream.state(spark, tgt))) === expected)
  }

  test("incremental top-k leaderboard: restart + row redelivery + batch replay all converge") {
    import graft.streaming.TopkStream
    val sf = "/root/testdata/sf0.001"
    val src = tmp("topk-src")
    val tgt = tmp("topk-tgt").resolve("counts").toString
    val ckp = tmp("topk-ckp").toString

    val cut = Tables.tsLit("2024-01-15 00:00:00")
    def arrive(wave: String, pred: org.apache.spark.sql.Column): Unit = {
      val staging = tmp(s"topk-stage-$wave")
      Tables.events(spark, sf).filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, src.resolve(s"$wave-$i.parquet"))
        }
    }

    // additive counts must accumulate across the checkpointed restart
    arrive("wave1", col("ts") < cut)
    TopkStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    arrive("wave2", col("ts") >= cut)
    TopkStream.start(spark, src.toString, tgt, ckp).awaitTermination()

    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String, Long)] =
      df.as[(String, Long, String, Long)].collect().toSeq
    val expected = rows(TopkStream.report(TopkStream.dailyTypeCounts(
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(expected.nonEmpty && expected.forall(_._2 <= 3))
    assert(rows(TopkStream.report(TopkStream.state(spark, tgt))) === expected)

    // redelivered rows (fresh file names, same events): the watermark
    // late-drop + within-watermark id dedup make the replay a no-op —
    // the additive merge never sees them
    arrive("wave2again", col("ts") >= cut)
    TopkStream.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(rows(TopkStream.report(TopkStream.state(spark, tgt))) === expected)

    // replayed BATCH (same id re-applied): the marker guard refuses it
    val before = rows(TopkStream.report(TopkStream.state(spark, tgt)))
    TopkStream.applyBatch(spark,
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)), tgt, batchId = 0L)
    assert(rows(TopkStream.report(TopkStream.state(spark, tgt))) === before)

    // the SAME streamed state serves the CUSUM report — both reports off
    // one continuously-maintained count table must match their batch forms
    def cusumRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Long, Boolean, Boolean)].collect().toSeq
    val expectedCusum = cusumRows(TopkStream.cusumReport(TopkStream.dailyTypeCounts(
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(cusumRows(TopkStream.cusumReport(TopkStream.state(spark, tgt))) === expectedCusum)

    // ... and the Holt forecast — the THIRD report off the same state
    def holtRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Long, Long, Long)].collect().toSeq
    val expectedHolt = holtRows(TopkStream.holtReport(TopkStream.dailyTypeCounts(
      CdcPipeline.transform(Tables.eventsRaw(spark, sf)))))
    assert(holtRows(TopkStream.holtReport(TopkStream.state(spark, tgt))) === expectedHolt)

    // crash BETWEEN version write and marker flip: reconstruct that exact
    // disk state (new version fully written, marker still naming the old
    // one, old version intact) and replay — the additive merge must come
    // from the still-live old version, never re-merge the orphan: counts
    // must not double
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      Files.createDirectories(to)
      from.toFile.listFiles().foreach(f => Files.copy(f.toPath, to.resolve(f.getName)))
    }
    val markerPath = java.nio.file.Paths.get(tgt + ".applied")
    val liveId = Files.readString(markerPath).trim.toLong
    val liveDir = java.nio.file.Paths.get(s"$tgt.v$liveId")
    val saved = tmp("topk-crash-save").resolve("v")
    copyDir(liveDir, saved)
    val replayBatch = CdcPipeline.transform(Tables.eventsRaw(spark, sf))
      .limit(50).localCheckpoint(true)
    TopkStream.applyBatch(spark, replayBatch, tgt, liveId + 1) // clean apply
    val afterOnce = rows(TopkStream.report(TopkStream.state(spark, tgt)))
    assert(afterOnce !== before, "the extra batch must have changed the counts")
    copyDir(saved, liveDir) // resurrect the pre-crash live version
    Files.writeString(markerPath, liveId.toString) // un-flip the marker
    TopkStream.applyBatch(spark, replayBatch, tgt, liveId + 1) // crash replay
    assert(rows(TopkStream.report(TopkStream.state(spark, tgt))) === afterOnce)
  }

  test("flatMapGroupsWithState sessionization: state survives restart; gap rules match batch") {
    import graft.streaming.Sessionize
    import Sessionize.OpenSession

    // pure state machine: exact-gap chains, beyond-gap splits, prior merges
    assert(Sessionize.merge(1800L, Nil, Seq(1000L, 2800L, 4601L)) ===
      Seq(OpenSession(1000L, 2800L, 2), OpenSession(4601L, 4601L, 1)))
    assert(Sessionize.merge(1800L, Seq(OpenSession(1000L, 2000L, 3)), Seq(3000L)) ===
      Seq(OpenSession(1000L, 3000L, 4))) // prior state extends

    // e2e: one session spans the wave cut — it must emerge as ONE session
    // only if the state store survives the checkpointed restart
    val src = tmp("sess-src")
    val ckp = tmp("sess-ckp").toString
    def sec(hhmm: String): Long =
      java.time.LocalDateTime.parse(s"2024-03-01T$hhmm")
        .toEpochSecond(java.time.ZoneOffset.UTC)
    def utc(hhmm: String): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec(hhmm)))
    def wave(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      import spark.implicits._
      val staging = tmp(s"sess-stage-$name")
      rows.zipWithIndex
        .map { case ((uid, t, _), i) => (i.toLong, utc(t), uid, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }
    def run(): Set[(Long, Long, Long, Long)] = {
      // memory sink can't recover from a checkpoint; foreachBatch can
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
      val stream = spark.readStream.schema(CdcPipeline.eventsFileSchema).parquet(src.toString)
      val q = Sessionize.sessions(CdcPipeline.transform(stream))
        .writeStream.option("checkpointLocation", ckp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Sessionize.UserSession], _: Long) =>
          b.collect().foreach(s => acc.add((s.user_id, s.session_start, s.session_end, s.n_events)))
        }
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      acc.asScala.toSet
    }

    wave("w1", Seq((1L, "10:00", 0L), (1L, "10:10", 0L), (2L, "09:00", 0L), (2L, "09:05", 0L)))
    val emitted1 = run()
    assert(emitted1.isEmpty) // all sessions still open inside wave 1

    // wave 2 (after a restart from the checkpoint): u1 chains 10:20/10:30
    // onto its wave-1 state, then 13:00 closes it; u2's 12:30 closes 09:00-09:05.
    // All still-open sessions have timeout stamps beyond the final watermark
    // (13:00 - 1 h), so the emitted set is exactly the two closed sessions.
    wave("w2", Seq((1L, "10:20", 0L), (1L, "10:30", 0L), (1L, "13:00", 0L), (2L, "12:30", 0L)))
    val emitted2 = run()
    assert(emitted2 === Set(
      (1L, sec("10:00"), sec("10:30"), 4L), // spans the restart: 2+2 events, one session
      (2L, sec("09:00"), sec("09:05"), 2L)))
  }

  test("streaming quality drift: report matches batch; degraded wave flips the flag; replay is a no-op") {
    import graft.streaming.QualityDrift
    import spark.implicits._
    val src = tmp("drift-src")
    val tgt = tmp("drift-tgt").resolve("verdicts").toString
    val ckp = tmp("drift-ckp").toString

    // stopword-rich, varied text → passes the gate; spam → fails it
    val good = "the quick brown fox jumps over a lazy dog while the cat watches " +
      "from a warm windowsill nearby every single afternoon"
    val junk = "buy buy buy buy buy buy buy buy"

    def doc(id: Long, text: String, source: String) =
      (id, text, "en", source, text.length.toLong)
    def deliver(name: String, rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val staging = tmp(s"drift-stage-$name")
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // static baseline: both known sources pass 100% (permille 1000)
    val base = QualityDrift.baseline(Seq(
      doc(100L, good, "web"), doc(101L, good + " indeed", "web"),
      doc(102L, good, "feed"), doc(103L, good + " again", "feed"))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))

    // wave 1: all good; wave 2 redelivers wave 1 (at-least-once) + a junk
    // flood on `feed` + one doc from a source the baseline never saw
    val wave1 = Seq(doc(1L, good, "web"), doc(2L, good + " truly", "feed"))
    deliver("w1", wave1)
    QualityDrift.start(spark, src.toString, tgt, ckp).awaitTermination()
    val report1 = QualityDrift.report(QualityDrift.state(spark, tgt), base,
      graft.queries.StreamQueries.DriftPermille)
      .select("source", "n_docs", "pass_permille", "drift")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(report1 === Array(("feed", 1L, 1000L, false), ("web", 1L, 1000L, false)))

    val wave2 = wave1 ++ Seq(doc(3L, junk, "feed"), doc(4L, junk + " now", "feed"),
      doc(5L, good, "mystery"))
    deliver("w2", wave2)
    QualityDrift.start(spark, src.toString, tgt, ckp).awaitTermination()

    val verdicts = QualityDrift.state(spark, tgt)
    // verdict table equals the batch gate over everything delivered ONCE —
    // the redelivered wave-1 docs collapsed through the keyed merge
    val all = (wave1 ++ wave2).distinct.toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(verdicts.select("doc_id", "source", "n_tokens", "pass")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1) ===
      QualityDrift.gate(all).as[(Long, String, Long, Long)].collect().sortBy(_._1))

    val report2 = QualityDrift.report(verdicts, base,
      graft.queries.StreamQueries.DriftPermille)
      .select("source", "n_docs", "pass_permille", "drift")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(report2 === Array(
      ("feed", 3L, 333L, true),      // junk flood: 1/3 pass vs baseline 1000‰
      ("mystery", 1L, 1000L, true),  // unknown source alarms by definition
      ("web", 1L, 1000L, false)))    // steady source stays quiet

    // replay with no new data: verdict table unchanged (idempotence)
    QualityDrift.start(spark, src.toString, tgt, ckp).awaitTermination()
    assert(QualityDrift.state(spark, tgt).select("doc_id", "source", "n_tokens", "pass")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1) ===
      verdicts.select("doc_id", "source", "n_tokens", "pass")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1))
  }

  test("streaming vocab drift: foreign-language wave flips the flag; replay is a no-op") {
    import graft.streaming.VocabDrift
    import spark.implicits._
    val src = tmp("vdrift-src")
    val tgt = tmp("vdrift-tgt").resolve("verdicts").toString
    val ckp = tmp("vdrift-ckp").toString

    val english = "the cat sat on the mat and the dog sat on the rug"
    val foreign = "der hund liegt auf dem teppich und die katze schläft"

    def doc(id: Long, text: String, source: String) =
      (id, text, "en", source, text.length.toLong)
    def deliver(name: String, rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val staging = tmp(s"vdrift-stage-$name")
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      staging.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, src.resolve(s"$name-${f.getName}")))
    }

    // static vocab + baseline trained on English-only snapshots of both sources
    val refDocs = Seq(
      doc(100L, english, "web"), doc(101L, english + " again", "web"),
      doc(102L, english, "feed"), doc(103L, english + " too", "feed"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vocab = VocabDrift.vocab(refDocs, k = 16)
    SessionFrames.release(spark) // drain vocabTop's tf persist
    assert(vocab.contains("the") && vocab.contains("cat"))
    val base = VocabDrift.baseline(refDocs, vocab)

    // wave 1: in-vocab English arrivals — quiet (a single novel word would
    // already be 70+‰ of a short doc's token mass, past the 50‰ alarm).
    // wave 2 redelivers wave 1 (at-least-once) + a German flood on `feed`
    val wave1 = Seq(doc(1L, english, "web"), doc(2L, "the dog sat on the mat", "feed"))
    deliver("w1", wave1)
    VocabDrift.start(spark, src.toString, tgt, ckp, vocab).awaitTermination()
    val report1 = VocabDrift.report(VocabDrift.state(spark, tgt), base,
      graft.queries.StreamQueries.OovDriftPermille)
      .select("source", "n_docs", "drift")
      .as[(String, Long, Boolean)].collect().sortBy(_._1)
    assert(report1 === Array(("feed", 1L, false), ("web", 1L, false)))

    val wave2 = wave1 ++ Seq(doc(3L, foreign, "feed"), doc(4L, foreign + " ja", "feed"))
    deliver("w2", wave2)
    VocabDrift.start(spark, src.toString, tgt, ckp, vocab).awaitTermination()

    val verdicts = VocabDrift.state(spark, tgt)
    // verdict table equals the batch gate over everything delivered ONCE
    val all = (wave1 ++ wave2).distinct.toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(verdicts.select("doc_id", "source", "n_tokens", "n_oov")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1) ===
      VocabDrift.gate(all, vocab).as[(Long, String, Long, Long)].collect().sortBy(_._1))

    val report2 = VocabDrift.report(verdicts, base,
      graft.queries.StreamQueries.OovDriftPermille)
      .select("source", "n_docs", "drift")
      .as[(String, Long, Boolean)].collect().sortBy(_._1)
    assert(report2 === Array(
      ("feed", 3L, true),   // German flood: OOV token mass jumps past 50‰
      ("web", 1L, false)))  // steady source stays quiet

    // replay with no new data: verdict table unchanged (idempotence)
    VocabDrift.start(spark, src.toString, tgt, ckp, vocab).awaitTermination()
    assert(VocabDrift.state(spark, tgt).select("doc_id", "source", "n_tokens", "n_oov")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1) ===
      verdicts.select("doc_id", "source", "n_tokens", "n_oov")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1))
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2(): Map[(A, B), C] = rows.map { case (a, b, c) => (a, b) -> c }.toMap
  }

  private val Reconcile = graft.operators.Reconcile
}
