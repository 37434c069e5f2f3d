package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.operators.Reconcile
import graft.streaming.{CdcPipeline, LagMonitor}

/** The open-loop `cdc_replicate` workload: the live `CdcPipeline.start`
  * (continuous, its fixed 5 s trigger) replicating a seeded change stream
  * into its target.
  *
  * The stream's own first batch loads the seed file into the target (the
  * cold pass); a second, unmeasured batch applies one warm-up drop, so the
  * measured batches do not pay the merge plan's first run. Then one
  * generator thread moves each pre-generated drop into
  * the source directory when it is due: drops fall at fixed offsets after
  * the trigger boundaries, which Spark aligns to multiples of the interval.
  * A second thread polls the target's commit marker, so the time each batch
  * became visible to readers is known without any listener. After the batch
  * holding the last drop commits, the stream stops and a read leg
  * reconciles the live target against the generator's answer with
  * `Reconcile.diffSummary`, once to warm up and then once more timed
  * (three times in a traced run). */
object CdcWorkload {
  private val WatermarkDelayMs = 3600L * 1000 // CdcPipeline.start's withWatermark("ts", "1 hour")

  /** Polls `<target>.applied` and records when each batch id first showed. */
  final class MarkerPoller(target: String, describe: Boolean) extends Thread("marker-poller") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var latest: Long = -1L
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    private val marker = Paths.get(target + ".applied")

    override def run(): Unit = while (running) {
      val id =
        try Files.readString(marker).trim.toLong
        catch { case _: Exception => -1L }
      if (id > latest) {
        val at = Main.nowMs()
        seen.add(Map("batch" -> id, "seen_ms" -> at) ++ (if (describe) version(id) else Map.empty))
        latest = id
      }
      Thread.sleep(5)
    }

    /** Bytes, files and rows of the version directory a commit wrote. */
    private def version(id: Long): Map[String, Any] =
      try {
        val files = Option(new File(s"$target.v$id").listFiles()).toSeq.flatten
          .filter(f => f.getName.endsWith(".parquet"))
        val conf = new Configuration()
        val rows = files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
          try r.getRecordCount finally r.close()
        }.sum
        Map("bytes" -> files.map(_.length).sum, "files" -> files.size, "rows" -> rows)
      } catch { case _: Exception => Map.empty }

    def awaitBatch(id: Long, deadlineMs: Long): Boolean = {
      while (latest < id && Main.nowMs() < deadlineMs) Thread.sleep(5)
      latest >= id
    }

    def finish(): Unit = { running = false; join() }
  }

  private def sleepUntil(ms: Long): Unit = {
    var left = ms - Main.nowMs()
    while (left > 0) { Thread.sleep(left); left = ms - Main.nowMs() }
  }

  def run(o: Main.Opts, tracer: Tracer, jvmUpS: Double): Map[String, Any] = {
    val plan = Files.readAllLines(Paths.get(o.data, "plan.properties")).asScala
      .map(_.split("=", 2)).collect { case Array(k, v) => k.trim -> v.trim }.toMap
    val triggerMs = plan("trigger_ms").toLong
    val perTrigger = plan("drops_per_trigger").toInt
    val drops = Option(new File(o.data, "drops").listFiles()).toSeq.flatten.sortBy(_.getName)
    val src = s"${o.work}/source"
    val target = s"${o.work}/target/live"
    new File(src).mkdirs()
    new File(target).getParentFile.mkdirs()

    val (spark, setups) = Main.setUp(o, jvmUpS) { s =>
      s.read.parquet(s"${o.data}/seed").limit(1).write.format("noop").mode("overwrite").save()
    }
    val layers = if (o.trace) Some(new Layers(spark)) else None
    val monitor = if (o.trace) Some(tracer.span("streaming.lag_attach")(LagMonitor.attach(spark))) else None
    layers.foreach(_.register())
    val poller = new MarkerPoller(target, describe = o.trace)
    poller.start()
    Option(new File(o.data, "seed").listFiles()).toSeq.flatten.foreach { f =>
      Files.move(f.toPath, Paths.get(src, f.getName), StandardCopyOption.ATOMIC_MOVE)
    }

    // cold pass: stream start until the seed batch's commit is visible
    val layersCold0 = layers.map(_.snapshot())
    val startMs = Main.nowMs()
    val q = tracer.span("streaming.start") {
      CdcPipeline.start(spark, src, target, s"${o.work}/checkpoint", availableNow = false)
    }
    val startCallS = (Main.nowMs() - startMs) / 1e3
    val startJobs = layers.map(l => Layers.delta(l.snapshot(), layersCold0.get)("queries.jobs"))
    val seeded = poller.awaitBatch(0, startMs + 150000)
    val seedMs = if (seeded) poller.seen.asScala.head("seen_ms").asInstanceOf[Long] else -1L
    val coldS = if (seeded) (seedMs - startMs) / 1e3 else -1.0
    val layersWarm0 = layers.map(_.snapshot())

    // one unmeasured warm-up batch runs the merge plan before the live phase
    Option(new File(o.data, "warmup").listFiles()).toSeq.flatten.foreach { f =>
      Files.move(f.toPath, Paths.get(src, f.getName), StandardCopyOption.ATOMIC_MOVE)
    }
    val warmedUp = seeded && poller.awaitBatch(1, Main.nowMs() + 60000)

    // live phase: drops due at fixed offsets after aligned trigger boundaries
    val b0 = ((Main.nowMs() + 500) / triggerMs + 1) * triggerMs
    def due(j: Int): Long = b0 + (j / perTrigger) * triggerMs + (j % perTrigger) * triggerMs / perTrigger +
      triggerMs / perTrigger / 2
    val placed = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val generator = new Thread("drop-generator") {
      override def run(): Unit = drops.zipWithIndex.foreach { case (f, j) =>
        sleepUntil(due(j))
        Files.move(f.toPath, Paths.get(src, f.getName), StandardCopyOption.ATOMIC_MOVE)
        placed.add(Map("file" -> f.getName, "drop" -> j, "due_ms" -> due(j), "placed_ms" -> Main.nowMs()))
      }
    }
    sleepUntil(b0)
    val cpuLive0 = Main.processCpuS()
    val layersLive0 = layers.map(_.snapshot())
    val layersCold = layers.map(l => Layers.delta(layersWarm0.get, layersCold0.get))
    generator.start()
    generator.join()
    val lastPlaced = placed.asScala.map(_("placed_ms").asInstanceOf[Long]).maxOption.getOrElse(b0)
    // the batch that lists the source after the last drop landed holds it
    val deadline = lastPlaced + 60000
    var drained = false
    while (!drained && Main.nowMs() < deadline) {
      drained = q.recentProgress.exists(p => p.numInputRows > 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= lastPlaced && poller.latest >= p.batchId)
      if (!drained) Thread.sleep(20)
    }
    val liveEndMs = Main.nowMs()
    val cpuLiveS = Main.processCpuS() - cpuLive0
    val layersLive = layers.map(l => Layers.delta(l.snapshot(), layersLive0.get))
    val watermarkLagS = monitor.flatMap(_.health(q.id)).map { h =>
      (h.lagMs - (b0 - plan("event_origin_ms").toLong) - WatermarkDelayMs) / 1e3
    }
    val progress = q.recentProgress.toSeq.map { p =>
      Map("batch" -> p.batchId, "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    q.stop()
    poller.finish()
    if (seeded) tracer.record("streaming.seed_batch", -1, startMs, seedMs)
    if (warmedUp) tracer.record("streaming.warmup_batch", -1, seedMs,
      poller.seen.asScala.find(_("batch") == 1L).get("seen_ms").asInstanceOf[Long])
    val liveSpan = tracer.record("streaming.live", -1, b0, liveEndMs)
    progress.filter(p => p("input_rows").asInstanceOf[Long] > 0 && p("batch").asInstanceOf[Long] > 1)
      .foreach { p =>
        val start = p("timestamp_ms").asInstanceOf[Long]
        val ms = p("duration_ms").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L)
        tracer.record("streaming.batch", liveSpan, start, start + ms)
      }
    // heap is read only while no batch runs: a batch's checkpointed blocks
    // are freed by Spark's cleaner some time after it commits
    val heap = ArrayBuffer(Main.oldGenAfterGcMb())
    layers.foreach(_.unregister())

    // read leg: reconcile the live target against the generator's answer
    val fields = Seq("event_id", "ts", "event_type", "props", "op_type").map(Reconcile.plain) :+
      Reconcile.cents("value")
    val expected = spark.read.parquet(s"${o.data}/expected.parquet")
    // the first read warms the plan up; a traced run then alternates
    // untraced, traced, untraced, to measure the tracing overhead
    val reads = (0 to (if (o.trace) 3 else 1)).map { i =>
      val traced = o.trace && i % 2 == 0 && i > 0
      val tr = if (traced) tracer else new Tracer(false)
      if (traced) layers.get.register()
      val before = if (traced) layers.get.snapshot() else Map.empty[String, Double]
      val t0 = System.nanoTime()
      val row = tr.span("operators.reconcile") {
        val live = tr.span("streaming.state")(CdcPipeline.state(spark, target))
        val diff = Reconcile.diffSummary(expected, live, "user_id", fields)
        if (traced) layers.get.addAnalysis(diff)
        diff.collect().head
      }
      val s = (System.nanoTime() - t0) / 1e9
      val rec = Map("read_s" -> s, "warm_up" -> (i == 0), "total_compared" -> row.getLong(0),
        "with_differences" -> row.getLong(1), "traced" -> traced)
      if (traced) {
        val d = Layers.delta(layers.get.snapshot(), before)
        layers.get.unregister()
        rec + ("layers" -> d)
      } else rec
    }
    heap += Main.oldGenAfterGcMb()
    val listenersAtEnd = Main.listeners(spark)
    spark.stop()
    Map("workload" -> o.workload, "trace" -> o.trace, "setups_s" -> setups,
      "seeded" -> seeded, "warmed_up" -> warmedUp, "cold_s" -> coldS, "b0_ms" -> b0, "live_end_ms" -> liveEndMs,
      "drained" -> drained, "live_cpu_s" -> cpuLiveS, "trigger_ms" -> triggerMs,
      "drops" -> placed.asScala.toList, "markers" -> poller.seen.asScala.toList,
      "progress" -> progress, "reads" -> reads, "heap_old_after_gc_mb" -> heap.toList,
      "start_call_s" -> startCallS, "start_jobs" -> startJobs, "layers_cold" -> layersCold,
      "layers_live" -> layersLive, "watermark_lag_s" -> watermarkLagS,
      "listeners_at_end" -> listenersAtEnd)
  }
}
