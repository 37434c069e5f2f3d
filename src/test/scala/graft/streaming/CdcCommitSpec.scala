package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.SparkSpec

/** The per-commit cost of [[CdcPipeline.applyBatch]], pinned by a Spark
  * listener: one scan of the live version, one scan of the batch's source
  * files, no parquet schema-inference job. And the per-batch cost of the
  * live [[CdcPipeline.start]] loop: the batch's files are listed on the
  * driver, with no listing job, while the query stays the caller's. */
class CdcCommitSpec extends SparkSpec {

  /** Rows out of every parquet file scan (the scan nodes' own row metric,
    * found through each SQL execution's plan), every task's input records
    * (scans plus block-manager reads), and each job's RDD lineage. */
  private final class CommitListener extends SparkListener {
    private val scanMetricIds = mutable.Set.empty[Long]
    private val scanUpdates = mutable.ArrayBuffer.empty[(Long, Long)]
    var recordsRead = 0L
    val jobs = mutable.ArrayBuffer.empty[Seq[String]]

    private def collectScans(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan parquet"))
        p.metrics.filter(_.name == "number of output rows").foreach(m => scanMetricIds += m.accumulatorId)
      p.children.foreach(collectScans)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => collectScans(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => collectScans(u.sparkPlanInfo)
        case _ =>
      }
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += j.stageInfos.flatMap(_.rddInfos.map(_.name))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskMetrics != null) recordsRead += t.taskMetrics.inputMetrics.recordsRead
      t.taskInfo.accumulables.foreach { a =>
        a.update.foreach(v => scanUpdates += (a.id -> v.toString.toLong))
      }
    }

    def scanRows: Long = synchronized {
      scanUpdates.collect { case (id, v) if scanMetricIds.contains(id) => v }.sum
    }
  }

  test("a CDC commit scans the live version once and the batch's files once, with no schema inference") {
    import spark.implicits._
    val root = tmp("cdc-commit")
    val target = root.resolve("target").toString
    def events(ids: Range, user: Long => Long, day: String) = ids.map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"$day 00:00:00"), user(i.toLong), "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // an existing N-row target, committed by the pipeline's own seed batch
    val n = 5000L
    events(0 until n.toInt, identity, "2024-01-01").write.parquet(s"$root/seed")
    CdcPipeline.applyBatch(spark, CdcPipeline.transform(spark.read.parquet(s"$root/seed")), target, 0L)

    // the batch: four files, 300 keys written twice each, 250 of them
    // existing keys and 50 new ones
    val batchRows = 600L
    events(n.toInt until (n + batchRows).toInt, i => (i % 300) * 20, "2024-01-02")
      .repartition(4).write.parquet(s"$root/batch")
    val batch = CdcPipeline.transform(spark.read.parquet(s"$root/batch"))

    val l = new CommitListener
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      CdcPipeline.applyBatch(spark, batch, target, 1L)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)

    assert(l.scanRows === n + batchRows,
      "the live version and the batch's files must each be scanned exactly once")
    // footer inference is the one job in a commit that runs over a
    // parallelized list of files rather than over a scan
    assert(!l.jobs.exists(_.contains("ParallelCollectionRDD")),
      s"no parquet schema-inference job may run in the commit: ${l.jobs.map(_.mkString(" <- "))}")
    // block-manager reads (input records beyond the scans) are the batch
    // frame's, read by the anti-join keys and the union; nothing
    // target-sized is materialized and read back
    assert(l.recordsRead - l.scanRows <= 2 * batchRows)

    val expected = CdcPipeline.transform(events(0 until n.toInt, identity, "2024-01-01")
      .unionByName(spark.read.parquet(s"$root/batch")))
    val want = graft.operators.CdcOps.lastWriteWins(expected, "user_id", "ts", "event_id")
    val got = CdcPipeline.state(spark, target)
    assert(got.count() === want.count())
    assert(got.select("user_id", "event_id").except(want.select("user_id", "event_id")).isEmpty)
  }

  /** Every Spark job's stream run id (a stream runs its jobs in a job
    * group named by it), micro-batch id (None outside a stream or before
    * its batch is planned) and description. */
  private final case class Job(run: Option[String], batch: Option[Long], description: String)
  private final class JobListener extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      jobs += Job(prop("spark.jobGroup.id"), prop(MicroBatchExecution.BATCH_ID_KEY).map(_.toLong),
        prop("spark.job.description").getOrElse(""))
    }
  }

  /** What the caller's streaming listeners hear, per run of a query: on
    * its start, whether it was among the caller's active queries; its
    * progress reports as (batch id, input rows). */
  private final class QueryEvents(active: java.util.UUID => Boolean) extends StreamingQueryListener {
    val started = mutable.Map.empty[java.util.UUID, Boolean]
    val progress = mutable.ArrayBuffer.empty[(java.util.UUID, Long, Long)]
    override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized { started(e.runId) = active(e.id) }
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      progress += ((e.progress.runId, e.progress.batchId, e.progress.numInputRows))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  test("a live CDC batch of more than 32 files lists them on the driver and runs 4 jobs; the query stays the caller's") {
    import spark.implicits._
    val root = tmp("cdc-listing")
    val src = Files.createDirectories(root.resolve("source"))
    val target = root.resolve("target").toString
    val checkpoint = root.resolve("checkpoint").toString
    val files = 40 // over the default parallel-listing threshold of 32

    // each wave is written to its own staging dir and lands flat in the
    // source dir while no query runs, so each start takes exactly one batch
    def stage(wave: Int, user: Long => Long, day: String): Seq[java.io.File] = {
      val dir = root.resolve(s"stage-$wave").toString
      (0 until 400).map { i =>
        (wave * 1000L + i, java.sql.Timestamp.valueOf(s"$day 00:00:00"), user(i.toLong), "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(files).write.parquet(dir)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    }
    def land(wave: Int, parts: Seq[java.io.File]): Unit =
      parts.zipWithIndex.foreach { case (f, i) => Files.move(f.toPath, src.resolve(s"w$wave-$i.parquet")) }

    // wave 0 seeds the target; wave 1 writes 200 keys twice each: 150
    // existing keys and 50 new ones
    val wave0 = stage(0, identity, "2024-01-01")
    val wave1 = stage(1, i => (i % 200) * 2 + 100, "2024-01-02")
    assert(wave0.size === files && wave1.size === files)
    land(0, wave0)

    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    def conf = spark.conf.getAll.filter(_._1 != nanosKey)
    val confBefore = conf
    val thresholdKey = SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key
    val thresholdBefore = spark.conf.get(thresholdKey)
    val listingJobsBefore = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount

    val jobs = new JobListener
    val events = new QueryEvents(id => spark.streams.active.exists(_.id == id))
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(events)
    val (seed, live) = try {
      val seed = CdcPipeline.start(spark, src.toString, target, checkpoint)
      seed.awaitTermination()
      land(1, wave1)
      val live = CdcPipeline.start(spark, src.toString, target, checkpoint)
      live.awaitTermination()
      ListenerBusAccess.drain(spark.sparkContext)
      (seed, live)
    } finally {
      spark.streams.removeListener(events)
      spark.sparkContext.removeSparkListener(jobs)
    }

    assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount === listingJobsBefore,
      "a batch's files must be listed on the driver, not by a Spark job")
    assert(!jobs.jobs.exists(_.description.startsWith("Listing leaf files")), jobs.jobs)
    // the restarted run plans and commits batch 1 in 4 jobs: the batch
    // frame's checkpoint (AQE runs its shuffle stage as a job of its own),
    // the broadcast of its keys, one write. A re-list of the last committed
    // batch's files on restart, or of batch 1's in `getBatch`, would run
    // under the same run id.
    val liveJobs = jobs.jobs.filter(_.run.contains(live.runId.toString))
    assert(liveJobs.size === 4 && liveJobs.forall(_.batch.contains(1L)), liveJobs)

    assert(spark.conf.get(thresholdKey) === thresholdBefore)
    assert(conf === confBefore, "start must leave the caller's conf as it was")
    assert(events.started.get(seed.runId).contains(true) && events.started.get(live.runId).contains(true),
      "each run must register with the caller's session")
    assert(events.progress.contains((seed.runId, 0L, 400L)), events.progress)
    assert(events.progress.contains((live.runId, 1L, 400L)), events.progress)

    val want = graft.operators.CdcOps.lastWriteWins(
      CdcPipeline.transform(spark.read.parquet(src.toString)), "user_id", "ts", "event_id")
    val got = CdcPipeline.state(spark, target)
    assert(got.count() === 450L)
    assert(got.select("user_id", "event_id").except(want.select("user_id", "event_id")).isEmpty)
  }
}
