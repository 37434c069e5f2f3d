package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The per-commit cost of [[CdcPipeline.applyBatch]], pinned by a Spark
  * listener: one scan of the live version, one scan of the batch's source
  * files, no parquet schema-inference job. */
class CdcCommitSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

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
}
