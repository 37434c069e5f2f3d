package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small parallelism, UTC, AQE on —
  * same session shape the driver harness uses). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val trees = mutable.Buffer.empty[Path]

  /** A fresh directory `<prefix><random>` under the temp dir. It and
    * everything written under it are deleted when the suite ends. */
  def tmp(prefix: String): Path = trees.synchronized {
    val p = Files.createTempDirectory(prefix)
    trees += p
    p
  }

  // the shared session is never stopped per suite; the suite's temp trees are
  override def afterAll(): Unit = trees.synchronized {
    trees.foreach(p => FileUtils.deleteQuietly(p.toFile))
    trees.clear()
  }

  /** The Spark jobs `body` runs, counted once the listener bus is drained.
    * `body` runs under a job group of its own, and a job counts if it
    * carries that group or none at all (as a job started on a thread that
    * did not inherit the caller's local properties does), so only a job
    * another thread runs under its own group, such as a running stream's,
    * is not charged to `body`. The caller's job group is restored after. */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${java.util.UUID.randomUUID}"
    val saved = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
      .map(k => k -> sc.getLocalProperty(k))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).forall(_ == group))
          jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted by jobsIn")
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, jobs.get)
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) } // null removes the key
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  private var live: SparkSession = _

  /** The sessions' warehouse dir: it outlives every suite, so its tree
    * goes when the test JVM exits. */
  private lazy val warehouse: Path = {
    val p = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(FileUtils.deleteQuietly(p.toFile))
    p
  }

  /** The shared session; a suite that stops it (a session-restart test)
    * gets — and hands every later suite — a fresh one. */
  def session: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped)
      live = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        // managed tables (BucketingSpec) land in tmp, not the repo tree
        .config("spark.sql.warehouse.dir", warehouse.toString)
        .getOrCreate()
    live
  }
}
