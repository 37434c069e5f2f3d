package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small parallelism, UTC, AQE on —
  * same session shape the driver harness uses). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; never stopped per-suite
}

object SparkSpec {
  private var live: SparkSession = _

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
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
        .getOrCreate()
    live
  }
}
