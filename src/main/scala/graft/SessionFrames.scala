package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one home of reused state — the reference keeps its resumable state
  * in a single checkpoint record (js:104, js:110, js:273–276); graft keeps
  * every frame, value and directory it reuses across calls here.
  *
  * Two lifetimes:
  *  - SESSION-SHARED entries, derived from a fixture dir and reused by every
  *    query of the session: checkpointed [[frame]]s, driver-side
  *    [[value]]s (codebooks, models, merge lists, the tables' inferred
  *    parquet schemas) and [[dir]]s (re-laid-out copies of a table). An
  *    entry is valid only for the SparkContext it was built in and the
  *    fixture FINGERPRINT it was built from (every table file's byte size
  *    and modification time, read through Hadoop `FileSystem`). A lookup
  *    that finds an entry from a stopped context or an older fingerprint
  *    releases that entry's blocks or directory and rebuilds, so a
  *    regenerated fixture or a restarted session can never be served stale
  *    frames.
  *  - PER-QUERY intermediates, persisted by operators via [[track]] and
  *    dropped by [[release]] — the drain Bench, Verify and Profile run
  *    between queries. The returned queries are lazy, so an operator cannot
  *    know when its caller is done: materialize the result, then release.
  *    Single sequential caller: release drops the intermediates of every
  *    in-flight pipeline, so call it between, never during, pipeline runs.
  *    Session-shared entries survive it.
  */
object SessionFrames {

  private final case class Entry(sc: SparkContext, fingerprint: Seq[(String, Long, Long)],
                                 value: Any, drop: () => Unit)

  /** One entry per (fixture dir, name); guarded by this object's monitor,
    * which is reentrant, so a builder may look up the entries it derives
    * from. */
  private val entries = scala.collection.mutable.HashMap.empty[(String, String), Entry]

  private def shared[T](s: SparkSession, d: String, name: String)(build: => T)
                       (drop: T => Unit): T = synchronized {
    val sc = s.sparkContext
    val fp = fingerprint(s, d)
    entries.get((d, name)) match {
      case Some(e) if (e.sc eq sc) && !sc.isStopped && e.fingerprint == fp =>
        e.value.asInstanceOf[T]
      case stale =>
        stale.foreach { e => entries.remove((d, name)); e.drop() }
        val v = build
        entries((d, name)) = Entry(sc, fp, v, () => drop(v))
        v
    }
  }

  /** Every table file under `d` with its byte size and modification time.
    * Plain `listStatus`, run on every lookup: located statuses
    * (`listFiles`) make the local filesystem load each file's owner and
    * permissions — ~35 ms per fingerprint of a 10-table fixture against
    * ~0.3 ms this way. */
  private def fingerprint(s: SparkSession, d: String): Seq[(String, Long, Long)] = {
    val root = new HPath(d)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tables = Tables.all.map(t => s"$t.parquet").toSet
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    fs.listStatus(root).toSeq.filter(st => tables(st.getPath.getName)).flatMap(files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
  }

  /** A fixture-derived frame, `localCheckpoint`ed once per (context,
    * fingerprint, name): readers scan the checkpoint blocks, never the
    * lineage. The blocks are released when the entry goes stale. */
  def frame(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame =
    shared(s, d, name)(build.localCheckpoint(eager = true)) { df =>
      if (!df.sparkSession.sparkContext.isStopped) releaseBlocks(df)
    }

  /** A fixture-derived driver-side value (trained model, codebook, merge
    * list, inferred table schema), built once per (context, fingerprint,
    * name). */
  def value[T](s: SparkSession, d: String, name: String)(build: => T): T =
    shared(s, d, name)(build)(_ => ())

  /** A fixture-derived directory: `write` fills a fresh temp dir once per
    * (context, fingerprint, name). The dir is deleted when the entry goes
    * stale; all of them go with the JVM (one shutdown hook). */
  def dir(s: SparkSession, d: String, name: String)(write: String => Unit): String =
    shared(s, d, name) {
      val out = Files.createTempDirectory(dirRoot, s"$name-")
      try write(out.toString) catch { case e: Throwable => deleteTree(out); throw e }
      out
    }(deleteTree).toString

  private lazy val dirRoot: Path = {
    val root = Files.createTempDirectory("graft-frames-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    root
  }

  private def deleteTree(p: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Drop the block-manager blocks behind a `localCheckpoint`ed frame (its
    * analyzed plan is a leaf `LogicalRDD` over the persisted RDD). */
  private[graft] def releaseBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist a per-query operator intermediate (read more than once by the
    * query's plan) until the next [[release]]. */
  def track(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.add(df)
    df
  }

  /** The between-queries drain: unpersist every [[track]]ed frame and clear
    * the session's cache. Session-shared entries are untouched. */
  def release(s: SparkSession): Unit = {
    var df = tracked.poll()
    while (df != null) {
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)
      df = tracked.poll()
    }
    s.catalog.clearCache()
  }
}
