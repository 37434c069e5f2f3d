package org.apache.spark.sql.graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The Spark-internal hooks the benchmark harness needs: draining the
  * asynchronous listener bus (so per-layer counters are complete before a
  * span closes) and listing every registered listener (so a run can show
  * that tracing off registered none). Lives under `org.apache.spark.sql`
  * because these members are package-private there. */
object SparkAccess {

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Class names of every listener on the session: Spark listeners, query
    * execution listeners and streaming query listeners. */
  def listenerClasses(spark: SparkSession): Seq[String] =
    (spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq ++
      spark.streams.listListeners().toSeq).map(_.getClass.getName)
}
