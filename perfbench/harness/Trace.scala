package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbench.SparkAccess
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, start, end and the span that caused
  * it (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and written
  * out then; with tracing off every call is a plain pass-through. Spans
  * opened through [[span]] nest on the calling thread; [[record]] adds a
  * span measured elsewhere (a micro-batch timed by Spark's progress). */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { spans += Span(spans.size, stack.headOption.getOrElse(-1), name, 0L, 0L); spans.size - 1 }
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans(id) = spans(id).copy(startNs = t0, endNs = t1) }
      }
    }

  /** Adds a span timed elsewhere, given in epoch milliseconds; returns its id. */
  def record(name: String, parent: Int, startMs: Long, endMs: Long): Int =
    if (!enabled) -1
    else synchronized {
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      spans += Span(spans.size, parent, name, startMs * 1000000L + offsetNs, endMs * 1000000L + offsetNs)
      spans.size - 1
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover, summed over spans of that name. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Per-layer counters read from the harness's own Spark listeners (task
  * metrics, stage/job counts, query planning phases) plus Spark's static
  * codegen metrics. Registered only in traced runs. */
final class Layers(spark: SparkSession) {
  private val c = Layers.Names.map(_ -> new AtomicLong(0L)).toMap
  private def add(name: String, v: Long): Unit = { c(name).addAndGet(v); () }

  private val tasks = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("operators.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("operators.task_cpu_ns", m.executorCpuTime)
        add("operators.task_run_ms", m.executorRunTime)
        add("operators.gc_ms", m.jvmGCTime)
        add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("operators.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("operators.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("Tables.scan_bytes", m.inputMetrics.bytesRead)
        add("Tables.scan_rows", m.inputMetrics.recordsRead)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("operators.stages", 1)
    override def onJobStart(e: SparkListenerJobStart): Unit = add("queries.jobs", 1)
  }

  private val phases = new QueryExecutionListener {
    private def phase(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      add("queries.plan_analysis_ms", ms("analysis"))
      add("queries.plan_optimization_ms", ms("optimization"))
      add("queries.plan_physical_ms", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phase(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phase(qe)
  }

  /** Analysis a Dataset ran eagerly when it was built, before any action. */
  def addAnalysis(df: org.apache.spark.sql.DataFrame): Unit =
    add("queries.plan_analysis_ms", df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L))

  def register(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
  }

  def unregister(): Unit = {
    SparkAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(phases)
  }

  /** Counter values in reporting units, after the listener bus drains. */
  def snapshot(): Map[String, Double] = {
    SparkAccess.drainListenerBus(spark.sparkContext)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "operators.task_cpu_s" -> c("operators.task_cpu_ns").get / 1e9,
      "operators.task_run_s" -> c("operators.task_run_ms").get / 1e3,
      "operators.gc_s" -> c("operators.gc_ms").get / 1e3,
      "queries.plan_analysis_s" -> c("queries.plan_analysis_ms").get / 1e3,
      "queries.plan_optimization_s" -> c("queries.plan_optimization_ms").get / 1e3,
      "queries.plan_physical_s" -> c("queries.plan_physical_ms").get / 1e3,
      "functions.codegen_compiles" -> h.getCount.toDouble,
      // the histogram keeps every sample until its 1028-entry reservoir
      // fills; past that the sum is the mean times the count
      "functions.codegen_compile_ms_sum" -> {
        val s = h.getSnapshot
        if (h.getCount <= s.size) s.getValues.sum.toDouble else s.getMean * h.getCount
      }
    ) ++ Seq("operators.tasks", "operators.stages", "operators.shuffle_write_bytes",
      "operators.shuffle_read_bytes", "operators.spill_bytes", "Tables.scan_bytes",
      "Tables.scan_rows", "queries.jobs").map(k => k -> c(k).get.toDouble)
  }
}

object Layers {
  private val Names = Seq("operators.tasks", "operators.task_cpu_ns", "operators.task_run_ms",
    "operators.gc_ms", "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
    "operators.spill_bytes", "Tables.scan_bytes", "Tables.scan_rows", "operators.stages",
    "queries.jobs", "queries.plan_analysis_ms", "queries.plan_optimization_ms",
    "queries.plan_physical_ms")

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] = {
    val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    d - "functions.codegen_compile_ms_sum" +
      ("functions.codegen_compile_s" -> d("functions.codegen_compile_ms_sum") / 1e3)
  }
}
