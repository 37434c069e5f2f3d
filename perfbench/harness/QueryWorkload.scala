package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The closed-loop query workloads (`olap_cdc`, `llm_ops`): one client runs
  * the listed `SparkEntry.queries`, each pass in its own order drawn from
  * the seed (so a run's figures average over orders), one cold pass in a
  * fresh session, a fixed number of untimed warm-up passes (the JIT is
  * still compiling Spark's planner and scheduler for the first few), and
  * then warm passes until the measuring time is used, each output written
  * to the `noop` sink as `graft.Bench` does. A query
  * that throws is recorded as failed with no time. After the timed passes
  * every query's output is written once as parquet for the output
  * correctness checks. */
object QueryWorkload {
  /** A query that always throws; listed only by the harness's own tests. */
  val PlantedFailure = "__planted_throw__"

  def run(o: Main.Opts, tracer: Tracer, jvmUpS: Double): Map[String, Any] = {
    val names = Files.readAllLines(Paths.get(o.queries)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val catalog: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries +
      (PlantedFailure -> ((_: SparkSession, _: String) => throw new IllegalStateException("planted failure")))
    // fixture warm-up: every table's listing and footer, and one first job
    val (spark, setups) = Main.setUp(o, jvmUpS) { s =>
      graft.Tables.all.foreach(t => graft.Tables.table(s, o.data, t).schema)
      graft.Tables.events(s, o.data).limit(1).write.format("noop").mode("overwrite").save()
    }
    val layers = if (o.trace) Some(new Layers(spark)) else None
    val untraced = new Tracer(false)
    val orders = new scala.util.Random(o.seed)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var listenersInCold = Seq.empty[String]

    def runOne(pass: Int, name: String, tr: Tracer): Unit = {
      val traced = tr.enabled
      var buildS = 0.0
      var delta = Map.empty[String, Double]
      var error: String = null
      val before = if (traced) layers.get.snapshot() else Map.empty[String, Double]
      val t0 = System.nanoTime()
      try tr.span("query") {
        val df = tr.span("queries.build")(catalog(name)(spark, o.data))
        buildS = (System.nanoTime() - t0) / 1e9
        if (traced) {
          layers.get.addAnalysis(df)
          delta = Layers.delta(layers.get.snapshot(), before)
        }
        tr.span("execute")(df.write.format("noop").mode("overwrite").save())
      } catch { case e: Throwable => error = e.toString.take(500) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val rec = Map("name" -> name, "pass" -> pass, "wall_s" -> wallS, "build_s" -> buildS,
        "ok" -> (error == null), "error" -> Option(error), "traced" -> traced)
      ops += (if (traced) rec ++ Map("build_jobs" -> delta.getOrElse("queries.jobs", 0.0),
        "layers" -> Layers.delta(layers.get.snapshot(), before)) else rec)
    }

    def runPass(pass: Int, kind: String, traced: Boolean): Unit = {
      val tr = if (traced) tracer else untraced
      if (traced) layers.get.register()
      val before = if (traced) layers.get.snapshot() else Map.empty[String, Double]
      val order = orders.shuffle(names)
      val cpu0 = Main.processCpuS()
      val t0 = System.nanoTime()
      tr.span("pass")(order.foreach(runOne(pass, _, tr)))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = Main.processCpuS() - cpu0
      val rec = Map("pass" -> pass, "kind" -> kind,
        "wall_s" -> wallS, "cpu_s" -> cpuS, "traced" -> traced)
      passes += (if (traced) rec + ("layers" -> Layers.delta(layers.get.snapshot(), before)) else rec)
      if (pass == 0) listenersInCold = Main.listeners(spark)
      if (traced) layers.get.unregister()
    }

    runPass(0, "cold", o.trace)
    val heap = ArrayBuffer(Main.oldGenAfterGcMb())
    (1 to o.warmupPasses).foreach(runPass(_, "warmup", traced = false))
    val warm0 = System.nanoTime()
    var timed = 0
    // in a traced run the warm passes alternate untraced/traced, starting
    // and ending untraced, so each traced pass has an untraced pass on
    // either side to measure the tracing overhead against
    val minPasses = if (o.trace) 2 * o.warmPasses - 1 else o.warmPasses
    while (timed < minPasses || (System.nanoTime() - warm0) / 1e9 < o.seconds) {
      runPass(1 + o.warmupPasses + timed, "warm", o.trace && timed % 2 == 1)
      timed += 1
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    heap += Main.oldGenAfterGcMb()

    val captures = names.distinct.map { name =>
      val err =
        try { catalog(name)(spark, o.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${o.work}/outputs/$name"); None }
        catch { case e: Throwable => Some(e.toString.take(500)) }
      name -> err
    }.toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val listenersAtEnd = Main.listeners(spark)
    spark.stop()
    Map("workload" -> o.workload, "trace" -> o.trace, "setups_s" -> setups,
      "ops" -> ops.toList, "passes" -> passes.toList, "warm_phase_s" -> warmS,
      "heap_old_after_gc_mb" -> heap.toList, "capture_errors" -> captures, "oracle_sql" -> oracle,
      "listeners_in_cold" -> listenersInCold, "listeners_at_end" -> listenersAtEnd)
  }
}
