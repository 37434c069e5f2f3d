package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.SparkAccess

/** Benchmark harness entry: runs one workload against the graft library and
  * writes every raw measurement as JSON. `perfbench/run.py`
  * generates the inputs, checks the outputs and computes the statistics.
  *
  * `--workload W --data DIR --work DIR --out FILE --seconds S --trace 0|1
  *  [--queries FILE] [--seed N] [--setups N] [--warmup-passes N] [--warm-passes N]` */
object Main {
  final case class Opts(workload: String, data: String, work: String, out: String,
                        seconds: Double, trace: Boolean, queries: String, seed: Long, setups: Int,
                        warmupPasses: Int, warmPasses: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("queries", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("setups", "3").toInt,
      m.getOrElse("warmup-passes", "0").toInt, m.getOrElse("warm-passes", "3").toInt)
  }

  def main(args: Array[String]): Unit = {
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = parse(args)
    val tracer = new Tracer(o.trace)
    val out = o.workload match {
      case "cdc_replicate" => CdcWorkload.run(o, tracer, jvmUpS)
      case "olap_cdc" | "llm_ops" => QueryWorkload.run(o, tracer, jvmUpS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spans = Map("spans" -> tracer.toJson, "self_s" -> tracer.selfSeconds)
    Files.writeString(Paths.get(o.out), Json(out ++ spans))
    sys.exit(0)
  }

  /** A local[4] session configured as `graft.Bench` configures its own. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set up `o.setups` times (session bring-up + `warm`), keeping the last
    * session. The first set-up also carries the JVM's start-up time. */
  def setUp(o: Opts, jvmUpS: Double)(warm: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to o.setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      warm(spark)
      (System.nanoTime() - t0) / 1e9 + (if (i == 1) jvmUpS else 0.0)
    }
    (spark, times)
  }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Old-generation heap in use right after a full collection, in MB.
    * Spark's reference-queue cleaner frees blocks and broadcasts only after
    * a collection has found their owners unreachable, so collections repeat
    * until one frees less than 1 MB more than the last. */
  def oldGenAfterGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    var last = Double.MaxValue
    var cur = collect()
    var i = 0
    while (cur < last - 1.0 && i < 8) {
      last = cur
      Thread.sleep(200)
      cur = collect()
      i += 1
    }
    cur
  }

  def listeners(spark: SparkSession): Seq[String] = SparkAccess.listenerClasses(spark)

  def nowMs(): Long = System.currentTimeMillis()
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
