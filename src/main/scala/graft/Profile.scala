package graft

import scala.util.control.NonFatal

/** Micro-profiler: times the named queries twice (cold/warm) against a
  * fixture dir. Usage: sbt "runMain graft.Profile <sfDir> <query> [query...]"
  * A run that throws (an unknown query name included) prints
  * `[profile] <name> run<i> failed: <error>` and no time; the other runs
  * go on, the session always stops, and the exit status is 1. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    // process CPU (all threads: local-mode executors included) next to the
    // wall clock, so a co-tenant's steal shows as wall without CPU
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var failed = false
    try args.tail.foreach { n =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val c0 = os.getProcessCpuTime
        try {
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"[profile] $n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
            f" cpu ${(os.getProcessCpuTime - c0) / 1e9}%.2f s")
        } catch {
          case NonFatal(e) =>
            failed = true
            println(s"[profile] $n run$i failed: $e")
        }
      }
      // match Bench's cache hygiene between queries, so a profiled number
      // is comparable to the bench's and later queries don't time under
      // earlier queries' persists/GC pressure. The load print is the
      // 1-MINUTE TRAILING average sampled after the runs — a co-tenant
      // drag indicator for the run bracket, not a per-query attribution
      SessionFrames.release(spark)
      println(f"[profile] $n load_1m_trailing: ${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    } finally spark.stop()
    if (failed) sys.exit(1)
  }
}
