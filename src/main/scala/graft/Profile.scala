package graft
import org.apache.spark.sql.SparkSession

/** Micro-profiler: times the named queries twice (cold/warm) against a
  * fixture dir. Usage: sbt "runMain graft.Profile <sfDir> <query> [query...]" */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { n =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[profile] $n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      // match Bench's cache hygiene between queries, so a profiled number
      // is comparable to the bench's and later queries don't time under
      // earlier queries' persists/GC pressure. The load print is the
      // 1-MINUTE TRAILING average sampled after the runs — a co-tenant
      // drag indicator for the run bracket, not a per-query attribution
      SessionFrames.release(spark)
      println(f"[profile] $n load_1m_trailing: ${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    }
    spark.stop()
  }
}
