package graft

/** Plan-audit tool: prints the formatted physical plan of the named queries
  * (all queries when none given). Usage:
  *   sbt "runMain graft.Explain <sfDir> [query ...]"
  * Look for: BroadcastHashJoin on dim joins, SortMergeJoin on fact joins,
  * PushedFilters/ReadSchema on scans, wide WholeStageCodegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession("8")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
