package graft

import org.apache.spark.sql.functions._

/** Date-partitioned layout: a day predicate must prune to one partition at
  * planning time (PartitionFilters), not scan-and-filter. This is the
  * production layout for the events log — at 100 TB a day filter reads
  * 1/365th of the data or it reads all of it. */
class PartitionSpec extends SparkSpec {

  test("day filter on a date-partitioned events layout prunes partitions") {
    val dir = tmp("events-bydate").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)

    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-05")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    assert(plan.contains("2024-01-05"), plan.take(800))

    val expected = ev.filter(col("day") === "2024-01-05").count()
    assert(q.count() === expected)
    assert(expected > 0)
  }

  test("z-ordered layout: disjoint per-file z-ranges; interleave matches shift/mask reference") {
    import graft.operators.Bucketing
    val dir = tmp("events-zorder").toString
    val dims = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day_idx"))
    Bucketing.zOrderWrite(
      dims.withColumn("z_key", Bucketing.zKey(col("user_id"), col("day_idx"), 16)),
      dir, "user_id", "day_idx", bits = 16, files = 8)

    // the interleave expression agrees with a row-by-row reference
    import spark.implicits._
    val sample = dims.withColumn("z", Bucketing.zKey(col("user_id"), col("day_idx"), 16))
      .select("user_id", "day_idx", "z").as[(Long, Long, Long)].collect()
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    sample.foreach { case (x, y, z) => assert(z === ref(x, y), s"($x, $y)") }

    // each file covers one contiguous, non-overlapping z-range — the
    // property min/max file stats need for 2-D rectangle skipping
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min(col("z_key")), max(col("z_key"))).as[(Long, Long)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) => assert(hiA <= loB, s"overlap: $hiA > $loB")
      case _ => ()
    }

    // round trip: the rectangle slice off the layout equals the direct filter
    val rect = spark.read.parquet(dir)
      .filter(col("user_id").between(40, 80) && col("day_idx").between(5, 12))
    val direct = dims.filter(col("user_id").between(40, 80) && col("day_idx").between(5, 12))
    assert(rect.count() === direct.count())
  }
}
