package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, Join, LogicalPlan, Project, ResolvedHint, SubqueryAlias, UnaryNode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Fixture table loaders and the CDC view over `events`.
  *
  * The reference engine (`/root/reference/mongodb-cdc-program.js`) processes a
  * MongoDB change stream whose events carry `operationType` ∈
  * {insert, update, delete} (js:160–177); deletes are dropped by design
  * (js:159, js:221–223). The `events` fixture stands in for that change log
  * (FIXTURES.md): we map `event_type` onto CDC op types
  * (signup→insert, error→delete, otherwise→update) so every CDC operator can
  * be expressed — and oracle-checked — over the fixture.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Open one fixture table, `<sfDir>/<name>.parquet` — the one loader every
    * fixture read goes through.
    *
    * Parquet schema inference is a Spark job (a one-task footer read), so
    * the inferred schema is a [[SessionFrames.value]]: inferred on the first
    * open per (SparkContext, fixture fingerprint) and handed to
    * `read.schema(..)` on every open, which still lists the table's files on
    * the driver but launches no job. A table rewritten in place changes the
    * fingerprint, so its next open re-infers.
    *
    * The entry is also keyed by the session's values of [[inferenceConfs]],
    * the settings that change what inference returns for the same files
    * (a BINARY column read as string, an INT96 or NANOS column as a
    * timestamp or a long, NTZ vs LTZ timestamps, one footer vs the merge of
    * all). Without them, a session that flips one, or a cloned session
    * with other settings, would be served a schema inferred under different
    * ones. The nanos flag the events table needs is armed here, before the
    * key is formed, so a table opened before the first events read is not
    * inferred again after it. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    ensureNanosAsLong(spark)
    val path = s"$sfDir/$name.parquet"
    val key = inferenceConfs.map(spark.conf.get).mkString(s"schema:$name:", ",", "")
    val schema = SessionFrames.value(spark, sfDir, key)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The SQL confs that change the schema parquet inference returns. */
  private val inferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** The nanos-as-long legacy flag the events reader needs. Set at most ONCE
    * per session (check-then-set): repeated blind writes to a shared
    * session's conf from a table loader are surprising side effects; a
    * caller who deliberately unset the flag keeps the PARQUET_TYPE_ILLEGAL
    * error instead of having it silently re-enabled mid-query. */
  private[graft] def ensureNanosAsLong(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
  }

  /** Normalize the events `ts` column to TimestampType whichever physical
    * encoding the fixture generation used. Fixture generations have shipped
    * `ts` two ways: TIMESTAMP(NANOS) — unreadable as a Spark timestamp
    * (PARQUET_TYPE_ILLEGAL), so it arrives here as INT64 nanos via the
    * nanosAsLong flag and is truncated to micros (integer div — a double div
    * would lose precision on ~1.7e18 nanos) — and native TIMESTAMP(MICROS),
    * which needs no conversion. Branching on the observed type keeps every
    * events consumer correct across fixture regenerations. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ => df
  }

  /** The events fixture as stored on disk (`ts` NOT yet normalized). */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")

  /** The events fixture with `ts` normalized to TimestampType. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(eventsRaw(spark, sfDir))

  /** Events restricted to `[loSec, hiSec)` with the range applied to the RAW
    * stored column BEFORE any conversion: a range on a computed `ts` cannot
    * reach the parquet scan (only `IsNotNull` pushes through arithmetic),
    * while the same range expressed against the stored encoding — timestamp
    * literals on a native timestamp column, or nanos longs on a NANOS column
    * (the conversion is monotonic and the bounds second-aligned) — lands in
    * `PushedFilters` and prunes row groups. At 100 TB this is the difference
    * between scanning a day and scanning the full log. */
  def eventsInRange(spark: SparkSession, sfDir: String, loSec: String, hiSec: String): DataFrame = {
    val raw = eventsRaw(spark, sfDir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        def nanos(s: String): Long =
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
        normalizeTs(raw.filter(col("ts") >= nanos(loSec) && col("ts") < nanos(hiSec)))
      case _ =>
        raw.filter(col("ts") >= tsLit(loSec) && col("ts") < tsLit(hiSec))
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The `event_type` values that map to CDC `delete` — the ONE source of
    * truth shared by [[opType]], [[opTypeSql]] and
    * [[graft.operators.CdcOps.dropDeletes]], so the drop-deletes scan
    * predicate (which filters the physical column for pushdown) can never
    * drift from the derived mapping it claims to invert. */
  val deleteEventTypes: Seq[String] = Seq("error")

  /** CDC op-type mapping, mirroring `operationType` (js:160, 167, 177). */
  val opType: Column =
    when(col("event_type") === "signup", lit("insert"))
      .when(col("event_type").isin(deleteEventTypes: _*), lit("delete"))
      .otherwise(lit("update"))

  /** Same mapping as ANSI SQL for the DuckDB oracle. */
  val opTypeSql: String =
    "CASE WHEN event_type = 'signup' THEN 'insert' " +
      s"WHEN event_type IN (${deleteEventTypes.map(t => s"'$t'").mkString(", ")}) " +
      "THEN 'delete' ELSE 'update' END"

  /** The `events` fixture viewed as a CDC change log. */
  def changeLog(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir).withColumn("op_type", opType)

  /** Timestamp → second-precision string; identical in Spark
    * (`date_format`) and DuckDB (`strftime`) so oracle hash-compares are
    * immune to the ns(parquet)/µs(Spark) precision mismatch. */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Oracle-side twin of [[fmtTs]]. */
  def fmtTsSql(expr: String): String = s"strftime($expr, '%Y-%m-%d %H:%M:%S')"

  /** Timestamp literal parsed in the session time zone (UTC). */
  def tsLit(s: String): Column = to_timestamp(lit(s))

  /** Total-order final sort for a BOUNDED (report-sized) result — one
    * explicit single-partition hash exchange + in-partition sort, in place
    * of a global `orderBy`. Same rows in the same order (the callers'
    * sort keys are total orders, or tied rows are entirely identical —
    * the standing oracle row-compare discipline), but the
    * range-partitioner's SAMPLING pass — a whole extra job per query that
    * re-reads the sort input to place range bounds — never runs, and
    * neither does the keyless-round-robin pre-sort (the exchange hashes a
    * constant, which is deterministic under retries by itself). Reports
    * (top-k grids, per-day/class aggregates, audit matrices) are bounded
    * at ANY corpus scale, so one reducer sorting them is the production
    * plan too; DATA-SIZED outputs (per-doc/per-event frames) go through
    * [[orderedRows]] instead — a single reducer there is the scale-killer
    * this helper must never become. */
  def orderedReport(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(1, lit(0)).sortWithinPartitions(cols: _*)

  /** [[orderedReport]] with column-name sort keys (ascending, the
    * `orderBy(String*)` shape most report tails use). */
  def orderedReport(df: DataFrame, c0: String, cs: String*): DataFrame =
    orderedReport(df, (c0 +: cs).map(col): _*)

  /** Total-order final sort for a DATA-SIZED result: `df.orderBy(cols)`,
    * sorted in place when `df` is one partition anyway.
    *
    * Catalyst places the range exchange of a global sort from the sort's
    * required distribution alone, so a one-partition input still pays a
    * `RangePartitioner` sampling job (which recomputes the whole input)
    * and a shuffle into `spark.sql.shuffle.partitions` partitions that AQE
    * coalesces back into one. When [[onePartitionInput]] holds for `df`'s
    * analyzed plan (which the Dataset already holds: no optimization, no
    * physical planning, no Spark job), the result is
    * `df.coalesce(1).orderBy(cols)`: `coalesce(1)` reports a single
    * partition, which satisfies the sort's ordered distribution, so no
    * exchange is planned and the sort runs in the input's own task.
    * Otherwise it is `df.orderBy(cols)`, the range sort. Either way the
    * plan is a true global sort, so the test guards only parallelism,
    * never the order of the rows. */
  def orderedRows(df: DataFrame, cols: Column*): DataFrame =
    if (onePartitionInput(df.queryExecution.analyzed)) df.coalesce(1).orderBy(cols: _*)
    else df.orderBy(cols: _*)

  /** [[orderedRows]] with column-name sort keys (ascending). */
  def orderedRows(df: DataFrame, c0: String, cs: String*): DataFrame =
    orderedRows(df, (c0 +: cs).map(col): _*)

  /** Whether the analyzed plan `p` reads one partition through narrow
    * operators only: project and filter without a subquery (an IN or
    * EXISTS subquery is planned as a join), and the streamed side of a join
    * whose other side alone carries a broadcast hint the join type can
    * build (the planner then broadcasts that side). The leaf qualifies if
    * it is an RDD of one partition (a `SessionFrames` checkpoint), or a
    * file relation, not bucketed, of at most one file no larger than its
    * split size (one such file is one split; more files may pack into one
    * split too). Every other node answers false, and false is always safe:
    * it keeps the range sort, which is correct for any input. So widen the
    * match only together with a test that pins the new shape's jobs. */
  private def onePartitionInput(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter if !p.expressions.exists(SubqueryExpression.hasSubquery) =>
      onePartitionInput(p.children.head)
    case a: SubqueryAlias => onePartitionInput(a.child)
    case j: Join => (broadcastHint(j.left), broadcastHint(j.right)) match {
      case (false, true) if buildsRight(j.joinType) => onePartitionInput(j.left)
      case (true, false) if buildsLeft(j.joinType) => onePartitionInput(j.right)
      case _ => false
    }
    case r: LogicalRDD => r.rdd.getNumPartitions <= 1
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation if fs.bucketSpec.isEmpty =>
        val files = fs.location.listFiles(Nil, Nil)
        files.map(_.files.size).sum <= 1 &&
          files.flatMap(_.files).map(_.getLen).sum <= FilePartition.maxSplitBytes(fs.sparkSession, files)
      case _ => false
    }
    case _ => false
  }

  /** Whether `p` carries a broadcast hint, looked for as the optimizer
    * pulls hints into a join: down through single-child nodes. */
  private def broadcastHint(p: LogicalPlan): Boolean = p match {
    case h: ResolvedHint => h.hints.strategy.contains(BROADCAST) ||
      (h.hints.strategy.isEmpty && broadcastHint(h.child))
    case u: UnaryNode => broadcastHint(u.child)
    case _ => false
  }

  private def buildsRight(t: JoinType): Boolean = t match {
    case Inner | Cross | LeftOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  private def buildsLeft(t: JoinType): Boolean = t match {
    case Inner | Cross | RightOuter => true
    case _ => false
  }

  /** Engine-independent 4-dp rounding of a computed double ratio:
    * `floor(x·10⁴ + 0.5)/10⁴` — half-up applied to the binary double itself.
    * Spark's `round` re-parses the double's shortest decimal string
    * (BigDecimal.valueOf), so a value like 0.31475 whose *string* sits on a
    * half boundary rounds up in Spark but down in engines that round the
    * binary value (the double is 0.31474999…); this form is identical
    * wherever the input doubles are bit-identical. Oracle twin: [[rnd4Sql]]. */
  def rnd4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Oracle-side twin of [[rnd4]]. */
  def rnd4Sql(expr: String): String = s"floor(($expr) * 10000 + 0.5) / 10000"
}
