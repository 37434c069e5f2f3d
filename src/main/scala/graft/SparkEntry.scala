package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Reconcile
import graft.queries.{CdcQueries, ReconcileQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query (SURVEY §3.2): the reference's
    * `compareDocumentsInTimeWindow` (js:478–538) re-expressed relationally —
    * change-window scan → distinct keys → source/target reconciliation →
    * per-field diff → summary. Runs on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ReconcileQueries.reconcileWindow(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CdcQueries.queries ++ ReconcileQueries.queries ++
      graft.queries.RelQueries.queries ++ graft.queries.ExtQueries.queries ++
      graft.queries.StreamQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CdcQueries.oracle ++ ReconcileQueries.oracle ++
      graft.queries.RelQueries.oracle ++ graft.queries.ExtQueries.oracle ++
      graft.queries.StreamQueries.oracle

  /** The local session the command-line mains run on: `cpus` task slots
    * and as many shuffle partitions, UTC, adaptive execution with
    * partition coalescing and skew-join splitting, no UI. */
  private[graft] def localSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
