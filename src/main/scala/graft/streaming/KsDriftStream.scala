package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables.rnd4

/** Continuously-maintained distribution-shift monitor — the incremental
  * form of the batch `ext_ks_drift` gate: per-source Kolmogorov–Smirnov
  * distance of the length distribution vs the whole corpus, kept current
  * as new crawl slices land (SURVEY §2.7 × §2.8).
  *
  * State design: documents arrive at-least-once and carry no event time to
  * watermark on, so the state is NOT the additive histogram (addition
  * double-counts redelivery) — it is the doc_id-keyed survivor set
  * `(doc_id, source, n_chars)`, merged first-wins exactly like
  * [[CorpusIngest]]: commutative, associative and IDEMPOTENT, so
  * redelivered rows, checkpointed restarts, replayed batches, and any
  * micro-batch split of the input all converge to the one-shot batch
  * answer with no transactional guard needed. The (source, n_chars)
  * HISTOGRAM is derived from state at report time — domain-bounded — and
  * the KS statistic runs the batch query's exact integer cross-product
  * discipline (sup over |cum_src·n_tot − cum_tot·n_src| on the
  * (sources × length-domain) grid, ONE trailing division), so stream and
  * batch literally share this one definition and cannot drift.
  *
  * 100 TB shape: per batch the only exchange is the batch-local first-wins
  * reduction (8-byte ids + two narrow columns — text never enters the
  * state) and the only WRITE is the O(batch) [[AppendState]] delta — the
  * corpus-sized survivor set is never rewritten per micro-batch; periodic
  * [[compact]] bounds read amplification. The report reads two columns of
  * the merged state (column-pruned scan) and collapses it map-side to the
  * (sources × lengths) histogram before any window. */
object KsDriftStream extends Monitor.Union {
  protected def emptySchema = "doc_id BIGINT, source STRING, n_chars BIGINT"

  /** Shared batch/stream projection — the three columns the monitor keeps. */
  def transform(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"))

  /** First-wins survivor merge: one row per doc_id across state ∪ batch
    * (duplicates of a doc carry identical payloads; the struct min makes
    * the pick deterministic regardless). */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    Monitor.minByKey(state.unionByName(batch), "doc_id", "source", "n_chars")

  /** (source, n_chars, hn) histogram of a doc set — state or batch slice. */
  def histogram(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("hn"))

  /** Per-source KS distance vs the corpus from the histogram — the batch
    * `ext_ks_drift` arithmetic verbatim: cumulative counts at every domain
    * point, sup of the INTEGER cross product |cum_src·n_tot − cum_tot·n_src|,
    * one trailing division. Every frame in here is domain-bounded
    * ((sources × lengths) grid), never corpus-sized. */
  def report(hist: DataFrame): DataFrame = {
    val dom = hist.select(col("n_chars")).distinct()
    val srcTot = hist.groupBy(col("source")).agg(sum(col("hn")).as("n_src"))
    val totHist = hist.groupBy(col("n_chars")).agg(sum(col("hn")).as("__ct"))
    val nTot = hist.agg(sum(col("hn")).as("__n_tot"))
    val cumTot = dom.join(totHist, Seq("n_chars"), "left")
      .select(col("n_chars"),
        sum(coalesce(col("__ct"), lit(0L)))
          .over(Window.orderBy(col("n_chars"))).as("__cum_tot"))
    val grid = srcTot.crossJoin(dom)
      .join(hist, Seq("source", "n_chars"), "left")
      .select(col("source"), col("n_src"), col("n_chars"),
        sum(coalesce(col("hn"), lit(0L)))
          .over(Window.partitionBy(col("source")).orderBy(col("n_chars")))
          .as("__cum_src"))
    grid.join(cumTot, "n_chars").crossJoin(broadcast(nTot))
      .groupBy(col("source"), col("n_src"), col("__n_tot"))
      .agg(max(abs(col("__cum_src") * col("__n_tot") - col("__cum_tot") * col("n_src")))
        .as("__ks_num"))
      .select(col("source"), col("n_src"),
        rnd4(col("__ks_num").cast("double") / (col("n_src") * col("__n_tot")))
          .as("ks_stat"))
  }

  /** Start the drift monitor over the documents in `sourceDir`, merged into
    * `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(transform(CorpusIngest.docStream(spark, sourceDir)), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _, compactEvery))
}
