package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFns

/** Incremental shared-prefix TEMPLATE detection at ingest (SURVEY §2.7 ×
  * §2.8) — the streaming form of `ext_prefix_dup`: as documents arrive,
  * each batch's 8-token prefixes land in a continuously-maintained state,
  * so template/SEO-spam openers surface the moment the second copy lands,
  * not at the next batch sweep.
  *
  * State design: the state is (prefix, source, doc_id) MEMBERSHIP rows —
  * deliberately NOT pre-aggregated counts. A count is additive (a
  * redelivered doc row would double it, and the document stream has no
  * event-time watermark to dedup rows against); membership is a UNION —
  * idempotent under both batch replays and producer-duplicated rows, the
  * [[AppendState]] monotone-union contract. The merge is a distinct
  * union, so the state holds each doc's row once and the report's count
  * is the doc count. Rows are one per doc — the same order as the
  * prefix key space itself, so nothing is lost to the granularity.
  *
  * 100 TB shape: per-batch I/O is O(batch) — the slice is a row-local
  * projection appended as an immutable delta (no per-batch corpus state
  * rewrite, no per-batch aggregate even); the report is one
  * prefix-keyed aggregate over base + deltas, and [[compact]] folds
  * deltas by `distinct` to bound read amplification.
  *
  * Batch/stream unification: union slicing is trivially homomorphic, so
  * the batch-replay form (oracle-gated as `stream_prefix_dup` against the
  * `ext_prefix_dup` SQL, over a DOUBLED delivery — proving redelivery
  * collapses) equals the one-shot batch answer; live checkpointed
  * restart/redelivery in StreamingSpec. */
object PrefixDupStream extends Monitor.Members("prefix STRING, source STRING, doc_id BIGINT") {

  /** Tokens in the template prefix — the `ext_prefix_dup` contract. */
  final val PrefixTokens = 8

  /** One batch's state slice: row-local (prefix, source, doc_id)
    * membership rows. */
  override def slice(docs: DataFrame): DataFrame =
    docs.select(
      concat_ws(" ", org.apache.spark.sql.functions.slice(
        TextFns.tokens(col("text")), 1, PrefixTokens)).as("prefix"),
      col("source"), col("doc_id"))

  /** The template report: groups with ≥ 2 docs, their copy count,
    * distinct-source spread, and min-id representative — shared by the
    * batch `ext_prefix_dup` (over its exactly-once slice) and the stream
    * form. The state is distinct rows (the membership merge collapses a
    * redelivered doc, and a doc's row is a pure function of it), so
    * `count(1)` counts each doc once. */
  def report(state: DataFrame): DataFrame =
    state.groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") >= 2)
      .transform(graft.Tables.orderedRows(_, "prefix"))

  /** Start the ingest template monitor over the documents in `sourceDir`,
    * merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(CorpusIngest.docStream(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _, compactEvery))
}
