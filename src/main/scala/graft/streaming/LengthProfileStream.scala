package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFns

/** Streaming per-source document-length profile — the ingest-side form of
  * `ext_length_outliers` (SURVEY §2.7 × §2.8): a document stream arrives
  * at-least-once; the maintained state is the MEMBERSHIP frame
  * (doc_id, source, n_tok), NOT the (source, n_tok) count histogram —
  * additive counts double under producer-redelivered rows, membership
  * collapses them through the idempotent doc-keyed merge (the
  * `stream_prefix_dup` lesson). The report re-derives the histogram from
  * the state and runs the [[graft.operators.Robust.madOutliers]] gate; the
  * batch `ext_length_outliers` IS that report, so the two cannot drift: per source
  * the median token count, the MAD, and how many documents sit beyond
  * 3·MAD — the "did a feed's scraper change" alarm, whatever each feed's
  * normal length profile is.
  *
  * 100 TB shape: the per-batch work is one narrow projection (doc_id,
  * source, n_tok — text never enters the state) and an O(batch)
  * [[AppendState]] delta append; the corpus-sized membership is never
  * rewritten per micro-batch (merge-on-read + periodic [[compact]], the
  * LSM shape). The report costs one state scan into a (source, n_tok)-
  * bounded histogram; every later frame is histogram-sized
  * ([[graft.operators.Robust]]'s discipline). */
object LengthProfileStream extends Monitor.Union {
  protected def emptySchema = "doc_id BIGINT, source STRING, n_tok BIGINT"

  /** Shared batch/stream transform: the membership projection. */
  def transform(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))

  /** Idempotent doc-keyed merge: one row per doc_id across state ∪ batch
    * (ids are unique, so min-struct just collapses redelivered copies —
    * identical rows on every delivery). */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    Monitor.minByKey(state.unionByName(batch), "doc_id", "source", "n_tok")

  /** The outlier report off a membership frame — histogram once, then the
    * shared median/MAD machinery. Shared by the batch query
    * `ext_length_outliers` (over its exactly-once [[transform]]) and the
    * stream form, so the two share an oracle too. */
  def report(members: DataFrame): DataFrame = {
    val hist = members.groupBy(col("source"), col("n_tok"))
      .agg(count(lit(1)).as("hn"))
      .localCheckpoint(true) // histogram-sized; read by every Robust frame
    graft.operators.Robust.madOutliers(hist, "source", "n_tok")
      .select(col("source"), col("__n").as("n_docs"),
        col("med").as("median_tokens"), col("mad").as("mad_tokens"),
        col("n_outliers"), expr("n_outliers * 1000 div __n").as("outlier_permille"))
      .transform(graft.Tables.orderedReport(_, "source"))
  }

  /** Start the length monitor over the documents in `sourceDir`, merged into
    * `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(transform(CorpusIngest.docStream(spark, sourceDir)), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _, compactEvery))
}
