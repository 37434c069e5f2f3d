package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incremental URL-canonicalization dedup at ingest (SURVEY §2.7 × §2.8) —
  * the streaming form of `ext_dedup_url`: as crawl records arrive, each
  * batch's canonicalized URLs land in a continuously-maintained state, so
  * a re-crawled page is flagged the moment its second variant lands —
  * BEFORE any text tier pays to shingle it.
  *
  * State design ([[PrefixDupStream]]'s membership discipline): the state
  * is (canon_url, raw_url, doc_id) MEMBERSHIP rows — not pre-aggregated
  * counts, which would double under redelivery. Canonicalization
  * ([[graft.operators.Dedup.urlCanon]]) is row-local, so the per-batch
  * apply is a projection appended as an immutable delta: O(batch) I/O,
  * no corpus rewrite, no per-batch aggregate. Every report column is
  * distinct-/min-/grouped-sum-based — duplicate membership rows cannot
  * move it.
  *
  * Batch/stream unification: union slicing is homomorphic, so the
  * batch-replay form (oracle-gated as `stream_url_dedup` against the
  * `ext_dedup_url` SQL over a DOUBLED delivery) equals the one-shot batch
  * answer; live checkpointed restart/redelivery in StreamingSpec. */
object UrlDedupStream extends Monitor.Members("canon_url STRING, raw_url STRING, doc_id BIGINT") {

  /** One batch's state slice: row-local (canon_url, raw_url, doc_id)
    * membership rows off a (doc_id, raw_url) frame. */
  override def slice(urls: DataFrame): DataFrame =
    urls.select(
      graft.operators.Dedup.urlCanon(col("raw_url")).as("canon_url"),
      col("raw_url"), col("doc_id"))

  /** The live dedup report — identical shape to the batch `ext_dedup_url`:
    * per canonical URL its host, doc count, raw-variant spread, min-id
    * survivor, and the per-host rollup (a window over the already-grouped
    * |distinct canon| frame, never the corpus). Distinct counts make the
    * doc/variant numbers redelivery-proof. */
  def report(state: DataFrame): DataFrame =
    state.groupBy(col("canon_url"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("raw_url")).as("n_raw"),
        min(col("doc_id")).as("keep_id"))
      .withColumn("host", regexp_extract(col("canon_url"), "^[^/?]+", 0))
      .withColumn("host_docs",
        sum(col("n_docs")).over(Window.partitionBy(col("host"))))
      .select(col("canon_url"), col("host"), col("n_docs"), col("n_raw"),
        col("keep_id"), col("host_docs"))

  /** Start the ingest URL-dedup monitor over the (doc_id, raw_url)
    * parquet files in `sourceDir`, merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(Monitor.fileStream(spark, sourceDir,
      StructType.fromDDL("doc_id BIGINT NOT NULL, raw_url STRING NOT NULL")),
      checkpointDir, availableNow)(applyBatch(spark, _, targetDir, _, compactEvery))
}
