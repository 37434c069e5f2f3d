package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TrainPrep

/** Per-source document cap maintained at INGEST (SURVEY §2.7 × §2.8) — the
  * incremental form of the batch `ext_source_caps` RefinedWeb
  * anti-domination rule: as crawl slices land, each source's k retained
  * documents stay current, so shard writers can apply the cap the moment
  * data arrives instead of at the next full-corpus pass.
  *
  * Determinism over arrival order: "the k retained docs" is defined as the
  * k SMALLEST doc ids per source (the batch rule), NOT first-k-to-arrive —
  * min-k is a commutative, associative, IDEMPOTENT reduction, so
  * redelivered batches, checkpointed restarts, and any micro-batch split
  * of the input converge to the one-shot batch answer (a first-k-wins rule
  * would depend on scheduling and could never replay cleanly).
  *
  * State rides [[AppendState]]: each batch appends only its OWN per-source
  * k-smallest (a bounded delta — ≤ k rows per source per batch, reduced by
  * the batch query's own salted cap, [[TrainPrep.groupCap]], so a hot
  * source never funnels through one task); the live view re-reduces
  * base + deltas on read, and periodic [[compact]] keeps total state at
  * O(sources · k). Per-batch I/O is O(batch ∧ sources·k).
  *
  * Batch-replay form oracle-gated as `stream_source_caps` against the
  * ext_source_caps SQL; live restart/redelivery paths in StreamingSpec. */
object SourceCapsStream {

  /** Per-source k-smallest of any (doc_id, source) frame, ranked 1..k —
    * [[TrainPrep.groupCap]], the salted two-phase cap the batch
    * `ext_source_caps` runs, over the distinct rows (so the rule is
    * insensitive to multiplicity): the ONE reduction used for the batch
    * delta, the merge-on-read, and the report. */
  def capK(docs: DataFrame, k: Int): DataFrame =
    TrainPrep.groupCap(docs.select(col("doc_id"), col("source")).distinct(),
      "source", "doc_id", k)

  /** The capped-table state kind for `k`: each batch's own per-source
    * k-smallest as a delta, re-reduced by [[capK]] on read and on
    * compaction (state returns to O(sources · k) rows). */
  def kind(k: Int): Monitor.Kind = new Monitor.Union {
    def merge(state: DataFrame, rows: DataFrame): DataFrame =
      capK(state.unionByName(rows), k).select(col("doc_id"), col("source"))
    protected def emptySchema = "doc_id BIGINT, source STRING"
  }

  /** The LIVE capped table, ranked 1..k per source. */
  def state(spark: SparkSession, targetDir: String, k: Int): DataFrame =
    capK(kind(k).state(spark, targetDir), k)

  /** Fold the deltas. */
  def compact(spark: SparkSession, targetDir: String, k: Int): Unit =
    kind(k).compact(spark, targetDir)

  /** Start the cap stream over the documents in `sourceDir`, merged into
    * `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, k: Int,
            availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(CorpusIngest.docStream(spark, sourceDir).select(col("doc_id"), col("source")),
      checkpointDir, availableNow)(kind(k).applyBatch(spark, _, targetDir, _, compactEvery))
}
