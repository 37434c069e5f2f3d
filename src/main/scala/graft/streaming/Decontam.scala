package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFns

/** Streaming decontamination gate (SURVEY §2.7 × §2.8): documents arrive
  * at-least-once and each is checked against a STATIC eval-set 13-gram
  * index — the decontamination pass a training pipeline runs at ingest so
  * eval leakage never reaches a shard. Each micro-batch's verdicts fold
  * into a doc_id-keyed verdict table.
  *
  * Convergence is trivial by design: the verdict is a pure function of
  * (document, static index) — no cross-document state — so redelivered
  * batches, restarts, and any micro-batch split of the input produce
  * byte-identical rows, and the keyed merge collapses them to one verdict
  * per doc (the same exactly-once-from-at-least-once argument as
  * [[CorpusIngest]], with "pure per-row decision" in place of
  * commutative-merge reasoning).
  *
  * 100 TB shape: the index is `distinct` 13-gram hashes of the EVAL set —
  * eval sets are small by construction, so the probe side broadcasts (at
  * worst it's a shuffle equi-join on the int64 hash); the corpus side
  * explodes to slim (doc_id, hash) rows that aggregate straight back to
  * doc_id with map-side combine. Text never rides an exchange.
  */
object Decontam extends Monitor.Union {
  protected def emptySchema = "doc_id BIGINT, source STRING, n_shared BIGINT, clean BOOLEAN"

  /** The eval-set inverted index: distinct 13-gram hashes over the eval
    * documents. Built once, reused by every micro-batch. */
  def evalIndex(evalDocs: DataFrame): DataFrame =
    evalDocs
      .select(explode(TextFns.hashedShingles(col("text"), 13)).as("sh"))
      .distinct()

  /** Per-document verdict for a batch against the index: how many of the
    * doc's distinct 13-grams appear in the eval set, and the clean flag a
    * shard-writer filters on. Stateless and deterministic per row. */
  def gate(docs: DataFrame, index: DataFrame): DataFrame = {
    val hits = docs
      .select(col("doc_id"), explode(TextFns.hashedShingles(col("text"), 13)).as("sh"))
      .join(index, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    docs.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("clean", col("n_shared") === 0L)
  }

  /** One verdict row per doc_id across state ∪ batch. Verdicts for the
    * same doc are identical on every delivery (pure per-row decision), so
    * the struct-min is just a deterministic way to keep exactly one. */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    Monitor.minByKey(state.unionByName(batch), "doc_id", "source", "n_shared", "clean")

  /** Start the gate over the documents in `sourceDir`: per-batch verdicts
    * against the eval index (computed once, then reused), merged into the
    * doc_id-keyed verdict table in `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, evalDocs: DataFrame,
            targetDir: String, checkpointDir: String,
            availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery = {
    val index = evalIndex(evalDocs)
    index.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Monitor.run(CorpusIngest.docStream(spark, sourceDir), checkpointDir, availableNow)(
      (batch, id) => applyBatch(spark, gate(batch, index), targetDir, id, compactEvery))
  }
}
