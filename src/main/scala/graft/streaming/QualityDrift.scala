package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables.rnd4
import graft.functions.TextFns

/** Streaming quality-drift monitor (SURVEY §2.7 × §2.8): documents arrive
  * at-least-once; each gets a row-local quality verdict (the corpus-report
  * gate), verdicts fold into a doc_id-keyed table, and the per-source
  * rollup is compared against a STATIC baseline profile — the ingest-time
  * alarm that catches a source going bad (a crawler regression, a spam
  * flood) BEFORE the batch pipeline would see it.
  *
  * Convergence is the [[Decontam]] argument verbatim: the verdict is a
  * pure function of the document alone, so redelivery/restart/any batch
  * split produce byte-identical rows and the keyed merge collapses them —
  * the report over the verdict table equals the batch answer. (A naive
  * additive counter state would double-count redeliveries; the doc-keyed
  * table is what makes at-least-once safe.)
  *
  * Drift detection is ALL-INTEGER: rates are floored permilles
  * (n·1000 div d), drift = |permille − base_permille| > threshold. No
  * cross-multiplication of raw counts — permilles stay < 9e15 for any
  * source below ~9e12 docs, so the comparison cannot overflow at the
  * 100 TB design point (a count cross-product would wrap at ~1e11 docs).
  *
  * 100 TB shape: the baseline is one row per source (tiny — broadcast);
  * verdict rows are slim all-integer columns (text never rides past the
  * gate's scan); the report is a map-side-combined aggregate onto a
  * ≤ |sources| frame.
  */
object QualityDrift extends Monitor.Union {
  protected def emptySchema = "doc_id BIGINT, source STRING, n_tokens BIGINT, pass BIGINT"

  /** The corpus-report quality gate, reused verbatim ([[rnd4]]'d score
    * ≥ 0.3) so the monitor alarms on exactly the rate the batch report
    * publishes. */
  private def qPass = (rnd4(TextFns.qualityScore(col("text"))) >= lit(0.3)).cast("long")

  /** Per-document verdict: slim (doc_id, source, n_tokens, pass) —
    * stateless and deterministic per row. */
  def gate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
      qPass.as("pass"))

  /** Static per-source baseline profile from a reference snapshot:
    * (source, base_docs, base_pass). One row per source. */
  def baseline(refDocs: DataFrame): DataFrame =
    gate(refDocs).groupBy(col("source"))
      .agg(count(lit(1)).as("base_docs"), sum(col("pass")).as("base_pass"))

  /** One verdict row per doc_id across state ∪ batch (identical on every
    * delivery — the struct-min keeps exactly one). */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    Monitor.minByKey(state.unionByName(batch), "doc_id", "source", "n_tokens", "pass")

  /** Per-source monitor report over the verdict table vs the baseline:
    * observed/baseline pass permilles and the drift flag. Sources absent
    * from the baseline alarm by definition (an unknown source IS an
    * anomaly); baseline sources with no arrivals don't report. */
  def report(verdicts: DataFrame, base: DataFrame, driftPermille: Int): DataFrame =
    verdicts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"),
        sum(col("n_tokens")).as("n_tokens"))
      .join(broadcast(base), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_pass"), col("n_tokens"),
        expr("n_pass * 1000L div n_docs").as("pass_permille"),
        expr("base_pass * 1000L div base_docs").as("base_permille"))
      .withColumn("drift",
        col("base_permille").isNull ||
          abs(col("pass_permille") - col("base_permille")) > driftPermille)

  /** Start the monitor over the documents in `sourceDir`: per-batch
    * verdicts, merged into the doc_id-keyed verdict table in `targetDir`
    * ([[report]] derives from it, so a dashboard and the stream never
    * disagree). */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(CorpusIngest.docStream(spark, sourceDir), checkpointDir, availableNow)(
      (batch, id) => applyBatch(spark, gate(batch), targetDir, id, compactEvery))
}
