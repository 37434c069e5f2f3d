package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFns
import graft.operators.TrainPrep

/** Streaming VOCABULARY-drift monitor (SURVEY §2.7 × §2.8): the
  * distribution-shift companion to [[QualityDrift]]. Each arriving
  * document is scored against a STATIC top-k vocabulary trained on a
  * reference snapshot — its out-of-vocabulary token count — and per-source
  * OOV token rates are compared to the snapshot's own. A source whose OOV
  * mass jumps has changed language, encoding, or domain (crawler drift, a
  * tokenizer about to degrade) — visible at ingest time, long before a
  * training run pays for it.
  *
  * Distinct signal from [[QualityDrift]]: quality drift moves when text
  * gets WORSE under a fixed rubric; vocab drift moves when text gets
  * DIFFERENT from what the tokenizer was built on — high-quality text in
  * the wrong language alarms here and nowhere else.
  *
  * Convergence is the [[Decontam]]/[[QualityDrift]] argument verbatim: the
  * verdict is a pure per-row function of (document, static vocab), so
  * redelivery/restart/any batch split collapse through the doc_id-keyed
  * merge to the batch answer. Rates are ALL-INTEGER floored permilles of
  * TOKEN mass (OOV is a token phenomenon — doc-weighted rates would let a
  * flood of short clean docs mask a long drifted one).
  *
  * 100 TB shape: the vocab is k strings held by the driver and attached to
  * the gate as ONE codegen'd literal-set expression
  * ([[TextFns.tokenSetCount]]) — scoring is row-local, zero shuffles, no
  * join against a vocab table; verdict rows are slim all-integer columns;
  * the report is a map-side-combined aggregate onto a ≤ |sources| frame
  * against a broadcast baseline. */
object VocabDrift extends Monitor.Union {
  protected def emptySchema = "doc_id BIGINT, source STRING, n_tokens BIGINT, n_oov BIGINT"

  /** Train the static top-k vocab on a reference snapshot — k strings on
    * the driver (bounded by construction; the [[TrainPrep.vocabTop]]
    * ranking, so the monitor and the batch vocab report can never
    * disagree on what "in vocabulary" means). */
  def vocab(refDocs: DataFrame, k: Int): Seq[String] =
    TrainPrep.vocabTop(refDocs, "doc_id", "text", k)
      .transform(graft.Tables.orderedReport(_, "rank")).select("token")
      .collect().map(_.getString(0)).toIndexedSeq

  /** Per-document verdict: slim (doc_id, source, n_tokens, n_oov) —
    * stateless, deterministic, one codegen'd set-membership pass. */
  def gate(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    val n = size(TextFns.tokens(col("text"))).cast("long")
    docs.select(col("doc_id"), col("source"),
      n.as("n_tokens"),
      (n - TextFns.tokenSetCount(col("text"), vocab)).as("n_oov"))
  }

  /** Static per-source baseline: (source, base_tokens, base_oov) over the
    * reference snapshot — one row per source. */
  def baseline(refDocs: DataFrame, vocab: Seq[String]): DataFrame =
    gate(refDocs, vocab).groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("base_tokens"), sum(col("n_oov")).as("base_oov"))

  /** One verdict row per doc_id across state ∪ batch (byte-identical on
    * every delivery — the struct-min keeps exactly one). */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    Monitor.minByKey(state.unionByName(batch), "doc_id", "source", "n_tokens", "n_oov")

  /** Per-source monitor report vs the baseline: observed/baseline OOV
    * token permilles and the drift flag. `greatest(…, 1)` guards the
    * all-empty-docs denominator (ANSI division); unknown sources alarm by
    * definition. */
  def report(verdicts: DataFrame, base: DataFrame, driftPermille: Int): DataFrame =
    verdicts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_oov")).as("n_oov"))
      .join(broadcast(base), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000L div greatest(n_tokens, 1L)").as("oov_permille"),
        expr("base_oov * 1000L div greatest(base_tokens, 1L)").as("base_permille"))
      .withColumn("drift",
        col("base_permille").isNull ||
          abs(col("oov_permille") - col("base_permille")) > driftPermille)

  /** Start the monitor over the documents in `sourceDir`: per-batch
    * verdicts against the STATIC `vocab`, merged into the doc_id-keyed
    * verdict table in `targetDir` ([[report]] derives from it). */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, vocab: Seq[String],
            availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(CorpusIngest.docStream(spark, sourceDir), checkpointDir, availableNow)(
      (batch, id) => applyBatch(spark, gate(batch, vocab), targetDir, id, compactEvery))
}
