package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.TextFns

/** Streaming corpus ingest — the training-data analog of [[CdcPipeline]]
  * (SURVEY §2.7 × §2.8): a document stream arrives at-least-once; each
  * micro-batch is quality-gated and folded into corpus state keyed by
  * content digest, the min-id document winning each digest group. The merge
  * is commutative, associative and idempotent (a min over a fixed key), so
  * redelivered batches, checkpointed restarts, and ANY micro-batch split of
  * the input converge to the one-shot batch answer — the same
  * exactly-once-from-at-least-once argument as the CDC upsert, with
  * min-id-wins in place of last-write-wins.
  *
  * 100 TB shape: the gate is a per-row expression; per batch the only
  * exchange is the batch-local digest groupBy (rows ride it once, 8-byte
  * digests + narrow metadata — text itself never enters the state) and the
  * only write is the O(batch) [[AppendState]] delta — the corpus-sized
  * survivor set is never rewritten per micro-batch (merge-on-read +
  * periodic [[compact]], the LSM shape; a lakehouse deployment would use
  * MERGE INTO keyed on digest with identical convergence).
  */
object CorpusIngest extends Monitor.Union {
  protected def emptySchema = "digest STRING, doc_id BIGINT, lang STRING, quality DOUBLE"

  /** `documents.parquet` physical schema (the file-stream source needs it
    * declared up front). */
  val docsFileSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** [[docsFileSchema]] plus the corrupt-capture column — what the JSONL
    * reader parses against. The schema is DECLARED, never inferred: at
    * corpus scale an inference pass is a full extra scan of every file. */
  private val jsonlSchema: StructType =
    docsFileSchema.add(StructField("_corrupt", StringType))

  private def jsonlReadOptions = Map(
    "mode" -> "PERMISSIVE", // corrupt lines become rows, never job failures
    "columnNameOfCorruptRecord" -> "_corrupt")

  /** Read a JSON-lines corpus dump — the interchange format crawl corpora
    * actually arrive in — against the declared [[docsFileSchema]].
    * Returns the RAW parsed frame carrying `_corrupt`; split it with
    * [[cleanDocs]] (the contract-normalized docs) and [[quarantined]]
    * (the lines that failed the contract). Dirty lines are a FACT of
    * crawl data: failing the job on one bad line stalls a 100 TB ingest,
    * and silently dropping them biases the corpus — quarantine is the
    * only shape that does neither. */
  def jsonlDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(jsonlSchema).options(jsonlReadOptions).json(path)

  /** The one exclusion predicate both halves split on: corrupt lines,
    * text-less lines, and explicit ids that violate the NON-NEGATIVE id
    * contract (the sign bit is reserved for synthesized ids — see
    * [[cleanDocs]]; letting a negative explicit id through would collide
    * two distinct documents in every doc_id-keyed downstream state with
    * no signal, so the dump is quarantined instead). */
  private def excluded =
    col("_corrupt").isNotNull || col("text").isNull ||
      (col("doc_id").isNotNull && col("doc_id") < 0) // null id = absent, backfilled

  /** The contract-clean half of a [[jsonlDocs]] frame, normalized onto
    * [[docsFileSchema]]: lines failing [[excluded]] are QUARANTINED, not
    * lost ([[quarantined]]); a dump without ids gets deterministic
    * content-addressed ones — xxhash64 of the text folded into the
    * NEGATIVE range `[-Long.MaxValue, -1]`, DISJOINT by the sign bit
    * from the (non-negative) explicit-id contract, so a synthesized id
    * can never silently merge with an explicit one in the doc_id-keyed
    * downstream states (byte-identical dupes share an id, which the
    * digest-keyed survivor merge collapses anyway); n_chars recomputed
    * when absent, lang/source defaulted. Wrong-TYPE fields (e.g. a
    * string doc_id) corrupt the whole line under PERMISSIVE parsing and
    * land in quarantine — only genuinely ABSENT fields are backfilled. */
  def cleanDocs(raw: DataFrame): DataFrame =
    raw.filter(!excluded)
      .select(
        coalesce(col("doc_id"),
          -pmod(xxhash64(col("text")), lit(Long.MaxValue)) - 1).as("doc_id"),
        col("text"),
        coalesce(col("lang"), lit("und")).as("lang"),
        coalesce(col("source"), lit("unknown")).as("source"),
        coalesce(col("n_chars"), length(col("text")).cast("long")).as("n_chars"))

  /** The quarantine half: every line [[cleanDocs]] excluded, as ONE raw
    * string per line (the unparsed original for corrupt lines; the
    * re-serialized row for parsed-but-contract-violating ones) — the
    * frame an operator inspects and replays after fixing the producer.
    * A `src_file` column (the live ingest's provenance tag) rides along
    * when the input carries one and never enters the re-serialized
    * line, so the batch and streaming views agree byte for byte. */
  def quarantined(raw: DataFrame): DataFrame = {
    val parsedCols = raw.columns
      .filter(c => c != "_corrupt" && c != "src_file").map(col).toIndexedSeq
    val line = coalesce(col("_corrupt"), to_json(struct(parsedCols: _*)))
      .as("raw_line")
    val out =
      if (raw.columns.contains("src_file")) Seq(line, col("src_file"))
      else Seq(line)
    raw.filter(excluded).select(out: _*)
  }

  /** The corpus-prep quality threshold, the default of every gate here. */
  val DefaultMinQuality = 0.3

  /** Shared batch/stream transform: quality gate (the corpus-prep
    * threshold) + the ingest projection — digest identity and the kept
    * metadata. Gating BEFORE the state merge means junk never shuffles. */
  def transform(docs: DataFrame, minQuality: Double = DefaultMinQuality): DataFrame =
    docs
      .withColumn("quality", TextFns.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("lang"), col("quality"),
        sha2(lower(trim(col("text"))), 256).as("digest"))

  /** Min-id-wins survivor merge: one row per digest across state ∪ batch.
    * The struct min is ordered by doc_id first (ids are unique), so the
    * surviving row is exactly the min-id document's — the batch analog is
    * [[graft.operators.Dedup.exactSurvivors]]. */
  def merge(state: DataFrame, batch: DataFrame): DataFrame =
    Monitor.minByKey(state.unionByName(batch), "digest", "doc_id", "lang", "quality")

  /** The quarantine LEDGER dir a live json ingest maintains next to its
    * survivor state: one (raw_line, src_file, batch_id) row per rejected
    * line. The reject rate is state a live ingest must expose the way it
    * exposes everything else — a batch-only view over the source dir
    * ([[jsonlDocs]] + [[quarantined]]) answers "what is bad", but not
    * "what did THIS stream reject and when". */
  def quarantineDir(targetDir: String): String = targetDir + "_quarantine"

  /** The quarantine ledger's state kind. Rows are unique events, so the
    * merge is the plain union. */
  private object Quarantine extends Monitor.Union {
    def merge(state: DataFrame, rows: DataFrame): DataFrame = state.unionByName(rows)
    protected def emptySchema = "raw_line STRING, src_file STRING, batch_id BIGINT"
  }

  /** The live quarantine ledger (empty-but-typed before the first
    * reject). */
  def quarantineState(spark: SparkSession, targetDir: String): DataFrame =
    Quarantine.state(spark, quarantineDir(targetDir))

  /** The documents-file stream over `sourceDir` ([[docsFileSchema]]). */
  def docStream(spark: SparkSession, sourceDir: String): DataFrame =
    Monitor.fileStream(spark, sourceDir, docsFileSchema)

  /** Start the ingest over `sourceDir`: gate/project, then the
    * digest-keyed survivor merge into `targetDir`. `format` picks the file
    * source: "parquet" (the fixture shape) or "json" (a JSONL crawl dump,
    * parsed against the declared schema and normalized through
    * [[cleanDocs]]). For json, every line the contract excludes lands in
    * the [[quarantineDir]] ledger with its source file and batch id,
    * visible LIVE via [[quarantineState]], never crashing the stream and
    * never dropped silently; the same micro-batch feeds both states, so a
    * checkpoint replay re-derives both under the same batch-id guard (each
    * dir skips what it already holds). */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, minQuality: Double = DefaultMinQuality,
            availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery,
            format: String = "parquet"): StreamingQuery = format match {
    case "parquet" =>
      Monitor.run(transform(docStream(spark, sourceDir), minQuality), checkpointDir,
        availableNow)(applyBatch(spark, _, targetDir, _, compactEvery))
    case "json" =>
      val raw = Monitor.fileStream(spark, sourceDir, jsonlSchema, "json", jsonlReadOptions)
        .withColumn("src_file", input_file_name())
      Monitor.run(raw, checkpointDir, availableNow) { (batch, batchId) =>
        // checkpoint ONCE: survivors and quarantine split one
        // materialized micro-batch, not two scans of the source files
        val b = batch.localCheckpoint(true)
        applyBatch(spark, transform(cleanDocs(b), minQuality), targetDir,
          batchId, compactEvery)
        val rejects = quarantined(b).withColumn("batch_id", lit(batchId))
          .localCheckpoint(true)
        if (rejects.count() > 0)
          Quarantine.applyBatch(spark, rejects, quarantineDir(targetDir), batchId, compactEvery)
      }
    case other => throw new IllegalArgumentException(
      s"CorpusIngest.start: unsupported source format '$other' (parquet | json)")
  }
}
