package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming l-diversity audit at ingest (SURVEY §2.7 × §2.4) — the
  * incremental companion of [[KAnonymityStream]]: k-anonymity counts how
  * SMALL a quasi-identifier equivalence class gets, l-diversity
  * (Machanavajjhala et al. 2007) counts how UNIFORM the sensitive
  * attribute is inside it — a class of 50 rows that all belong to ONE
  * user re-identifies that user as surely as a class of 1. As change
  * events arrive, each batch's (class, sensitive-value) pairs land in a
  * continuously-maintained membership state, so the homogeneity risk of
  * "what we have ingested so far" is readable at any moment.
  *
  * State design — the [[UrlDedupStream]] MEMBERSHIP discipline, and here
  * it is provably minimal rather than merely convenient: the report is a
  * per-class DISTINCT-user count, and distinct counts are not additive —
  * any pre-aggregated count state would either double under at-least-once
  * redelivery or need the member set anyway to dedup against. Membership
  * rows ARE that member set: (event_type, day, vbucket, user_id), an
  * idempotent set union bounded by the quasi-identifier grid × the USER
  * domain — a domain product, never the event count (contrast
  * [[KAnonymityStream]], whose additive row counts genuinely need the
  * watermarked-dedup + [[StateCommit]] exactly-once gates; a redelivered
  * membership row here is algebraically absorbed, so those gates would
  * buy nothing). Per batch the apply is one batch-local distinct appended
  * as an immutable O(batch) delta — no corpus rewrite, no per-batch
  * aggregate over the state.
  *
  * 100 TB shape: the delta write is O(batch); the report groups the
  * domain-bounded membership into the class grid (map-side combined) and
  * the band/stats rollups read that grid only, with the 1-row stats frame
  * broadcast back. [[compact]] bounds delta-read amplification.
  *
  * Batch/stream unification: the batch `agg_l_diversity` IS
  * [[report]]([[slice]](events)) — set union is homomorphic under
  * slicing, so the doubled-delivery batch-replay form (oracle-gated as
  * `stream_l_diversity` against the SAME SQL) collapses to the one-shot
  * answer; live restart/redelivery/compaction in StreamingSpec. */
object LDiversityStream
    extends Monitor.Members("event_type STRING, day DATE, vbucket BIGINT, user_id BIGINT") {

  /** One slice's (quasi-class, sensitive-value) membership rows —
    * batch or micro-batch: (event_type, event-time day, width-10 value
    * bucket, user_id), batch-locally distinct (cross-batch duplicates are
    * absorbed by the report's distinct counts). The bucket matches
    * [[KAnonymityStream.slice]] exactly — the two audits must read the
    * same grid. */
  override def slice(events: DataFrame): DataFrame =
    graft.Tables.normalizeTs(events)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 10.0).cast("long").as("vbucket"), col("user_id"))
      .distinct()

  /** The l-diversity band report off the membership state — per
    * distinct-user band (1 / 2–4 / 5–9 / 10+) the class count, the summed
    * distinct-user mass, and the class share in permille, plus the
    * dataset's l (min distinct users over classes) on every row. The
    * per-class distinct count is ONE map-side-combined aggregate onto the
    * quasi grid; it is checkpointed there (domain-bounded) because the
    * band rollup and the stats row both read it. */
  def report(state: DataFrame): DataFrame = {
    val perClass = state.groupBy(col("event_type"), col("day"), col("vbucket"))
      .agg(countDistinct(col("user_id")).as("l"))
      .localCheckpoint(true)
    val banded = perClass.select(
      when(col("l") === 1, "1").when(col("l") <= 4, "2-4")
        .when(col("l") <= 9, "5-9").otherwise("10+").as("band"),
      col("l"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("l")).as("n_class_users"))
    val tot = broadcast(perClass.agg(
      count(lit(1)).as("__classes"), min(col("l")).as("__l")))
    banded.crossJoin(tot)
      .select(col("band"), col("n_classes"), col("n_class_users"),
        expr("n_classes * 1000 div __classes").as("classes_permille"),
        col("__l").as("l_diversity"))
      .transform(graft.Tables.orderedReport(_, "band"))
  }

  /** Start the continuous homogeneity-risk monitor over the events in
    * `sourceDir`. No watermark or dedup gate: membership absorbs a
    * redelivered row, so the gate would shrink deltas without changing
    * any answer. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            compactEvery: Int = AppendState.DefaultCompactEvery): StreamingQuery =
    Monitor.run(CdcPipeline.eventStream(spark, sourceDir), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _, compactEvery))
}
