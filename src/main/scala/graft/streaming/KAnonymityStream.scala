package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming k-anonymity audit at ingest (SURVEY §2.7 × §2.4) — the
  * incremental form of the batch `agg_k_anonymity` release gate: as change
  * events arrive, each batch's quasi-identifier class counts fold into a
  * continuously-maintained grid, so the re-identification risk of "what we
  * have ingested so far" is readable at any moment — the gate a pipeline
  * checks CONTINUOUSLY rather than at the release postmortem (a burst of
  * size-1 classes surfaces at the batch it lands).
  *
  * State design ([[TopkStream]]'s exactly-once discipline — counts are not
  * idempotent under at-least-once delivery): redelivered ROWS die in
  * `dropDuplicatesWithinWatermark(event_id)` ([[CdcPipeline.dedupEvents]]),
  * replayed BATCHES die on the [[StateCommit]] batch-id marker, and past
  * those gates the merge is a plain additive fold of the batch's
  * (event_type, day, vbucket) class counts. State is bounded by the
  * quasi-identifier DOMAIN (types × days × value buckets) — never
  * event-sized — at any corpus scale.
  *
  * 100 TB shape: per batch the only exchange is the slice's map-side-
  * combined class aggregate; the report is band/total rollups on the
  * domain-bounded grid with a 1-row stats frame broadcast back.
  *
  * Batch/stream unification: the batch `agg_k_anonymity` IS
  * [[report]]([[slice]](events)) — exactly-once input makes the
  * one-shot slice the fully-merged grid — and the two forms share ONE
  * oracle SQL verbatim. The batch-replay form is oracle-gated as
  * `stream_k_anonymity` over a DOUBLED delivery collapsed by the same
  * event-id dedup gate the live stream runs; live restart/redelivery in
  * StreamingSpec. */
object KAnonymityStream extends Monitor.Additive {

  /** One slice's quasi-identifier equivalence-class counts — batch or
    * micro-batch: (event_type, event-time day, width-10 value bucket) → n.
    * The bucket uses double floor(value/10) (one IEEE divide + floor,
    * identical in both engines; an integer `div` would truncate, not
    * floor, on hypothetical negative values). `ts` is normalized first,
    * so a raw events frame slices like the live stream. */
  def slice(events: DataFrame): DataFrame =
    graft.Tables.normalizeTs(events)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") / 10.0).cast("long").as("vbucket"))
      .agg(count(lit(1)).as("n"))

  /** Additive merge of a counted slice into the class grid. */
  def merge(state: DataFrame, slice: DataFrame): DataFrame =
    state.select(col("event_type"), col("day"), col("vbucket"), col("n"))
      .unionByName(slice.select(col("event_type"), col("day"),
        col("vbucket"), col("n")))
      .groupBy(col("event_type"), col("day"), col("vbucket"))
      .agg(sum(col("n")).as("n"))

  /** The Sweeney class-size-band report off the class grid — identical
    * columns to the batch `agg_k_anonymity`: per band (1 / 2–4 / 5–9 /
    * 10+) the class and row counts and row share in permille, plus the
    * dataset's k (min class size) on every row. Every aggregate runs on
    * the domain-bounded grid. */
  def report(state: DataFrame): DataFrame = {
    val banded = state.select(
      when(col("n") === 1, "1").when(col("n") <= 4, "2-4")
        .when(col("n") <= 9, "5-9").otherwise("10+").as("band"),
      col("n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n")).as("n_rows"))
    val tot = broadcast(state.agg(
      sum(col("n")).as("__rows"), min(col("n")).as("__k")))
    banded.crossJoin(tot)
      .select(col("band"), col("n_classes"), col("n_rows"),
        expr("n_rows * 1000 div __rows").as("rows_permille"),
        col("__k").as("k_anonymity"))
      .transform(graft.Tables.orderedReport(_, "band"))
  }

  /** t-closeness report off the SAME class grid (Li, Li & Venkatasubramanian
    * 2007 — the third tier of the privacy trio): per quasi class
    * (event_type, day), how far the class's sensitive-value (vbucket)
    * distribution sits from the GLOBAL one — k-anonymity misses the
    * single-user class, l-diversity misses the class whose values are
    * diverse-but-skewed toward a revealing tail; t-closeness bounds the
    * attribute-disclosure gain itself. Distance is the ordered EMD over
    * the numeric buckets (the paper's metric for ordered attributes):
    * EMD = Σ_b |CP_c(b) − CP_g(b)| / (B−1) over cumulative shares.
    *
    * Determinism: the cumulative-share comparison is DIVISION-FREE until
    * the last step — |cn_c·N_g − cg·N_c| is an exact integer per lattice
    * cell, summed per class, with ONE trailing integer division to
    * permille (exact while B·N_c·N_g·1000 < 2⁶³ — at fixture scale ≪;
    * widen the sum to decimal(38,0) beyond ~10⁵ buckets × 10⁸ rows).
    *
    * Shape: every frame after the grid is DOMAIN-bounded — class totals
    * (C rows), bucket totals + ONE global cumsum window on the B-row
    * frame (single-task by construction, B-bounded), the C×B lattice via
    * a broadcast cross join so absent (class, bucket) cells exist with
    * n = 0 (cumulative shares need the full bucket axis), the per-class
    * cumsum window partitioned by class, and two broadcast stats rows.
    * The grid itself is checkpointed (it feeds classes, buckets, and the
    * lattice join). */
  def reportTCloseness(state: DataFrame): DataFrame = {
    val grid = state.localCheckpoint(true)
    val classes = grid.groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n_c"))
    val buckets = grid.groupBy(col("vbucket")).agg(sum(col("n")).as("g_b"))
    val bktCum = buckets
      .withColumn("cg", sum(col("g_b")).over(Window.orderBy(col("vbucket"))))
    val stats = broadcast(buckets.agg(
      sum(col("g_b")).as("__ng"), count(lit(1)).as("__nb")))
    val lattice = classes.crossJoin(broadcast(bktCum))
      .join(grid, Seq("event_type", "day", "vbucket"), "left")
      .withColumn("__n0", coalesce(col("n"), lit(0L)))
    val wC = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("vbucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perClass = lattice.withColumn("__cn", sum(col("__n0")).over(wC))
      .crossJoin(stats)
      .groupBy(col("event_type"), col("day"), col("n_c"), col("__ng"), col("__nb"))
      .agg(sum(abs(col("__cn") * col("__ng") - col("cg") * col("n_c"))).as("__num"))
      .select(col("event_type"), col("day"), col("n_c").as("n_rows"),
        when(col("__nb") <= 1, lit(0L)).otherwise(
          expr("__num * 1000 div ((__nb - 1) * n_c * __ng)")).as("t_milli"))
      .localCheckpoint(true) // C rows; read by the projection and the max
    val mx = broadcast(perClass.agg(max(col("t_milli")).as("__t_max")))
    perClass.crossJoin(mx)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_rows"), col("t_milli"), col("__t_max").as("t_closeness"))
      .transform(graft.Tables.orderedReport(_, "event_type", "day"))
  }

  /** Row-level exactly-once horizon for the additive grid: the event-id
    * dedup state expires `dedupDelay` behind the event-time watermark, so
    * an event REDELIVERED LATER than that permanently double-counts its
    * class cell. For most monitors that's benign jitter; for a privacy
    * release gate the over-count direction matters — a double-counted
    * class OVERSTATES its size, so k reads too high and size-1 classes
    * can be under-reported (the report errs toward "safe"). Size the
    * delay to the source's redelivery horizon, not to state comfort. */
  val DefaultDedupDelay = "1 hour"

  /** Start the continuous release-risk monitor over the events in
    * `sourceDir`: event-id dedup within `dedupDelay` (the redelivery
    * horizon, see [[DefaultDedupDelay]]), then the grid fold into
    * `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            dedupDelay: String = DefaultDedupDelay): StreamingQuery =
    Monitor.run(CdcPipeline.dedupEvents(graft.Tables.normalizeTs(
      CdcPipeline.eventStream(spark, sourceDir)), dedupDelay), checkpointDir, availableNow)(
      applyBatch(spark, _, targetDir, _))
}
