package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming conversion funnel — the incremental form of the batch
  * `agg_funnel` rollup (SURVEY §2.4 × §2.7): an event stream arrives
  * at-least-once; each micro-batch folds into per-user funnel state, and the
  * report rolls the state table up to per-stage reach counts on demand.
  *
  * State design — why FIRST-EVENT chain, not the batch query's strict chain:
  * the strict stage-2 entry ("first click AFTER the first signup") is not
  * computable from bounded mergeable state — a later batch can reveal an
  * EARLIER signup, retroactively qualifying clicks the previous state
  * already discarded, so any strict-chain state either re-reads history or
  * is wrong under reordering. The streaming form therefore keeps exactly
  * three values per user — the element-wise MIN timestamp per stage type —
  * and evaluates the chain on the mins at report time (`t_signup < t_click <
  * t_purchase`). Min-merge is commutative, associative and idempotent, so
  * redelivered batches, checkpointed restarts, and ANY micro-batch split of
  * the input converge to the one-shot batch answer (the [[CorpusIngest]]
  * argument) — the trade every production streaming funnel makes for
  * bounded state, made explicit here. On chains where each user's stage
  * events arrive in stage order (the common case), first-event and strict
  * agree; a purchase between a user's first signup and first click is the
  * case where they differ ([[graft.queries.CdcQueries]]'s batch funnel
  * counts it strictly).
  *
  * 100 TB shape: per batch the only exchange is the user groupBy of the
  * batch SLICE (map-side combined to ≤ 3 timestamps per user before it
  * rides); state is one narrow row per user who ever hit a stage event. In
  * production the state rewrite is a transactional MERGE INTO keyed on
  * user_id; the merge shape and its convergence are identical.
  */
object FunnelStream {

  /** The fixture queries' stage event types, in stage order — every entry
    * point is parameterized on a stage list ([[graft.operators.Funnel]]'s
    * N-stage generality, in the streaming form); this is just the default
    * instantiation. */
  val Stages: Seq[String] = Seq("signup", "click", "purchase")

  /** Roll the state table up to the funnel report: one row per stage with
    * reach and permille vs stage 1 (the batch funnel's output shape). A
    * user reaches stage k iff the first-event chain holds through k
    * (`t_1 < t_2 < … < t_k`); a null min fails every comparison, so
    * partial chains count only their reached prefix. One 1-row aggregate
    * + `stack` unpivot. */
  def report(state: DataFrame, stages: Seq[String] = Stages): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val conds: Seq[Column] = stages.indices.map { i =>
      if (i == 0) col(s"t_${stages.head}").isNotNull
      else (1 to i).map(j => col(s"t_${stages(j)}") > col(s"t_${stages(j - 1)}"))
        .reduce(_ && _)
    }
    val counts = conds.zipWithIndex.map { case (c, i) =>
      count(when(c, 1)).as(s"__n$i")
    }
    val cells = stages.zipWithIndex
      .map { case (st, i) => s"${i + 1}L, '$st', __n$i" }
      .mkString(", ")
    state.agg(counts.head, counts.tail: _*)
      .select(
        expr(s"stack(${stages.length}, $cells) AS (stage_idx, stage, n_users)"),
        col("__n0").as("__top"))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        expr("n_users * 1000 div greatest(__top, 1L)").as("conv_permille"))
      .transform(graft.Tables.orderedReport(_, "stage_idx"))
  }

  /** Conversion-lag profile over the SAME state table [[report]] reads:
    * p50/p90/integer-mean seconds from first to last stage over users
    * whose first-event chain completes — the timing companion the batch
    * `agg_conversion_lag` computes, continuously maintained. Quantiles by
    * [[graft.operators.Funnel.lagQuantiles]] (domain histogram — nothing
    * data-sized ever single-partition-sorts, at report time either). */
  def lagReport(state: DataFrame, stages: Seq[String] = Stages): DataFrame = {
    require(stages.length >= 2, "a lag needs at least two stages")
    val chain = (1 until stages.length)
      .map(j => col(s"t_${stages(j)}") > col(s"t_${stages(j - 1)}"))
      .reduce(_ && _)
    graft.operators.Funnel.lagQuantiles(
      state.filter(chain).select(
        (unix_timestamp(col(s"t_${stages.last}")) -
          unix_timestamp(col(s"t_${stages.head}"))).as("lag_sec")))
  }

  /** The funnel state kind over `stages`, under [[StateCommit]]. */
  def kind(stages: Seq[String] = Stages): Monitor.Kind = new Monitor.Additive {

    /** Per-user first-event state of one (bounded or micro-batch) slice:
      * element-wise min timestamp per stage type (`t_<stage>` columns, in
      * stage order), null where the slice has none. Non-stage events are
      * filtered BEFORE the exchange. */
    def slice(events: DataFrame): DataFrame = {
      require(stages.nonEmpty && stages.distinct == stages,
        s"funnel stages must be non-empty and distinct: $stages")
      require(stages.forall(_.matches("[A-Za-z0-9_-]+")),
        s"stage names must be plain identifiers (they name columns and ride " +
          s"a stack() literal): $stages")
      val mins = stages.map(st =>
        min(when(col("event_type") === st, col("ts"))).as(s"t_$st"))
      events.filter(col("event_type").isin(stages: _*))
        .groupBy(col("user_id"))
        .agg(mins.head, mins.tail: _*)
    }

    /** Keyed element-wise-min merge of two state tables — commutative,
      * associative, idempotent (min ignores nulls), hence convergent under
      * at-least-once delivery and any batch split. Stage columns are
      * inferred from the state schema. */
    def merge(state: DataFrame, slice: DataFrame): DataFrame = {
      val mins = state.columns.filterNot(_ == "user_id").toSeq
        .map(c => min(col(c)).as(c))
      state.unionByName(slice)
        .groupBy(col("user_id"))
        .agg(mins.head, mins.tail: _*)
    }
  }

  /** The live per-user first-event state. */
  def state(spark: SparkSession, targetDir: String): DataFrame = kind().state(spark, targetDir)

  /** Start the incremental funnel over the events in `sourceDir`:
    * [[CdcPipeline.changes]] merged into `targetDir`. */
  def start(spark: SparkSession, sourceDir: String, targetDir: String,
            checkpointDir: String, availableNow: Boolean = true,
            stages: Seq[String] = Stages): StreamingQuery =
    Monitor.run(CdcPipeline.changes(spark, sourceDir), checkpointDir, availableNow)(
      kind(stages).applyBatch(spark, _, targetDir, _))
}
