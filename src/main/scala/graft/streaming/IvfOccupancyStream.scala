package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuously-maintained IVF index-health monitor (SURVEY §2.7 × §2.8)
  * — the incremental form of the batch `ext_sim_ivf_occupancy` audit: as
  * vectors arrive, each batch's cell assignments against the FROZEN
  * production codebook fold into a per-cell count grid, so the index's
  * occupancy balance — the number that decides whether nProbe keeps its
  * recall and whether a hot cell is quietly turning probes into scans —
  * is readable at any moment. A domain shift that piles new vectors into
  * two cells surfaces at the batch it lands, not at the re-index
  * postmortem.
  *
  * The codebook is a PARAMETER, deliberately: a live monitor must assign
  * every batch against the SAME centroids the serving index uses, or its
  * additive state is meaningless ([[graft.operators.Knn.intIvfCells]] —
  * the integer-exact `ext_sim_knn_ivf_cells` Lloyd, a deterministic pure
  * function of the calibration corpus, so the batch twin and the replay
  * form recover it bit-identically).
  *
  * State design — [[EmbedDriftStream]]'s two-half discipline verbatim
  * (counts are ADDITIVE, vectors carry NO event time): the vec_id LEDGER
  * ([[AppendState]] O(batch) idempotent deltas) anti-joins redelivered
  * vectors away; the (cell → n) count grid ([[StateCommit]] versioned
  * flips) is nCells-bounded and rewritten atomically per batch at grid
  * cost. Assignment itself is the zero-shuffle codegen'd argmin against
  * literal centroids — per batch the only exchange is the map-side-
  * combined cell aggregate.
  *
  * Batch/stream unification: the batch `ext_sim_ivf_occupancy` IS
  * [[report]](`kind(cells).slice(embeddings)`) — one shared oracle SQL
  * (the Lloyd replay + occupancy rollup); the batch-replay form is
  * oracle-gated as `stream_ivf_occupancy` over a DOUBLED delivery
  * collapsed by the same vec_id dedup; live
  * restart/redelivery/replay/compaction in StreamingSpec. */
object IvfOccupancyStream {

  /** The occupancy-balance report off the count grid — per cell its count
    * and corpus share in permille, plus the grid-wide max/min cell sizes
    * and the imbalance ratio (max over mean, permille — 1000 = perfectly
    * balanced; nProbe recall planning reads this single number) on every
    * row. Every aggregate runs on the nCells-bounded grid, checkpointed
    * because the stats row and the projection both read it. */
  def report(state: DataFrame): DataFrame = {
    val occ = state.localCheckpoint(true)
    val st = broadcast(occ.agg(
      sum(col("n")).as("__nt"), count(lit(1)).as("__nc"),
      max(col("n")).as("__mx"), min(col("n")).as("__mn")))
    occ.crossJoin(st)
      .select(col("cell"), col("n"),
        expr("n * 1000 div __nt").as("share_permille"),
        col("__mx").as("max_cell"), col("__mn").as("min_cell"),
        expr("__mx * __nc * 1000 div __nt").as("imbalance_permille"))
      .transform(graft.Tables.orderedReport(_, "cell"))
  }

  /** The ledger+grid state kind assigning against `cells`. */
  def kind(cells: Seq[(Int, Array[Long])]): Monitor.Ledgered = new Monitor.Ledgered {
    protected def key = "vec_id"

    /** One slice's per-cell count contribution under the frozen codebook
      * — row-local assignment, ONE map-side-combined aggregate onto the
      * nCells-bounded grid. */
    def slice(vectors: DataFrame): DataFrame =
      vectors.select(
        graft.operators.Knn.intCellOf(col("embedding"), cells).as("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"))

    /** Additive merge of a count delta into the grid state. */
    def merge(state: DataFrame, slice: DataFrame): DataFrame =
      state.unionByName(slice)
        .groupBy(col("cell"))
        .agg(sum(col("n")).as("n"))
  }

  /** The kind for what never assigns a vector: reading the grid, and
    * folding or reading the ledger. */
  private val stored = kind(Nil)

  /** The LIVE count grid. */
  def state(spark: SparkSession, targetDir: String): DataFrame = stored.state(spark, targetDir)

  /** Fold the ledger's deltas. */
  def compact(spark: SparkSession, targetDir: String): Unit = stored.compact(spark, targetDir)

  /** The applied-vector ledger, distinct. */
  def seenIds(spark: SparkSession, targetDir: String): DataFrame = stored.seenIds(spark, targetDir)

  /** Apply one micro-batch, assigning against `cells`. */
  def applyBatch(spark: SparkSession, batch: DataFrame,
                 cells: Seq[(Int, Array[Long])], targetDir: String,
                 batchId: Long,
                 compactEvery: Int = AppendState.DefaultCompactEvery): Unit =
    kind(cells).applyBatch(spark, batch, targetDir, batchId, compactEvery)

  /** Start the index-health monitor over the embeddings parquet files in
    * `sourceDir`, read with their observed schema, assigning against the
    * caller's frozen codebook. */
  def start(spark: SparkSession, sourceDir: String,
            cells: Seq[(Int, Array[Long])], targetDir: String,
            checkpointDir: String, availableNow: Boolean = true): StreamingQuery =
    Monitor.run(
      Monitor.observedStream(spark, sourceDir, "vec_id BIGINT, embedding ARRAY<FLOAT>"),
      checkpointDir, availableNow)(applyBatch(spark, _, cells, targetDir, _))
}
