package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Similarity search over an `array<float>` embedding column (SURVEY §2.8).
  *
  * Top-k paths:
  *  - [[bruteForce]]: exact — broadcast the (small) query set against the
  *    corpus; the corpus never shuffles. The oracle-parity baseline.
  *  - [[lshKnn]]: sign-random-projection LSH buckets both sides; each query
  *    scores only its own bucket (corpus/2^bits per probe).
  *  - [[ivfKnn]]: inverted-file — k-means cells, each query scores its
  *    nProbe nearest cells (~nProbe/nCells of the corpus).
  * Near-dup paths: [[cosineNearDup]] (exact quadratic baseline) and
  * [[cosineNearDupLsh]] (banded-LSH candidates, exact-verified).
  *
  * All scoring precomputes per-row norms BEFORE the pairwise join (one
  * codegen'd dot per pair instead of three) — at 100 TB the per-pair dot is
  * the entire cost of these operators.
  */
object Knn {

  /** Per-subspace PQ codebooks (dense: a code IS a list position). */
  type Codebooks = Seq[Seq[Array[Float]]]

  /** cosine from a precomputed-norm pair: dot / (normA·normB) — identical
    * double arithmetic to sqrt(dot aa)·sqrt(dot bb) computed inline. */
  private def cos(aEmb: Column, bEmb: Column, aNorm: Column, bNorm: Column): Column =
    VectorFns.dot(aEmb, bEmb) / (aNorm * bNorm)

  /** Exact top-k cosine neighbours for each query vector (excluding self).
    * Queries are broadcast; ranking is one window shuffle on query_id. */
  /** `scopeCols` turns this into FILTERED search (the tenant-/metadata-
    * scoped ANN every production vector store exposes): neighbours must
    * match the query on each scope column. The scope is an EQUI-join key,
    * not a post-filter — the broadcast join hashes on it, so each query
    * scores only its own slice of the corpus (the reason filtered search
    * is CHEAPER than global search at scale, never a filtered-afterwards
    * top-k that scored everything). */
  /** `scopeEqual = false` flips every scope predicate to ≠ — hard-negative
    * mining (nearest neighbours from OTHER classes, the contrastive-
    * training sampler). The inequality can't be a hash key, so the scope
    * rides the broadcast join as a residual filter; at scale the same
    * IVF/LSH routing prunes candidates BEFORE the label test, exactly as
    * for unfiltered search. */
  def bruteForce(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
                 k: Int, scopeCols: Seq[String] = Nil,
                 scopeEqual: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(
      Seq(col(idCol).as("query_id"), col(embCol).as("__q_emb"),
        VectorFns.norm(col(embCol)).as("__q_n")) ++
        scopeCols.map(c => col(c).as(s"__q_$c")): _*))
    val scope = scopeCols
      .map(c => if (scopeEqual) col(c) === col(s"__q_$c") else col(c) =!= col(s"__q_$c"))
      .foldLeft(col("neighbor_id") =!= col("query_id"))(_ && _)
    val scored = corpus.select(
      Seq(col(idCol).as("neighbor_id"), col(embCol).as("__c_emb"),
        VectorFns.norm(col(embCol)).as("__c_n")) ++ scopeCols.map(col): _*)
      .join(q, scope)
      .withColumn("cosine", cos(col("__q_emb"), col("__c_emb"), col("__q_n"), col("__c_n")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id") +: col("rank") +: col("neighbor_id") +:
        graft.Tables.rnd4(col("cosine")).as("cosine") +: scopeCols.map(col): _*)
  }

  /** Relational RECALL AUDIT of an ANN result against the exact top-k —
    * the `ext_token_quantiles_fast` graduation pattern for approximate
    * operators: the ANN neighbor lists themselves are candidate-machinery-
    * dependent (hash planes / learned quantizers, not SQL-expressible),
    * but their recall CONTRACT is a deterministic pure function of the
    * corpus — both the ANN result and the exact top-k are engine-
    * deterministic (decimal sums, id tie-breaks), so per query the hit
    * count |ann ∩ exact| is reproducible and `ok = hits ≥ floor` can be
    * hash-gated by an oracle that asserts the same grid with ok = true. A
    * recall regression (degraded banding, broken quantizer, lost probe)
    * flips an ok to false and hash-mismatches. Emits one row per query
    * (query_id, k, min_hits, ok) plus a TOTAL row (query_id = −1) whose
    * floor gates aggregate recall — per-query floors catch a query
    * getting lost, the total floor catches broad degradation. Queries
    * with NO ann rows (empty buckets) audit as hits = 0, never drop. */
  def recallAudit(queries: DataFrame, idCol: String, ann: DataFrame, exact: DataFrame,
                  k: Int, minHitsPerQuery: Int, minHitsTotal: Int): DataFrame = {
    val hits = ann.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("__h"))
    val perQ = queries.select(col(idCol).cast("long").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        lit(minHitsPerQuery.toLong).as("min_hits"),
        coalesce(col("__h"), lit(0L)).as("__h"))
      .localCheckpoint(true) // query-count-bounded; read by per-row and total
    val total = perQ.agg(sum(col("__h")).as("__t"), count(lit(1)).as("__nq"))
      .select(lit(-1L).as("query_id"), (col("__nq") * k).as("k"),
        lit(minHitsTotal.toLong).as("min_hits"),
        (col("__t") >= minHitsTotal).as("ok"))
    perQ.select(col("query_id"), col("k"), col("min_hits"),
        (col("__h") >= minHitsPerQuery).as("ok"))
      .unionByName(total)
      .transform(graft.Tables.orderedReport(_, "query_id"))
  }

  /** Deterministic pseudo-random hyperplanes: weight(plane, dim) derived
    * from xxhash64 — reproducible across runs with zero data movement, and
    * defined for EVERY (plane, dim) pair, so the embedding dimension is
    * whatever `size(embCol)` says per row (nothing hard-codes it). */
  private def hyperplaneWeight(plane: Column, dim: Column): Column =
    (pmod(xxhash64(lit("graft-lsh"), plane, dim), lit(20001L)) - 10000L).cast("double") / 10000.0

  /** Per-band sign-random-projection keys: `bands` independent hash tables
    * of `bitsPerBand` hyperplane-sign bits each → one (id, band, key) row
    * per vector per band. All band keys come out of ONE codegen'd
    * expression pass over each row ([[graft.functions.SrpBandKeys]] — the
    * FloatDot pattern) followed by a posexplode: zero shuffles, zero
    * row fan-out, any embedding dimension. Bit-identical to the
    * declarative [[lshBandKeysRef]] form it replaced (KnnSpec pins the
    * equality), so bucket assignments — and every LSH query output —
    * are unchanged. */
  def lshBandKeys(vectors: DataFrame, idCol: String, embCol: String,
                  bands: Int, bitsPerBand: Int): DataFrame =
    vectors.select(col(idCol),
      posexplode(VectorFns.srpBandKeys(col(embCol), bands, bitsPerBand)).as(Seq("band", "key")))

  /** The declarative reference form of [[lshBandKeys]]: vector elements
    * fan out to (element × plane) rows, projections come back through a
    * (id, plane) aggregation and sign bits pack through a (id, band) one —
    * two shuffles and n·d·nPlanes intermediate rows. Kept (test-only) as
    * the semantic pin for the codegen'd expression; weights come from
    * [[hyperplaneWeight]] at each element's actual position. */
  private[graft] def lshBandKeysRef(vectors: DataFrame, idCol: String, embCol: String,
                                    bands: Int, bitsPerBand: Int): DataFrame = {
    val nPlanes = bands * bitsPerBand
    vectors
      .select(col(idCol), posexplode(col(embCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos"), col("v"),
        explode(sequence(lit(0), lit(nPlanes - 1))).as("plane"))
      .groupBy(col(idCol), col("plane"))
      .agg(sum(col("v") * hyperplaneWeight(col("plane"), col("pos"))).as("dot"))
      .groupBy(col(idCol), (col("plane") / bitsPerBand).cast("int").as("band"))
      .agg(sum(when(col("dot") > 0,
        expr(s"shiftleft(1L, cast(plane % $bitsPerBand as int))")).otherwise(0L)).as("key"))
  }

  /** Approximate top-k: candidates are the UNION of the query's bucket in
    * `bands` independent hash tables (the OR-construction — the same
    * banding [[cosineNearDupLsh]] uses), exact-rescored and ranked. One
    * band is a recall trap: measured at sf0.1, a single 6-bit table
    * recalled 6% of true top-5 (each query saw only its ~1/64 corpus
    * slice), while 8 bands × 8 bits recalls most of it for a few % of the
    * corpus scanned per query.
    *
    * Shape: band keys are a per-row codegen'd expression on BOTH sides
    * (no shuffle to assign); the (band, key) join broadcasts the query
    * side, so the corpus is scanned once and never shuffled. A pair
    * colliding in several bands dedupes through the (query, neighbor)
    * aggregate — the only shuffle, keyed by candidate pair, bounded by
    * bands × bucket occupancy × queries. */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
             k: Int, bands: Int, bitsPerBand: Int): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).as("__c_emb"), VectorFns.norm(col(embCol)).as("__c_n"),
      posexplode(VectorFns.srpBandKeys(col(embCol), bands, bitsPerBand))
        .as(Seq("band", "key")))
    val qb = broadcast(
      queries.select(col(idCol).as("query_id"),
        col(embCol).as("__q_emb"), VectorFns.norm(col(embCol)).as("__q_n"),
        posexplode(VectorFns.srpBandKeys(col(embCol), bands, bitsPerBand))
          .as(Seq("band", "key"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    cb.join(qb, Seq("band", "key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cos(col("__q_emb"), col("__c_emb"), col("__q_n"), col("__c_n")))
      // multi-band collisions carry identical cosines; collapse before ranking
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("cosine")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        graft.Tables.rnd4(col("cosine")).as("cosine"))
  }

  /** All corpus pairs with cosine ≥ threshold (embedding near-dup). Exact
    * form is an O(n²) cross join — correct at oracle scale; at 100 TB
    * [[cosineNearDupLsh]] replaces it. */
  def cosineNearDup(corpus: DataFrame, idCol: String, embCol: String, threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(embCol).as("__ea"),
      VectorFns.norm(col(embCol)).as("__na"))
    val b = corpus.select(col(idCol).as("id_b"), col(embCol).as("__eb"),
      VectorFns.norm(col(embCol)).as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cos(col("__ea"), col("__eb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), graft.Tables.rnd4(col("cosine")).as("cosine"))
  }

  /** Greedy k-center coreset (farthest-point traversal, Gonzalez 1985):
    * pick the min-id vector, then k−1 times the vector FARTHEST (cosine
    * distance 1 − cos, ties id-asc) from everything already picked — the
    * classic 2-approximation to the k-center cover, and the diversity-
    * first selection pass of prototype/eval-set pipelines (a random sample
    * over-draws dense clusters; farthest-point provably spreads).
    *
    * Scale shape: k sequential jobs, each ONE scan of the persisted
    * (id, emb, norm) frame — per step a row-local least() over the ≤ k
    * driver-held centers (k·dim floats, the IVF-centroid pattern) and a
    * TakeOrdered(1) argmax; nothing corpus-sized ever leaves the executors
    * and total work is k·n dots. Driver round-trips are k single rows.
    *
    * Determinism: distances are the [[VectorFns.dot]] fixed-order double
    * fold over float inputs (the established DuckDB `list_dot_product`
    * parity), the per-step min over centers is a min over identical
    * doubles (order-free), and the argmax breaks ties id-asc — so the
    * traversal, and hence the coreset, is a pure function of the corpus.
    * The reported distance is engine-rounded ([[graft.Tables.rnd4]])
    * BEFORE it reaches the driver; the seed's distance-to-empty-set is
    * NULL. */
  def coresetKCenter(corpus: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    require(k >= 1, s"coresetKCenter: need k >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).as("vec_id"), col(embCol).as("__e"),
      VectorFns.norm(col(embCol)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = base.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("__e")).as[(Long, Array[Float])].collect().head
      val kEff = math.min(k.toLong, base.count()).toInt // count once, warms the persist
      // (id, center vector, engine-rounded distance at selection time)
      var selected = Vector[(Long, Array[Float], Option[Double])]((seed._1, seed._2, None))
      while (selected.size < kEff) {
        val dmin = selected.map { case (_, c, _) =>
          lit(1.0) - VectorFns.dot(col("__e"), lit(c)) /
            (col("__n") * VectorFns.norm(lit(c)))
        }.reduce(least(_, _))
        val next = base.filter(!col("vec_id").isin(selected.map(_._1): _*))
          .select(col("vec_id"), col("__e"), dmin.as("__d"))
          .orderBy(col("__d").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("__e"), graft.Tables.rnd4(col("__d")).as("__d"))
          .as[(Long, Array[Float], Double)].collect().head
        selected :+= ((next._1, next._2, Some(next._3)))
      }
      selected.zipWithIndex
        .map { case ((id, _, d), i) => (i + 1L, id, d) }
        .toDF("step", "vec_id", "dist")
    } finally base.unpersist(false)
  }

  /** IVF (inverted-file) coarse quantizer — the OTHER classic ANN scale
    * path: k-means cells trained with a few Lloyd rounds, queries probe only
    * their `nProbe` nearest cells. The quantizer trains on a SAMPLE (the
    * `sampleN` lowest-id vectors, default 32·nCells — ample for nCells
    * means, and a deterministic take instead of a random draw): each Lloyd
    * iteration scans only the persisted sample, so at 100 TB training cost
    * is independent of corpus size and the full corpus is scanned exactly
    * once — the single assignment pass in [[ivfKnn]]. The centroid table
    * itself is O(nCells·dim) and lives on the driver between rounds (the
    * standard IVF training shape).
    *
    * Determinism: seeds are the `nCells` lowest-id vectors; the centroid
    * update sums per (cell, dim) in DECIMAL (order-independent, unlike
    * float/double partial aggregation), and cell assignment breaks distance
    * ties by cell id — so the index, and therefore the query result, is a
    * pure function of the corpus. */
  def ivfCentroids(corpus: DataFrame, idCol: String, embCol: String,
                   nCells: Int, iters: Int, sampleN: Int = 0): Seq[(Int, Array[Float])] = {
    val n = if (sampleN > 0) sampleN else nCells * 32
    // TakeOrdered, not a full sort — one corpus scan to build the sample
    val sample = corpus.select(col(idCol), col(embCol)).orderBy(col(idCol)).limit(n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try lloyd(sample, idCol, embCol, nCells, iters)
    finally sample.unpersist(false)
  }

  /** The Lloyd rounds of [[ivfCentroids]]. `sample` must already be
    * persisted and driver-manageable: every round scans it and collects
    * O(nCells·dim) back. [[pqCodebooks]] deliberately does NOT reuse this
    * loop — it runs its own (subspace, cell)-keyed variant so all m
    * subspaces train in one job per round instead of m. */
  private def lloyd(sample: DataFrame, idCol: String, embCol: String,
                    nCells: Int, iters: Int): Seq[(Int, Array[Float])] = {
    val spark = sample.sparkSession
    import spark.implicits._
    var cs: Seq[(Int, Array[Float])] = sample.orderBy(col(idCol)).limit(nCells)
      .select(col(embCol)).as[Array[Float]].collect().toSeq.zipWithIndex.map(_.swap)
    for (_ <- 0 until iters) {
      val assign = nearestCell(sample, centroidFrame(spark, cs), idCol, embCol)
      cs = sample.join(assign, idCol)
        .select(col("cell"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("v").cast("decimal(28,10)")) / count(lit(1))).cast("float").as("c"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("cv"))
        .select(col("cell"), col("cv.c").as("cvec"))
        .as[(Int, Array[Float])].collect().toSeq.sortBy(_._1)
    }
    cs
  }

  /** Centroid table as a broadcastable frame: (cell, cvec, cnorm2 = ‖c‖²). */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            cs: Seq[(Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    cs.toDF("cell", "cvec")
      .withColumn("cnorm2", VectorFns.dot(col("cvec"), col("cvec")))
  }

  /** Nearest cell per vector: argmin over ‖c‖² − 2·v·c (the ‖v‖² term is
    * constant per vector), ties broken by cell id via struct ordering. */
  private def nearestCell(vectors: DataFrame, centroids: DataFrame,
                          idCol: String, embCol: String): DataFrame =
    vectors.crossJoin(broadcast(centroids))
      .withColumn("__d", col("cnorm2") - lit(2.0) * VectorFns.dot(col(embCol), col("cvec")))
      .groupBy(col(idCol))
      .agg(min(struct(col("__d"), col("cell"))).as("m"))
      .select(col(idCol), col("m.cell").as("cell"))

  /** IVF approximate top-k: assign the corpus to cells once, route each
    * query to its `nProbe` nearest cells, score exact cosine inside them.
    * Per query the scan covers ~nProbe/nCells of the corpus instead of all
    * of it; recall is governed by (nCells, nProbe). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
             k: Int, nCells: Int, iters: Int, nProbe: Int, sampleN: Int = 0,
             trainedCells: Option[Seq[(Int, Array[Float])]] = None): DataFrame = {
    val spark = corpus.sparkSession
    // trainedCells short-circuits the Lloyd — callers that already hold
    // the production codebook (a deterministic pure function of the
    // corpus + params) skip the sample/assign round-trips; the result is
    // byte-identical to training inline
    val cells = trainedCells.getOrElse(
      ivfCentroids(corpus, idCol, embCol, nCells, iters, sampleN))
    val cents = centroidFrame(spark, cells)
    // zero-shuffle literal assignment (rowNearestCell ≡ nearestCell by the
    // shared tie rule): the corpus neither fans out ×nCells nor re-joins
    val corpusCells = corpus
      .select(col(idCol).as("neighbor_id"),
        rowNearestCell(col(embCol), cells).as("cell"), col(embCol).as("__c_emb"),
        VectorFns.norm(col(embCol)).as("__c_n"))
    val probeW = Window.partitionBy(col(idCol)).orderBy(col("__d"), col("cell"))
    val probes = broadcast(
      queries.crossJoin(broadcast(cents))
        .withColumn("__d", col("cnorm2") - lit(2.0) * VectorFns.dot(col(embCol), col("cvec")))
        .withColumn("__r", row_number().over(probeW))
        .filter(col("__r") <= nProbe)
        .select(col(idCol).as("query_id"), col("cell"), col(embCol).as("__q_emb"),
          VectorFns.norm(col(embCol)).as("__q_n")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    corpusCells.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cos(col("__q_emb"), col("__c_emb"), col("__q_n"), col("__c_n")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        graft.Tables.rnd4(col("cosine")).as("cosine"))
  }

  /** Positive offset for floor division in [[ivfCellsInt]]: numerators
    * shift positive before the integer division so Spark's truncating
    * `div` and SQL floor division agree (coordinates would need |x| >
    * ~2000 to break the bound — embeddings are unit-scale). */
  private val IntMeanOff = 2147483648L // 2^31

  /** Integer-EXACT k-means cell table — the oracle-expressible twin of
    * [[ivfCentroids]] + assignment, gating the quantizer machinery itself
    * (the `ext_sim_knn_ivf_cells` entry; the grouping side is already
    * gated by `ext_sim_semdedup_cells`). Same algorithm — lowest-id
    * sample, lowest-id seeds, Lloyd mean updates, nearest-cell argmin
    * with cell-id tie-breaks — under the repo's cross-engine integer
    * discipline instead of float arithmetic:
    *  - coordinates snap ONCE to the exact 1e-4 grid (floor(x·10⁴+0.5),
    *    the `rnd4`/dim-stats form) and live as ×100 integers (1e-6 units);
    *  - the centroid update is the exact FLOOR-mean
    *    ⌊Σv/n⌋ = (Σv + OFF·n) div n − OFF (positive-offset division:
    *    truncation ≡ floor on every engine);
    *  - distances are exact integer Σ(v−c)² (≤ dim·(2·10⁶)² ≪ 2⁶³), ties
    *    break by cell id — so every iteration, and therefore the final
    *    corpus assignment, is a bit-reproducible pure function of the
    *    corpus that an unrolled SQL replay reproduces row for row.
    * Scale shape unchanged from the float path: training touches only the
    * driver-manageable sample; the corpus-wide assignment is a zero-
    * shuffle argmin against LITERAL centroids ([[rowNearestCell]]'s
    * pattern) — one scan, no exchange. Empty cells drop out of the
    * centroid list exactly as in [[lloyd]]. */
  def ivfCellsInt(corpus: DataFrame, idCol: String, embCol: String,
                  nCells: Int, iters: Int, sampleN: Int): DataFrame = {
    val (_, cs) = intCentroids(corpus, idCol, embCol, nCells, iters, sampleN)
    corpus.select(col(idCol).as("vec_id"),
      element_at(intAssign(col(embCol), Seq(cs)).getField("cells"), 1)
        .cast("long").as("cell"))
  }

  /** The snap + train phase of [[ivfCellsInt]]: the 1e-6-unit snapped
    * corpus frame and the trained k-integer-Lloyd centroids (driver-held,
    * k·dim longs). Shared by the cell table, the outlier QC twin and the
    * PQ coder so "the quantizer" is ONE definition.
    *
    * Training runs ON THE DRIVER over the collected sample — the sample is
    * contract-bounded (sampleN rows · dim longs), so the whole Lloyd loop
    * is ONE cluster job (the ordered sample fetch) instead of
    * iters × (assign-join + update-aggregate + collect) rounds of
    * tiny-frame shuffles, which dominated the wall clock at any scale
    * (the work is latency, not data). Exact-integer arithmetic keeps the
    * local loop bit-identical to the distributed form it replaced AND to
    * the unrolled SQL replay: `Math.floorDiv` IS the replay's
    * positive-offset `div` (both are floor division). */
  private[graft] def intCentroidsLocal(sampleRows: Array[Array[Long]],
                                       nCells: Int, iters: Int): Seq[(Int, Array[Long])] = {
    var cs: Seq[(Int, Array[Long])] =
      sampleRows.take(nCells).zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    for (_ <- 0 until iters) {
      val byCell = sampleRows.groupBy(v => intNearestLocal(v, cs)._2)
      cs = byCell.toSeq.sortBy(_._1).map { case (cell, members) =>
        val dim = members.head.length
        val mean = Array.tabulate(dim) { p =>
          Math.floorDiv(members.map(_(p)).sum, members.length.toLong)
        }
        (cell, mean)
      }
    }
    cs
  }

  /** Local exact-integer argmin: (d², cell) with the cell-id tie-break —
    * the driver-side twin of [[intNearestCellStruct]]. */
  private def intNearestLocal(v: Array[Long], cs: Seq[(Int, Array[Long])]): (Long, Int) =
    cs.map { case (cell, c) =>
      var d = 0L; var i = 0
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      (d, cell)
    }.min

  /** One snap to the exact 1e-4 grid, held as ×100 integers (1e-6 units) —
    * the shared coordinate discipline of every integer-exact quantizer.
    * Codegen'd ([[graft.functions.SnapGrid]]); [[snap100Ref]] keeps the
    * declarative transform as the test-only semantic pin. */
  private[graft] def snap100(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SnapGrid(
        org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** The interpreted higher-order form of [[snap100]] — the spec the
    * compiled expression is property-tested against (KnnSpec). */
  private[graft] def snap100Ref(c: Column): Column =
    transform(c, x => (floor(x.cast("double") * 1e4 + 0.5).cast("long") * 100L))

  /** The trained integer-Lloyd codebook alone (the `ext_sim_knn_ivf_cells`
    * quantizer) — for callers that FREEZE it: a streaming index monitor
    * must assign every batch against the SAME codebook or its additive
    * per-cell state is meaningless. Deterministic pure function of
    * (corpus, params): the sample is the lowest-`sampleN` ids. */
  def intIvfCells(corpus: DataFrame, idCol: String, embCol: String,
                  nCells: Int, iters: Int, sampleN: Int): Seq[(Int, Array[Long])] =
    intCentroids(corpus, idCol, embCol, nCells, iters, sampleN)._2

  /** Row-local cell assignment against a frozen codebook — the
    * [[ivfCellsInt]] argmin as a pure column (zero shuffles, codegen'd
    * [[graft.functions.IntCellAssign]] kernel). */
  def intCellOf(emb: Column, cells: Seq[(Int, Array[Long])]): Column =
    element_at(intAssign(emb, Seq(cells)).getField("cells"), 1).cast("long")

  private def intCentroids(corpus: DataFrame, idCol: String, embCol: String,
                           nCells: Int, iters: Int, sampleN: Int)
      : (DataFrame, Seq[(Int, Array[Long])]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val snapped = corpus.select(col(idCol).as("vec_id"), snap100(col(embCol)).as("__v"))
    val sampleRows = snapped.orderBy(col("vec_id")).limit(sampleN)
      .select(col("__v")).as[Array[Long]].collect()
    (snapped, intCentroidsLocal(sampleRows, nCells, iters))
  }

  /** Integer-EXACT twin of [[centroidOutliers]] — the same QC semantics
    * (per vector: assigned cell, distance², cell mean, factor-×-mean
    * outlier flag) as a bit-reproducible pure function of the corpus, so
    * the WHOLE output hash-gates against an unrolled SQL replay instead of
    * a rows-only check:
    *  - quantizer = [[intCentroids]] (the `ext_sim_knn_ivf_cells` Lloyd);
    *  - d² = exact integer Σ(v−c)² in 1e-6 units (≤ dim·(2·10⁶)² ≪ 2⁶³);
    *  - cell mean = ⌊Σd²/n⌋ (non-negative, so truncating and flooring
    *    engines agree with no offset);
    *  - flag = d²·n·100 > factorPct·Σd² — the mean comparison cross-
    *    multiplied into exact DECIMAL(38) arithmetic (d²·n can pass 2⁶³ on
    *    big cells; decimal keeps it exact on both engines).
    * Scale shape unchanged: sample-bound training, zero-shuffle literal-
    * centroid argmin, one nCells-row aggregate broadcast back. */
  def centroidOutliersInt(corpus: DataFrame, idCol: String, embCol: String,
                          nCells: Int, iters: Int, factorPct: Int,
                          sampleN: Int): DataFrame = {
    val (_, cs) = intCentroids(corpus, idCol, embCol, nCells, iters, sampleN)
    val assigned = corpus
      .withColumn("__nc", intAssign(col(embCol), Seq(cs)))
      .select(col(idCol).as("vec_id"),
        element_at(col("__nc.cells"), 1).cast("long").as("cell"),
        element_at(col("__nc.d2s"), 1).as("d2"))
      // both readers (cell rollup + the join probe) reuse ONE kernel pass:
      // the checkpointed frame is 3 longs/row — far slimmer than re-reading
      // the embedding column and re-running the assignment per reader
      .localCheckpoint(true)
    val cellStats = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("__n"), sum(col("d2")).as("__s"))
    assigned.join(broadcast(cellStats), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("d2"),
        expr("__s div __n").as("cell_mean_d2"),
        (col("d2").cast("decimal(38,0)") * col("__n") * 100L >
          col("__s").cast("decimal(38,0)") * factorPct).as("outlier"))
  }

  /** Simplified-silhouette clustering-quality audit over the SAME integer
    * Lloyd quantizer as [[ivfCellsInt]] — the "did k make sense" report a
    * pipeline reads before trusting IVF cells / SemDeDup groups. Per
    * vector: a = exact integer d² to the assigned centroid, b = d² to the
    * nearest OTHER centroid (= the second value in (d², cell) order, ties
    * included), sil_milli = (b − a)·1000 div b ∈ [0, 1000] — high means
    * cleanly inside its cell, near 0 means boundary-straddling (a k too
    * large, or duplicate-ish centroids). Centroid-based silhouette on
    * squared distances is the O(n·k) form (the classic pairwise
    * silhouette is O(n²) — a non-starter at any scale); all arithmetic is
    * exact integer, so the whole grid hash-gates against the unrolled SQL
    * replay's rn=1/rn=2 ranked distances. Scale shape: sample-bounded
    * training, ONE corpus scan through the codegen'd top-2 kernel (zero
    * shuffles), one nCells-row rollup broadcast back. */
  def silhouetteInt(corpus: DataFrame, idCol: String, embCol: String,
                    nCells: Int, iters: Int, sampleN: Int): DataFrame = {
    val (_, cs) = intCentroids(corpus, idCol, embCol, nCells, iters, sampleN)
    val top2 = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.IntCellTop2(
        org.apache.spark.sql.GraftColumnBridge.expression(col(embCol)), cs))
    val assigned = corpus
      .withColumn("__t2", top2)
      .select(col(idCol).as("vec_id"),
        col("__t2.cell").cast("long").as("cell"),
        col("__t2.d2").as("d2_own"),
        col("__t2.d2b").as("d2_next"))
      .withColumn("sil_milli", when(col("d2_next") === 0L, lit(0L))
        .otherwise(expr("(d2_next - d2_own) * 1000 div d2_next")))
      // one top-2 kernel pass feeds both the rollup and the join probe
      .localCheckpoint(true)
    val cellStats = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_cell"),
        expr("sum(sil_milli) div count(1)").as("cell_mean_sil_milli"))
    assigned.join(broadcast(cellStats), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("d2_own"), col("d2_next"),
        col("sil_milli"), col("n_cell"), col("cell_mean_sil_milli"))
  }

  /** Fused per-row integer assignment against literal books — the
    * codegen'd [[graft.functions.IntCellAssign]] kernel (the PqAssign
    * pattern): snap + every candidate's exact Σ(v−c)² + strict-< argmin in
    * ONE pass, no per-candidate array allocation, no re-evaluated snap
    * under projection collapse. struct(cells: array<int>, d2s: array<long>),
    * one entry per book. */
  private def intAssign(emb: Column, books: Seq[Seq[(Int, Array[Long])]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.IntCellAssign(
        org.apache.spark.sql.GraftColumnBridge.expression(emb), books))

  /** LSH-bucketed embedding near-dup — the 100 TB scale path. Candidates
    * come from a (band, key) equi-join over [[lshBandKeys]] (a pair is a
    * candidate iff it collides in ≥ 1 of the `bands` hash tables); the exact
    * cosine then verifies every candidate, so reported pairs are always
    * truly ≥ threshold and banding governs RECALL only:
    * P(candidate) = 1 − (1 − p^bitsPerBand)^bands with p = 1 − θ/π.
    *
    * Parameter note: pruning power depends on the threshold's angular gap.
    * At production near-dup thresholds (cosine ≥ 0.9, p ≈ 0.86 vs 0.5 for
    * unrelated pairs) a few 6–8-bit bands prune ~10–100× with recall ≥ 0.98;
    * at weak thresholds (≈ 0.3, p ≈ 0.6) bands must be short and numerous to
    * hold recall, and pruning fades — that regime is the exact join's job. */
  def cosineNearDupLsh(corpus: DataFrame, idCol: String, embCol: String,
                       threshold: Double, bands: Int, bitsPerBand: Int): DataFrame = {
    val keys = lshBandKeys(corpus, idCol, embCol, bands, bitsPerBand)
    val cand = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val a = corpus.select(col(idCol).as("id_a"), col(embCol).as("__ea"),
      VectorFns.norm(col(embCol)).as("__na"))
    val b = corpus.select(col(idCol).as("id_b"), col(embCol).as("__eb"),
      VectorFns.norm(col(embCol)).as("__nb"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("cosine", cos(col("__ea"), col("__eb"), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), graft.Tables.rnd4(col("cosine")).as("cosine"))
  }

  /** Product-quantization codebooks (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector splits into `m`
    * contiguous subvectors; each subspace gets its own `k`-centroid
    * codebook, Lloyd-trained on ONE shared deterministic sample (the IVF
    * sampling contract — training cost independent of corpus size). Returned codebooks are DENSE: a code is a position in the
    * returned list, so emptied Lloyd cells just shrink a codebook rather
    * than leaving holes the assignment could index into.
    *
    * All `m` subspaces train FUSED: subvectors ride as (id, subspace, vec)
    * rows and every round runs ONE assignment job + ONE update collect
    * keyed by (subspace, cell), instead of m independent Lloyd loops —
    * the round count, not the subspace count, sets the job-latency bill.
    * Seeds are the k lowest-id sample vectors sliced per subspace (the
    * same per-subspace seeds the unfused loops would pick). */
  private[graft] def pqCodebooks(corpus: DataFrame, idCol: String, embCol: String,
                                 m: Int, k: Int, iters: Int,
                                 sampleN: Int = 0): Seq[Seq[Array[Float]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = if (sampleN > 0) sampleN else k * 32
    val sample = corpus.select(col(idCol), col(embCol)).orderBy(col(idCol)).limit(n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = sample.select(size(col(embCol)).as("d")).limit(1).collect()
        .headOption.map(_.getInt(0))
        .getOrElse(throw new IllegalArgumentException("pqCodebooks: empty corpus"))
      require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
      val sub = dim / m
      val subRows = sample.select(col(idCol), posexplode(
        array((0 until m).map(s => slice(col(embCol), s * sub + 1, sub)): _*))
        .as(Seq("__s", "__v")))
      val seedVecs = sample.orderBy(col(idCol)).limit(k).select(col(embCol))
        .as[Array[Float]].collect()
      var books: Seq[Seq[Array[Float]]] = (0 until m).map(s =>
        seedVecs.toSeq.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)))
      for (_ <- 0 until iters) {
        val cents = broadcast(
          books.zipWithIndex.flatMap { case (b, s) =>
            b.zipWithIndex.map { case (c, ci) => (s, ci, c) }
          }.toDF("__s", "cell", "cvec")
            .withColumn("cnorm2", VectorFns.dot(col("cvec"), col("cvec"))))
        val assign = subRows.join(cents, "__s")
          .withColumn("__d", col("cnorm2") - lit(2.0) * VectorFns.dot(col("__v"), col("cvec")))
          .groupBy(col(idCol), col("__s"))
          .agg(min(struct(col("__d"), col("cell"))).as("mm"))
          .select(col(idCol), col("__s"), col("mm.cell").as("cell"))
        val updated = subRows.join(assign, Seq(idCol, "__s"))
          .select(col("__s"), col("cell"), posexplode(col("__v")).as(Seq("pos", "x")))
          .groupBy(col("__s"), col("cell"), col("pos"))
          .agg((sum(col("x").cast("decimal(28,10)")) / count(lit(1))).cast("float").as("c"))
          .groupBy(col("__s"), col("cell"))
          .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("cv"))
          .select(col("__s"), col("cell"), col("cv.c").as("cvec"))
          .as[(Int, Int, Array[Float])].collect()
        books = (0 until m).map(s => updated.filter(_._1 == s).sortBy(_._2).map(_._3).toSeq)
      }
      books
    } finally sample.unpersist(false)
  }

  /** Integer-EXACT PQ coding — [[pqCodes]]' storage-layout twin under the
    * [[ivfCellsInt]] discipline, so the code table hash-gates against an
    * unrolled SQL replay: coordinates snap once to the 1e-6 grid, each
    * subspace's codebook Lloyd-trains on the shared lowest-id sample with
    * floor-mean updates (all m subspaces FUSED per round — one assignment
    * job + one update collect keyed by (subspace, cell), the [[pqCodebooks]]
    * shape), and the corpus codes in ONE zero-shuffle projection against
    * the literal books (argmin per subspace, ties to the lower cell id).
    * Emits (vec_id, codes_packed, recon_d2): codes packed base-k with
    * subspace 0 most significant (the byte layout a PQ store persists),
    * recon_d2 = exact integer Σ‖v_s − c_s‖² over subspaces. Surviving
    * Lloyd cells keep their ORIGINAL ids (no re-densify) so the replay's
    * ids match without an extra ranking step. The float path stays the
    * ANN-search codebook ([[pqKnn]]); this is the compression entry. */
  def pqCodesInt(corpus: DataFrame, idCol: String, embCol: String,
                 m: Int, k: Int, iters: Int, sampleN: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // one cluster job: the ordered sample; per-subspace Lloyd runs on the
    // driver (intCentroidsLocal — the sample is contract-bounded)
    val sampleRows = corpus
      .select(col(idCol).as("vec_id"), snap100(col(embCol)).as("__v"))
      .orderBy(col("vec_id")).limit(sampleN)
      .select(col("__v")).as[Array[Long]].collect()
    val dim = sampleRows.headOption.map(_.length)
      .getOrElse(throw new IllegalArgumentException("pqCodesInt: empty corpus"))
    require(dim % m == 0, s"pqCodesInt: dim $dim not divisible by m=$m")
    val sub = dim / m
    val books: Seq[Seq[(Int, Array[Long])]] = (0 until m).map { s =>
      intCentroidsLocal(
        sampleRows.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)),
        nCells = k, iters = iters)
    }
    val mults = typedLit((0 until m).map(s => math.pow(k, m - 1 - s).toLong))
    // ONE fused kernel evaluation per row (all m subspaces), then two
    // m-element folds over its arrays — no per-candidate allocation
    corpus
      .select(col(idCol).as("vec_id"), intAssign(col(embCol), books).as("__pq"))
      .select(col("vec_id"),
        aggregate(zip_with(col("__pq.cells"), mults, (c, mu) => c.cast("long") * mu),
          lit(0L), _ + _).as("codes_packed"),
        aggregate(col("__pq.d2s"), lit(0L), _ + _).as("recon_d2"))
  }

  /** PQ code assignment + reconstruction error — the compression step an
    * ANN store runs before indexing (m=8, k=16 turns a 256-byte float
    * vector into 8 nibbles; 64× smaller than float32, vs 4× for int8).
    *
    * 100 TB shape: the codebooks are O(m·k·dim/m) floats on the driver and
    * ship to every task as a nested LITERAL — assignment is a pure per-row
    * projection (argmin over k candidates per subspace via higher-order
    * functions), so the corpus never shuffles and never fans out to
    * (row × centroid) join rows; the only exchange in the whole operator
    * is the caller's output ordering. Ties break toward the lower code
    * (strict-< accumulator), keeping codes a pure function of the corpus. */
  def pqCodes(corpus: DataFrame, idCol: String, embCol: String,
              m: Int, k: Int, iters: Int, sampleN: Int = 0): DataFrame =
    pqCodesWith(pqCodebooks(corpus, idCol, embCol, m, k, iters, sampleN),
      corpus, idCol, embCol)

  /** [[pqCodes]] against PRE-TRAINED codebooks — the index-build/query
    * split every ANN store has: train once ([[pqCodebooks]]), code any
    * number of frames against the result. Codebooks are a pure function of
    * (corpus, params), so the split never changes an output. */
  def pqCodesWith(books: Codebooks, corpus: DataFrame,
                  idCol: String, embCol: String): DataFrame =
    corpus
      .withColumn("__pq", pqAssignExpr(books, col(embCol)))
      .select(col(idCol).as("vec_id"),
        col("__pq.codes").as("codes"),
        graft.Tables.rnd4(col("__pq.err")).as("recon_err"))

  /** Per-row PQ assignment against literal codebooks →
    * struct(codes: array<int>, err: double) — the codegen'd
    * [[graft.functions.PqAssign]] kernel (argmin + error sum in one fused
    * pass; see its Scaladoc for the tie/NaN contract the interpreted
    * higher-order predecessor set). The shared core of [[pqCodes]] and
    * [[pqKnn]]'s corpus-coding side. */
  private def pqAssignExpr(books: Seq[Seq[Array[Float]]], emb: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqAssign(
        org.apache.spark.sql.GraftColumnBridge.expression(emb), books))

  /** PQ asymmetric-distance top-k (the ADC search of Jégou et al. 2011):
    * each query builds an m×k distance TABLE against the literal codebooks
    * (exact subvector-to-centroid distances), and corpus rows are scored
    * through their CODES alone — Σ_s table[s][code_s], m array lookups per
    * (query, row) instead of a d-dim dot product.
    *
    * 100 TB shape: corpus coding is the same per-row literal-codebook
    * projection as [[pqCodes]] (in production the codes come pre-
    * materialized by the ext_embed_pq pass; coding inline keeps the
    * operator self-contained), queries + their tables broadcast, and the
    * only exchange is the per-query ranking window. The quantization is
    * coarse by design (64 bits standing in for a 2048-bit vector), so like
    * every production PQ index the operator re-ranks: the top `rerank`
    * ADC candidates per query get exact L2 scores and the final top-k
    * comes from those — codes prune (rerank)/(corpus) of the work, exact
    * math decides the answer. `rerank = 0` returns raw ADC ranking (the
    * codes-only lower bound KnnSpec measures). Recall floors for both
    * modes are pinned in KnnSpec. */
  /** Per-query ADC distance table against literal codebooks:
    * `dtable[s][c] = ‖emb_s − books[s][c]‖²` as array<array<double>>. */
  private def pqDistTable(books: Seq[Seq[Array[Float]]], emb: Column): Column = {
    val sub = books.head.head.length
    val cb = typedLit(books.map(_.map(_.toSeq)))
    transform(sequence(lit(0), lit(books.length - 1)), s => {
      val qsub = slice(emb, s * sub + 1, lit(sub))
      transform(element_at(cb, s + 1), cent =>
        aggregate(zip_with(qsub, cent, (x, y) => ((x - y) * (x - y)).cast("double")),
          lit(0.0), _ + _))
    })
  }

  /** Codes-only distance: Σ_s dtable[s][codes[s]] — m array lookups.
    * Codegen'd ([[graft.functions.AdcDist]]): this evaluates once per
    * (corpus row × probe query), and the interpreted zip_with lambda tree
    * it replaces was the scan's per-row cost, not the lookups. */
  private def adcDist(dt: Column, codes: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.AdcDist(
        org.apache.spark.sql.GraftColumnBridge.expression(dt),
        org.apache.spark.sql.GraftColumnBridge.expression(codes)))

  def pqKnn(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
            k: Int, m: Int, nCodes: Int, iters: Int, sampleN: Int = 0,
            rerank: Int = 0): DataFrame =
    pqKnnWith(pqCodebooks(corpus, idCol, embCol, m, nCodes, iters, sampleN),
      corpus, queries, idCol, embCol, k, rerank)

  /** The ADC-ready coded corpus (neighbor_id, __codes) — a pure function
    * of (corpus, books), so callers serving several audit surfaces from
    * one index can checkpoint it ONCE and pass it back through
    * [[pqKnnWith]]'s `codedCorpus` (the trainedCells/exactTop session-
    * share discipline: byte-identical to inline coding). */
  def pqCodedCorpus(books: Codebooks, corpus: DataFrame,
                    idCol: String, embCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      pqAssignExpr(books, col(embCol)).getField("codes").as("__codes"))

  /** [[pqKnn]] against pre-trained codebooks (see [[pqCodesWith]]). */
  def pqKnnWith(books: Codebooks, corpus: DataFrame, queries: DataFrame,
                idCol: String, embCol: String, k: Int, rerank: Int = 0,
                codedCorpus: Option[DataFrame] = None): DataFrame = {
    val coded = codedCorpus.getOrElse(pqCodedCorpus(books, corpus, idCol, embCol))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      pqDistTable(books, col(embCol)).as("__dt")))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("__adc"), col("neighbor_id"))
    val adcRanked = coded.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adcDist(col("__dt"), col("__codes")))
      .withColumn("__adc_rank", row_number().over(wAdc).cast("long"))
      .select(col("query_id"), col("neighbor_id"), col("__adc"), col("__adc_rank"))
    finishAdc(adcRanked,
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__c_emb")),
      queries.select(col(idCol).as("query_id"), col(embCol).as("__q_emb")),
      k, rerank)
  }

  /** Shared ADC output tail: codes-only top-k, or prune-to-`rerank` then
    * exact-L2 re-rank. The candidate set that leaves the ADC ranking is
    * (query_id, neighbor_id) PAIRS ONLY — raw vectors re-enter through a
    * broadcast join of the tiny candidate list against the corpus, so the
    * ADC window's exchange moves code rows, never embeddings (at corpus
    * scale that bandwidth IS the point of PQ). */
  private def finishAdc(adcRanked: DataFrame, corpusEmb: DataFrame, queryEmb: DataFrame,
                        k: Int, rerank: Int): DataFrame =
    if (rerank <= 0)
      adcRanked.filter(col("__adc_rank") <= k)
        .select(col("query_id"), col("__adc_rank").as("rank"), col("neighbor_id"),
          graft.Tables.rnd4(col("__adc")).as("adc_dist"))
    else {
      val cand = adcRanked.filter(col("__adc_rank") <= math.max(k, rerank))
        .select(col("query_id"), col("neighbor_id"))
      val exactL2 = aggregate(
        zip_with(col("__q_emb"), col("__c_emb"),
          (x, y) => ((x - y) * (x - y)).cast("double")),
        lit(0.0), _ + _)
      val wExact = Window.partitionBy(col("query_id")).orderBy(col("__l2"), col("neighbor_id"))
      broadcast(cand).join(corpusEmb, "neighbor_id")
        .join(broadcast(queryEmb), "query_id")
        .withColumn("__l2", exactL2)
        .withColumn("rank", row_number().over(wExact).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          graft.Tables.rnd4(col("__l2")).as("l2_dist"))
    }

  /** IVF-PQ — the composed billion-vector index (coarse quantizer routes,
    * PQ residual codes score): k-means cells from [[ivfCentroids]], each
    * corpus vector stored as (cell, PQ codes of its RESIDUAL v − c_cell)
    * — residual coding spends the codebook's resolution on the within-cell
    * offset, not the cell's absolute position (the standard IVF-PQ/ADC
    * layout). Queries probe their `nProbe` nearest cells; inside a probed
    * cell the distance is ADC between the query's residual (q − c_cell)
    * and the row's residual codes; the top `rerank` candidates per query
    * get exact-L2 re-ranked.
    *
    * 100 TB shape: both trainings are sample-bound (corpus-size-
    * independent); the corpus is scanned once for cell assignment +
    * residual coding; queries and their per-cell distance tables broadcast
    * (nProbe tables per query, each m×nCodes doubles); scoring touches
    * ~nProbe/nCells of the corpus per query and moves only (query, cell)-
    * routed code rows, never raw vectors; the exchanges are the ranking
    * windows. */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
               k: Int, nCells: Int, cellIters: Int, nProbe: Int,
               m: Int, nCodes: Int, pqIters: Int,
               sampleN: Int = 0, rerank: Int = 0): DataFrame =
    ivfPqKnnWith(
      ivfPqIndex(corpus, idCol, embCol, nCells, cellIters, m, nCodes, pqIters, sampleN),
      corpus, queries, idCol, embCol, k, nProbe, rerank)

  /** The driver-held IVF-PQ model: coarse cells + residual codebooks —
    * O(nCells·dim + m·nCodes·dim/m) floats, the thing a store persists
    * once and queries forever. */
  final case class IvfPqIndex(cells: Seq[(Int, Array[Float])], books: Codebooks)

  /** Nearest cell + residual (v − c_cell) as `__res` — ONE definition for
    * the training sample and the query-time coding pass, so the residual
    * a codebook was trained on can never drift from the residual it
    * scores. Assignment is the zero-shuffle literal map ([[rowNearestCell]],
    * same tie rule as the join form it replaced); the assigned centroid
    * rides as a literal cell→vector map lookup, so the corpus-sized coding
    * pass has NO join and NO ×nCells fan-out. */
  private def assignResiduals(cells: Seq[(Int, Array[Float])], vectors: DataFrame,
                              idCol: String, embCol: String): DataFrame = {
    val byCell = typedLit(cells.map { case (c, v) => c -> v.toSeq }.toMap)
    vectors
      .withColumn("cell", rowNearestCell(col(embCol), cells))
      .withColumn("__res",
        floatVecSub(col(embCol), element_at(byCell, col("cell"))))
  }

  /** Codegen'd element-wise `a − b` ([[graft.functions.FloatVecSub]],
    * zip_with-exact incl. the ragged-null contract) — the residual kernel
    * of the corpus-sized IVF-PQ coding pass; [[floatVecSubRef]] keeps the
    * declarative form as the test-only semantic pin. */
  private[graft] def floatVecSub(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.FloatVecSub(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** The interpreted higher-order form of [[floatVecSub]]. */
  private[graft] def floatVecSubRef(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** Train the [[IvfPqIndex]]: coarse cells on the sample, then PQ
    * codebooks on the SAMPLE's residuals (sampling BEFORE assignment, so
    * training never triggers a full-corpus cell-assignment pass). */
  def ivfPqIndex(corpus: DataFrame, idCol: String, embCol: String,
                 nCells: Int, cellIters: Int, m: Int, nCodes: Int, pqIters: Int,
                 sampleN: Int = 0): IvfPqIndex = {
    val spark = corpus.sparkSession
    val cells = ivfCentroids(corpus, idCol, embCol, nCells, cellIters, sampleN)
    val cents = centroidFrame(spark, cells)
    val sampleBase = corpus.select(col(idCol), col(embCol)).orderBy(col(idCol))
      .limit(if (sampleN > 0) sampleN else nCodes * 32)
    val sampleRes = assignResiduals(cells, sampleBase, idCol, embCol)
      .select(col(idCol), col("__res"))
    IvfPqIndex(cells, pqCodebooks(sampleRes, idCol, "__res", m, nCodes, pqIters, sampleN))
  }

  /** The probe-ready coded corpus (neighbor_id, cell, __codes of the
    * residual) — a pure function of (corpus, index); see
    * [[pqCodedCorpus]] for the session-share contract. */
  def ivfPqCodedCorpus(index: IvfPqIndex, corpus: DataFrame,
                       idCol: String, embCol: String): DataFrame =
    assignResiduals(index.cells, corpus, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("cell"),
        pqAssignExpr(index.books, col("__res")).getField("codes").as("__codes"))

  /** [[ivfPqKnn]] against a pre-trained [[IvfPqIndex]] — one corpus
    * assignment + coding pass (or the caller's shared `codedCorpus`),
    * then probe-and-score (see [[pqCodesWith]] for why the split is
    * output-invariant). */
  def ivfPqKnnWith(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                   idCol: String, embCol: String, k: Int, nProbe: Int,
                   rerank: Int = 0, codedCorpus: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val cents = centroidFrame(spark, index.cells)
    val books = index.books
    val coded = codedCorpus.getOrElse(ivfPqCodedCorpus(index, corpus, idCol, embCol))
    // query side: nProbe nearest cells, one residual distance table each
    val probeW = Window.partitionBy(col(idCol)).orderBy(col("__d"), col("cell"))
    val probes = broadcast(
      queries.crossJoin(broadcast(cents))
        .withColumn("__d", col("cnorm2") - lit(2.0) * VectorFns.dot(col(embCol), col("cvec")))
        .withColumn("__r", row_number().over(probeW))
        .filter(col("__r") <= nProbe)
        .withColumn("__qres", floatVecSub(col(embCol), col("cvec")))
        .select(col(idCol).as("query_id"), col("cell"),
          pqDistTable(books, col("__qres")).as("__dt")))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("__adc"), col("neighbor_id"))
    val adcRanked = coded.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__adc", adcDist(col("__dt"), col("__codes")))
      .withColumn("__adc_rank", row_number().over(wAdc).cast("long"))
      .select(col("query_id"), col("neighbor_id"), col("__adc"), col("__adc_rank"))
    finishAdc(adcRanked,
      corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__c_emb")),
      queries.select(col(idCol).as("query_id"), col(embCol).as("__q_emb")),
      k, rerank)
  }

  /** Zero-shuffle cell assignment: argmin over ‖c‖² − 2·v·c as ONE per-row
    * expression against LITERAL centroids (the codebook-literal pattern of
    * [[pqAssignExpr]]) — the assignment [[nearestCell]] computes with a
    * broadcast join + argmin aggregate becomes a pure map, so the corpus
    * never exchanges for it. Distance ties break by cell id via struct
    * ordering — the same rule as [[nearestCell]], so both assignments are
    * interchangeable. */
  private def rowNearestCell(emb: Column, cs: Seq[(Int, Array[Float])]): Column =
    rowNearestCellStruct(emb, cs).getField("cell")

  /** The full argmin struct (d = ‖c‖² − 2·v·c, cell) — callers that also
    * need the distance read both fields off ONE evaluation. */
  private def rowNearestCellStruct(emb: Column, cs: Seq[(Int, Array[Float])]): Column = {
    val cands = cs.map { case (cell, cv) =>
      val cnorm2 = cv.foldLeft(0.0)((a, x) => a + x.toDouble * x)
      struct((lit(cnorm2) - lit(2.0) * VectorFns.dot(emb, typedLit(cv.toSeq))).as("d"),
        lit(cell).as("cell"))
    }
    // `least` rejects a single argument (the one-cell degenerate case)
    if (cands.length == 1) cands.head else least(cands: _*)
  }

  /** Embedding QC: distance-to-assigned-centroid outlier flags — the sanity
    * tier an embedding store runs before indexing (corrupt encoders, wrong
    * dims, NaN-adjacent junk all show up as far-from-every-centroid rows).
    * Per vector: its cell, its exact ‖v − c‖², the cell's mean, and an
    * outlier flag at `factor`× the cell mean.
    *
    * 100 TB shape: training is sample-bound ([[ivfCentroids]]), assignment
    * is the zero-shuffle literal-centroid map, the only exchange is the
    * nCells-row cell-mean aggregate (broadcast back), and the corpus is
    * scanned once. Mean over DOUBLE partial sums is order-sensitive in the
    * last ulps, so the flag compares against a rnd4-stable factor·mean —
    * a vector within 1e-4 of the boundary is fixture-pathological, not a
    * production concern. */
  def centroidOutliers(corpus: DataFrame, idCol: String, embCol: String,
                       nCells: Int, iters: Int, factor: Double,
                       sampleN: Int = 0): DataFrame = {
    val cs = ivfCentroids(corpus, idCol, embCol, nCells, iters, sampleN)
    val assigned = corpus
      // one argmin evaluation; cell AND distance read off the same struct
      // (a separate projection step so CollapseProject keeps it single)
      .withColumn("__nc", rowNearestCellStruct(col(embCol), cs))
      .select(col(idCol), col("__nc.cell").as("cell"),
        // ‖v−c‖² = ‖v‖² + (‖c‖² − 2·v·c) — the parenthesized term is __nc.d
        (VectorFns.dot(col(embCol), col(embCol)) + col("__nc.d")).as("dist2"))
    val cellMeans = assigned.groupBy(col("cell"))
      .agg(avg(col("dist2")).as("cell_mean_dist2"))
    assigned.join(broadcast(cellMeans), Seq("cell"))
      .select(col(idCol), col("cell").cast("int").as("cell"),
        graft.Tables.rnd4(col("dist2")).as("dist2"),
        graft.Tables.rnd4(col("cell_mean_dist2")).as("cell_mean_dist2"),
        (graft.Tables.rnd4(col("dist2")) >
          graft.Tables.rnd4(lit(factor) * col("cell_mean_dist2"))).as("outlier"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup over embeddings — k-means
    * cells bound the candidate space, pairs above the cosine threshold are
    * found only WITHIN a cell, near-dup groups are closed transitively, and
    * each group keeps its min-id representative. Lexical dedup (MinHash,
    * spans) cannot see a paraphrase; this is the embedding-space member of
    * the dedup tier list.
    *
    * Output: one row per corpus vector — (id, cell, rep_id, kept); a doc is
    * kept iff it is its group's representative (singletons keep themselves).
    *
    * 100 TB shape: centroids train on a deterministic sample
    * ([[ivfCentroids]] — cost independent of corpus size), assignment is the
    * zero-shuffle literal-centroid map above, and the within-cell pair join
    * is an equi-join on cell. Per-cell work is quadratic in CELL size —
    * exactly the paper's design: nCells is the scale dial (they use 50k
    * cells for LAION), chosen so n/nCells stays bounded as the corpus
    * grows. Grouping reuses the alternating-star CC machinery (tiny
    * verified pair sets short-circuit to the single-task union-find). */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
                    threshold: Double, nCells: Int, iters: Int,
                    sampleN: Int = 0): DataFrame =
    semanticDedupIn(corpus, idCol, embCol, threshold,
      rowNearestCell(col(embCol),
        ivfCentroids(corpus, idCol, embCol, nCells, iters, sampleN)))

  /** The integer-exact quantizer's assignment as a zero-shuffle COLUMN —
    * trains [[intCentroids]] on the corpus (one sample job, driver Lloyd)
    * and returns the literal-centroid argmin over the snapped embedding,
    * so callers can inject the oracle-replayable cell function wherever a
    * cell expression is expected ([[semanticDedupIn]]). Bit-identical to
    * [[ivfCellsInt]]'s `cell` column by construction. */
  def intCellExpr(corpus: DataFrame, idCol: String, embCol: String,
                  nCells: Int, iters: Int, sampleN: Int): Column = {
    val (_, cs) = intCentroids(corpus, idCol, embCol, nCells, iters, sampleN)
    element_at(intAssign(col(embCol), Seq(cs)).getField("cells"), 1)
  }

  /** [[semanticDedup]] with an INJECTED cell assignment expression — the
    * grouping machinery (within-cell threshold pairs → connected
    * components → min-id representative) separated from the learned
    * quantizer. With a relational assignment (e.g. `pmod(id, k)`) the
    * whole pipeline is oracle-expressible (recursive-CTE components in
    * SQL), which is how `ext_sim_semdedup_cells` hash-gates everything
    * but the k-means itself. */
  def semanticDedupIn(corpus: DataFrame, idCol: String, embCol: String,
                      threshold: Double, cellExpr: Column): DataFrame = {
    val assigned = corpus.select(col(idCol), col(embCol), cellExpr.as("cell"))
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col(embCol).as("__ea"), VectorFns.norm(col(embCol)).as("__na"))
    val b = assigned.select(col("cell").as("__cell_b"), col(idCol).as("id_b"),
      col(embCol).as("__eb"), VectorFns.norm(col(embCol)).as("__nb"))
    val pairs = a.join(b, col("cell") === col("__cell_b") && col("id_a") < col("id_b"))
      .filter(cos(col("__ea"), col("__eb"), col("__na"), col("__nb")) >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val reps = Dedup.duplicateClusters(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id").as("rep_id"))
    assigned.select(col(idCol), col("cell"))
      .join(reps, Seq(idCol), "left")
      .select(col(idCol), col("cell").cast("int").as("cell"),
        coalesce(col("rep_id"), col(idCol)).as("rep_id"))
      .withColumn("kept", col("rep_id") === col(idCol))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998) under the integer-exact inner-product discipline — the rerank
    * every retrieval/selection pipeline runs between ANN recall and the
    * consumer (dedup-aware RAG context packing, diverse few-shot pools):
    * greedily pick k of the top-m candidates maximizing
    * λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s), λ = lamTenths/10.
    *
    * Similarity is the exact integer inner product of 1e-6-grid snapped
    * vectors (MIPS — the retrieval mode of dot-trained embedding models;
    * products ≤ dim·(2·10⁶)² ≪ 2⁶³), scores are 10×-scaled longs
    * (lamTenths·rel − (10−lamTenths)·maxPairDot), ties break id-ascending
    * — so the full selection is a bit-reproducible pure function of the
    * corpus that an unrolled k-step SQL replay reproduces row for row.
    *
    * Scale shape: candidate generation is the heavy half and stays fully
    * distributed — ONE corpus scan scores every row against the
    * LITERAL query matrix in one codegen'd pass ([[graft.functions.LongDots]];
    * zero shuffles, zero per-query re-reads), then the per-query top-m is
    * the salted two-phase ranking (`sort_topk_group`'s hierarchical
    * discipline — no query's candidates ever funnel through one task).
    * The greedy rerank is O(queries·k·m) on frames bounded by the
    * Q·m·dim CONTRACT (collected like the Lloyd sample; the rerank is
    * serving-layer-sized at any corpus scale). */
  def mmrInt(corpus: DataFrame, idCol: String, embCol: String,
             nQueries: Int, m: Int, k: Int, lamTenths: Int): DataFrame = {
    requireLamTenths(lamTenths)
    val spark = corpus.sparkSession
    import spark.implicits._
    // Q·m candidate rows + their vectors — the contract-bounded collect,
    // ENFORCED (a mis-sized m or unfiltered query set throws, not OOMs)
    val rows: Array[(Long, Long, Long, Array[Long])] = collectBounded(
      mmrCandidates(corpus, idCol, embCol, nQueries, m)
        .as[(Long, Long, Long, Array[Long])],
      nQueries.toLong * m, "mmrInt candidates")
    spark.createDataFrame(mmrGreedy(rows, k, lamTenths))
      .toDF("query_id", "rank", "vec_id", "rel", "score")
  }

  /** The fully-distributed candidate half of [[mmrInt]] — (qid, cid, rel,
    * vec) rows bounded by Q·m. Exposed for plan pinning: ONE LongDots
    * corpus scan, salted two-phase top-m, vectors rejoin AFTER the cut. */
  private[graft] def mmrCandidates(corpus: DataFrame, idCol: String,
                                   embCol: String, nQueries: Int,
                                   m: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val snapped = corpus.select(col(idCol).cast("long").as("vec_id"),
      snap100(col(embCol)).as("__v"))
    val qRows: Array[(Long, Array[Long])] = collectBounded(
      snapped.filter(col("vec_id") < nQueries)
        .orderBy("vec_id").as[(Long, Array[Long])],
      nQueries, "mmrInt query rows") // ≤ nQueries·dim longs
    val qIds = qRows.map(_._1)
    val dots = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.LongDots(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__v")),
        qRows.map(_._2).toSeq))
    // fan out only (qid, cid, rel) — vectors rejoin AFTER the top-m cut,
    // so the ranking shuffle never carries embeddings
    val scored = snapped
      .select(col("vec_id").as("cid"), posexplode(dots).as(Seq("qi", "rel")))
      .select(element_at(typedLit(qIds), col("qi") + 1).as("qid"),
        col("cid"), col("rel"))
      .filter(col("cid") =!= col("qid"))
    val w1 = Window.partitionBy(col("qid"), pmod(col("cid"), lit(8)))
      .orderBy(col("rel").desc, col("cid"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    val cand = scored
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= m)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= m)
      .select("qid", "cid", "rel")
    cand.join(snapped.withColumnRenamed("vec_id", "cid"), "cid")
      .select(col("qid"), col("cid"), col("rel"), col("__v"))
  }

  /** λ must keep the first greedy pick's score order equal to plain
    * relevance order (the SQL twins rank pick 1 by rel DESC): lamTenths=0
    * zeroes every first-pick score and the tie-break would pick min-cid
    * while the oracle ranks by relevance — so the λ=0 edge is out of the
    * public contract. */
  private def requireLamTenths(lamTenths: Int): Unit =
    require(lamTenths >= 1 && lamTenths <= 10,
      s"lamTenths must be in [1, 10], got $lamTenths")

  /** Driver-side collect with an ENFORCED size contract: fetches at most
    * `bound` + 1 rows (never the unbounded result) and throws if the
    * contract is violated — the guard between "serving-layer-sized by
    * construction" and a driver OOM at corpus scale. */
  private[graft] def collectBounded[T](ds: org.apache.spark.sql.Dataset[T],
                                       bound: Long, what: String): Array[T] = {
    val rows = ds.take(math.min(bound, Int.MaxValue - 1L).toInt + 1)
    require(rows.length <= bound,
      s"$what: collect exceeded its size contract of $bound rows")
    rows
  }

  /** The shared greedy MMR rerank over collected (qid, cid, rel, vec)
    * candidate rows — exact integer scores, (score DESC, cid ASC) ties. */
  private def mmrGreedy(rows: Array[(Long, Long, Long, Array[Long])],
                        k: Int, lamTenths: Int): Seq[(Long, Long, Long, Long, Long)] = {
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    rows.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val ordered = cs.sortBy(c => (-c._3, c._2)) // rel desc, cid asc
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      while (picked.length < math.min(k, ordered.length)) {
        val best = ordered.iterator
          .filter(c => !picked.exists(_._1 == c._2))
          .map { c =>
            val pen = if (pickedVecs.isEmpty) 0L
                      else pickedVecs.map(pv => dot(pv, c._4)).max
            (c._2, c._3, lamTenths * c._3 - (10 - lamTenths) * pen, c._4)
          }
          .reduceLeft { (a, b) =>
            if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a
          }
        picked += ((best._1, best._2, best._3))
        pickedVecs += best._4
      }
      picked.zipWithIndex.map { case ((cid, rel, score), i) =>
        (qid, (i + 1).toLong, cid, rel, score)
      }
    }.sortBy(r => (r._1, r._2))
  }

  /** The PRODUCTION composition of the ANN and rerank halves: MMR over
    * IVF-probed candidates — each query scores only its nProbe nearest
    * cells' members (~nProbe/nCells of the corpus, the whole point of the
    * index) instead of the exact full-scan pool [[mmrInt]] pays. Rides the
    * integer-exact quantizer family ([[intCentroids]] — the
    * `ext_sim_knn_ivf_cells` Lloyd), so UNLIKE typical ANN pipelines the
    * whole composition is a bit-reproducible pure function of the corpus:
    * probe cells are the exact-integer (d², cell)-ranked centroids, the
    * candidate cut and greedy are the [[mmrInt]] arithmetic, and the SQL
    * twin replays quantizer → probes → candidates → k greedy picks end to
    * end. ONE corpus scan carries BOTH the literal-centroid cell
    * assignment and the literal-matrix query dots (zero shuffles before
    * the bounded top-m ranking). */
  def mmrIvfInt(corpus: DataFrame, idCol: String, embCol: String,
                nQueries: Int, m: Int, k: Int, lamTenths: Int,
                nCells: Int, iters: Int, sampleN: Int, nProbe: Int): DataFrame = {
    requireLamTenths(lamTenths)
    val spark = corpus.sparkSession
    import spark.implicits._
    // Q·m candidate rows + their vectors — the contract-bounded collect,
    // ENFORCED (a mis-sized m or unfiltered query set throws, not OOMs)
    val rows: Array[(Long, Long, Long, Array[Long])] = collectBounded(
      mmrIvfCandidates(corpus, idCol, embCol, nQueries, m,
        nCells, iters, sampleN, nProbe)
        .as[(Long, Long, Long, Array[Long])],
      nQueries.toLong * m, "mmrIvfInt candidates")
    spark.createDataFrame(mmrGreedy(rows, k, lamTenths))
      .toDF("query_id", "rank", "vec_id", "rel", "score")
  }

  /** The fully-distributed candidate half of [[mmrIvfInt]] — like
    * [[mmrCandidates]] but each query scores only its nProbe nearest
    * cells' members via a BROADCAST probe-list semi-join on the same
    * single corpus scan. Exposed for plan pinning. */
  private[graft] def mmrIvfCandidates(corpus: DataFrame, idCol: String,
                                      embCol: String, nQueries: Int, m: Int,
                                      nCells: Int, iters: Int, sampleN: Int,
                                      nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (snapped, cs) = intCentroids(corpus, idCol, embCol, nCells, iters, sampleN)
    val qRows: Array[(Long, Array[Long])] = collectBounded(
      snapped.filter(col("vec_id") < nQueries)
        .orderBy("vec_id").as[(Long, Array[Long])],
      nQueries, "mmrIvfInt query rows") // ≤ nQueries·dim longs
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // probe cells per query — exact-integer (d², cell) rank over the
    // driver-held centroids
    val probes: Seq[(Long, Long)] = qRows.toSeq.flatMap { case (qid, v) =>
      cs.map { case (cell, c) => (d2(v, c), cell) }.sorted.take(nProbe)
        .map(t => (qid, t._2.toLong))
    }
    val qIds = qRows.map(_._1)
    val dots = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.LongDots(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__v")),
        qRows.map(_._2).toSeq))
    val base = corpus.select(col(idCol).cast("long").as("cid"),
      snap100(col(embCol)).as("__v"),
      element_at(intAssign(col(embCol), Seq(cs)).getField("cells"), 1)
        .cast("long").as("cell"))
    val scored = base
      .select(col("cid"), col("cell"), posexplode(dots).as(Seq("qi", "rel")))
      .select(element_at(typedLit(qIds), col("qi") + 1).as("qid"),
        col("cid"), col("cell"), col("rel"))
      .filter(col("cid") =!= col("qid"))
      .join(broadcast(probes.toDF("qid", "cell")), Seq("qid", "cell"), "left_semi")
    val w1 = Window.partitionBy(col("qid"), pmod(col("cid"), lit(8)))
      .orderBy(col("rel").desc, col("cid"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    val cand = scored
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= m)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= m)
      .select("qid", "cid", "rel")
    cand.join(snapped.withColumnRenamed("vec_id", "cid"), "cid")
      .select(col("qid"), col("cid"), col("rel"), col("__v"))
  }

  /** Matryoshka-style prefix-dimension recall audit (Kusupati et al. 2022:
    * MRL-trained embeddings keep most of their ranking power in a prefix
    * of the dimensions): for each prefix length L, the exact top-k by
    * integer inner product over the FIRST L coordinates, scored as overlap
    * with the full-dimension top-k — the table read before truncating
    * stored vectors for a cheaper first-stage scan (a 64→8 truncation is
    * an 8× scan-bandwidth cut; this audit says what recall it costs on
    * THIS corpus).
    *
    * One corpus scan computes all |dims|·|queries| truncated dots in one
    * codegen'd pass ([[graft.functions.LongDots]] — the truncated LITERAL
    * query rows bound each fold, so prefix scoring reads only the prefix),
    * per-(query, L) top-k via the salted two-phase ranking, overlap by
    * left join against the full-dim slice of the same ranking. Integer
    * MIPS on the 1e-6 snap grid with id tie-breaks end to end — the whole
    * grid hash-gates. Totals row (query_id = −1) per L; denominators
    * derive from the ACTUAL query count, never a hardcoded 10. */
  def matryoshkaAudit(corpus: DataFrame, idCol: String, embCol: String,
                      nQueries: Int, k: Int, dims: Seq[Int]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val snapped = corpus.select(col(idCol).cast("long").as("vec_id"),
      snap100(col(embCol)).as("__v"))
    val qRows: Array[(Long, Array[Long])] = collectBounded(
      snapped.filter(col("vec_id") < nQueries)
        .orderBy("vec_id").as[(Long, Array[Long])],
      nQueries, "matryoshkaAudit query rows") // ≤ nQueries·dim longs
    val combos: Seq[(Int, Long)] =
      for { l <- dims; (qid, _) <- qRows.toSeq } yield (l, qid)
    val matrix: Seq[Array[Long]] =
      for { l <- dims; (_, v) <- qRows.toSeq } yield v.take(math.min(l, v.length))
    val dots = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.LongDots(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__v")), matrix))
    val comboDim = combos.map(_._1.toLong).toArray
    val comboQid = combos.map(_._2).toArray
    val scored = snapped
      .select(col("vec_id").as("cid"), posexplode(dots).as(Seq("ci", "rel")))
      .select(element_at(typedLit(comboDim), col("ci") + 1).as("dim"),
        element_at(typedLit(comboQid), col("ci") + 1).as("qid"),
        col("cid"), col("rel"))
      .filter(col("cid") =!= col("qid"))
    val w1 = Window.partitionBy(col("qid"), col("dim"), pmod(col("cid"), lit(8)))
      .orderBy(col("rel").desc, col("cid"))
    val w2 = Window.partitionBy(col("qid"), col("dim"))
      .orderBy(col("rel").desc, col("cid"))
    val top = scored
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= k)
      .select(col("qid"), col("dim"), col("cid"))
    val fullDim = dims.max.toLong
    val full = top.filter(col("dim") === fullDim)
      .select(col("qid").as("__fq"), col("cid").as("__fc"))
    val hits = top.join(full,
        col("qid") === col("__fq") && col("cid") === col("__fc"), "left")
      .groupBy(col("qid"), col("dim"))
      .agg(sum(when(col("__fc").isNotNull, 1L).otherwise(0L)).as("n_hits"))
    val tot = hits.groupBy(col("dim"))
      .agg(sum(col("n_hits")).as("n_hits"))
      .select(lit(-1L).as("qid"), col("dim"), col("n_hits"))
    val nQ = qRows.length.toLong
    hits.unionByName(tot)
      .select(col("qid").as("query_id"), col("dim"), col("n_hits"),
        expr(s"n_hits * 1000 div (CASE WHEN qid = -1 THEN ${k * nQ} ELSE $k END)")
          .as("recall_permille"))
  }
}
