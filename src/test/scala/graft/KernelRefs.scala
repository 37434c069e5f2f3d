package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** The declarative forms the codegen'd row kernels replaced, kept as their
  * semantic pins: each spec checks a kernel's output against its form
  * here over a whole fixture. None of them runs outside the tests. */
object KernelRefs {

  /** [[graft.operators.Knn.snap100]] as the interpreted `transform`
    * (KnnSpec). */
  def snap100Ref(c: Column): Column =
    transform(c, x => (floor(x.cast("double") * 1e4 + 0.5).cast("long") * 100L))

  /** [[graft.operators.Knn.floatVecSub]] as `zip_with` (KnnSpec). */
  def floatVecSubRef(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** [[graft.operators.Knn.lshBandKeys]] in its declarative form: vector
    * elements fan out to (element × plane) rows, projections come back
    * through a (id, plane) aggregation and sign bits pack through a
    * (id, band) one — two shuffles and n·d·nPlanes intermediate rows
    * (KnnSpec). Weights come from [[hyperplaneWeight]] at each element's
    * actual position. */
  def lshBandKeysRef(vectors: DataFrame, idCol: String, embCol: String,
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

  /** Deterministic pseudo-random hyperplanes: weight(plane, dim) derived
    * from xxhash64, defined for EVERY (plane, dim) pair. */
  private def hyperplaneWeight(plane: Column, dim: Column): Column =
    (pmod(xxhash64(lit("graft-lsh"), plane, dim), lit(20001L)) - 10000L).cast("double") / 10000.0

  /** [[graft.operators.Dedup.simhash]] as an aggregate: explode distinct
    * tokens, shuffle on doc, vote via [[SimhashAgg]] (DedupSpec). */
  def simhashRef(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val vote = udaf(SimhashAgg, Encoders.scalaLong)
    docs.select(col(idCol).as("doc_id"), explode(TextFns.distinctTokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"))
      .agg(vote(xxhash64(col("t"))).as("simhash"))
  }

  /** Per-bit majority vote over token hashes as one typed Aggregator (a
    * 64-int vote buffer, map-side partial merge). */
  private object SimhashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { b(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      b
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Int]): Long = {
      var fp = 0L
      var i = 0
      while (i < 64) { if (r(i) > 0) fp |= 1L << i; i += 1 }
      fp
    }
    override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** [[graft.functions.TextFns.gopherTokenStats]] as the four
    * token-walking expressions of the original Gopher battery,
    * interpreted lambdas per token (ExtOpsSpec). */
  def gopherTokenStatsRef(text: Column, set: Seq[String]): Column = {
    val toks = TextFns.tokens(text)
    struct(
      size(toks).cast("long").as("n_tokens"),
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _)
        .as("sum_len"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
      size(array_intersect(array_distinct(toks), array(set.map(lit): _*)))
        .cast("long").as("n_stop"))
  }

  /** [[graft.functions.TextFns.bpeEstimate]] as an `aggregate` over the
    * materialized token array (TrainPrepSpec). */
  def bpeEstimateRef(text: Column): Column =
    aggregate(
      TextFns.tokens(text),
      lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))

  /** [[graft.functions.TextFns.hashedShingles]] as the interpreted
    * `transform` + `array_distinct` chain (DedupSpec). */
  def hashedShinglesRef(text: Column, n: Int): Column = {
    val toks = TextFns.tokens(text)
    val idx = sequence(lit(1), size(toks) - (n - 1))
    val grams = transform(idx, i => xxhash64((0 until n).map(j => element_at(toks, i + j)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array().cast("array<bigint>")))
  }
}
