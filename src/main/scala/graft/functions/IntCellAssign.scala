package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd INTEGER-EXACT cell assignment — the per-row hot loop of the
  * oracle-replayable quantizer family (`Knn.ivfCellsInt` /
  * `centroidOutliersInt` / `pqCodesInt` / `intCellExpr`), previously an
  * interpreted `zip_with`/`aggregate` candidate tree that allocated one
  * array per (row × candidate) and, worse, re-evaluated the snap
  * `transform` under every candidate after projection collapse. Semantics
  * are bit-identical to that higher-order form (KnnSpec pins the planted
  * assignments; the DuckDB Lloyd replays pin the full outputs):
  *  - coordinates snap per element ON THE FLY — ⌊x·10⁴ + 0.5⌋ in double,
  *    then ×100 as long (the 1e-6-unit grid; identical op order to the
  *    `floor(cast(x as double) * 1e4 + 0.5) * 100` column form);
  *  - per subspace the candidates scan in (sorted) cell-id order with a
  *    strict-< argmin over the exact integer Σ(v−c)², so ties break toward
  *    the LOWER cell id — the replay's `ORDER BY d2, cell` rule;
  *  - subspace s covers elements [Σ_{t<s} dim_t, …) of the vector; books
  *    may differ in size (an emptied Lloyd cell shrinks one book) and keep
  *    their ORIGINAL cell ids.
  * Output: struct(cells: array<int>, d2s: array<long>) — one entry per
  * subspace. The books ride with the expression, shipped once per task,
  * never rebuilt per row; `books(s)` = (cellId, centroid in 1e-6 units)
  * list of subspace s. */
case class IntCellAssign(child: Expression, books: Seq[Seq[(Int, Array[Long])]])
  extends UnaryRowKernel[ArrayData, InternalRow] {

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("d2s", ArrayType(LongType, containsNull = false), nullable = false)))

  @transient private lazy val ids: Array[Array[Int]] =
    books.map(_.map(_._1).toArray).toArray
  @transient private lazy val cb: Array[Array[Array[Long]]] =
    books.map(_.map(_._2.clone).toArray).toArray
  @transient private lazy val subDims: Array[Int] =
    books.map(_.head._2.length).toArray

  /** struct(cells: array<int>, d2s: array<long>) as an InternalRow. */
  override def kernel(emb: ArrayData): InternalRow = {
    val m = cb.length
    val n = emb.numElements()
    val v = new Array[Long](n)
    var i = 0
    while (i < n) { // snap once per element, not once per candidate
      v(i) = Math.floor(emb.getFloat(i).toDouble * 1e4 + 0.5).toLong * 100L
      i += 1
    }
    val cells = new Array[Int](m)
    val d2s = new Array[Long](m)
    var off = 0
    var s = 0
    while (s < m) {
      val cents = cb(s)
      val cids = ids(s)
      val dim = subDims(s)
      val lim = math.min(dim, math.max(n - off, 0))
      var best = -1
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0L
        var j = 0
        while (j < lim) {
          val diff = v(off + j) - cent(j)
          d += diff * diff
          j += 1
        }
        if (best == -1 || d < bestD) { best = c; bestD = d }
        c += 1
      }
      cells(s) = cids(best)
      d2s(s) = bestD
      off += dim
      s += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(cells),
      UnsafeArrayData.fromPrimitiveArray(d2s))
  }
}

/** Top-2 variant of the integer cell assignment — same snap, same exact
  * Σ(v−c)² candidates, but tracking the best AND second-best distance in
  * the one pass. The gap between them is the simplified-silhouette signal
  * (`ext_sim_silhouette`): a = d² to the assigned centroid, b = d² to the
  * nearest OTHER centroid = the second value in (d², cell) order, ties
  * included — exactly the `rn = 2` row of the SQL replay's ranked
  * distances. One book only (the IVF coarse quantizer); requires ≥ 2
  * cells, candidates scan in ascending cell-id order so the strict-<
  * argmin tie-breaks toward the lower id like [[IntCellAssign]]. */
case class IntCellTop2(child: Expression, book: Seq[(Int, Array[Long])])
  extends UnaryRowKernel[ArrayData, InternalRow] {

  require(book.length >= 2, "silhouette needs >= 2 cells")

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("d2", LongType, nullable = false),
    StructField("d2b", LongType, nullable = false)))

  @transient private lazy val sorted = book.sortBy(_._1)
  @transient private lazy val ids: Array[Int] = sorted.map(_._1).toArray
  @transient private lazy val cb: Array[Array[Long]] = sorted.map(_._2.clone).toArray

  /** struct(cell: int, d2: long, d2b: long) as an InternalRow. */
  override def kernel(emb: ArrayData): InternalRow = {
    val n = emb.numElements()
    val v = new Array[Long](n)
    var i = 0
    while (i < n) {
      v(i) = Math.floor(emb.getFloat(i).toDouble * 1e4 + 0.5).toLong * 100L
      i += 1
    }
    var best = -1
    var d1 = Long.MaxValue
    var d2b = Long.MaxValue
    var c = 0
    while (c < cb.length) {
      val cent = cb(c)
      val lim = math.min(cent.length, n)
      var d = 0L
      var j = 0
      while (j < lim) {
        val diff = v(j) - cent(j)
        d += diff * diff
        j += 1
      }
      if (d < d1) { d2b = d1; d1 = d; best = c }
      else if (d < d2b) { d2b = d }
      c += 1
    }
    InternalRow(ids(best), d1, d2b)
  }
}
