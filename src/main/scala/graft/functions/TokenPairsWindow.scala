package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd co-occurrence pair fan-out for the TextRank graph: for a
  * token array, every (least, greatest)-normalized UNEQUAL pair of tokens
  * at positions ≤ `window − 1` apart, in-doc repeats kept —
  * array<struct<a: string, b: string>>, byte-equal to the interpreted
  * `flatten(transform(sequence…, transform(sequence…, named_struct(
  * least/greatest))))` + `a =!= b` filter it replaces (the lambda tree
  * evaluated per token × (window−1) across the corpus — the
  * [[FloatDot]]/[[LongDot]]/[[AdcDist]] lesson applied to the graph
  * construction; the a = b self-pairs the old form built and then
  * filtered are simply never emitted). String order is UTF8String binary
  * comparison — exactly `least`/`greatest` on Spark strings. */
case class TokenPairsWindow(child: Expression, window: Int)
    extends UnaryRowKernel[ArrayData, ArrayData] {

  require(window >= 2, s"token_pairs_window: need window >= 2, got $window")

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", StringType, nullable = true),
      StructField("b", StringType, nullable = true))),
    containsNull = false)

  override def kernel(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val out = new java.util.ArrayList[InternalRow](math.max(n, 8) * (window - 1))
    var o = 1
    while (o < window) {
      var i = 0
      while (i + o < n) {
        val x = input.getUTF8String(i)
        val y = input.getUTF8String(i + o)
        // Null guard (tokens come from split() so this is defensive): the
        // replaced form built named_struct(least(x,y), greatest(x,y)) and
        // filtered a =!= b — one null member collapses to (y,y) and the
        // filter drops it, both null gives a null comparison and the
        // filter drops it. Either way a pair with a null token was never
        // emitted, so skip it here too instead of NPE-ing in compareTo.
        if (x != null && y != null) {
          // compareTo is UTF8String binary order = Spark's string
          // least/greatest.
          val c = x.compareTo(y)
          if (c < 0) out.add(InternalRow(x, y))
          else if (c > 0) out.add(InternalRow(y, x))
          // c == 0: the self-pair the old form built and then filtered
        }
        i += 1
      }
      o += 1
    }
    new GenericArrayData(out.toArray)
  }
}
