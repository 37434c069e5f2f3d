package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled distinct hashed n-gram shingles: semantics identical to the
  * higher-order form `KernelRefs.hashedShinglesRef` (test-only) —
  * `array_distinct(transform(idx, i -> xxhash64(tok_i … tok_{i+n-1})))`
  * over `split(text, " ", -1)` — but one scan over the string's UTF-8 bytes
  * instead of an interpreted lambda chain (~4 expression nodes per token per
  * shingle). Token hashes reuse Spark's own XXH64 (seed 42, each token's
  * hash seeding the next, exactly like the variadic `xxhash64`), hashing
  * byte SLICES of the original buffer — no per-token allocation. The
  * similarity pipelines scan every document through this expression, so at
  * 100 TB it is the single hottest scalar in the engine.
  */
case class HashedShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryRowKernel[UTF8String, ArrayData] {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def kernel(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    // token boundaries: 0x20 never occurs inside a multi-byte UTF-8 char,
    // so a byte scan reproduces split(text, " ", -1) exactly (empty tokens
    // from leading/trailing/double spaces included)
    var nTokens = 1
    var i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nTokens += 1
      i += 1
    }
    if (nTokens < n) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTokens)
    val lens = new Array[Int](nTokens)
    var t = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        starts(t) = start; lens(t) = i - start; t += 1; start = i + 1
      }
      i += 1
    }
    val nShingles = nTokens - n + 1
    val out = new Array[Long](nShingles)
    // positional mode (distinct=false): index IS the token position — the
    // substring-dedup input shape, where in-doc repeats must survive
    val seen = if (distinct) new java.util.HashSet[java.lang.Long](nShingles * 2) else null
    var m = 0
    i = 0
    while (i < nShingles) {
      var h = 42L // xxhash64's fixed seed
      var j = 0
      while (j < n) {
        h = XXH64.hashUnsafeBytes(base, off + starts(i + j), lens(i + j), h)
        j += 1
      }
      if (seen == null) { out(m) = h; m += 1 }
      else if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == nShingles) out else java.util.Arrays.copyOf(out, m))
  }
}
