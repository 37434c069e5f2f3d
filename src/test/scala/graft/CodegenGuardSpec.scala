package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Codegen guard for the row kernels ([[graft.functions.RowKernel]]):
  * every custom Catalyst expression in the repo must ACTUALLY compile under
  * Janino, not silently degrade to interpreted eval. Spark's production
  * projection factories (`UnsafeProjection.create`, whole-stage codegen)
  * catch a failed compile and fall back with only a WARN, which is how two
  * kernels once shipped Janino-invalid Java without failing any test
  * (Janino compiles generics as RAW types). `GenerateUnsafeProjection.
  * generate` has NO fallback: a compile failure throws and fails the suite.
  *
  * Both evaluation paths call the same `kernel` method, so each case pins
  * the generated plumbing around that call — the typed reference call, the
  * null-result shape, the null-input contract — against `expr.eval` on
  * the same row. The property runs every kernel registered by `check` over
  * generated rows (empty strings, runs of spaces, non-BMP code points,
  * arrays with null elements, empty arrays, ragged pairs) and pins that
  * neither path throws and both agree. The source guard keeps every row
  * expression on the one shared codegen path and in this list. */
class CodegenGuardSpec extends AnyFunSuite {

  private val text =
    "the quick brown fox jumps over the lazy dog the fox ate the dog"

  private val strType = StringType
  private val floatArrType = ArrayType(FloatType, containsNull = false)
  private val histType = ArrayType(
    StructType(Array(
      StructField("v", LongType, nullable = false),
      StructField("hn", LongType, nullable = false))),
    containsNull = false)

  private def strRow(s: String): InternalRow =
    InternalRow(UTF8String.fromString(s))
  private def farr(vs: Float*): ArrayData = ArrayData.toArrayData(vs.toArray)

  /** Normalize Unsafe vs Generic container classes to plain Seq/values so
    * the codegen and interpreted results compare structurally. */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) =>
      a.toObjectArray(et).map(norm(_, et)).toSeq
    case (r: InternalRow, st: StructType) =>
      st.fields.toSeq.zipWithIndex.map { case (f, i) =>
        norm(r.get(i, f.dataType), f.dataType)
      }
    case (u: UTF8String, _) => u.toString
    case (x, _) => x
  }

  /** Every kernel registered by [[check]], for the generated-row property. */
  private val kernels = scala.collection.mutable.ArrayBuffer.empty[(String, Expression)]

  /** Compile expr with the no-fallback generator, evaluate on `row`, and
    * pin codegen == interpreted; then pin the null contract. */
  private def check(name: String, expr: Expression, row: InternalRow,
                    inputTypes: Seq[DataType]): Unit = {
    kernels += name -> expr
    test(s"$name compiles under codegen and matches interpreted eval") {
      assert(expr.checkInputDataTypes().isSuccess, s"$name input types")
      val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on Janino error
      val generated = norm(proj(row).get(0, expr.dataType), expr.dataType)
      val interpreted = norm(expr.eval(row), expr.dataType)
      assert(generated == interpreted,
        s"$name codegen/interpreted divergence: $generated vs $interpreted")
      val nullRow = InternalRow(inputTypes.map(_ => null): _*)
      assert(proj(nullRow).isNullAt(0), s"$name null input must yield null")
      assert(expr.eval(nullRow) == null, s"$name interpreted null contract")
    }
  }

  private def str0 = BoundReference(0, strType, nullable = true)
  private def fvec0 = BoundReference(0, floatArrType, nullable = true)

  check("RollingHash", RollingHash(str0, 257L, 1000000007L), strRow(text), Seq(strType))
  check("TokenSetCount", TokenSetCount(str0, Seq("the", "fox", "dog")),
    strRow(text), Seq(strType))
  check("MultiTokenSetCount",
    MultiTokenSetCount(str0, Seq(Seq("the", "fox"), Seq("dog"), Seq("quick", "lazy", "over"))),
    strRow(text), Seq(strType))
  check("BpeCount", BpeCount(str0), strRow(text), Seq(strType))
  check("SimHash64", SimHash64(str0), strRow(text), Seq(strType))
  check("TokenSqFreqSum", TokenSqFreqSum(str0), strRow(text), Seq(strType))
  check("CharEntropyMoments", CharEntropyMoments(str0), strRow(text), Seq(strType))
  check("HashedShingles", HashedShingles(str0, 3), strRow(text), Seq(strType))
  check("BpeMergeCount",
    BpeMergeCount(str0, Seq(("t", "h"), ("th", "e"), ("f", "o"))),
    strRow(text), Seq(strType))
  check("BpeEncode",
    BpeEncode(str0, Seq(("t", "h"), ("th", "e"), ("f", "o"))),
    strRow(text), Seq(strType))
  check("UnigramEncode",
    UnigramEncode(str0, Seq(("the", -1200000L), ("fox", -1500000L),
      ("t", -3000000L), ("h", -3000000L), ("e", -3000000L), ("f", -3100000L),
      ("o", -2900000L), ("x", -3300000L))),
    strRow("the fox"), Seq(strType))
  private val encType = StructType(Array(
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("score_micro", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false)))
  check("UnigramAudit",
    UnigramAudit(BoundReference(0, strType, nullable = true),
      BoundReference(1, encType, nullable = true),
      Seq(("the", -1200000L), ("fox", -1500000L),
        ("t", -3000000L), ("h", -3000000L), ("e", -3000000L), ("f", -3100000L),
        ("o", -2900000L), ("x", -3300000L))),
    InternalRow(UTF8String.fromString("the fox"),
      InternalRow(ArrayData.toArrayData(Array(0L, 1L)), -2700000L, 0L)),
    Seq(strType, encType))
  check("SrpBandKeys", SrpBandKeys(fvec0, bands = 4, bitsPerBand = 8),
    InternalRow(farr(0.5f, -1.25f, 2.0f, 0.75f, -0.5f, 1.5f, -2.0f, 0.25f)),
    Seq(floatArrType))
  check("FloatDot",
    FloatDot(BoundReference(0, floatArrType, nullable = true),
      BoundReference(1, floatArrType, nullable = true)),
    InternalRow(farr(1.0f, 2.0f, 3.0f), farr(0.5f, -1.0f, 2.0f)),
    Seq(floatArrType, floatArrType))
  check("PqAssign",
    PqAssign(fvec0, Seq(
      Seq(Array(0.0f, 0.0f), Array(1.0f, 1.0f)),
      Seq(Array(0.5f, 0.5f), Array(-0.5f, -0.5f)))),
    InternalRow(farr(0.9f, 1.1f, -0.4f, -0.6f)), Seq(floatArrType))
  check("IntCellAssign",
    IntCellAssign(fvec0, Seq(
      Seq((0, Array(0L, 0L)), (1, Array(1000000L, 1000000L))),
      Seq((0, Array(500000L, 500000L)), (2, Array(-500000L, -500000L))))),
    InternalRow(farr(0.9f, 1.1f, -0.4f, -0.6f)), Seq(floatArrType))
  check("IntCellTop2",
    IntCellTop2(fvec0, Seq(
      (0, Array(0L, 0L)), (1, Array(1000000L, 1000000L)),
      (3, Array(-500000L, -500000L)))),
    InternalRow(farr(0.9f, 1.1f)), Seq(floatArrType))
  private val longArrType = ArrayType(LongType, containsNull = false)
  check("LongDot",
    LongDot(BoundReference(0, longArrType, nullable = true),
      BoundReference(1, longArrType, nullable = true)),
    InternalRow(ArrayData.toArrayData(Array(3L, -2L, 7L)),
      ArrayData.toArrayData(Array(-4L, 5L, 6L))),
    Seq(longArrType, longArrType))
  private val dtType = ArrayType(ArrayType(DoubleType, containsNull = false),
    containsNull = false)
  check("AdcDist",
    AdcDist(BoundReference(0, dtType, nullable = true),
      BoundReference(1, ArrayType(IntegerType, containsNull = false), nullable = true)),
    InternalRow(
      ArrayData.toArrayData(Array(
        ArrayData.toArrayData(Array(1.5, 2.5)),
        ArrayData.toArrayData(Array(0.25, 4.0, 8.0)))),
      ArrayData.toArrayData(Array(1, 2))),
    Seq(dtType, ArrayType(IntegerType, containsNull = false)))
  check("LongDots",
    LongDots(BoundReference(0, longArrType, nullable = true),
      Seq(Array(1000000L, -2000000L, 3000000L), Array(500000L, 500000L, -500000L))),
    InternalRow(ArrayData.toArrayData(Array(2000000L, 1000000L, -1000000L))),
    Seq(longArrType))
  private val strArrType = ArrayType(StringType, containsNull = true)
  check("TokenPairsWindow",
    TokenPairsWindow(BoundReference(0, strArrType, nullable = true), window = 3),
    InternalRow(ArrayData.toArrayData(Array(
      UTF8String.fromString("b"), UTF8String.fromString("a"),
      UTF8String.fromString("b"), UTF8String.fromString("c")))),
    Seq(strArrType))
  check("WinnowFingerprints",
    WinnowFingerprints(str0, k = 8, w = 4, modulus = 1000000007L),
    strRow(text), Seq(strType))
  check("TokenRepetitionStats", TokenRepetitionStats(str0), strRow(text), Seq(strType))
  check("SnapGrid",
    SnapGrid(fvec0),
    InternalRow(farr(0.12345f, -0.98765f, 0.0f, 1.00005f, -2.5f)),
    Seq(floatArrType))
  check("Int8QuantStats",
    Int8QuantStats(fvec0),
    InternalRow(farr(1.0f, -1.0f, 0.5f, 0.0f)),
    Seq(floatArrType))
  check("FloatVecSub",
    FloatVecSub(BoundReference(0, floatArrType, nullable = true),
      BoundReference(1, floatArrType, nullable = true)),
    InternalRow(farr(1.5f, -2.25f, 0.125f), farr(0.5f, 1.75f, -0.375f)),
    Seq(floatArrType, floatArrType))
  check("GopherTokenStats",
    GopherTokenStats(str0, Seq("the", "a", "of", "and", "to", "in", "is", "it")),
    strRow(text), Seq(strType))
  check("DistinctChars", DistinctChars(str0), strRow(text), Seq(strType))
  check("TokenTriples",
    TokenTriples(BoundReference(0, strArrType, nullable = true)),
    InternalRow(ArrayData.toArrayData(Array(
      UTF8String.fromString("b"), UTF8String.fromString("a"),
      UTF8String.fromString("b"), UTF8String.fromString("c")))),
    Seq(strArrType))
  check("TokenBigrams",
    TokenBigrams(BoundReference(0, strArrType, nullable = true)),
    InternalRow(ArrayData.toArrayData(Array(
      UTF8String.fromString("b"), UTF8String.fromString("a"),
      UTF8String.fromString("b"), UTF8String.fromString("c")))),
    Seq(strArrType))
  check("TokenPrevCur",
    TokenPrevCur(BoundReference(0, strArrType, nullable = true)),
    InternalRow(ArrayData.toArrayData(Array(
      UTF8String.fromString("b"), UTF8String.fromString("a"),
      UTF8String.fromString("b"), UTF8String.fromString("c")))),
    Seq(strArrType))
  check("LongArrayStats",
    LongArrayStats(BoundReference(0, longArrType, nullable = true),
      ge = 1000000L),
    InternalRow(ArrayData.toArrayData(Array(3L, 2000000L, -7L, 1000000L))),
    Seq(longArrType))
  check("MultiRegexScan",
    MultiRegexScan(str0, Seq("fox|dog" -> "<A>", "[a-z]{5,}" -> "<W>")),
    strRow(text), Seq(strType))
  check("MadStats",
    MadStats(BoundReference(0, histType, nullable = true), factor = 3),
    InternalRow(ArrayData.toArrayData(Array(
      InternalRow(1L, 2L), InternalRow(5L, 3L), InternalRow(9L, 1L),
      InternalRow(100L, 1L)))),
    Seq(histType))

  test("LongDot ragged arrays yield NULL (zip_with null-poisoning contract)") {
    // The replaced aggregate(zip_with(...)) form null-padded the shorter
    // array, poisoning the fold — a ragged pair must never yield a partial
    // dot that could pass a downstream cosine filter.
    val e = LongDot(BoundReference(0, longArrType, nullable = true),
      BoundReference(1, longArrType, nullable = true))
    val row = InternalRow(ArrayData.toArrayData(Array(3L, -2L, 7L)),
      ArrayData.toArrayData(Array(-4L, 5L)))
    assert(e.eval(row) == null, "interpreted ragged dot must be null")
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    assert(proj(row).isNullAt(0), "generated ragged dot must be null")
  }

  test("TokenPairsWindow skips pairs with a null token (least/greatest contract)") {
    // The replaced named_struct(least, greatest) + a =!= b form never
    // emitted a pair with a null member (one null collapses to (y, y) and
    // the filter drops it; two nulls give a null comparison): the kernel
    // must skip them, not NPE.
    val e = TokenPairsWindow(BoundReference(0, strArrType, nullable = true), window = 3)
    val row = InternalRow(ArrayData.toArrayData(Array(
      UTF8String.fromString("b"), null, UTF8String.fromString("a"),
      UTF8String.fromString("c"))))
    // offset-1 pairs emit first: (a,c) at i=2; then offset-2: (b,a) → (a,b)
    val expected = Seq(Seq("a", "c"), Seq("a", "b"))
    assert(norm(e.eval(row), e.dataType) == expected)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    assert(norm(proj(row).get(0, e.dataType), e.dataType) == expected)
  }

  /** (generated, interpreted) results of `e` on `row`, NULL as null. */
  private def bothPaths(e: Expression, row: InternalRow,
                        proj: InternalRow => InternalRow = null): (Any, Any) = {
    val g = Option(proj).getOrElse(GenerateUnsafeProjection.generate(Seq(e)))(row)
    (if (g.isNullAt(0)) null else norm(g.get(0, e.dataType), e.dataType),
      norm(e.eval(row), e.dataType))
  }

  private val fvec2 = FloatDot(BoundReference(0, floatArrType, nullable = true),
    BoundReference(1, floatArrType, nullable = true))

  test("FloatDot ragged arrays yield NULL (zip_with null-poisoning contract)") {
    // a partial dot over min(len) could pass a downstream cosine filter
    val row = InternalRow(farr(1.0f, 2.0f, 3.0f), farr(0.5f, -1.0f))
    assert(bothPaths(fvec2, row) == ((null, null)))
  }

  test("FloatDot yields NULL on a null element") {
    val withNull = ArrayType(FloatType, containsNull = true)
    val f = FloatDot(BoundReference(0, withNull, nullable = true),
      BoundReference(1, withNull, nullable = true))
    val fr = InternalRow(new GenericArrayData(Array[Any](1.0f, null, 3.0f)), farr(0.5f, -1.0f, 2.0f))
    assert(bothPaths(f, fr) == ((null, null)))
  }

  test("LongDot yields NULL on a null element") {
    val longsWithNull = ArrayType(LongType, containsNull = true)
    val l = LongDot(BoundReference(0, longsWithNull, nullable = true),
      BoundReference(1, longsWithNull, nullable = true))
    val lr = InternalRow(ArrayData.toArrayData(Array(3L, -2L, 7L)),
      new GenericArrayData(Array[Any](-4L, 5L, null)))
    assert(bothPaths(l, lr) == ((null, null)))
  }

  /** Text that stresses tokenizers: empty, runs of spaces, non-BMP. */
  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    3 -> Gen.oneOf("the", "fox", "a", "naïve", "日本", "Über"),
    3 -> Gen.oneOf(" ", "  ", "   "),
    2 -> Gen.oneOf(0x1F600, 0x10348, 0x20BB7).map(cp => new String(Character.toChars(cp))),
    1 -> Gen.alphaNumStr.map(_.take(5)))).map(_.mkString)

  /** A value of `dt`. Arrays hold null elements and are empty or ragged:
    * each takes either the row's shared length or its own. */
  private def genValue(dt: DataType, len: Int): Gen[Any] = dt match {
    case StringType => genText.map(UTF8String.fromString)
    case LongType => Gen.chooseNum(-1000000L, 1000000L)
    case IntegerType => Gen.chooseNum(-1, 4)
    case FloatType => Gen.chooseNum(-2.0f, 2.0f)
    case DoubleType => Gen.chooseNum(-2.0, 2.0)
    case ArrayType(et, _) =>
      for {
        n <- Gen.oneOf(Gen.const(len), Gen.choose(0, 6))
        xs <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null), 5 -> genValue(et, len)))
      } yield new GenericArrayData(xs.toArray[Any])
    case st: StructType =>
      Gen.sequence[Seq[Any], Any](st.fields.toSeq.map(f => genValue(f.dataType, len)))
        .map(vs => InternalRow.fromSeq(vs))
  }

  /** `dt` with every array allowed to hold null elements. */
  private def withNullElements(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(withNullElements(et), containsNull = true)
    case st: StructType => StructType(st.fields.map(f => f.copy(dataType = withNullElements(f.dataType))))
    case other => other
  }

  test("every kernel: generated projection equals eval and neither throws on generated rows") {
    var seed = rng.Seed(20260417L)
    for ((name, registered) <- kernels) {
      val e = registered.transform {
        case b: BoundReference => b.copy(dataType = withNullElements(b.dataType))
      }
      assert(e.checkInputDataTypes().isSuccess, s"$name accepts arrays with null elements")
      val inputs = e.collect { case b: BoundReference => b }.sortBy(_.ordinal).map(_.dataType)
      val genRow = Gen.choose(0, 6).flatMap(len =>
        Gen.sequence[Seq[Any], Any](inputs.map(genValue(_, len))).map(InternalRow.fromSeq))
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      for (_ <- 0 until 150) {
        val row = genRow.pureApply(Gen.Parameters.default, seed)
        seed = seed.next
        val out = Try(bothPaths(e, row, proj))
        assert(out.isSuccess, s"$name threw on $row: ${out.failed.map(_.toString).getOrElse("")}")
        val (generated, interpreted) = out.get
        assert(generated == interpreted,
          s"$name on $row: generated $generated vs interpreted $interpreted")
      }
    }
  }

  test("source guard: one codegen path in functions/, and every row kernel is checked here") {
    val root = Paths.get("src/main/scala/graft/functions")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val files = Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val handWritten = for {
      p <- files if p.getFileName.toString != "RowKernel.scala"
      word <- Seq("doGenCode", "addReferenceObj", "CodegenFallback") if text(p).contains(word)
    } yield s"$p: $word"
    assert(handWritten.isEmpty, handWritten.mkString("\n"))
    val rowKernel = """case class (\w+)[^{]*?extends\s+(?:Unary|Binary)RowKernel""".r
    val names = files.flatMap(p => rowKernel.findAllMatchIn(text(p)).map(_.group(1)))
    val spec = text(Paths.get("src/test/scala/graft/CodegenGuardSpec.scala"))
    val unchecked = names.filterNot(n => spec.contains("check(\"" + n + "\""))
    assert(unchecked.isEmpty, s"row kernels without a codegen check: ${unchecked.mkString(", ")}")
    assert(names.toSet == kernels.map(_._1).toSet, "each check names one row kernel class")
  }
}
