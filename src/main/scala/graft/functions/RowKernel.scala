package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** The one codegen path of graft's row expressions. A row kernel is a
  * Catalyst expression whose whole per-row work is ONE Scala method,
  * `kernel`, and both evaluation paths call it: interpreted `eval` through
  * `nullSafeEval`, generated code on a reference to the expression itself,
  * cast to its concrete class. So there is one copy of each algorithm, the
  * call binds to the typed method (a `Long` kernel returns a Java `long`:
  * no box per row), and the projection stays inside WholeStageCodegen.
  *
  * A kernel's contract:
  *  - it sees only non-null inputs (any null input ⇒ null output);
  *  - it may return null, and the generated code then sets `isNull` (the
  *    `ScalaUDF` result shape): a kernel that can do so on non-null input
  *    declares `nullable = true`, and returns the boxed type
  *    (`java.lang.Double`, `java.lang.Long`) if its result is primitive;
  *  - its input types are `inputTypes` (`ExpectsInputTypes`: checked by the
  *    analyzer, never implicitly cast), declared without a result type
  *    because Spark's `AbstractDataType` is `private[sql]`.
  * Subclasses stay case classes, so class names, SQL names and
  * `prettyName`s in plans are their own; `withNewChildren` copies through
  * the case-class constructor. */
object RowKernel {

  /** Java statements assigning `ev` from `self.kernel(args)`. */
  private[functions] def call(ctx: CodegenContext, ev: ExprCode, self: Expression,
                              args: String*): String = {
    val invoke = s"${ctx.addReferenceObj("kernel", self)}.kernel(${args.mkString(", ")})"
    val primitive = self.getClass.getMethods.exists(m =>
      m.getName == "kernel" && !m.isBridge && m.getReturnType.isPrimitive)
    val boxed = CodeGenerator.boxedType(self.dataType)
    if (primitive) s"${ev.value} = $invoke;"
    else if (!self.nullable) s"${ev.value} = ($boxed) $invoke;"
    else {
      val r = ctx.freshName("kernelResult")
      s"""final Object $r = $invoke;
         |if ($r == null) ${ev.isNull} = true;
         |else ${ev.value} = ($boxed) $r;""".stripMargin
    }
  }
}

/** One-input [[RowKernel]]: `kernel(input)`. */
abstract class UnaryRowKernel[I, O] extends UnaryExpression with ExpectsInputTypes {

  def kernel(input: I): O

  final override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[I])

  final override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => RowKernel.call(ctx, ev, this, c))

  final override protected def withNewChildInternal(c: Expression): Expression =
    legacyWithNewChildren(Seq(c))
}

/** Two-input [[RowKernel]]: `kernel(left, right)`. */
abstract class BinaryRowKernel[L, R, O] extends BinaryExpression with ExpectsInputTypes {

  def kernel(left: L, right: R): O

  final override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[L], r.asInstanceOf[R])

  final override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => RowKernel.call(ctx, ev, this, l, r))

  final override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    legacyWithNewChildren(Seq(l, r))
}
