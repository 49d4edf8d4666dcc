package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}

/** The codegen bridge of the native kernels, one-argument form: an
  * expression states its kernel call once, in `evalInput`, and both the
  * interpreted `nullSafeEval` and the generated code call it, so the two
  * paths cannot disagree on the call. `I` is the Java type Catalyst holds
  * the child's value in (`UTF8String`, `ArrayData`, `InternalRow`,
  * `Array[Byte]`). The expression stays a named node of the executed plan,
  * inside its whole-stage-codegen stage. */
trait UnaryKernelExpression[I] extends UnaryExpression {
  def evalInput(input: I): Any

  override protected def nullSafeEval(input: Any): Any = evalInput(input.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => KernelExpression.call(ctx, ev, this, c))
}

/** The two-argument form of [[UnaryKernelExpression]]. */
trait BinaryKernelExpression[L, R] extends BinaryExpression {
  def evalInput(left: L, right: R): Any

  override protected def nullSafeEval(left: Any, right: Any): Any =
    evalInput(left.asInstanceOf[L], right.asInstanceOf[R])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => KernelExpression.call(ctx, ev, this, s"$l, $r"))
}

private object KernelExpression {
  /** `value = (<javaType>) kernel.evalInput(args);` — the argument types
    * select the expression's own `evalInput` over the erased bridge, so a
    * primitive result does not box; a nullable object result that comes
    * back null (a kernel's dead-letter) sets `isNull`. */
  def call(ctx: CodegenContext, ev: ExprCode, e: Expression, args: String): String = {
    val ref = ctx.addReferenceObj(e.prettyName, e, e.getClass.getName)
    val assign = s"${ev.value} = (${CodeGenerator.javaType(e.dataType)}) $ref.evalInput($args);"
    if (e.nullable && !CodeGenerator.isPrimitiveType(e.dataType))
      s"$assign\nif (${ev.value} == null) { ${ev.isNull} = true; }"
    else assign
  }
}
