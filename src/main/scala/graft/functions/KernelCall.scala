package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.ObjectType

/** The one binding of a native scalar expression to its static kernel in
  * [[VectorOps]], [[TextOps]], [[MinHashOps]] or [[WinnowOps]]: the
  * expression names the kernel and its constant arguments, and Catalyst's
  * `StaticInvoke` runs `kernel(children ++ constants)` in both the
  * interpreted `eval` and the generated code.
  *
  * Null convention: a NULL child returns NULL without calling the kernel
  * (`propagateNull`), unless the expression sets [[kernelTakesNull]]; a
  * kernel that can itself answer null sets [[kernelNullable]], and its
  * null result is the expression's NULL. The generated code is the direct
  * static call behind that null check; the interpreted path calls the
  * same method through a cached reflective `Method`. The `StaticInvoke`
  * is private to each instance and never appears in a plan: plan strings
  * keep the expression's own `prettyName` and `stringArgs`. */
trait KernelCall extends Expression {

  /** The Scala object holding the kernel. */
  protected def kernels: AnyRef

  /** The kernel's method name. */
  protected def kernel: String

  /** Arguments after the children, in the kernel's parameter order:
    * plain [[Literal]]s for scalars, [[KernelCall.const]] for arrays and
    * sets. Built once per instance. */
  protected def constants: Seq[Expression] = Nil

  /** Whether the kernel can return null on non-null arguments. */
  protected def kernelNullable: Boolean = false

  /** Whether NULL children reach the kernel, which answers for them — for
    * a non-nullable expression, whose NULL would otherwise read as a
    * type's default value, differently in eval and generated code. */
  protected def kernelTakesNull: Boolean = false

  @transient private lazy val call: StaticInvoke = StaticInvoke(
    kernels.getClass, dataType, kernel, children ++ constants,
    propagateNull = !kernelTakesNull, returnNullable = kernelNullable)

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
}

object KernelCall {

  /** A constant object argument (a matrix, a word set, a merge table),
    * typed by its runtime class: generated code reads it from the
    * `references` array, eval receives the object itself. */
  def const(value: AnyRef): Literal = Literal(value, ObjectType(value.getClass))
}
