package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Bridge to `private[sql]` Spark internals: the classic Column ⇄ Expression
  * converters (hidden since the Spark Connect column refactor), the
  * analyzer's errors for a function's arguments, and `AbstractDataType`
  * (needed to declare `inputTypes` for implicit casts).
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def wrongNumArgsError(name: String, valid: Seq[Int], actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, valid, actual)
  def nonFoldableArgumentError(name: String, param: String, tpe: DataType): Throwable =
    QueryCompilationErrors.nonFoldableArgumentError(name, param, tpe)
}

/** The one base of graft's Catalyst expressions. Each expression names its
  * kernel: a method `kernel` of the top-level object `kernels`, typed in
  * Catalyst's physical types (`Array[Byte]`, `UTF8String`, primitives,
  * `ArrayData` in; `InternalRow`, `ArrayData`, a reference, or a boxed
  * primitive when the result can be null, out). The optimizer replaces the
  * node with Spark's `StaticInvoke` of that method, so generated code calls
  * the kernel inside whole-stage codegen and the interpreted path calls it
  * by reflection. A null argument yields NULL without a call (null-
  * intolerant); a kernel returns null for SQL NULL (garbage input,
  * unsupported geometry).
  *
  * `argTypes` are the children's types: the analyzer inserts implicit casts
  * to them (SQL decimal literals → double). This lives in Spark's package
  * because `inputTypes` is typed with the `private[sql]` AbstractDataType.
  */
abstract class KernelExpr(kernels: AnyRef, kernel: String, resultType: DataType,
                          argTypes: DataType*)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  private val kernelClass: Class[_] = kernels.getClass

  override def inputTypes: Seq[AbstractDataType] = argTypes

  /** the kernel's arguments: the children, reordered or extended with
    * plan-time constants where the kernel's signature asks for it.
    */
  protected def kernelArgs: Seq[Expression] = children

  override lazy val replacement: Expression =
    StaticInvoke(kernelClass, resultType, kernel, kernelArgs)
}
