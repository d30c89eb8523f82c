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

/** One row of graft's function table: the SQL `name` of a function, its
  * kernel — the method `kernel` of the top-level object whose class is
  * `kernels` — the kernel's result type and the types of its column
  * arguments. `srids` names the function's trailing plan-time SRID
  * arguments, if it has any: constant INTs that follow the columns.
  *
  * A kernel is typed in Catalyst's physical types (`Array[Byte]`,
  * `UTF8String`, primitives, `ArrayData` in; `InternalRow`, `ArrayData`, a
  * reference, or a boxed primitive when the result can be null, out) and
  * takes its arguments in SQL order. It returns null for SQL NULL (garbage
  * input, unsupported geometry).
  */
final case class KernelSig(name: String, kernels: Class[_], kernel: String,
                           resultType: DataType, argTypes: Seq[DataType],
                           srids: Seq[String] = Nil)

/** The base of graft's Catalyst expressions: a call of its row's kernel.
  * The optimizer replaces the node with Spark's `StaticInvoke` of the
  * kernel, so generated code calls it inside whole-stage codegen and the
  * interpreted path calls it by reflection. A null argument yields NULL
  * without a call (null-intolerant).
  *
  * `argTypes` are the children's types: the analyzer inserts implicit casts
  * to them (SQL decimal literals → double). This lives in Spark's package
  * because `inputTypes` is typed with the `private[sql]` AbstractDataType.
  */
abstract class KernelExpr extends RuntimeReplaceable with ImplicitCastInputTypes {
  def sig: KernelSig

  override def prettyName: String = sig.name

  override def inputTypes: Seq[AbstractDataType] = sig.argTypes

  /** the kernel's arguments: the children, extended with plan-time
    * constants where the function has them.
    */
  protected def kernelArgs: Seq[Expression] = children

  override lazy val replacement: Expression =
    StaticInvoke(sig.kernels, sig.resultType, sig.kernel, kernelArgs)
}

/** Every function without plan-time arguments: its row applied to its
  * children. Plans print the call, not the row: `st_cell_at(lon, lat, 15)`.
  */
case class KernelCall(sig: KernelSig, children: Seq[Expression]) extends KernelExpr {
  override protected def flatArguments: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KernelCall =
    copy(children = c)
}
