package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.{ColumnBridge => B}
import org.apache.spark.sql.types.DataType

/** How a row kernel enters a Catalyst plan. Every kernel is a static
  * method on a Scala object (`Hashing`, `Urls`, `Robots`, `HtmlText`,
  * `VecOps`) that takes and returns Catalyst values (UTF8String,
  * ArrayData, primitives). Spark's `StaticInvoke` calls it: a static call
  * in whole-stage codegen, a reflective call when codegen is off, and null
  * out when any argument is null. The plan prints it as
  * `static_invoke(graft.functions.<Object>.<kernel>(...))`.
  *
  * `returnNullable = false` marks a kernel that never returns null, so the
  * column is nullable only when an input is. A kernel that may return null
  * returns a boxed value. */
object Kernels {

  def call(kernels: AnyRef, fn: String, dataType: DataType, returnNullable: Boolean)(
      args: Any*): Column =
    B.column(StaticInvoke(kernels.getClass, dataType, fn, args.map(arg),
      returnNullable = returnNullable))

  /** A Column is the row input; a constant array goes in by reference
    * (`Literal.fromObject`), any other constant as its typed literal. */
  private def arg(a: Any): Expression = a match {
    case c: Column => B.expression(c)
    case arr: Array[_] => Literal.fromObject(arr)
    case v => Literal(v)
  }
}
