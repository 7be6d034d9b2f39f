package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** The door between [[Column]] and Catalyst [[Expression]] for graft's
  * native kernels (`graft.functions`) and for the clause expressions of
  * SQL statements Spark's parser read (`graft.pipeline`).
  * `classic.ExpressionUtils` is
  * `private[sql]`, so the conversion lives in this package, like
  * [[PlanBridge]].
  *
  * A kernel Column built here wraps its expression directly: it resolves
  * in any session, with no function registry lookup, and stays inside the
  * plan exactly as written (whole-stage codegen, subexpression
  * elimination, the kernel's own plan name).
  */
object ColumnBridge {

  /** The Column that evaluates `e`. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) expression behind `c`, to nest as a kernel's
    * child. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
