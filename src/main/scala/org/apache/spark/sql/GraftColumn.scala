package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The Column ↔ Catalyst [[Expression]] bridge for graft's Column APIs
  * (`vecDot`, `minhashSig`, …). Spark 4 keeps the conversion
  * `private[sql]`, so this one object lives in Spark's package to reach
  * it. A Column built here carries its expression directly: it names no
  * function in any session's registry, so it resolves in whichever
  * session its frame belongs to. */
object GraftColumn {
  /** Wrap a built expression as a Column. */
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The (possibly unresolved) expression behind a Column. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
