package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 keeps the Expression-to-Column constructor private to its
  * own package. graft's native kernels (`graft.functions.VectorFunctions`)
  * build their Columns through this one seam, so a kernel works on any
  * session without a function registry.
  */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
