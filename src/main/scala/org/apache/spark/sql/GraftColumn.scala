package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a [[Column]] directly, with no
  * function-registry lookup, so a graft kernel column resolves on any
  * session (one built without `GraftFunctions.register` included). It
  * lives in Spark's package because the expression-to-column
  * constructor is package-private. */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
