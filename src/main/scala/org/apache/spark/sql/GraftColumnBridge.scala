package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The bridge between graft's custom Catalyst expressions and the public
  * Column API, reached only through the typed constructors of
  * [[graft.functions.GraftFunctions]]. Constructing the Column DIRECTLY —
  * instead of binding model state through the session's shared function
  * registry — keeps concurrent plan-building on one SparkSession
  * race-free: each expression closes over ITS model's centroids, so no
  * named registry slot can be re-pointed by another thread mid-analysis.
  * Lives in the spark.sql package only to reach the package-private
  * [[org.apache.spark.sql.classic.ExpressionUtils]] converters.
  */
object GraftColumnBridge {
  /** Wrap a Catalyst expression as a Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression (attribute references
    * convert statically; no session interaction). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
