package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions (Spark 4
  * made these conversions private[sql]; extension libraries bridge from
  * inside the package, as the spark-package ecosystem does).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The error `array_sort` raises when its comparator returns NULL. */
  def comparatorReturnsNull(first: String, second: String): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors.comparatorReturnsNull(first, second)
}
