package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a `Column`. Spark 4 keeps the classic
  * converter `private[sql]`, so the bridge lives in this package. */
object Columns {
  def of(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
