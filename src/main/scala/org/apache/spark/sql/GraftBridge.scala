package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Bridge to the `private[sql]` Column↔Expression conversions so graft
  * can expose its native Catalyst expressions as plain `Column`
  * functions (same pattern as public Spark extension libraries that
  * place a small factory inside the org.apache.spark.sql namespace).
  * The two error factories let native kernels raise exactly the ANSI
  * errors of the built-in expressions they replace.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The ANSI `CAST(double AS BIGINT)` overflow error (NaN, ±Inf, out of range). */
  def castOverflow(v: Double): ArithmeticException =
    QueryExecutionErrors.castingCauseOverflowError(v, DoubleType, LongType)

  /** The ANSI `x / 0` error. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
