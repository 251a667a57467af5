package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` helpers — the standard spark-package technique
  * for libraries that ship custom Catalyst expressions and need to wrap them
  * into the public `Column` API (Spark 4 moved `Column(expr)` behind
  * `org.apache.spark.sql.classic.ExpressionUtils`).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder into an EXISTING session's registry (the
    * extensions path only applies at session build time).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The session's own id (`sessionUUID`): a registry key part for values
    * bound to one session, such as a resolved DataFrame.
    */
  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
