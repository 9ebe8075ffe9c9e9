package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge to the `private[sql]` Column <-> Expression converters, so graft's
  * native Catalyst expressions can be exposed as `Column`s (Spark 4 removed
  * the public Column(expr) constructor), and to the session function
  * registry, which `spark.udf.register` only reaches for UDFs. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The catalog entry of a graft SQL function. */
  def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "")

  /** Register a Catalyst function builder as a session SQL function. */
  def registerFunction(spark: SparkSession, name: String, usage: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), info(name, usage), builder)
}
