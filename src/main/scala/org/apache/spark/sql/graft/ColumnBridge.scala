package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column construction and session function
  * registration. Columns: graft builds its native expressions directly
  * where the plan must not depend on what a session registered
  * (`GraftFunctions.diffdb`) and where an expression carries a runtime
  * handle that has no SQL literal (e.g. [[graft.functions.BloomMightContain]]
  * wraps a `Broadcast[BloomFilter]`). Registration: installs the
  * function table `GraftExtensions` injects into a session built
  * without it.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunctions(spark: SparkSession,
      fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)]): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    fns.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }
}
