package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column↔Expression conversion `private[sql]`
  * (ExpressionUtils in spark-sql's classic module). Libraries that ship
  * custom Catalyst expressions need exactly these two hops, so this bridge
  * lives inside the org.apache.spark.sql namespace — the same approach
  * used by open-source Spark extensions post-Connect.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session function registry — `sessionState` is `private[sql]` in
    * Spark 4's classic module; libraries registering SQL functions on a
    * LIVE session (vs. the spark.sql.extensions startup hook) need this
    * one hop.
    */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Blocks until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`), so a listener's counters are
    * complete for the work that already ran.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
