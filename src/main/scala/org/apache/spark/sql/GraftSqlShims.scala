package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between `Column` and Catalyst `Expression` for Spark 4, where
  * the converters live behind `private[sql]`. This is the supported idiom
  * for libraries that define custom Catalyst expressions (the public
  * Column API intentionally hides the Expression plane).
  */
object GraftSqlShims {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column → Expression conversion. [[expressionOf]] returns a
    * lazy `ColumnNodeExpression` wrapper that only a DataFrame analysis
    * context unwraps — embedded in a SQL function-registry builder it
    * survives to codegen as an Unevaluable. This converts the node tree
    * immediately (to UnresolvedFunction/UnresolvedExtractValue etc.,
    * which the SQL analyzer then resolves normally). */
  def eagerExpressionOf(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Drop an RDD's blocks from every executor, waiting until they are
    * gone. Unlike `RDD.unpersist`, this logs no warning for a locally
    * checkpointed RDD, whose blocks are all the data it has. */
  def unpersistRDD(spark: SparkSession, rddId: Int): Unit =
    spark.sparkContext.unpersistRDD(rddId, blocking = true)

  /** Block until every listener has seen the events posted so far —
    * `QueryExecutionListener`s are called asynchronously. */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
