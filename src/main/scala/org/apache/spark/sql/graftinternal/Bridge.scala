package org.apache.spark.sql.graftinternal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` and `private[spark]` Spark surfaces —
  * the whole extent of our reach into Spark internals:
  *
  *   - the Column↔Expression converters, required to expose custom Catalyst
  *     expressions as user-facing Columns in Spark 4 (where
  *     `new Column(expr)` is no longer public);
  *   - the session FunctionRegistry, required to install those expressions
  *     as SQL functions into a LIVE session
  *     ([[graft.GraftExtensions.register]]) — sessions created with
  *     `spark.sql.extensions=graft.GraftExtensions` never need this path;
  *   - `SparkContext.unpersistRDD`, the block drop [[graft.Pinned]] frees
  *     pins through: `RDD.unpersist` makes the same call but first logs a
  *     WARN for every locally checkpointed RDD ("its lineage has been
  *     truncated and cannot be recomputed"), which is every pin.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  def unpersistRDD(sc: SparkContext, rddId: Int, blocking: Boolean): Unit =
    sc.unpersistRDD(rddId, blocking)
}
