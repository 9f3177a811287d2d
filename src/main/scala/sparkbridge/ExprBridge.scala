package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Spark API. Lives in an
  * org.apache.spark.sql subpackage purely for access; everything else
  * in this repo stays on the public API. It holds two helpers:
  *  - the Column↔Expression converters (Spark 4 removed the public
  *    `Column(expr)` constructor);
  *  - [[onSession]], which rebinds a frame's plan onto another session.
  */
object ExprBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The same logical plan as `df`, as a frame of `session`: its
    * queries plan under `session`'s SQL conf, and their jobs carry
    * `session`'s artifact state (the executor's class loader and with it
    * the generated-class cache key). The plan itself is reused as it is,
    * so an RDD-backed plan still reads the same RDD. */
  def onSession(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
