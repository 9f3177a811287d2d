package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` Spark API. Lives in an
  * org.apache.spark.sql subpackage purely for access; everything else
  * in this repo stays on the public API. It holds:
  *  - the Column↔Expression converters (Spark 4 removed the public
  *    `Column(expr)` constructor);
  *  - [[frame]], which wraps an RDD of internal rows as a frame;
  *  - [[withArtifacts]], which runs code under a session's artifacts.
  */
object ExprBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `rows`, internal rows of `schema`, as a frame of `session`: its
    * plan scans the RDD as it is, so a persisted RDD is read from its
    * blocks. */
  def frame(session: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Runs `f` under `session`'s artifacts, as the session's own SQL
    * actions run: the jobs `f` submits carry `session`'s artifact state
    * (the executor's class loader and with it the generated-class cache
    * key), and code compiled on the driver uses the session's class
    * loader. */
  def withArtifacts[T](session: SparkSession)(f: => T): T =
    session.asInstanceOf[classic.SparkSession].artifactManager
      .withResources(f)
}
