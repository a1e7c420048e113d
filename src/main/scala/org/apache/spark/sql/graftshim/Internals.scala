package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 hides the Column↔Expression conversion behind
  * `private[sql] ExpressionUtils` (columnNodeSupport.scala); this object
  * lives under `org.apache.spark.sql` to re-export those two functions
  * to graft code, plus the few package-private calls below.
  */
object Internals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an RDD of InternalRows without an encoder round-trip
    * (`internalCreateDataFrame` is private[sql]). Used by the stencil
    * kernels, whose per-pixel row volume makes the typed-Dataset
    * object boundary the dominant cost. */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Block until every queued listener event has been delivered
    * (`listenerBus` is private[spark]): a listener's counts for an action
    * that has returned are complete only after this. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
