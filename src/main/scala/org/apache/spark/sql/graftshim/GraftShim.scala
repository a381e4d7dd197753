package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Bridge to the one `private[sql]` entry point an operator library
  * needs: wrapping a custom [[LogicalPlan]] (e.g. graft's as-of join
  * node) in a DataFrame. Lives under `org.apache.spark.sql` purely for
  * access — the standard technique extension libraries use; no other
  * internals are touched.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Wrap a catalyst Expression as a user-facing Column (the `Column`
    * constructor is `private[sql]`).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Drain the listener bus (`private[spark]`) — lets `tools/Profile`
    * read listener-observed figures deterministically instead of
    * sleeping.
    */
  def waitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
