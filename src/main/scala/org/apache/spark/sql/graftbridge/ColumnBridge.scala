package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression bridge, plus the session clone and
  * listener access behind [[graft.Scoped]].
  *
  * Spark 4 moved the Column/Expression conversion behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so a
  * library registering native expressions needs a shim inside the sql
  * package tree — the standard pattern for Spark-extension libraries.
  * This is the only file outside the `graft` package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (custom) logical plan, and the inverse. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** A child of `spark` sharing its SparkContext and cached data, with
    * its own copy of the SQLConf, functions, temp views and experimental
    * rules (`cloneSession` is `private[sql]`). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** The query-execution listeners registered on `spark`
    * (`listListeners` is `private[sql]`). */
  def queryListeners(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.util.QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** Wait until every queued listener event has been delivered
    * (`listenerBus` is `private[spark]`), so a `SparkListener`'s counts
    * cover every task that has finished. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
