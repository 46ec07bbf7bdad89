package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** Column ⇄ Expression bridge.
  *
  * Spark 4 moved Column onto ColumnNode and made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`).
  * Custom Catalyst expressions still need to surface as `Column`s, so
  * this shim lives inside the sql package tree — the established
  * pattern for Spark extension libraries. Nothing else in graft
  * reaches into Spark internals.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — `Dataset.ofRows` is
    * likewise `private[sql]`; needed to hand custom logical nodes to
    * the planner. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A copy of `spark`'s conf, temp views and functions on a new
    * session UUID, what Spark gives every streaming query
    * (`cloneSession` is `private[sql]`). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame on `spark`, not analyzed again.
    * A file-source stream's `DataSource` keeps the session it was read
    * on and writes its source log through that session's Hadoop conf,
    * so each one is re-pointed at `spark` too. */
  def rebind(spark: SparkSession, df: Dataset[_]): DataFrame = {
    val plan = df.queryExecution.analyzed.transform {
      case r: StreamingRelation => r.copy(dataSource = r.dataSource.copy(sparkSession = spark))
    }
    plan.setAnalyzed()
    dataFrame(spark, plan)
  }
}
