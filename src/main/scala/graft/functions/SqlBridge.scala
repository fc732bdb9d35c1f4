package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` seams of Spark 4's Column API. Custom
  * Catalyst expressions (graft.functions.DotProduct) need to surface as
  * `Column`s; the supported path (`SparkSessionExtensions.injectFunction`)
  * requires owning session construction, which the evaluation harness
  * does not guarantee — so this uses the same in-package bridge pattern
  * as other Spark extension libraries. Kept to minimal hooks.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (graft.plans nodes). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (attribute-resolved). */
  def analyzedPlan(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Idempotently register an extra planner strategy on the session —
    * the per-session path for harness-built sessions; GraftExtensions
    * injects the same strategy for `withExtensions` sessions. */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Set `key` on the running SparkContext's own conf unless it is set.
    * Sessions built after this copy it, static SQL confs included. */
  def setContextConfIfMissing(key: String, value: String): Unit =
    SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))
}
