package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Accessors for the `private[sql]` members a library needs to build
  * plans and columns from Catalyst nodes: `Dataset.ofRows` (custom
  * operators in `graft.plans`), `ExpressionUtils` (graft's native
  * expressions in `graft.functions`, which become Columns directly —
  * no function registry, so any session analyzes them) and
  * `cloneSession` (a private session to plan on, so a plan-local
  * setting never touches the caller's conf — [[graft.Checkpoints]]).
  * Nothing else from the private surface is touched.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Test-only view of what a `SparkSessionExtensions` instance would
    * register (`buildPlannerStrategies` is `private[sql]`). */
  def plannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
                        spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)
}
