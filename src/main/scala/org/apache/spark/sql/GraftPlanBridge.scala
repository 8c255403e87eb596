package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` plan-construction surface, the
  * standard pattern for extension libraries that add their own logical
  * operators (a DataFrame must be minted from a custom LogicalPlan,
  * and `Dataset.ofRows` is package-private by design).
  */
object GraftPlanBridge {

  /** DataFrame over a (possibly custom) logical plan; the session's
    * full analyzer/optimizer/planner pipeline applies.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session on the same context that starts as a copy of
    * `spark`'s state: its confs, temp views and the extensions' rules.
    * Changes to either session stay out of the other.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Catalyst expression behind a public Column, converted EAGERLY
    * (Spark 4 wraps ColumnNodes; `ExpressionUtils.expression` defers
    * conversion to analysis, which custom logical nodes never get
    * generically — the direct converter yields real catalyst nodes
    * like SortOrder immediately).
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Public Column over a raw catalyst expression (inverse of
    * [[expression]]) — lets library code use internal expressions
    * (e.g. the bloom-filter aggregate behind runtime filters) through
    * the normal DataFrame API.
    */
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
}
