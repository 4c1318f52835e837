package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Narrow bridge to the one `private[sql]` entry point the planner
  * rules need: turning a Catalyst [[LogicalPlan]] SUBTREE back into an
  * executable DataFrame. [[graft.plans.AnnIndexRewrite]]'s adaptive
  * variants must run a bounded side-query at plan time (count the
  * filter's survivors among the index probe's candidates; collect the
  * small query-vector side of a batched kNN) against plan fragments
  * they matched inside the query being optimized — fragments only
  * exist as LogicalPlans, and `Dataset.ofRows` is the supported
  * internal constructor for exactly this (every Spark SQL entry point
  * funnels through it). The one other entry point is its column
  * counterpart: a Catalyst [[Expression]] as a [[Column]], for a literal
  * the public `lit` cannot build (`KnnExact`'s collected query rows).
  */
object PlanOps {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)
}
