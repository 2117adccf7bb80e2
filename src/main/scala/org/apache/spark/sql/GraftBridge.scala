package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Dataset construction — the standard way
  * for an external library to materialize a DataFrame from a custom
  * LogicalPlan (graft's native as-of join node). Lives in the
  * org.apache.spark.sql package solely for access; no Spark internals
  * are modified. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** True iff no InMemoryRelation is registered — the post-query cache-
    * hygiene assertion (every cache must be scoped to its query). */
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Column <-> Expression for graft's native Catalyst expressions. */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
