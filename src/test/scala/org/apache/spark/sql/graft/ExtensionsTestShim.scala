package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Test-only accessor for `private[sql]` members. */
object ExtensionsTestShim {
  def optimizerRules(e: SparkSessionExtensions,
                     s: SparkSession): Seq[Rule[LogicalPlan]] =
    e.buildOptimizerRules(s)

  /** The source filter Spark's planner hands a data source for `e`. */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
