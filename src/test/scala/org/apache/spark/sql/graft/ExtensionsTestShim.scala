package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Test-only accessor for `private[sql]` and `private[spark]` members. */
object ExtensionsTestShim {
  def optimizerRules(e: SparkSessionExtensions,
                     s: SparkSession): Seq[Rule[LogicalPlan]] =
    e.buildOptimizerRules(s)

  /** Blocks until every event posted to `sc`'s listener bus so far,
    * and every event its listeners post while handling those, has been
    * delivered (`private[spark]`).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The source filter Spark's planner hands a data source for `e`. */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
