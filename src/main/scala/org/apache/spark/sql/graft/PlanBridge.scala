package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}

/** `private[sql]` bridges the lake's SQL DML commands need: execute a
  * stored (already-analyzed) logical plan as a DataFrame, and convert
  * between resolved Catalyst expressions and `Column`s so action
  * expressions from `MERGE INTO` / `UPDATE` plans can be re-bound
  * against freshly built frames; and the listener-bus post the
  * operators' bucket-cap events go through. Lives in the sql package namespace
  * for that access, like the sibling [[StreamingFrames]].
  */
object PlanBridge {

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Posts `e` to `sc`'s listener bus (`private[spark]`). */
  def post(sc: org.apache.spark.SparkContext,
           e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, nested ones included, nullable — what
    * Spark's own file-source resolution applies to a data schema.
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Registered DSv2 catalog plugin by name (CatalogManager is
    * `private[sql]`).
    */
  def v2Catalog(spark: org.apache.spark.sql.SparkSession, name: String):
      org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[SparkSession].sessionState.catalogManager
      .catalog(name)

  /** V1 `StreamingRelation` over a registered streaming source format
    * — the `v1Relation` fallback a `StreamingRelationV2` node runs
    * when its table lacks MICRO_BATCH_READ. `output` preserves the V2
    * node's attribute ids so downstream references stay bound.
    */
  def v1StreamingRelation(spark: org.apache.spark.sql.SparkSession,
                          format: String, path: String,
                          schema: org.apache.spark.sql.types.StructType,
                          options: Map[String, String],
                          output: Seq[org.apache.spark.sql.catalyst
                            .expressions.Attribute]): LogicalPlan = {
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      spark.asInstanceOf[SparkSession], className = format,
      userSpecifiedSchema = Some(schema),
      options = options + ("path" -> path))
    org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
      ds, format, output)
  }
}
