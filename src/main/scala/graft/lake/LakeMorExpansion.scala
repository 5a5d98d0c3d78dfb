package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint,
  AlterTableCommand, DeleteFromTable, LogicalPlan, MergeIntoTable,
  OverwritePartitionsDynamic, Project, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Analyzer (post-hoc resolution) rule that rewrites a format read of
  * a snapshot the bare file relation cannot serve (deletion vectors,
  * column mapping — `LogicalRelation(LakeMorRelation)`) and every
  * catalog read of a lake table into [[LakeTable.readAdds]]'s native
  * plan: vectorized `FileScan parquet` over a [[LakeFileIndex]], the
  * logical projection above it, and for DV'd files the anti-join
  * against the KB-sized sidecar on `_metadata.row_index`. Without this
  * rule (no `spark.sql.extensions=graft.GraftSparkExtensions`) the
  * read still works through [[LakeMorRelation]]'s `PrunedFilteredScan`
  * fallback, just without whole-stage codegen — the rule is a pure
  * plan upgrade, never a semantics change.
  *
  * Batch change-feed reads (`LakeCdfRelation`) get the same upgrade
  * via [[LakeTable.cdfFrame]].
  *
  * The splice keeps the relation's original output `exprId`s by
  * aliasing the expanded plan's columns, so references resolved
  * against the relation stay valid; each occurrence (self-joins) is
  * expanded separately with fresh internal ids.
  */
final class LakeMorExpansion(spark: SparkSession) extends Rule[LogicalPlan] {

  private def splice(out: Seq[NamedExpression], df: DataFrame): LogicalPlan = {
    val expanded = df.queryExecution.analyzed
    val byName = expanded.output.map(a => a.name -> a).toMap
    Project(out.map(o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId)), expanded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // write/DML targets keep their V2 relation node: AppendData /
    // OverwriteByExpression resolve against it (V1 write fallback) and
    // DeleteFromTable plans through SupportsDelete — only relations in
    // READ position become scans
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def protect(target: LogicalPlan): Unit = target.foreach {
      case r: DataSourceV2Relation => writeTargets.add(r): Unit
      case _ => () // the target may be wrapped (SubqueryAlias etc.)
    }
    plan.foreach {
      case c: V2WriteCommand => protect(c.table)
      case d: DeleteFromTable => protect(d.table)
      case m: MergeIntoTable => protect(m.targetTable)
      case u: UpdateTable => protect(u.table)
      case a: AlterTableCommand => protect(a.table)
      case a: AddCheckConstraint => protect(a.child)
      case _ => ()
    }
    // the lake relation (root + pinned attrs) under a DML target
    def lakeTarget(target: LogicalPlan):
        Option[(String, Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference])] =
      target.collectFirst {
        case r: DataSourceV2Relation if r.table.isInstanceOf[LakeTableV2] =>
          val t = r.table.asInstanceOf[LakeTableV2]
          require(t.versionAsOf.isEmpty,
            "cannot run DML against a time-travel snapshot")
          (t.root.toString, r.output.collect {
            case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a
          })
      }
    plan.transformUpWithSubqueries {
      case l: LogicalRelation if l.relation.isInstanceOf[LakeMorRelation] =>
        val rel = l.relation.asInstanceOf[LakeMorRelation]
        splice(l.output,
          LakeTable.readAdds(spark, rel.root, rel.snap, rel.snap.files))
      case l: LogicalRelation if l.relation.isInstanceOf[LakeCdfRelation] =>
        val rel = l.relation.asInstanceOf[LakeCdfRelation]
        splice(l.output,
          LakeTable.cdfFrame(spark, rel.root, rel.view, rel.from, rel.to))
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[LakeTableV2] && !writeTargets.contains(r) =>
        val t = r.table.asInstanceOf[LakeTableV2]
        splice(r.output,
          LakeTable.readAdds(spark, t.root, t.snap, t.snap.files))
      // SQL row-level DML: the stock planner needs
      // SupportsRowLevelOperations; these convert to the lake's own
      // rewrite commands instead (candidates pruned, commit guarded)
      // WITH SCHEMA EVOLUTION needs no handling here: the node only
      // RESOLVES after Spark's own ResolveMergeIntoSchemaEvolution has
      // computed the source-only columns / widenings and applied them
      // through the catalog's alterTable (-> LakeTable.addColumns /
      // widenColumn metadata commits), reloading the relation — so a
      // resolved evolving merge is an ordinary merge against the
      // already-evolved table, pre-evolution files null-backfilling
      // the new columns by the standard by-name read contract
      case m @ MergeIntoTable(target, src, cond, ma, nma, nmbs, _)
          if m.resolved && lakeTarget(target).isDefined =>
        val (root, attrs) = lakeTarget(target).get
        LakeMergeIntoCommand(root, attrs, src, cond, ma, nma, nmbs)
      case u: UpdateTable if u.resolved && lakeTarget(u.table).isDefined =>
        val (root, attrs) = lakeTarget(u.table).get
        LakeUpdateCommand(root, attrs, u.assignments, u.condition)
      // dynamic INSERT OVERWRITE (partitionOverwriteMode=dynamic /
      // writeTo.overwritePartitions): Spark has no V1-fallback exec
      // for OverwritePartitionsDynamic, so convert it here — the
      // analyzer has already aligned the query to the table schema
      case o: OverwritePartitionsDynamic
          if o.resolved && lakeTarget(o.table).isDefined =>
        val (root, _) = lakeTarget(o.table).get
        LakeDynamicOverwriteCommand(root, o.query)
      // readStream.table(<lake ident>): rewrite to the v1 streaming
      // relation outright (offset = log version) — the same machinery
      // as readStream.format("graft-lake"); the node swap keeps the
      // V2 node's attribute ids, so downstream references stay bound
      case sr: StreamingRelationV2 if sr.table.isInstanceOf[LakeTableV2] =>
        val t = sr.table.asInstanceOf[LakeTableV2]
        require(t.versionAsOf.isEmpty,
          "cannot stream from a time-travel snapshot")
        import scala.jdk.CollectionConverters._
        PlanBridge.v1StreamingRelation(spark, "graft-lake",
          t.root.toString, t.schema(), sr.extraOptions.asScala.toMap,
          sr.output)
      // ADD CONSTRAINT ... CHECK: the stock path validates existing
      // rows by scanning the DSv2 relation (which refuses); route to
      // the lake's own validate-then-commit instead
      case a: AddCheckConstraint
          if a.resolved && lakeTarget(a.child).isDefined =>
        val (root, _) = lakeTarget(a.child).get
        LakeAddConstraintCommand(root, a.checkConstraint.name,
          a.checkConstraint.condition)
      // DELETEs whose predicate translates exactly keep the
      // metadata-only SupportsDelete path (canDeleteWhere decides by
      // the same LakeRanges.exact); everything else becomes the
      // general rewrite
      case d: DeleteFromTable
          if d.resolved && lakeTarget(d.table).isDefined &&
            LakeRanges.exact(d.condition).isEmpty =>
        val (root, attrs) = lakeTarget(d.table).get
        LakeDeleteCommand(root, attrs, d.condition)
    }
  }
}
