package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  InsertAction, LogicalPlan, MergeAction, UpdateAction}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{StructField, StructType}

/** The lake's SQL row-level DML, executed as rewrite commits —
  * `MERGE INTO`, `UPDATE`, and `DELETE FROM` whose predicate
  * [[LakeRanges.exact]] refuses (an exact one stays a metadata-only
  * `SupportsDelete` delete, decided by the same function).
  * [[LakeMorExpansion]] converts the analyzed `MergeIntoTable` /
  * `UpdateTable` / residual `DeleteFromTable` nodes into these commands
  * (the same analysis conversion public lakehouse formats use, since
  * the stock planner requires `SupportsRowLevelOperations`).
  *
  * Scale shape shared by all three: candidate files are stats-pruned
  * first (equi-key [min,max] of the source for MERGE, the predicate's
  * [[LakeRanges.widening]] ranges for UPDATE/DELETE), only candidates
  * are read and
  * rewritten, and the commit guards them — the untouched majority of
  * a 100 TB table is never read, and a racing rewrite aborts loudly.
  */
private[lake] object LakeDml {

  /** First-applicable-action value of column `fd` over a row frame
    * (SQL MERGE clause order): fall through while conditions are
    * false; `default` when no action applies.
    */
  def chainValue(actions: Seq[MergeAction], bind: Expression => Expression,
                 fd: StructField, default: Column): Column =
    actions.foldRight(default) { (a, rest) =>
      val hit = a.condition.map(e => PlanBridge.column(bind(e)))
        .getOrElse(lit(true))
      val v = a match {
        case u: UpdateAction => assigned(u.assignments, bind, fd, default)
        // an InsertAction that leaves the column unassigned falls back
        // to the CALLER's default — the insert chain passes the
        // column's CURRENT default (SQL INSERT-omission semantics),
        // null for plain columns
        case i: InsertAction => assigned(i.assignments, bind, fd, default)
        case _: DeleteAction => default // dropped by the keep chain
      }
      when(hit, v).otherwise(rest)
    }

  /** First-applicable-action keep/insert flag; `default` = row fate
    * when no action applies (true for matched/not-matched-by-source,
    * false for inserts).
    */
  def chainKeep(actions: Seq[MergeAction], bind: Expression => Expression,
                default: Boolean): Column =
    actions.foldRight(lit(default)) { (a, rest) =>
      val hit = a.condition.map(e => PlanBridge.column(bind(e)))
        .getOrElse(lit(true))
      val keep = a match {
        case _: DeleteAction => lit(false)
        case _ => lit(true)
      }
      when(hit, keep).otherwise(rest)
    }

  /** `GENERATED ALWAYS AS IDENTITY` refuses any explicit assignment
    * (the SQL-standard contract; BY DEFAULT identity accepts them).
    */
  private[lake] def forbidAlwaysIdentity(snap: LakeLog.Snapshot,
                                         a: Assignment,
                                         op: String): Unit =
    a.key.references.map(_.name).foreach { n =>
      snap.colSpecs.get(n).foreach { cs =>
        if (cs.kind == LakeColumns.KindIdentity &&
            !cs.spec("allowExplicit").toBoolean)
          throw new UnsupportedOperationException(
            s"$op may not assign IDENTITY column '$n' (GENERATED ALWAYS)")
      }
    }

  private def assigned(as: Seq[Assignment], bind: Expression => Expression,
                       fd: StructField, default: Column): Column =
    as.collectFirst {
      case Assignment(k: AttributeReference, value) if k.name == fd.name =>
        PlanBridge.column(bind(value)).cast(fd.dataType)
      case Assignment(k, _) if !k.isInstanceOf[AttributeReference] &&
          k.references.exists(_.name == fd.name) =>
        throw new UnsupportedOperationException(
          s"nested-field assignment $k is not supported")
    }.getOrElse(default)
}

/** `MERGE INTO <lake> t USING <source> s ON <cond>` with WHEN
  * MATCHED (UPDATE/DELETE), WHEN NOT MATCHED (INSERT) and WHEN NOT
  * MATCHED BY SOURCE (UPDATE/DELETE) clauses, each optionally
  * conditioned, applied in clause order. A target row matched by MORE
  * than one source row refuses (the SQL cardinality rule — silently
  * picking one would be wrong either way).
  */
private[lake] final case class LakeMergeIntoCommand(
    root: String,
    targetAttrs: Seq[AttributeReference],
    source: LogicalPlan,
    cond: Expression,
    matched: Seq[MergeAction],
    notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction])
    extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("files_rewritten", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_added", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_untouched", org.apache.spark.sql.types.LongType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import LakeDml._
    val rootP = new Path(root)
    val f = LakeLog.fileSystem(rootP, spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    // GENERATED ALWAYS AS IDENTITY columns take no explicit values —
    // any UPDATE/INSERT assignment refuses at plan time (BY DEFAULT
    // identity keeps assigned values; generated columns RECOMPUTE
    // from the final row inside the rewrite, so stale values can't
    // survive an update of their source columns)
    (matched ++ notMatched ++ notMatchedBySource).foreach {
      case u: UpdateAction => u.assignments.foreach(a =>
        LakeDml.forbidAlwaysIdentity(snap, a, "MERGE UPDATE"))
      case i: InsertAction => i.assignments.foreach(a =>
        LakeDml.forbidAlwaysIdentity(snap, a, "MERGE INSERT"))
      case _ => ()
    }
    val targetIds = targetAttrs.map(_.exprId).toSet
    // the analyzed source plan executes as-is, keeping its attribute
    // ids, so source references in conditions/assignments resolve
    // naturally inside the joined frames
    val s = PlanBridge.ofRows(spark, source)
      .localCheckpoint(eager = false) // prune agg + 2 joins + anti read it

    // candidate files: for each `t.col = <source expr>` conjunct,
    // the source expression's [min, max] bounds the keys that can
    // match — files outside every bound provably hold no matched row
    var noMatchPossible = false
    val ranges = LakeRanges.equiKeys(cond, targetIds).flatMap {
      case (name, e) =>
        val row = s.agg(min(PlanBridge.column(e)).as("lo"),
          max(PlanBridge.column(e)).as("hi")).head()
        if (row.isNullAt(0) || row.isNullAt(1)) {
          // empty source or all-null keys: equality can never hold
          noMatchPossible = true
          None
        } else try Some(LakeTable.ColRange(name,
          Some(LakeTable.normalizeStat(row.get(0))),
          Some(LakeTable.normalizeStat(row.get(1)))))
        catch { case _: IllegalArgumentException => None }
    }
    val pr = LakeTable.physRanges(ranges, snap.colMap)
    val cands =
      if (notMatchedBySource.nonEmpty) snap.files // every unmatched row
      else if (noMatchPossible) Nil
      else snap.files.filter(a => pr.forall(r => LakeTable.mayMatch(a.stats, r)))

    val cols = schema.fields.toSeq
    val tp = LakeTable
      .readAdds(spark, rootP, snap, cands, withPos = true)
      .select(cols.map(fd => col(fd.name).as(s"__t_${fd.name}")) ++
        Seq(col("__file"), col("__pos")): _*)
      .localCheckpoint(eager = false) // cardinality check + 3 joins
    def bindT(e: Expression): Expression = e.transform {
      case a: AttributeReference if targetIds.contains(a.exprId) =>
        PlanBridge.expression(tp(s"__t_${a.name}"))
    }
    val joinCond = PlanBridge.column(bindT(cond))

    val matchedRows =
      if (matched.isEmpty)
        // no matched actions: matched target rows pass through
        // UNCHANGED — a semi join emits each exactly once even when
        // several source rows match it (an inner join would duplicate)
        tp.join(s, joinCond, "left_semi").select(cols.map(fd =>
          col(s"__t_${fd.name}").as(fd.name)): _*)
      else {
        val matchedPart = tp.join(s, joinCond, "inner")
          .localCheckpoint(eager = false) // cardinality check + transform
        // SQL cardinality rule: a target row updated/deleted by more
        // than one source row is an error, never a silent pick
        val dup = matchedPart.groupBy(col("__file"), col("__pos"))
          .agg(count(lit(1)).as("__n")).where(col("__n") > 1L).limit(1)
        if (!dup.isEmpty) throw new UnsupportedOperationException(
          "MERGE INTO matched a single target row with multiple source " +
            "rows — deduplicate the source or tighten the ON condition")
        matchedPart
          .select(cols.map(fd => chainValue(matched, bindT, fd,
            col(s"__t_${fd.name}")).as(fd.name)) :+
            chainKeep(matched, bindT, default = true).as("__keep"): _*)
          .where(col("__keep")).drop("__keep")
      }

    val unmatchedT = tp.join(s, joinCond, "left_anti")
    val unmatchedRows =
      if (notMatchedBySource.isEmpty)
        unmatchedT.select(cols.map(fd =>
          col(s"__t_${fd.name}").as(fd.name)): _*)
      else unmatchedT
        .select(cols.map(fd => chainValue(notMatchedBySource, bindT, fd,
          col(s"__t_${fd.name}")).as(fd.name)) :+
          chainKeep(notMatchedBySource, bindT, default = true)
            .as("__keep"): _*)
        .where(col("__keep")).drop("__keep")

    // a column a WHEN NOT MATCHED INSERT leaves unassigned fills its
    // CURRENT default (SQL INSERT-omission semantics, same as the
    // batch path); non-defaulted columns fall back to null, and
    // generated/identity stay null here — the rewrite commit computes
    // and allocates them
    def insertFallback(fd: StructField): Column =
      snap.colSpecs.get(fd.name) match {
        case Some(cs) if cs.kind == LakeColumns.KindDefault =>
          cs.spec.get("current").map(expr(_).cast(fd.dataType))
            .getOrElse(lit(null).cast(fd.dataType))
        case _ => lit(null).cast(fd.dataType)
      }
    val insertRows =
      if (notMatched.isEmpty) None
      else Some(s.join(tp, joinCond, "left_anti")
        .select(cols.map(fd => chainValue(notMatched, identity, fd,
          insertFallback(fd)).as(fd.name)) :+
          chainKeep(notMatched, identity, default = false)
            .as("__keep"): _*)
        .where(col("__keep")).drop("__keep"))

    val newRows = insertRows
      .foldLeft(matchedRows.unionByName(unmatchedRows))(_ unionByName _)
    val rep = LakeTable.rewriteCommit(spark, root, snap, cands, newRows,
      "merge")
    Seq(Row(rep.filesRewritten.toLong, rep.filesAdded.toLong,
      rep.filesUntouched.toLong))
  }
}

/** `UPDATE <lake> SET ... [WHERE ...]`: candidates stats-pruned by
  * the predicate's range conjuncts; a NULL condition leaves the row
  * unchanged (SQL three-valued WHERE).
  */
private[lake] final case class LakeUpdateCommand(
    root: String,
    targetAttrs: Seq[AttributeReference],
    assignments: Seq[Assignment],
    condition: Option[Expression])
    extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("files_rewritten", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_added", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_untouched", org.apache.spark.sql.types.LongType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import LakeDml._
    val rootP = new Path(root)
    val f = LakeLog.fileSystem(rootP, spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    assignments.foreach(a => forbidAlwaysIdentity(snap, a, "UPDATE"))
    val targetIds = targetAttrs.map(_.exprId).toSet
    val pr = LakeTable.physRanges(
      condition.map(LakeRanges.widening(_)).getOrElse(Nil), snap.colMap)
    val cands = snap.files.filter(a =>
      pr.forall(r => LakeTable.mayMatch(a.stats, r)))
    val t = LakeTable.readAdds(spark, rootP, snap, cands)
    def bindT(e: Expression): Expression = e.transform {
      case a: AttributeReference if targetIds.contains(a.exprId) =>
        PlanBridge.expression(t(a.name))
    }
    val hit = condition.map(e => PlanBridge.column(bindT(e)))
      .getOrElse(lit(true))
    val upd = UpdateAction(None, assignments, fromStar = false)
    val newRows = t.select(schema.fields.toSeq.map { fd =>
      when(hit, chainValue(Seq(upd), bindT, fd, t(fd.name)))
        .otherwise(t(fd.name)).as(fd.name)
    }: _*)
    val rep = LakeTable.rewriteCommit(spark, root, snap, cands, newRows,
      "update")
    Seq(Row(rep.filesRewritten.toLong, rep.filesAdded.toLong,
      rep.filesUntouched.toLong))
  }
}

/** `DELETE FROM <lake> WHERE <predicate>` for predicates the
  * metadata-only `SupportsDelete` path cannot express exactly: the
  * general rewrite — candidates pruned by the predicate's range
  * conjuncts, survivors = rows where the predicate is not TRUE.
  */
private[lake] final case class LakeDeleteCommand(
    root: String,
    targetAttrs: Seq[AttributeReference],
    condition: Expression)
    extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("files_rewritten", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_added", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_untouched", org.apache.spark.sql.types.LongType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import LakeDml._
    val rootP = new Path(root)
    val f = LakeLog.fileSystem(rootP, spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, rootP, None)
    val targetIds = targetAttrs.map(_.exprId).toSet
    val pr = LakeTable.physRanges(LakeRanges.widening(condition),
      snap.colMap)
    val cands = snap.files.filter(a =>
      pr.forall(r => LakeTable.mayMatch(a.stats, r)))
    val t = LakeTable.readAdds(spark, rootP, snap, cands)
    def bindT(e: Expression): Expression = e.transform {
      case a: AttributeReference if targetIds.contains(a.exprId) =>
        PlanBridge.expression(t(a.name))
    }
    // SQL DELETE removes rows where the predicate is TRUE; NULL keeps
    val keep = !coalesce(PlanBridge.column(bindT(condition)), lit(false))
    val rep = LakeTable.rewriteCommit(spark, root, snap, cands,
      t.where(keep), "delete")
    Seq(Row(rep.filesRewritten.toLong, rep.filesAdded.toLong,
      rep.filesUntouched.toLong))
  }
}

/** `ALTER TABLE ... ADD CONSTRAINT <n> CHECK (<expr>)`: routed to
  * [[LakeTable.addConstraint]], which validates EXISTING rows through
  * the native lake scan and commits the gate atomically (the stock
  * path would validate by scanning the refusing DSv2 relation).
  */
private[lake] final case class LakeAddConstraintCommand(
    root: String, name: String, expr: String)
    extends LeafRunnableCommand {

  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    LakeTable.addConstraint(spark, root, name, expr)
    Seq.empty
  }
}

/** DYNAMIC `INSERT OVERWRITE` (`OverwritePartitionsDynamic` — what
  * Spark plans for `INSERT OVERWRITE` on a partitioned v2 table under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`, and always for
  * `df.writeTo(t).overwritePartitions()`): routed to
  * [[LakeTable.dynamicOverwrite]], which atomically replaces exactly
  * the partitions present in the batch. Spark has no V1-fallback exec
  * for this node (unlike AppendData/OverwriteByExpression), so
  * [[LakeMorExpansion]] converts it during analysis, like the
  * row-level DML commands. The analyzer has already aligned `query`
  * to the table schema (casts, by-name/by-position resolution,
  * DEFAULT fill) before the conversion — the same frame the V1
  * InsertableRelation paths receive.
  */
private[lake] final case class LakeDynamicOverwriteCommand(
    root: String, query: LogicalPlan)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(query)

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("files_replaced", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_added", org.apache.spark.sql.types.LongType,
      nullable = false)(),
    AttributeReference("files_untouched", org.apache.spark.sql.types.LongType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val rep = LakeTable.dynamicOverwrite(spark, root,
      PlanBridge.ofRows(spark, query))
    Seq(Row(rep.filesRewritten.toLong, rep.filesAdded.toLong,
      rep.filesUntouched.toLong))
  }
}
