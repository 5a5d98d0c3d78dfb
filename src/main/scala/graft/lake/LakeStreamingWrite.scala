package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask
import org.apache.spark.sql.graft.{ParquetWriteBridge, PreparedParquetWrite}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StringType, StructType}

import LakeLog.{Add, Meta, Remove, Stats}

/** The lake's native `writeStream.toTable` sink — a real DSv2
  * `StreamingWrite`: executor tasks stream `InternalRow`s straight
  * into parquet files under a per-epoch staging dir through the lake's
  * one data-file writer ([[LakeStreamDataWriter]], over
  * [[ParquetWriteBridge]]; batch commits and staged CTAS run the same
  * writer), tracking per-file min/max/null stats AS THEY WRITE;
  * `commit(epoch)` turns the task messages into `Add` actions
  * and lands ONE transactional log commit carrying the
  * `(appId, epochId)` token. Files are invisible until that commit, so
  * task retries and speculative duplicates leave only unreferenced
  * orphans (vacuum reaps them past the retention horizon) — no rename
  * dance, no output coordinator dependence for correctness.
  *
  * Exactly-once is the SAME two-phase token check the `foreachBatch`
  * sink ([[LakeSink]]) certifies: a replayed epoch after recovery is
  * skipped whole at commit (pre-read + in-retry-loop re-check inside
  * [[LakeLog.commit]]), so at-least-once delivery becomes an
  * exactly-once table. `appId` defaults to the streaming query's
  * checkpoint-stable id and can be overridden with
  * `.option("appId", ...)` (e.g. to share a table between sinks).
  *
  * Output modes: Append appends; Complete (the engine calls
  * `truncate()` per epoch) replaces the table's live file set in the
  * same single commit (`Remove` all + `Add` new, guarded against
  * concurrent rewrites). Update mode refuses upstream (no
  * `SupportsStreamingUpdateAsAppend`) — silently treating updates as
  * appends would duplicate keys.
  *
  * Scale shape: the data path is executor-parallel end to end — the
  * driver only ever sees per-file METADATA (path, rowCount, stats),
  * never rows; a 1000-executor epoch commits one ~KB log entry. With
  * `.option("nFiles", n)` the plan repartitions to exactly n output
  * files per epoch — range-partitioned AND sorted on the table's
  * cluster column when it has one, so streamed files carry the same
  * tight disjoint min/max bounds as batch-written clustered files and
  * the skipping index keeps biting; hash-spread otherwise. Without
  * the option, one file per incoming partition (compact later).
  */
private[lake] final class LakeStreamingWrite(
    spark: SparkSession,
    root: String,
    appId: String,
    writeSchema: StructType,
    truncateAll: Boolean,
    mergeSchema: Boolean,
    mergeKey: Option[String] = None) extends StreamingWrite {

  private val rootP = new Path(root)
  private def hfs = LakeLog.fileSystem(rootP,
    spark.sparkContext.hadoopConfiguration)

  // Plan-time snapshot: schema contract, column mapping, stats columns.
  // A fresh Write is built per micro-batch (the engine re-plans each
  // epoch), so this is at most one epoch stale; commit() re-reads the
  // log and guards against drift.
  private val planSnap = LakeLog.snapshot(hfs, rootP, None)
  private val baseDdl = planSnap.schemaDdl

  require(mergeKey.isEmpty || !truncateAll,
    "mergeKey + Complete output mode contradict: Complete replaces the " +
      "table each epoch, there is nothing to merge into")
  require(mergeKey.isEmpty || !mergeSchema,
    "mergeKey + mergeSchema are not supported together — evolve the " +
      "table first, then restart the upsert stream")
  require(planSnap.partitionBy.isEmpty || !mergeSchema,
    "mergeSchema streaming into a PARTITIONED lake table is not " +
      "supported — evolve the table first (ALTER TABLE ADD COLUMNS), " +
      "then restart the stream")
  // GENERATED/IDENTITY columns are computed/allocated INSIDE the task
  // writers (the stream must omit them): generated expressions are
  // analyzer-resolved once on the driver, bound to the input schema
  // and evaluated per row via a codegen'd projection; identity values
  // come from the same banded formula as batch allocation
  // (hwm + step*(1 + partitionId*2^33 + rowInTask)), with the base
  // watermark read at plan time and guarded at commit so concurrent
  // allocators can never overlap. Table-schema order, generated before
  // identity, matching [[extSchema]] below.
  private val genSpecs: Seq[LakeLog.ColSpec] =
    StructType.fromDDL(baseDdl).fieldNames.toSeq
      .flatMap(planSnap.colSpecs.get)
      .filter(_.kind == LakeColumns.KindGenerated)
  private val idSpecs: Seq[LakeLog.ColSpec] =
    StructType.fromDDL(baseDdl).fieldNames.toSeq
      .flatMap(planSnap.colSpecs.get)
      .filter(_.kind == LakeColumns.KindIdentity)
  private val semNames: Set[String] = (genSpecs ++ idSpecs).map(_.col).toSet

  // the two compositions the writer-side step does NOT cover: keyed
  // upserts rewrite whole rows through LakeTable.merge (route those
  // through foreachBatch + merge, which applies semantics in rewrite
  // mode), and additive evolution of a computed table mid-stream
  if (semNames.nonEmpty) {
    require(mergeKey.isEmpty,
      "streaming keyed upserts (mergeKey) into a table with " +
        "GENERATED/IDENTITY columns are not supported — use " +
        "foreachBatch with LakeSink.mergeWriter / LakeTable.merge")
    require(!mergeSchema,
      "mergeSchema streaming into a table with GENERATED/IDENTITY " +
        "columns is not supported — evolve the table first")
    semNames.toSeq.sorted.foreach(c =>
      require(!writeSchema.fieldNames.contains(c),
        s"the stream must OMIT computed column '$c' — the sink " +
          "computes GENERATED and allocates IDENTITY values itself"))
  }
  // the waiver is GENERATED-only, matching the message: an IDENTITY
  // partition column would put every row in its own partition (ids
  // are unique by construction) — one directory and one rolling file
  // per row; refuse that shape loudly instead of letting the general
  // "stream must omit computed columns" check half-allow it
  planSnap.partitionBy.foreach { c =>
    require(!idSpecs.exists(_.col == c),
      s"partition column '$c' is IDENTITY — partitioning by a " +
        "unique-per-row column is one file per row; partition by a " +
        "carried or GENERATED column instead")
    require(writeSchema.fieldNames.contains(c) ||
        genSpecs.exists(_.col == c),
      s"streaming write must carry partition column '$c' (or the " +
        "column must be GENERATED, in which case the sink computes it)")
  }

  /** Evolved table DDL this epoch commits under (== baseDdl unless
    * mergeSchema adds/keeps columns). Computed with the same additive
    * law as batch appends; type changes refuse loudly here, at plan
    * time.
    */
  private val evolvedDdl: String =
    if (mergeSchema) LakeTable.evolvedSchemaDdl(baseDdl, writeSchema)
    else if (mergeKey.nonEmpty) {
      // upsert changelog: full-row replacement per key, aligned by
      // NAME inside the merge — order-insensitive set equality
      val want = StructType.fromDDL(baseDdl)
      require(want.fields.map(f => (f.name, f.dataType)).toSet ==
        writeSchema.fields.map(f => (f.name, f.dataType)).toSet,
        s"streaming upsert schema $writeSchema does not match table " +
          s"schema $want (mergeKey upserts replace whole rows)")
      require(writeSchema.fieldNames.contains(mergeKey.get),
        s"mergeKey '${mergeKey.get}' not in the stream's schema")
      baseDdl
    } else {
      // the expected INPUT is the table schema minus the computed
      // (generated/identity) columns — those the sink fills itself
      val want = StructType(StructType.fromDDL(baseDdl).fields
        .filterNot(f => semNames.contains(f.name)))
      require(want.fields.map(f => (f.name, f.dataType)).toSeq ==
        writeSchema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"streaming write schema $writeSchema does not match table " +
          s"schema $want" +
          (if (semNames.isEmpty) "" else
            s" (computed columns ${semNames.toSeq.sorted.mkString(",")} " +
              "omitted)") +
          " — pass .option(\"mergeSchema\", true) for additive evolution")
      baseDdl
    }

  // column mapping: evolution columns need fresh physical names
  private val effMap: Map[String, String] =
    if (planSnap.colMap.isEmpty) Map.empty
    else {
      val oldNames = StructType.fromDDL(baseDdl).fieldNames.toSet
      planSnap.colMap ++ StructType.fromDDL(evolvedDdl).fieldNames
        .filterNot(oldNames.contains)
        .map(n => n -> s"col-${java.util.UUID.randomUUID()}")
    }

  /** The EXTENDED row the task writers operate on: the input columns
    * followed by the computed generated columns, then the allocated
    * identity columns. Files are read back BY NAME, so appending at
    * the end is layout-free; stats, partition extraction and the
    * content projection all index into this schema.
    */
  private val extSchema: StructType = {
    val table = StructType.fromDDL(baseDdl)
    StructType(writeSchema.fields ++
      (genSpecs ++ idSpecs).map(cs => table(cs.col)))
  }

  /** Generated expressions, analyzer-resolved against the INPUT schema
    * on the driver and bound to its ordinals — serializable, codegen'd
    * into one projection inside each task writer. Create-time
    * validation already pinned determinism and that the expression
    * references only non-computed columns (all present in the input).
    */
  private val genBound: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    genSpecs.map { cs =>
      val dt = StructType.fromDDL(baseDdl)(cs.col).dataType
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), writeSchema)
      val analyzed = empty.select(org.apache.spark.sql.functions
          .expr(cs.spec("expr")).cast(dt).as(cs.col))
        .queryExecution.analyzed
      val project = analyzed.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Project]
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(project.projectList.head
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias]
          .child, project.child.output)
    }

  /** Identity allocation parameters (step, base) per identity column,
    * read from the PLAN snapshot's watermark; the commit passes the
    * same base as `expectIdentityHwm`, so a concurrent allocator
    * advancing the watermark mid-epoch aborts this commit (restart
    * re-plans and re-allocates) — ranges can never overlap.
    */
  private val idParams: Seq[(Long, Long)] = idSpecs.map { cs =>
    val start = cs.spec("start").toLong
    val step = cs.spec("step").toLong
    val base = planSnap.identityHwm.getOrElse(cs.col, start - step)
    require(math.abs(step) <= (Long.MaxValue / 4) / (1L << 53) &&
      math.abs(base) < Long.MaxValue / 2,
      s"identity watermark for '${cs.col}' ($base, step $step) too " +
        "close to the Long domain edge for banded allocation")
    (step, base)
  }

  private val identityAlloc: LakeColumns.IdentityAllocation =
    LakeColumns.IdentityAllocation(
      idSpecs.zip(idParams).map { case (cs, (step, base)) =>
        cs.col -> (step, base)
      }.toMap,
      if (idSpecs.isEmpty) Map.empty else planSnap.identityHwm)

  // partitioned epochs (append mode): the rolling writers split files
  // on value boundaries; changelog staging (mergeKey) stays flat —
  // those files are never table data
  private val partitioned = mergeKey.isEmpty && planSnap.partitionBy.nonEmpty

  // per-epoch staging dir — the same data/<uuid>/ layout as batch
  // writes, so vacuum's orphan sweep and the DV file-id contract see
  // nothing new
  private val stagingSub = s"data/${java.util.UUID.randomUUID()}"

  // stats measured only for columns this stream actually writes (an
  // omitted evolved column has no values, and mayMatch treats missing
  // stats as may-match — which is exactly right: it is all-null
  // there); identity columns are force-added so the commit can fold
  // the new watermark from file stats, exactly like batch writes. A
  // GENERATED partition column indexes into the computed tail of the
  // extended row.
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    LakeStreamWriterFactory(spark, root, stagingSub, extSchema,
      LakeColumns.statsColsFor(planSnap.statsCols, planSnap.colSpecs)
        .filter(extSchema.fieldNames.contains),
      if (partitioned) planSnap.partitionBy else Nil, effMap, genBound,
      idParams)

  /** The view staged epoch files read under: rows of `schema` stored
    * under this epoch's physical names, partition values from the
    * files' stats — the lake's one reader serves them like table files.
    */
  private def stagedView(schema: StructType,
                         partitionBy: Seq[String]): LakeLog.Snapshot =
    LakeLog.Snapshot(planSnap.version, schema.toDDL, Nil, Nil, Map.empty,
      None, colMap = effMap, partitionBy = partitionBy)

  /** Keyed-upsert epoch (`.option("mergeKey", k)`): the staged files
    * are a CHANGELOG, never table data — read them back, upsert by
    * key through [[LakeTable.merge]] (latest-wins per key within the
    * epoch; the merge rewrites only key-overlapping candidate files
    * and carries the `(appId, epochId)` token for exactly-once), then
    * drop the staging. This is what Update output mode means against
    * a keyed table — appending update rows would duplicate keys,
    * which is exactly why the marker-only
    * `SupportsStreamingUpdateAsAppend` semantics (no mergeKey) are
    * Delta-parity APPEND and documented as such.
    */
  private def commitMerge(key: String, epochId: Long,
                          messages: Array[WriterCommitMessage]): Unit = {
    val adds = LakeStreamingWrite.addsOf(messages)
    try {
      val snap = LakeLog.snapshot(hfs, rootP, None)
      if (snap.committedBatches.getOrElse(appId, Long.MinValue) >= epochId)
        return // recovery replay: the epoch is already in the table
      require(snap.schemaDdl == baseDdl,
        s"table schema changed while epoch $epochId was in flight — " +
          "restart the query to re-plan")
      if (adds.isEmpty) {
        // still mark the epoch committed (empty epochs must not
        // re-apply after recovery as a hole in the token sequence)
        LakeLog.commit(hfs, rootP, Seq(Meta("merge", snap.schemaDdl,
          snap.statsCols, Some(appId), Some(epochId), System
            .currentTimeMillis(), colMap = snap.colMap)),
          baseVersion = snap.version, dedupBatch = Some((appId, epochId)))
        return
      }
      val changes = LakeTable.readAdds(spark, rootP,
          stagedView(writeSchema, Nil), adds)
        .withColumn("__v", org.apache.spark.sql.functions.lit(epochId))
        .withColumn("__op", org.apache.spark.sql.functions.lit("U"))
      LakeTable.merge(spark, root, changes, key,
        versionCol = "__v", opCol = "__op",
        appId = Some(appId), batchId = Some(epochId))
      ()
    } catch {
      // zombie duplicate lost the merge's commit race: exactly-once
      // held, acknowledge
      case _: LakeLog.DuplicateBatchException => ()
    } finally abort(epochId, messages) // staging is changelog garbage now
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    if (mergeKey.nonEmpty) return commitMerge(mergeKey.get, epochId, messages)
    val snap = LakeLog.snapshot(hfs, rootP, None)
    // recovery replay of an already-committed epoch: drop the staged
    // files and acknowledge (the foreachBatch sink's skip contract)
    if (snap.committedBatches.getOrElse(appId, Long.MinValue) >= epochId) {
      abort(epochId, messages)
      return
    }
    // schema/mapping drift guard: a concurrent evolution between this
    // epoch's plan and its commit re-plans on restart rather than
    // committing files written under a stale contract
    require(snap.schemaDdl == baseDdl || snap.schemaDdl == evolvedDdl,
      s"table schema changed while epoch $epochId was in flight " +
        s"(planned against $baseDdl, table now ${snap.schemaDdl}) — " +
        "restart the query to re-plan")
    require(snap.colMap == planSnap.colMap || snap.colMap == effMap,
      s"column mapping changed while epoch $epochId was in flight — " +
        "restart the query to re-plan")
    val adds = LakeStreamingWrite.addsOf(messages)
    // CHECK constraints gate streamed rows too: validate the staged
    // files exactly as readers will see them (bounded by this epoch's
    // files, never the table). Read with the CURRENT constraints — a
    // mid-epoch ADD CONSTRAINT gates this commit already.
    if (snap.constraints.nonEmpty && adds.nonEmpty) {
      val staged = LakeTable.readAdds(spark, rootP,
        stagedView(extSchema, if (partitioned) planSnap.partitionBy else Nil),
        adds)
      try LakeTable.enforceConstraints(
        LakeTable.padToSchema(staged, evolvedDdl), snap.constraints,
        "streaming append")
      catch { case e: Throwable => abort(epochId, messages); throw e }
    }
    val meta = Meta(if (truncateAll) "overwrite" else "append",
      evolvedDdl, snap.statsCols, Some(appId), Some(epochId),
      System.currentTimeMillis(), colMap = effMap)
    val removes =
      if (truncateAll) snap.files.map(a => Remove(a.path)) else Nil
    try {
      // identity epochs fold the new watermark from the staged files'
      // stats and guard the base they allocated from — a concurrent
      // allocator advancing it mid-epoch aborts this commit (the
      // query restarts, re-plans, re-allocates past the new mark)
      LakeLog.commit(hfs, rootP,
        ((meta +: removes) ++ adds) ++ identityAlloc.hwmActions(adds),
        guardFiles = if (truncateAll) snap.files else Nil,
        baseVersion = snap.version,
        expectConstraints = Some(snap.constraints),
        dedupBatch = Some((appId, epochId)),
        expectExactFiles = truncateAll,
        expectIdentityHwm =
          if (identityAlloc.isEmpty) None else Some(identityAlloc.baseHwm))
      ()
    } catch {
      // zombie duplicate lost the commit race: the epoch is already in
      // the table exactly once — drop our staged copy and acknowledge
      case _: LakeLog.DuplicateBatchException => abort(epochId, messages)
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val f = hfs
    LakeStreamingWrite.filesOf(messages).foreach { m =>
      val p = new Path(rootP, m.path)
      if (f.exists(p)) f.delete(p, false)
    }
    val staging = new Path(rootP, stagingSub)
    if (f.exists(staging) && !f.listFiles(staging, true).hasNext)
      f.delete(staging, true): Unit
  }
}

private[lake] object LakeStreamingWrite {

  /** One stats-tracked column: physical name (the stats key and the
    * name inside the file), type, and ordinal in the write schema.
    */
  final case class StatCol(physName: String, dataType: DataType, idx: Int)

  /** Per-task result: the file's root-relative path (null when the
    * task saw no rows and created nothing) and its measured stats,
    * keyed by physical column name.
    */
  final case class FileMessage(path: String, rows: Long, bytes: Long,
                               mins: Map[String, Any],
                               maxs: Map[String, Any],
                               nulls: Map[String, Long])
      extends WriterCommitMessage

  /** A PARTITION-rolling task's result: one [[FileMessage]] per
    * `<col>=<value>/` file the task wrote.
    */
  final case class FileMessages(files: Seq[FileMessage])
      extends WriterCommitMessage

  /** All real files across a task-message array (both shapes). */
  private[lake] def filesOf(messages: Array[WriterCommitMessage])
      : Seq[FileMessage] =
    messages.toSeq.flatMap {
      case m: FileMessage if m.path != null => Seq(m)
      case ms: FileMessages => ms.files.filter(_.path != null)
      case _ => Nil
    }

  /** The task messages' files as `Add` actions, sorted by path: the
    * one conversion every lake write (batch commit, streaming epoch,
    * staged CTAS) commits through. The writer already folds values
    * into the Long/Double/String stats domain.
    */
  private[lake] def addsOf(messages: Array[WriterCommitMessage]): Seq[Add] =
    filesOf(messages).map(m =>
      Add(m.path, Stats(m.rows, m.bytes, m.mins, m.maxs, m.nulls)))
      .sortBy(_.path)
}

/** Dual-interface task-writer factory: the STREAMING sink's epochs,
  * the staged BATCH writes (atomic CTAS / REPLACE TABLE AS SELECT,
  * [[LakeStagedTable]]) and every batch commit of [[LakeTable]]
  * (through [[LakeStreamWriterFactory.writeBatch]]) run the exact same
  * executor writers — batch is just epoch -1.
  *
  * `partSpec` (non-empty = PARTITIONED table): the writer ROLLS to a
  * new file under `<col>=<value>/` whenever the partition-value tuple
  * changes — over the required partition-col ordering that is one
  * file per (task, value); over pathological unsorted input it is
  * still CORRECT, just more files. `prepared` is then the CONTENT
  * schema (partition columns projected OUT before the write — pure
  * hive layout); stats (including the partition columns' own
  * min==max) still fold from the full incoming row.
  */
private[lake] final class LakeStreamWriterFactory(
    root: String,
    stagingSub: String,
    prepared: PreparedParquetWrite,
    statsSpec: Seq[LakeStreamingWrite.StatCol],
    partSpec: Seq[LakeStreamingWrite.StatCol],
    fullSchema: StructType,
    genBound: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    idParams: Seq[(Long, Long)])
    extends StreamingDataWriterFactory
    with org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new LakeStreamDataWriter(root, stagingSub, prepared, statsSpec,
      partSpec, fullSchema, partitionId, taskId, epochId, genBound,
      idParams)

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, -1L)
}

private[lake] object LakeStreamWriterFactory {

  /** The factory for rows of `schema`, built at plan time: files carry
    * PHYSICAL column names (`colMap`) and, on a partitioned table,
    * exclude the partition columns; stats fold for `statsCols` under
    * their physical names and for the partition columns' own values.
    */
  def apply(spark: SparkSession, root: String, stagingSub: String,
            schema: StructType, statsCols: Seq[String],
            partitionBy: Seq[String],
            colMap: Map[String, String] = Map.empty,
            genBound: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
            idParams: Seq[(Long, Long)] = Nil): LakeStreamWriterFactory = {
    def phys(c: String): String = colMap.getOrElse(c, c)
    def statCol(c: String): LakeStreamingWrite.StatCol = {
      val i = schema.fieldIndex(c)
      LakeStreamingWrite.StatCol(phys(c), schema(i).dataType, i)
    }
    val content = StructType(schema.fields
      .filterNot(f => partitionBy.contains(f.name))
      .map(f => f.copy(name = phys(f.name))))
    new LakeStreamWriterFactory(root, stagingSub,
      ParquetWriteBridge.prepare(spark, content), statsCols.map(statCol),
      partitionBy.map(statCol), schema, genBound, idParams)
  }

  /** Batch face: run `df`'s rows through `factory`'s task writers, one
    * task per partition of its plan, inside Spark's own DSv2 task loop
    * (`DataWritingSparkTask`), and return the written files as `Add`s.
    * A failed attempt aborts and deletes its files. Commits are not
    * coordinated, so a speculative duplicate that also commits leaves
    * an unreferenced orphan for vacuum: the job keeps one message per
    * partition, and only the log commit makes files visible. The
    * write is the job's last stage; nothing reads the files back.
    */
  def writeBatch(df: DataFrame, factory: LakeStreamWriterFactory): Seq[Add] = {
    val qe = df.queryExecution
    val messages = SQLExecution.withNewExecutionId(qe, Some("lake write")) {
      val rdd = qe.toRdd
      val out = new Array[WriterCommitMessage](rdd.partitions.length)
      df.sparkSession.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) =>
          DataWritingSparkTask.run(factory, ctx, rows,
            useCommitCoordinator = false, Map.empty).writerCommitMessage,
        rdd.partitions.indices,
        (i: Int, m: WriterCommitMessage) => out(i) = m)
      out
    }
    LakeStreamingWrite.addsOf(messages)
  }
}

/** Executor-side task writer: opens its parquet file lazily on the
  * first row (empty partitions create nothing), folds min/max/null
  * counts per stats column as rows stream through, and reports its
  * file(s) as [[LakeStreamingWrite.FileMessage]]s. Values are tracked
  * already normalized to the Long/Double/String stats domain. NaN
  * orders greatest and strings order by UTF-8 bytes, as Spark's
  * min/max do; -0.0 orders below 0.0 (`Double.compare`), where Spark
  * ties them, and pruning's numeric `cmp` treats the two alike.
  */
private[lake] final class LakeStreamDataWriter(
    root: String,
    stagingSub: String,
    prepared: PreparedParquetWrite,
    statsSpec: Seq[LakeStreamingWrite.StatCol],
    partSpec: Seq[LakeStreamingWrite.StatCol],
    fullSchema: StructType,
    partitionId: Int,
    taskId: Long,
    epochId: Long,
    genBound: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
    idParams: Seq[(Long, Long)] = Nil) extends DataWriter[InternalRow] {

  private val partitioned = partSpec.nonEmpty
  private val partIdx: Set[Int] = partSpec.map(_.idx).toSet

  // computed-column tail: the incoming row is EXTENDED to fullSchema
  // by evaluating the bound generated expressions (one codegen'd
  // projection) and allocating banded identity values — same formula
  // as batch allocation: base + step*(1 + partitionId*2^33 + rowInTask)
  private val extended = genBound.nonEmpty || idParams.nonEmpty
  private val genProj =
    if (genBound.isEmpty) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(genBound)
  private val idRow = new org.apache.spark.sql.catalyst.expressions
    .GenericInternalRow(idParams.size)
  private val joinGen = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  private val joinId = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  private var rowInTask = 0L
  private def extend(row: InternalRow): InternalRow =
    if (!extended) row
    else {
      val withGen = if (genProj == null) row else joinGen(row, genProj(row))
      if (idParams.isEmpty) withGen
      else {
        var i = 0
        while (i < idParams.size) {
          val (step, base) = idParams(i)
          idRow.setLong(i, base + step * (1L +
            partitionId.toLong * LakeColumns.IdentityBand + rowInTask))
          i += 1
        }
        rowInTask += 1
        joinId(withGen, idRow)
      }
    }

  // project the EXTENDED row to the file content: partition columns
  // out (hive layout — the directory carries the value); a computed
  // tail always projects (the parquet writer wants a flat row, not a
  // JoinedRow chain)
  private val project: InternalRow => InternalRow =
    if (!partitioned && !extended) identity
    else {
      val kept = fullSchema.fields.zipWithIndex
        .collect { case (f, i) if !partIdx.contains(i) =>
          org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, f.dataType, f.nullable) }
      val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(
          kept: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      row => proj(row)
    }

  private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var relPath: String = _
  private var fullPath: Path = _
  private var rows = 0L
  private val n = statsSpec.size
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)
  private val nulls = new Array[Long](n)
  // current partition-value tuple (UTF8String values cloned) and the
  // finished files of this task
  private var curPart: Array[Any] = _
  private var fileSeq = 0
  private val done =
    scala.collection.mutable.ArrayBuffer.empty[LakeStreamingWrite.FileMessage]
  private val opened = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def lessThan(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: Double, y: Double) => // NaN greatest, like Spark min/max
      java.lang.Double.compare(x, y) < 0
    case (x: org.apache.spark.unsafe.types.UTF8String,
          y: org.apache.spark.unsafe.types.UTF8String) =>
      // UTF-8 BYTE order — the same order Spark's min/max over
      // UTF8String and LakeTable.cmp use; java.lang
      // String '<' is UTF-16 code-unit order and disagrees for
      // supplementary-plane characters
      x.compareTo(y) < 0
    case _ => false
  }

  private def statVal(s: LakeStreamingWrite.StatCol,
                      row: InternalRow): Any =
    if (row.isNullAt(s.idx)) null
    else s.dataType match {
      case ByteType    => row.getByte(s.idx).toLong
      case ShortType   => row.getShort(s.idx).toLong
      case IntegerType => row.getInt(s.idx).toLong
      case LongType    => row.getLong(s.idx)
      case FloatType   => row.getFloat(s.idx).toDouble
      case DoubleType  => row.getDouble(s.idx)
      case StringType  => row.getUTF8String(s.idx)
      case other => throw new IllegalStateException(
        s"unsupported stats type $other") // guarded at table create
    }

  private def stored(x: Any): Any = x match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
    case other => other
  }

  /** [[statVal]] with Spark's and Hive's rule for a blank string
    * partition value: it is a NULL one, so it lands in the default
    * partition and records no min/max (partition discovery, which the
    * basePath reads of staged files go through, refuses an empty
    * `col=` directory).
    */
  private def value(s: LakeStreamingWrite.StatCol, row: InternalRow): Any =
    statVal(s, row) match {
      case u: org.apache.spark.unsafe.types.UTF8String
          if u.numBytes == 0 && partIdx(s.idx) => null
      case v => v
    }

  private def partDirs(vals: Array[Any]): String =
    partSpec.zipWithIndex.map { case (s, i) =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(s.physName,
          if (vals(i) == null) null else vals(i).toString)
    }.mkString("/")

  private def openFor(vals: Array[Any]): Unit = {
    val dir = if (partitioned) s"$stagingSub/${partDirs(vals)}"
              else stagingSub
    relPath = s"$dir/part-e$epochId-p$partitionId-t$taskId" +
      (if (fileSeq == 0) "" else s"-f$fileSeq") + prepared.extension
    fileSeq += 1
    fullPath = new Path(new Path(root), relPath)
    opened += fullPath
    writer = prepared.open(fullPath.toString)
  }

  private def buildMessage(): LakeStreamingWrite.FileMessage = {
    writer.close()
    val fs = fullPath.getFileSystem(prepared.hadoopConf)
    val bytes = fs.getFileStatus(fullPath).getLen
    def m(vals: Array[Any]): Map[String, Any] =
      statsSpec.zipWithIndex.collect {
        case (s, i) if vals(i) != null => s.physName -> (vals(i) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        })
      }.toMap
    val msg = LakeStreamingWrite.FileMessage(relPath, rows, bytes,
      m(mins), m(maxs),
      statsSpec.zipWithIndex.map { case (s, i) => s.physName -> nulls(i) }
        .toMap)
    writer = null; rows = 0L
    java.util.Arrays.fill(mins.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(maxs.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(nulls, 0L)
    msg
  }

  override def write(row0: InternalRow): Unit = {
    val row = extend(row0)
    if (partitioned) {
      val vals = partSpec.map(s => stored(value(s, row))).toArray
      val changed = curPart == null ||
        !java.util.Arrays.equals(vals.asInstanceOf[Array[AnyRef]],
          curPart.asInstanceOf[Array[AnyRef]])
      if (changed) {
        if (writer != null) done += buildMessage()
        curPart = vals
        openFor(vals)
      }
    }
    if (writer == null) openFor(null)
    var i = 0
    while (i < n) {
      val v = value(statsSpec(i), row)
      if (v == null) nulls(i) += 1
      else {
        // getUTF8String may return a view into a reused buffer, so a
        // new min/max is CLONED when stored
        if (mins(i) == null || lessThan(v, mins(i))) mins(i) = stored(v)
        if (maxs(i) == null || lessThan(maxs(i), v)) maxs(i) = stored(v)
      }
      i += 1
    }
    rows += 1
    writer.write(project(row))
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) done += buildMessage()
    if (!partitioned)
      done.headOption.getOrElse(
        LakeStreamingWrite.FileMessage(null, 0L, 0L, Map.empty,
          Map.empty, Map.empty))
    else LakeStreamingWrite.FileMessages(done.toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Throwable => () }
    }
    opened.foreach { p =>
      val fs = p.getFileSystem(prepared.hadoopConf)
      if (fs.exists(p)) fs.delete(p, false): Unit
    }
  }

  override def close(): Unit = ()
}
