package graft.lake

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite,
  TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import LakeLog.{Add, Meta, Remove}

/** Staged table behind the ATOMIC forms of CREATE / REPLACE —
  * `CREATE TABLE ... AS SELECT`, `REPLACE TABLE [... AS SELECT]`,
  * `CREATE OR REPLACE TABLE ...` through
  * [[LakeCatalog.stageCreateOrReplace]] and friends.
  *
  * The transactional log makes staging natural: the write lands its
  * parquet through the SAME executor-parallel stats-folding writers
  * as the streaming sink ([[LakeStreamWriterFactory]], batch face),
  * into the (new or existing) table root where the files are
  * INVISIBLE until referenced; `commitStagedChanges` then lands ONE
  * commit — `create` at version 0, or an authoritative `replace`
  * (Remove every old file + Add the staged ones + the new table
  * definition) guarded against concurrent rewrites. Readers see the
  * old table (or none) until that single commit; `abortStagedChanges`
  * deletes only the staged files. REPLACE resets table policy —
  * cluster spec, column mapping, stats columns taken verbatim, CHECK
  * constraints and reader features cleared — per the log's
  * authoritative-replace replay rule; streaming (appId, batchId)
  * tokens survive so exactly-once holds across a replace.
  *
  * Inline CHECK constraints (`CREATE OR REPLACE TABLE t (..., CHECK
  * ...)`) land in the same commit; they arrive only on statements
  * without a query (Spark refuses a constraint list on CTAS / RTAS),
  * so they never gate staged rows.
  * Curve cluster specs (`z:`/`h:`) refuse here — the staged write
  * path cannot arrange rows on a space-filling curve; create the
  * table first and INSERT INTO it, or OPTIMIZE ZORDER after.
  */
private[lake] final class LakeStagedTable(
    spark: SparkSession,
    root: Path,
    ident: String,
    tableSchema: StructType,
    properties: util.Map[String, String],
    constraintsToAdd: Seq[(String, String)],
    replacing: Option[LakeLog.Snapshot],
    partitionBy: Seq[String] = Nil,
    colSpecs: Seq[LakeLog.ColSpec] = Nil) extends StagedTable
    with SupportsWrite {

  private def hfs = LakeLog.fileSystem(root,
    spark.sparkContext.hadoopConfiguration)

  LakeTable.requirePartitionColsSupported(tableSchema, partitionBy)
  LakeColumns.validate(spark, LakeColumns.strip(tableSchema), colSpecs,
    partitionBy)

  private val props = properties.asScala
  private val statsCols: Seq[String] = {
    val base = props.get("statsCols") match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => tableSchema.fields.collect {
        case f if LakeStagedTable.statsSupported(f.dataType) => f.name
      }.toSeq
    }
    // partition values LIVE in the stats (min==max per file)
    base ++ partitionBy.filterNot(base.contains)
  }
  private val clusterBy: Option[String] = props.get("clusterBy")
  require(clusterBy.forall(c => !c.startsWith("z:") && !c.startsWith("h:")),
    "staged writes (CTAS / REPLACE TABLE AS SELECT) cannot arrange rows " +
      "on a space-filling curve — create the table first and INSERT INTO " +
      "it, or OPTIMIZE ... ZORDER BY after")
  /** None when the property is absent: an explicit nFiles must be
    * honored (or refused) even without a cluster column — silently
    * dropping it writes one file per input partition.
    */
  private val nFilesOpt: Option[Int] = props.get("nFiles").map(_.toInt)
  private val nFiles: Int = nFilesOpt.getOrElse(2)

  // one staging namespace per staged table — batch-written files use
  // the same data/<uuid>/ layout as every other write
  private val stagingSub = s"data/${java.util.UUID.randomUUID()}"

  @volatile private var staged: Seq[Add] = Nil

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = properties
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS arrives as truncate+append on the STAGED table; the
      // replace semantic is commitStagedChanges' single log commit,
      // so truncation of a table that holds nothing yet is a no-op
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        override def toBatch: BatchWrite = new BatchWrite {
          // partitioned CTAS: files exclude the partition columns
          // (hive layout); the rolling writers split on value
          // boundaries over the required ordering
          override def createBatchWriterFactory(
              info: PhysicalWriteInfo): DataWriterFactory =
            LakeStreamWriterFactory(spark, root.toString, stagingSub,
              tableSchema, statsCols.filter(tableSchema.fieldNames.contains),
              partitionBy)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            staged = LakeStreamingWrite.addsOf(messages)
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            abortStagedChanges()
        }
        // cluster the staged write like a clustered batch append:
        // range-partition + sort on (partition cols ++ cluster col)
        // so the created files carry tight disjoint bounds from the
        // start and the rolling writers see value-contiguous rows; an
        // explicit nFiles WITHOUT any ordering key hash-spreads over
        // all columns (the streaming sink's shape) — never silently
        // ignored
        private def clusterCol: Option[String] =
          clusterBy.filter(tableSchema.fieldNames.contains)
        private def orderKeys: Seq[String] =
          partitionBy ++ clusterCol.filterNot(partitionBy.contains).toSeq
        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution = {
          import org.apache.spark.sql.connector.distributions.Distributions
          import org.apache.spark.sql.connector.expressions.Expressions
          if (orderKeys.nonEmpty)
            Distributions.ordered(orderKeys.map(c =>
              Expressions.sort(Expressions.column(c),
                org.apache.spark.sql.connector.expressions.SortDirection
                  .ASCENDING)).toArray)
          else if (nFilesOpt.isDefined) Distributions.clustered(
            tableSchema.fieldNames
              .map(Expressions.column(_)
                : org.apache.spark.sql.connector.expressions.Expression))
          else Distributions.unspecified()
        }
        override def requiredNumPartitions(): Int =
          if (orderKeys.nonEmpty || nFilesOpt.isDefined) nFiles else 0
        override def requiredOrdering():
            Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
          import org.apache.spark.sql.connector.expressions.Expressions
          orderKeys.map(c => Expressions.sort(Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING)).toArray
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    // inline CHECKs reach a staged write only without rows: Spark's
    // parser refuses a column or constraint list on CTAS / RTAS, so no
    // SQL statement stages rows under a constraint — refuse rather
    // than land rows no CHECK ever saw
    if (constraintsToAdd.nonEmpty && staged.nonEmpty) {
      abortStagedChanges()
      throw new UnsupportedOperationException(
        "staged writes cannot carry CHECK constraints — CREATE the " +
          "table first, then INSERT INTO it")
    }
    val conActions =
      if (constraintsToAdd.isEmpty) Nil
      else LakeLog.Feature("check-constraints") +:
        constraintsToAdd.map { case (n, e) => LakeLog.Constraint(n, e) }
    // column semantics ride the same single commit. Staged DATA with
    // generated/identity specs cannot arise from SQL (CTAS derives its
    // schema from the query, which cannot declare them) — refuse
    // rather than land rows that bypassed computation/allocation
    if (staged.nonEmpty && colSpecs.exists(_.kind != LakeColumns.KindDefault))
      throw new UnsupportedOperationException(
        "staged writes cannot carry generated/identity columns — " +
          "CREATE the table first, then INSERT INTO it")
    val semActions =
      if (colSpecs.isEmpty) Nil
      else LakeLog.Feature("column-semantics") +: colSpecs
    try replacing match {
      case None =>
        // CREATE: the table must still not exist — version 0 is the
        // atomicity point, a racing create loses the rename
        val ok = LakeLog.tryCommit(hfs, root, 0L,
          (Meta("create", LakeColumns.strip(tableSchema).toDDL, statsCols,
            None, None, System.currentTimeMillis(), clusterBy,
            partitionBy = partitionBy) +: (conActions ++ semActions)) ++
            staged)
        if (!ok) {
          abortStagedChanges()
          throw new LakeLog.ConcurrentCommitException(
            s"staged CREATE lost the race: a table appeared at $root")
        }
      case Some(old) =>
        // REPLACE: one authoritative commit — old files out, staged
        // in, new definition verbatim (the replay rule resets policy,
        // INCLUDING the partition spec)
        LakeLog.commit(hfs, root,
          ((Meta("replace", LakeColumns.strip(tableSchema).toDDL, statsCols,
            None, None, System.currentTimeMillis(), clusterBy,
            partitionBy = partitionBy) +: (conActions ++ semActions)) ++
            old.files.map(a => Remove(a.path))) ++ staged,
          guardFiles = old.files, baseVersion = old.version,
          expectExactFiles = true)
        ()
    } catch {
      case ex: LakeLog.ConcurrentCommitException =>
        abortStagedChanges(); throw ex
    }
  }

  override def abortStagedChanges(): Unit = {
    val f = hfs
    val dir = new Path(root, stagingSub)
    if (f.exists(dir)) f.delete(dir, true)
    // a pure CREATE that never committed leaves no log: remove the
    // root too if nothing else ever lived there
    if (replacing.isEmpty && !f.exists(LakeLog.logDir(root)) &&
        f.exists(root) && f.listStatus(root).forall(s =>
          s.getPath.getName == "data" &&
            (!s.isDirectory || f.listStatus(s.getPath).isEmpty)))
      f.delete(root, true): Unit
  }
}

private[lake] object LakeStagedTable {
  private[lake] def statsSupported(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }
}
