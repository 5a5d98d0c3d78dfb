package graft.lake

import scala.util.matching.Regex

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException,
  ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Maintenance SQL for lake tables — the statements Spark's grammar
  * has no word for, accepted in front of the stock parser (everything
  * else delegates untouched):
  *
  * {{{
  *   OPTIMIZE <table> [WHERE <range predicate>]
  *   OPTIMIZE <table> ZORDER BY (colA, colB[, ...])
  *   VACUUM <table> [RETAIN <n> HOURS] [DRY RUN]
  *   DESCRIBE HISTORY <table>
  *   DESCRIBE DETAIL <table>
  *   RESTORE TABLE <table> [TO] VERSION AS OF <n>
  *   RESTORE TABLE <table> [TO] TIMESTAMP AS OF '<utc ts>' | <millis>
  *   CREATE TABLE <dst> SHALLOW CLONE <src>
  *     [VERSION AS OF <n> | TIMESTAMP AS OF '<utc ts>' | <millis>]
  *   CONVERT TO LAKE '<path>' [STATS COLUMNS (a, b)]
  *   COPY INTO <table> FROM '<dir>' [PATTERN = '<glob>']
  * }}}
  *
  * `<table>` is a catalog identifier (`lakecat.ns.t`) or a
  * single-quoted table-root path (`'/data/corpus'`). OPTIMIZE's WHERE
  * accepts the lake's prunable shapes (column-vs-literal ranges) and
  * refuses anything else — it selects FILES, so a dropped conjunct
  * would silently widen the rewrite.
  *
  * The change-data feed's SQL surface is NOT a statement here but the
  * `table_changes('t', start[, end])` table-valued function
  * ([[LakeTableChanges]], injected alongside this parser) — it
  * composes inside ordinary SELECTs, which a whole-statement grammar
  * cannot.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    LakeSqlStatements.parse(session, sqlText, delegate)
      .getOrElse(LakeMergeNameMapping(session,
        delegate.parsePlan(sqlText)))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String):
      org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

private[lake] object LakeSqlStatements {

  // identifier (a.b.c, backticks allowed per part) or '<path>'
  private val target = """((?:`[^`]+`|[\w]+)(?:\.(?:`[^`]+`|[\w]+))*|'[^']+')"""
  private val optimizeRe: Regex =
    s"""(?is)^\\s*OPTIMIZE\\s+$target\\s*(?:WHERE\\s+(.+?))?\\s*(?:ZORDER\\s+BY\\s*\\(([^)]+)\\))?\\s*;?\\s*$$""".r
  private val vacuumRe: Regex =
    s"""(?is)^\\s*VACUUM\\s+$target\\s*(?:RETAIN\\s+([0-9.]+)\\s+HOURS)?\\s*(DRY\\s+RUN)?\\s*;?\\s*$$""".r
  private val historyRe: Regex =
    s"""(?is)^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$target\\s*;?\\s*$$""".r
  private val detailRe: Regex =
    s"""(?is)^\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$target\\s*;?\\s*$$""".r
  private val restoreRe: Regex =
    s"""(?is)^\\s*RESTORE\\s+TABLE\\s+$target\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$""".r
  // timestamp form: a quoted UTC timestamp ('yyyy-MM-dd[ HH:mm:ss[.SSS]]')
  // or a bare epoch-milliseconds literal
  private val restoreTsRe: Regex =
    s"""(?is)^\\s*RESTORE\\s+TABLE\\s+$target\\s+(?:TO\\s+)?TIMESTAMP\\s+AS\\s+OF\\s+(?:'([^']+)'|(\\d{10,}))\\s*;?\\s*$$""".r
  private val cloneRe: Regex =
    s"""(?is)^\\s*CREATE\\s+TABLE\\s+$target\\s+(SHALLOW|DEEP)\\s+CLONE\\s+$target(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)|\\s+TIMESTAMP\\s+AS\\s+OF\\s+(?:'([^']+)'|(\\d{10,})))?\\s*;?\\s*$$""".r
  private val convertRe: Regex =
    s"""(?is)^\\s*CONVERT\\s+TO\\s+LAKE\\s+('[^']+')\\s*(?:STATS\\s+COLUMNS\\s*\\(([^)]+)\\))?\\s*;?\\s*$$""".r
  private val copyIntoRe: Regex =
    s"""(?is)^\\s*COPY\\s+INTO\\s+$target\\s+FROM\\s+('[^']+')\\s*(?:FILEFORMAT\\s*=\\s*PARQUET)?\\s*(?:PATTERN\\s*=\\s*'([^']+)')?\\s*;?\\s*$$""".r

  def parse(session: SparkSession, sqlText: String,
            delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case optimizeRe(t, where, zorder) =>
        // translate WHERE at parse time: the command must carry no
        // unresolved Expression fields (CheckAnalysis walks them)
        Some(LakeOptimizeCommand(parts(t, delegate),
          Option(where).map(w =>
            whereRanges(delegate.parseExpression(w))).getOrElse(Nil),
          Option(zorder).map(_.split(",").map(stripTicks).toSeq)
            .getOrElse(Nil)))
      case vacuumRe(t, hours, dry) =>
        Some(LakeVacuumCommand(parts(t, delegate),
          Option(hours).map(_.toDouble), dryRun = dry != null))
      case historyRe(t) => Some(LakeHistoryCommand(parts(t, delegate)))
      case detailRe(t) => Some(LakeDetailCommand(parts(t, delegate)))
      case restoreRe(t, v) =>
        Some(LakeRestoreCommand(parts(t, delegate), v.toLong))
      case restoreTsRe(t, ts, millis) =>
        Some(LakeRestoreCommand(parts(t, delegate), -1L,
          Some(if (millis != null) millis.toLong else utcMillis(ts))))
      case cloneRe(dst, kind, src, v, ts, millis) =>
        Some(LakeShallowCloneCommand(parts(dst, delegate),
          parts(src, delegate), Option(v).map(_.toLong),
          if (millis != null) Some(millis.toLong)
          else Option(ts).map(utcMillis),
          deep = kind.equalsIgnoreCase("DEEP")))
      case convertRe(path, stats) =>
        Some(LakeConvertCommand(path.stripPrefix("'").stripSuffix("'"),
          Option(stats).map(_.split(",").map(stripTicks).toSeq)))
      case copyIntoRe(t, path, pattern) =>
        Some(LakeCopyIntoCommand(parts(t, delegate),
          path.stripPrefix("'").stripSuffix("'"), Option(pattern)))
      case _ => None
    }

  private def stripTicks(s: String): String =
    s.trim.stripPrefix("`").stripSuffix("`")

  /** Quoted RESTORE timestamp → epoch millis, interpreted in UTC (the
    * session timezone contract; commit times are epoch millis).
    * Accepts date-only and second/millisecond precision. The error
    * names the accepted forms — this is also the fall-through for the
    * `timestampAsOf` read option, whose raw value may be anything.
    */
  private[lake] def utcMillis(ts: String): Long = {
    val t = ts.trim
    try {
      val local =
        if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      local.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"bad timestamp '$ts': expected a UTC " +
            "'yyyy-MM-dd[ HH:mm:ss[.SSS]]' string or epoch " +
            "milliseconds (all digits, >= 10 of them)", e)
    }
  }

  /** Left = table-root path, Right = catalog identifier parts. */
  private def parts(t: String, delegate: ParserInterface):
      Either[String, Seq[String]] =
    if (t.startsWith("'")) Left(t.stripPrefix("'").stripSuffix("'"))
    else Right(delegate.parseMultipartIdentifier(t))

  /** Resolve a statement target to the table root. */
  private[lake] def rootOf(spark: SparkSession,
                           t: Either[String, Seq[String]]): String =
    t match {
      case Left(path) => path
      case Right(ps) =>
        require(ps.length >= 2,
          s"need <catalog>.<...>.<table>, got ${ps.mkString(".")}")
        PlanBridge.v2Catalog(spark, ps.head) match {
          case lc: LakeCatalog =>
            lc.tableRoot(Identifier.of(ps.tail.init.toArray, ps.last))
              .toString
          case other => throw new IllegalArgumentException(
            s"${ps.head} is not a graft-lake catalog " +
              s"(${other.getClass.getName})")
        }
    }

  /** Resolve a statement target to a root the statement will CREATE
    * (clone destinations): for identifiers, the catalog checks the
    * table does NOT exist yet; paths pass through ([[LakeTable]]'s own
    * create guard refuses an existing log).
    */
  private[lake] def newRootOf(spark: SparkSession,
                              t: Either[String, Seq[String]]): String =
    t match {
      case Left(path) => path
      case Right(ps) =>
        require(ps.length >= 2,
          s"need <catalog>.<...>.<table>, got ${ps.mkString(".")}")
        PlanBridge.v2Catalog(spark, ps.head) match {
          case lc: LakeCatalog =>
            lc.newTableRoot(Identifier.of(ps.tail.init.toArray, ps.last))
              .toString
          case other => throw new IllegalArgumentException(
            s"${ps.head} is not a graft-lake catalog " +
              s"(${other.getClass.getName})")
        }
    }

  /** OPTIMIZE's WHERE → its [[LakeRanges.exact]] ranges (it selects
    * files, so every conjunct must translate), or a loud refusal.
    */
  private[lake] def whereRanges(e: Expression): Seq[LakeTable.ColRange] =
    LakeRanges.exact(e).getOrElse(throw new IllegalArgumentException(
      s"OPTIMIZE WHERE accepts column-vs-literal ranges only, got: " +
        s"$e — it selects FILES, a dropped conjunct would widen " +
        "the rewrite"))
}

/** `OPTIMIZE` — bin-pack small files (optionally only within a key
  * range), or rewrite the whole table onto a z-order layout.
  */
private[lake] final case class LakeOptimizeCommand(
    target: Either[String, Seq[String]],
    within: Seq[LakeTable.ColRange],
    zorderBy: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("files_rewritten", LongType, nullable = false)(),
    AttributeReference("files_added", LongType, nullable = false)(),
    AttributeReference("files_untouched", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = LakeSqlStatements.rootOf(spark, target)
    val rep =
      if (zorderBy.nonEmpty) {
        require(within.isEmpty,
          "OPTIMIZE ... ZORDER BY rewrites the whole table — WHERE is " +
            "not applicable")
        val spec =
          if (zorderBy.length == 1) zorderBy.head
          else LakeTable.zCluster(zorderBy: _*)
        LakeTable.recluster(spark, root, spec)
      } else LakeTable.compact(spark, root,
        smallBytes = 128L * 1024 * 1024, targetBytes = 256L * 1024 * 1024,
        within = within)
    val op = if (zorderBy.nonEmpty) "zorder" else "compact"
    Seq(Row(op, rep.filesRewritten.toLong, rep.filesAdded.toLong,
      rep.filesUntouched.toLong))
  }
}

/** `VACUUM <t> [RETAIN n HOURS]` — delete unreferenced files older
  * than the retention horizon, keeping every version from the latest.
  */
private[lake] final case class LakeVacuumCommand(
    target: Either[String, Seq[String]],
    retainHours: Option[Double],
    dryRun: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("files_deleted", LongType, nullable = false)(),
    AttributeReference("bytes_deleted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = LakeSqlStatements.rootOf(spark, target)
    val keep = LakeTable.latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no lake table at $root"))
    // DRY RUN: identical candidate selection, zero deletions — the
    // report says what a real run WOULD reclaim
    val rep = retainHours match {
      case Some(h) => LakeTable.vacuum(spark, root, keepFromVersion = keep,
        retentionMs = (h * 3600 * 1000).toLong, dryRun = dryRun)
      case None => LakeTable.vacuum(spark, root, keepFromVersion = keep,
        dryRun = dryRun)
    }
    Seq(Row(rep.filesDeleted.toLong, rep.bytesDeleted))
  }
}

private[lake] final case class LakeHistoryCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("files_added", LongType, nullable = false)(),
    AttributeReference("files_removed", LongType, nullable = false)(),
    AttributeReference("rows_added", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    LakeTable.history(spark, LakeSqlStatements.rootOf(spark, target))
      .collect().toSeq
}

/** `RESTORE TABLE <t> [TO] VERSION AS OF <n>` — one commit that makes
  * the table's live file set equal version `n`'s again (nothing is
  * copied: removed files are re-referenced, later files de-referenced;
  * every version since stays time-travelable). Refuses if any of the
  * target version's files were vacuumed.
  */
private[lake] final case class LakeRestoreCommand(
    target: Either[String, Seq[String]],
    toVersion: Long,
    /** `TIMESTAMP AS OF` form: resolved to the newest version whose
      * commit time is <= the given UTC instant, same rule as
      * time-travel reads. */
    toTimestampMillis: Option[Long] = None) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_removed", LongType, nullable = false)(),
    AttributeReference("files_readded", LongType, nullable = false)(),
    AttributeReference("files_untouched", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = LakeSqlStatements.rootOf(spark, target)
    val v = toTimestampMillis match {
      case Some(ts) =>
        val rootP = new org.apache.hadoop.fs.Path(root)
        LakeLog.versionAtTimestamp(
          LakeLog.fileSystem(rootP,
            spark.sparkContext.hadoopConfiguration), rootP, ts)
      case None => toVersion
    }
    val rep = LakeTable.restore(spark, root, v)
    Seq(Row(rep.version, rep.filesRewritten.toLong,
      rep.filesAdded.toLong, rep.filesUntouched.toLong))
  }
}

/** `CREATE TABLE <dst> SHALLOW|DEEP CLONE <src> [VERSION AS OF <n>]` —
  * a branch of the source snapshot. SHALLOW is zero-copy: the clone's
  * create commit references the source's files by absolute path. DEEP
  * additionally [[LakeTable.localize]]s — the destination owns a
  * physical copy of every file, immune to the source's vacuum.
  * Metadata (schema, stats columns, cluster spec, column mapping,
  * CHECK constraints, reader features) carries over; later writes to
  * either table never affect the other.
  */
private[lake] final case class LakeShallowCloneCommand(
    dst: Either[String, Seq[String]],
    src: Either[String, Seq[String]],
    asOf: Option[Long],
    asOfTs: Option[Long] = None,
    deep: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val srcRoot = LakeSqlStatements.rootOf(spark, src)
    // TIMESTAMP AS OF resolves against the SOURCE's commit times —
    // the same resolution RESTORE and the batch timestampAsOf use
    val at = asOfTs.map { ts =>
      val p = new org.apache.hadoop.fs.Path(srcRoot)
      LakeLog.versionAtTimestamp(
        LakeLog.fileSystem(p, spark.sparkContext.hadoopConfiguration),
        p, ts)
    }.orElse(asOf)
    val dstRoot = LakeSqlStatements.newRootOf(spark, dst)
    val v = LakeTable.shallowClone(spark, srcRoot, dstRoot, at)
    Seq(Row(if (deep) LakeTable.localize(spark, dstRoot).version else v))
  }
}

/** `CONVERT TO LAKE '<path>' [STATS COLUMNS (a, b)]` — in-place
  * adoption of an existing parquet directory (flat or
  * hive-partitioned): one metadata-only commit referencing the files
  * where they sit, per-file stats from the footers, partition layout
  * auto-detected from the paths. No data moves. The directory then
  * reads/writes as a normal lake table root.
  */
/** `COPY INTO <table> FROM '<dir>' [FILEFORMAT = PARQUET]
  * [PATTERN = '<glob>']` — idempotent file-grain parquet ingest
  * ([[LakeTable.copyInto]]): re-runs skip already-loaded files, the
  * loaded-file set rides the same commit as the rows.
  */
private[lake] final case class LakeCopyIntoCommand(
    table: Either[String, Seq[String]],
    from: String,
    pattern: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("files_loaded", LongType, nullable = false)(),
    AttributeReference("rows_loaded", LongType, nullable = false)(),
    AttributeReference("files_skipped", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = LakeSqlStatements.rootOf(spark, table)
    val (loaded, rows, skipped) =
      LakeTable.copyInto(spark, root, from, pattern)
    Seq(Row(loaded, rows, skipped))
  }
}

private[lake] final case class LakeConvertCommand(
    rootPath: String,
    statsCols: Option[Seq[String]]) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_converted", LongType, nullable = false)(),
    AttributeReference("partitioned_by", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val v = LakeTable.convert(spark, rootPath, statsCols)
    val snap = LakeTable.snapshot(spark, rootPath)
    Seq(Row(v, snap.files.size.toLong, snap.partitionBy.mkString(",")))
  }
}

private[lake] final case class LakeDetailCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {

  override val output: Seq[AttributeReference] =
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("total_bytes", LongType, nullable = false),
      StructField("dv_files", LongType, nullable = false),
      StructField("dv_dead_rows", LongType, nullable = false),
      StructField("partition_by", StringType, nullable = false),
      StructField("cluster_by", StringType, nullable = false),
      StructField("features", StringType, nullable = false),
      StructField("constraints", StringType, nullable = false),
      StructField("time_travel_floor", LongType, nullable = false)))
      .fields.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)()).toSeq

  override def run(spark: SparkSession): Seq[Row] =
    LakeTable.detail(spark, LakeSqlStatements.rootOf(spark, target))
      .collect().toSeq
}
