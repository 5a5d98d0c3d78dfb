package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister,
  RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SOURCE that tails a [[LakeTable]]'s commit
  * log: `spark.readStream.format("graft-lake").load(tableRoot)`.
  *
  * The lake log gives the stream exactly the offset semantics a
  * Kafka-shaped source needs, for free:
  *
  *  - an OFFSET is a log version — monotone, dense, durable;
  *  - a micro-batch (start, end] is the set of files ADDED by commits
  *    start+1..end, read as one bounded parquet scan — commit
  *    atomicity means a batch can never see half an append;
  *  - offsets are checkpointed by the engine, so a restarted query
  *    resumes at committed+1 and replays nothing (the consumer-group
  *    resume contract) — certified under the oracle gate by
  *    `stream_lake_pipeline_replay` (a lake-to-lake pipeline with a
  *    restart between drains);
  *  - `maxVersionsPerTrigger` caps how many commits one micro-batch
  *    may cover (Kafka's `maxOffsetsPerTrigger` shape) and
  *    `maxBytesPerTrigger` caps a batch's recorded added-bytes (the
  *    file-source analog; both compose, bytes computed from the log's
  *    stats with zero FS calls) — a cold start on a long-lived table
  *    becomes a sequence of bounded batches instead of one
  *    table-sized scan;
  *  - combined with [[LakeSink]] on the write side, a lake-to-lake
  *    pipeline is exactly-once END TO END: the source never re-emits
  *    a committed file, the sink never re-commits a delivered batch.
  *
  * Tailing is APPEND-tailing: a commit carrying Remove actions
  * (merge/delete/compact/overwrite rewrites) is not expressible as an
  * append-only stream — the source fails loudly on it unless
  * `ignoreChanges=true`, which re-emits the rewritten files (possible
  * duplicates, the standard lakehouse-streaming caveat, documented
  * rather than silent). `startingVersion` bounds the cold start (the
  * default 0 replays the whole table first batch).
  *
  * `readChangeFeed=true` switches the source to CHANGE-tailing: each
  * micro-batch carries the row-level delta of its commits — the data
  * columns plus `_change_type` ('insert' | 'delete') and
  * `_commit_version` — reconstructed per commit by
  * [[LakeTable.scanChanges]]'s multiset-diff technique, so rewrites
  * (merge/delete) stream as exact delete+insert pairs instead of
  * failing, and layout-only compactions stream as nothing. Cost per
  * batch is bounded by the files its commits TOUCHED, never the
  * table — the CDC-consumer contract Delta's `readChangeFeed` gives,
  * here computed on demand with no stored change files.
  */
class LakeStreamSourceProvider extends StreamSourceProvider
    with RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  /** BATCH read — `spark.read.format("graft-lake").load(root)`, with
    * `option("versionAsOf", v)` time travel. When the pinned
    * snapshot's rows are exactly its files' rows in table order (no
    * deletion vectors, no column mapping, partition columns last),
    * returns the lake's stock file relation ([[LakeTable.fileRelation]]):
    * a native vectorized `FileScan parquet` (whole-stage codegen,
    * row-group pushdown) over a [[LakeFileIndex]] whose candidate files
    * are stats-pruned by the commit log's min/max index, with
    * exists-defaults applied per file. Every other snapshot gets a
    * [[LakeMorRelation]], which [[LakeMorExpansion]] splices into the
    * shared reader ([[LakeTable.readAdds]]) — so renamed, dropped and
    * re-added, defaulted and MOR-deleted columns read the same rows
    * through the format as through the catalog and `LakeTable.scan`.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]):
      BaseRelation = {
    val session = sqlContext.sparkSession
    val root = new Path(rootOf(parameters))
    val fs = LakeLog.fileSystem(root,
      session.sparkContext.hadoopConfiguration)
    if (cdfOf(parameters)) {
      // batch CDF: [startingVersion, endingVersion], both inclusive
      val latest = LakeLog.latestVersion(fs, root).getOrElse(
        throw new IllegalArgumentException(s"no lake table at ${root}"))
      val from = parameters.get("startingVersion").map(_.toLong).getOrElse(0L)
      val to = parameters.get("endingVersion").map(_.toLong).getOrElse(latest)
      require(from >= 0 && from <= to && to <= latest,
        s"bad change range [$from, $to]: table has 0..$latest")
      // pre-floor commits' files may be vacuumed — refuse at
      // resolution like time travel (scanChanges carries the same
      // guard; a rewrite AT the floor still refuses through the
      // snapshot floor check when it reads its previous state)
      LakeLog.vacuumFloor(fs, root).foreach { case (keepFrom, horizonTs) =>
        if (from < keepFrom)
          throw new IllegalStateException(
            s"change feed [$from, $to] of $root reaches below the " +
              s"vacuum floor $keepFrom (horizon ${java.time.Instant
                .ofEpochMilli(horizonTs)}) — start at $keepFrom or later")
      }
      val toSnap = LakeLog.snapshot(fs, root, Some(to))
      return new LakeCdfRelation(session, root, from, to, toSnap)
    }
    val byVersion = parameters.get("versionAsOf").map(_.toLong)
    // epoch millis, or a UTC timestamp string ('yyyy-MM-dd[ HH:mm:ss]')
    // — the same forms RESTORE ... TIMESTAMP AS OF accepts
    // epoch-millis sniffing matches the SQL RESTORE form (\d{10,}): a
    // bare all-digit value must carry at least 10 digits to read as
    // millis — a blank string vacuously satisfies forall(isDigit) and
    // would throw a raw NumberFormatException, and a short digit run
    // (a typo'd date, an epoch-SECONDS value) silently resolves to
    // 1970 and fails with a misleading "no committed version" error.
    // Everything else falls through to the UTC timestamp parser,
    // whose own error names the accepted forms.
    val byTs = parameters.get("timestampAsOf").map(t =>
      LakeLog.versionAtTimestamp(fs, root,
        if (t.trim.length >= 10 && t.trim.forall(_.isDigit)) t.trim.toLong
        else LakeSqlStatements.utcMillis(t)))
    require(byVersion.isEmpty || byTs.isEmpty,
      "set either versionAsOf or timestampAsOf, not both")
    val snap = LakeLog.snapshot(fs, root, byVersion.orElse(byTs))
    val bare = LakeTable.fileRelation(session, root, snap, snap.files)
    if (snap.files.forall(_.dv.isEmpty) && bare.schema.fieldNames
        .sameElements(StructType.fromDDL(snap.schemaDdl).fieldNames)) bare
    else new LakeMorRelation(session, root, snap)
  }

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-lake source needs .load(<table root>) or option(\"path\",...)"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]):
      (String, StructType) = {
    val root = new Path(rootOf(parameters))
    val fs = LakeLog.fileSystem(root,
      sqlContext.sparkContext.hadoopConfiguration)
    val base = StructType.fromDDL(LakeLog.snapshot(fs, root, None).schemaDdl)
    (shortName(),
      if (cdfOf(parameters)) LakeStreamSource.withCdfColumns(base) else base)
  }

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    // startingTimestamp: the wall-clock twin of startingVersion (the
    // Delta option) — resolved ONCE here to the first commit at or
    // after the timestamp (INCLUSIVE, matching the Delta option it
    // mirrors: a replay pipeline that passes a recorded commit
    // timestamp must re-emit that commit, not silently skip it), then
    // identical semantics. Same value grammar as the batch
    // timestampAsOf (>= 10 digits = epoch millis, else a UTC
    // timestamp string); mutually exclusive with startingVersion. A
    // timestamp predating the log means "from the beginning"; one
    // past the newest commit means "only future commits" — both fall
    // out of the inclusive resolver, and a WRONG PATH still refuses
    // loudly there (no catch here: mapping every failure to "start
    // at 0" would silently stream a mistyped root from scratch).
    val byTs = parameters.get("startingTimestamp").map { t =>
      val root = new Path(rootOf(parameters))
      val fs = LakeLog.fileSystem(root,
        sqlContext.sparkContext.hadoopConfiguration)
      val millis =
        if (t.trim.length >= 10 && t.trim.forall(_.isDigit)) t.trim.toLong
        else LakeSqlStatements.utcMillis(t)
      LakeLog.firstVersionAtOrAfter(fs, root, millis)
    }
    require(byTs.isEmpty || !parameters.contains("startingVersion"),
      "set either startingVersion or startingTimestamp, not both")
    new LakeStreamSource(sqlContext, rootOf(parameters),
      byTs.orElse(parameters.get("startingVersion").map(_.toLong))
        .getOrElse(0L),
      parameters.get("ignoreChanges").exists(_.toBoolean),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      readChangeFeed = cdfOf(parameters),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong))
  }
}

object LakeStreamSource {
  import org.apache.spark.sql.types.{LongType, StringType}
  private[lake] def withCdfColumns(base: StructType): StructType =
    base.add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)
}

class LakeStreamSource(sqlContext: SQLContext, root: String,
                       startingVersion: Long, ignoreChanges: Boolean,
                       maxVersionsPerTrigger: Option[Long] = None,
                       readChangeFeed: Boolean = false,
                       maxBytesPerTrigger: Option[Long] = None)
    extends Source {

  require(maxVersionsPerTrigger.forall(_ > 0),
    s"maxVersionsPerTrigger must be positive, got $maxVersionsPerTrigger")
  require(maxBytesPerTrigger.forall(_ > 0),
    s"maxBytesPerTrigger must be positive, got $maxBytesPerTrigger")

  private val rootP = new Path(root)
  private val fs = LakeLog.fileSystem(rootP,
    sqlContext.sparkContext.hadoopConfiguration)

  /** Snapshot pinned at query start: its schema, column mapping,
    * partitioning and column semantics are the view every batch reads
    * under; CDF batches tag it per row.
    */
  private val view = LakeLog.snapshot(fs, rootP, None)

  override val schema: StructType = {
    val base = StructType.fromDDL(view.schemaDdl)
    if (readChangeFeed) LakeStreamSource.withCdfColumns(base) else base
  }

  /** Highest version already planned into a batch (from this
    * incarnation's getOffset calls, or the checkpoint via getBatch on
    * restart) — the floor the per-trigger cap steps from. Engine
    * calls are single-threaded per query, but `@volatile` keeps the
    * read in getOffset sound if the driver rotates threads.
    */
  @volatile private var plannedThrough: Long = startingVersion - 1

  override def getOffset: Option[Offset] =
    LakeLog.latestVersion(fs, rootP).map { latest =>
      val vCap = maxVersionsPerTrigger
        .fold(latest)(m => math.min(latest, plannedThrough + m))
      // byte pacing (the maxBytesPerTrigger analog): accumulate the
      // commits' recorded added-bytes — KB-sized log reads, no FS
      // stat calls — and stop BEFORE the commit that would overflow
      // the cap. Always at least one commit, or a huge single commit
      // would stall the stream forever.
      val capped = maxBytesPerTrigger match {
        case None => vCap
        case Some(maxB) =>
          var v = plannedThrough
          var bytes = 0L
          var stop = false
          while (!stop && v < vCap) {
            val next = LakeLog.readCommit(fs, rootP, v + 1)
              .collect { case a: LakeLog.Add => a.stats.bytes }.sum
            if (v > plannedThrough && bytes + next > maxB) stop = true
            else { v += 1; bytes += next }
          }
          v
      }
      plannedThrough = math.max(plannedThrough, capped)
      LongOffset(capped)
    }

  /** Offsets arrive as LongOffset (live) or SerializedOffset (from a
    * restart's checkpoint); both round-trip through json.
    */
  private def versionOf(o: Offset): Long = o.json.trim.toLong

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf(_) + 1).getOrElse(startingVersion)
    val to = versionOf(end)
    // restart path: the checkpointed end offset seeds the cap floor
    plannedThrough = math.max(plannedThrough, to)
    val session = sqlContext.sparkSession
    if (readChangeFeed)
      return org.apache.spark.sql.graft.StreamingFrames.asStreaming(
        LakeTable.cdfFrame(session, rootP, view, from, to))
    val adds = (from to to).flatMap { v =>
      val actions = LakeLog.readCommit(fs, rootP, v)
      val op = actions.collectFirst { case m: LakeLog.Meta => m.op }
        .getOrElse("?")
      val rewrites = actions.exists {
        case _: LakeLog.Remove => true; case _ => false
      } || op == "mordelete" // re-points live files: not an append
      if (rewrites && !ignoreChanges)
        throw new IllegalStateException(
          s"lake commit $v is a rewrite ($op): an append-only stream " +
            "cannot express it — set ignoreChanges=true to re-emit the " +
            "rewritten files' live rows (may duplicate rows downstream)")
      actions.collect { case a: LakeLog.Add => a }
    }
    // DV-aware: a re-emitted MOR-deleted file contributes its LIVE
    // rows (pure appends carry no DV, so the common path is one plain
    // scan of the added files)
    val batch = LakeTable.readAdds(session, rootP, view, adds)
    // v1 source contract: the returned frame must be tagged streaming
    org.apache.spark.sql.graft.StreamingFrames.asStreaming(batch)
  }

  override def stop(): Unit = ()

  override def toString: String = s"LakeStreamSource[$root]"
}
