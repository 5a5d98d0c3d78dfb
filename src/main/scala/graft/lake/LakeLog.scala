package graft.lake

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Append-only transaction log for [[LakeTable]] — the minimal
  * lakehouse commit protocol (the Delta/Iceberg idea re-built from
  * first principles, no external format dependency):
  *
  *  - a table is a directory; its STATE is the replay of numbered
  *    commit files under `_log/` (`%020d.json`, one JSON action per
  *    line); data files under `data/` are immutable and only ever
  *    referenced, never mutated;
  *  - a commit is ATOMIC: actions are staged to a hidden temp file and
  *    published at the next version number put-if-absent (a hard link
  *    on the local FS, a non-replacing rename on HDFS), so two racing
  *    writers get exactly one winner; the loser re-reads the log and
  *    retries (optimistic concurrency). Other schemes refuse: on
  *    S3-like stores this would sit behind a
  *    commit-coordinator/conditional-put — the protocol is unchanged;
  *  - appends never conflict (they reference only new files); REWRITE
  *    commits (delete/merge/compact/overwrite) declare the files they
  *    remove and are re-validated against the winning snapshot after a
  *    lost race — if a removed file is no longer live, the commit
  *    aborts with a conflict instead of resurrecting data;
  *  - every `checkpointInterval`-th commit also writes a CHECKPOINT
  *    (full file list + schema), so snapshot reconstruction is
  *    O(interval) commit reads from the latest checkpoint, not O(all
  *    commits since table creation) — at 100 TB with years of commits
  *    the checkpoint IS the log-replay scalability story (same role as
  *    `_last_checkpoint` in public lakehouse formats);
  *  - each ADD carries per-file row count, byte size, and min/max/null
  *    stats for the table's declared stats columns — the file-skipping
  *    index [[LakeTable.scanPruned]] prunes with, which is what
  *    replaces directory partitioning in this design (finer-grained,
  *    works for any clustered column, no small-partition explosion).
  *
  * The log is driver-side JSON: commit files are KB-sized (bounded by
  * files-per-commit, not rows), and snapshot state is the file list —
  * ~100 bytes/file, so even a 10^6-file / 100 TB table replays from a
  * checkpoint in MBs of driver memory.
  */
object LakeLog {

  /** Per-file column stats carried by an [[Add]]; values are
    * normalized to Long / Double / String (see
    * [[LakeTable.normalizeStat]]) so pruning comparisons are
    * engine-independent.
    */
  final case class Stats(rows: Long, bytes: Long,
                         min: Map[String, Any], max: Map[String, Any],
                         nulls: Map[String, Long])

  /** Deletion-vector descriptor: `path` is the root-relative parquet
    * dataset of (file, pos) deleted-row positions this file's DV lives
    * in (one dataset per merge-on-read commit, possibly shared by
    * several files), `rows` how many of its positions belong to this
    * file. A DV'd file's live rows are the file minus its positions —
    * applied at read, physically purged by the next rewrite that
    * touches the file.
    */
  final case class Dv(path: String, rows: Long)

  sealed trait Action
  /** `path` is table-root-relative, immutable once referenced.
    * Re-adding the same path (with a new `dv`) supersedes the prior
    * Add in replay — the merge-on-read delete commit shape.
    */
  final case class Add(path: String, stats: Stats,
                       dv: Option[Dv] = None) extends Action
  final case class Remove(path: String) extends Action
  /** One per commit: operation tag for history/audit, the table schema
    * (DDL), declared stats columns, the table's cluster column
    * (rewrites re-cluster by it so the skipping layout survives
    * maintenance), and an optional (appId, batchId) idempotence token
    * for exactly-once streaming appends.
    */
  final case class Meta(op: String, schemaDdl: String,
                        statsCols: Seq[String],
                        appId: Option[String], batchId: Option[Long],
                        ts: Long,
                        clusterBy: Option[String] = None,
                        colMap: Map[String, String] = Map.empty,
                        /** Hive-style partition columns (create-time
                          * immutable). Partitioned files live under
                          * `<col>=<value>/` directories, their CONTENT
                          * excludes the partition columns, and every
                          * Add records the value as min==max stats —
                          * reads inject the columns from the log, the
                          * scan prunes whole directories. Carried by
                          * create/convert/replace commits and the
                          * checkpoint header.
                          */
                        partitionBy: Seq[String] = Nil)
      extends Action

  /** Fully-replayed table state at `version`. */
  final case class Snapshot(version: Long, schemaDdl: String,
                            statsCols: Seq[String], files: Seq[Add],
                            committedBatches: Map[String, Long],
                            clusterBy: Option[String],
                            features: Set[String] = Set.empty,
                            constraints: Map[String, String] = Map.empty,
                            /** logical column name -> PHYSICAL name in
                              * the parquet files; complete (one entry
                              * per column) once the column-mapping
                              * feature is active, empty before. Renames
                              * and drops are then metadata commits —
                              * files are addressed by their original
                              * physical names forever.
                              */
                            colMap: Map[String, String] = Map.empty,
                            partitionBy: Seq[String] = Nil,
                            /** Active column semantics, keyed by
                              * logical column name ([[ColSpec]]).
                              */
                            colSpecs: Map[String, ColSpec] = Map.empty,
                            /** Last allocated identity value per
                              * identity column ([[IdentityHwm]]);
                              * absent until the first allocation.
                              */
                            identityHwm: Map[String, Long] = Map.empty,
                            /** Source files COPY INTO already loaded
                              * ([[CopiedFile]]).
                              */
                            copiedFiles: Set[String] = Set.empty) {
    def filePaths: Set[String] = files.map(_.path).toSet
  }

  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Thrown by [[commit]] when `dedupBatch`'s (appId, batchId) token
    * is already committed — the zombie-writer duplicate delivery a
    * transactional streaming sink must turn into a no-op.
    */
  final class DuplicateBatchException(msg: String)
    extends RuntimeException(msg)

  final class UnsupportedFeatureException(msg: String)
    extends RuntimeException(msg)

  /** Reader-feature flags THIS build understands. A commit that
    * introduces semantics an older reader would silently get WRONG
    * (not merely miss) must stamp a `feature` action; replay fails
    * loudly on flags outside this set instead of mis-reading the
    * table — e.g. a pre-deletion-vector reader scanning a DV'd table
    * would resurrect every deleted row. The format-evolution
    * contract public lakehouse formats carry as (minReaderVersion,
    * readerFeatures).
    */
  val supportedFeatures: Set[String] =
    Set("deletion-vectors", "absolute-paths", "check-constraints",
      "type-widening", "column-mapping", "column-semantics")

  /** Marks the table as requiring readers that understand `name`. */
  final case class Feature(name: String) extends Action

  /** CHECK constraint on the table (empty `expr` drops it). Writers
    * must reject incoming rows that violate any active constraint.
    */
  final case class Constraint(name: String, expr: String) extends Action

  /** Column-level write semantics — the declarative column features a
    * SQL user expects from a managed table:
    *
    *  - `kind = "default"`: `spec("current")` is the DEFAULT
    *    expression SQL filled into INSERTs that omit the column;
    *    `spec("exists")` (optional) is the value files written BEFORE
    *    the column existed read back (applied by the parquet reader
    *    via `EXISTS_DEFAULT` field metadata — a metadata-only
    *    backfill, no rewrite).
    *  - `kind = "generated"`: `spec("expr")` is a deterministic
    *    expression over the table's other columns; writers compute it
    *    and refuse conflicting user-supplied values.
    *  - `kind = "identity"`: `spec("start")`/`spec("step")` (longs)
    *    and `spec("allowExplicit")` ("true"/"false"); writers allocate
    *    values past the replayed [[IdentityHwm]].
    *
    * An EMPTY `spec` drops the column's semantics (ALTER ... DROP
    * DEFAULT). Replay is last-wins per column.
    */
  final case class ColSpec(col: String, kind: String,
                           spec: Map[String, String]) extends Action

  /** COPY INTO file-level idempotence: `src` is a fully-qualified
    * source file URI this table has already loaded. A re-run of COPY
    * INTO subtracts the replayed set, so ingesting the same landing
    * directory twice is a no-op — exactly-once at FILE grain, the
    * incremental-ingest contract. Cleared by REPLACE TABLE (the new
    * definition never loaded anything); kept across INSERT OVERWRITE
    * (loaded-file memory is ingest bookkeeping, not content).
    */
  final case class CopiedFile(src: String) extends Action

  /** Identity high-water-mark: the extreme value (max for positive
    * step, min for negative) an allocating write observed AFTER its
    * own allocation, recorded in the same commit as the files. Replay
    * is last-wins; allocators guard their base via
    * [[commit]]'s `expectIdentityHwm` so two concurrent appends can
    * never hand out overlapping ranges.
    */
  final case class IdentityHwm(col: String, value: Long) extends Action

  val checkpointInterval = 10

  def logDir(root: Path): Path = new Path(root, "_log")
  def dataDir(root: Path): Path = new Path(root, "data")
  private def commitPath(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.json")
  private def checkpointPath(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.checkpoint.json")

  def fileSystem(root: Path, conf: Configuration): FileSystem =
    root.getFileSystem(conf)

  // ---- JSON (de)serialization -------------------------------------

  // JSON has no NaN or infinity (Jackson writes them as strings, which
  // would read back as String stats), so non-finite doubles travel
  // tagged: {"double": "NaN" | "Infinity" | "-Infinity"}
  private def statToJson(v: Any): JValue = v match {
    case l: Long    => JLong(l)
    case i: Int     => JLong(i.toLong)
    case d: Double if d.isNaN || d.isInfinite =>
      JObject("double" -> JString(d.toString))
    case d: Double  => JDouble(d)
    case f: Float   => statToJson(f.toDouble)
    case s: String  => JString(s)
    case null       => JNull
    case other => throw new IllegalArgumentException(
      s"unsupported stat value type ${other.getClass}: $other")
  }

  private def statFromJson(v: JValue): Any = v match {
    case JLong(l)    => l
    case JInt(i)     => i.toLong
    case JDouble(d)  => d
    case JObject(List(("double", JString(d)))) => d.toDouble
    case JDecimal(d) => d.toDouble
    case JString(s)  => s
    case JNull       => null
    case other => throw new IllegalArgumentException(s"bad stat json: $other")
  }

  def actionToJson(a: Action): JValue = a match {
    case Add(p, st, dv) =>
      val base = ("a" -> "add") ~ ("f" -> p) ~ ("rows" -> st.rows) ~
        ("bytes" -> st.bytes) ~
        ("min" -> JObject(st.min.toList.sortBy(_._1)
          .map { case (k, v) => k -> statToJson(v) })) ~
        ("max" -> JObject(st.max.toList.sortBy(_._1)
          .map { case (k, v) => k -> statToJson(v) })) ~
        ("nulls" -> JObject(st.nulls.toList.sortBy(_._1)
          .map { case (k, v) => k -> JLong(v) }))
      dv.fold(base)(d => base ~ ("dvf" -> d.path) ~ ("dvRows" -> d.rows))
    case Remove(p) => ("a" -> "rm") ~ ("f" -> p)
    case Feature(n) => ("a" -> "feature") ~ ("name" -> n)
    case Constraint(n, e) =>
      ("a" -> "constraint") ~ ("name" -> n) ~ ("expr" -> e)
    case ColSpec(c, k, spec) =>
      ("a" -> "colspec") ~ ("col" -> c) ~ ("kind" -> k) ~
        ("spec" -> JObject(spec.toList.sortBy(_._1)
          .map { case (sk, sv) => sk -> JString(sv) }))
    case IdentityHwm(c, v) =>
      ("a" -> "idhwm") ~ ("col" -> c) ~ ("value" -> v)
    case CopiedFile(src) => ("a" -> "copied") ~ ("src" -> src)
    case Meta(op, ddl, statsCols, appId, batchId, ts, clusterBy, colMap,
              partitionBy) =>
      val base = ("a" -> "meta") ~ ("op" -> op) ~ ("schema" -> ddl) ~
        ("statsCols" -> statsCols) ~ ("appId" -> appId) ~
        ("batchId" -> batchId) ~ ("ts" -> ts) ~ ("clusterBy" -> clusterBy)
      val withMap =
        if (colMap.isEmpty) base
        else base ~ ("colMap" -> JObject(colMap.toList.sortBy(_._1)
          .map { case (k, v) => k -> JString(v) }))
      if (partitionBy.isEmpty) withMap
      else withMap ~ ("partitionBy" -> partitionBy)
  }

  def actionFromJson(j: JValue): Action = {
    def str(k: String): String =
      (j \ k) match { case JString(s) => s; case o => throw new
          IllegalArgumentException(s"missing/bad '$k' in $j: $o") }
    def lng(j2: JValue): Long = j2 match {
      case JLong(l) => l; case JInt(i) => i.toLong
      case o => throw new IllegalArgumentException(s"bad long: $o")
    }
    (j \ "a") match {
      case JString("add") =>
        def statMap(k: String): Map[String, Any] = (j \ k) match {
          case JObject(fs) => fs.map { case (c, v) => c -> statFromJson(v) }.toMap
          case _           => Map.empty
        }
        val nulls = (j \ "nulls") match {
          case JObject(fs) => fs.map { case (c, v) => c -> lng(v) }.toMap
          case _           => Map.empty[String, Long]
        }
        val dv = (j \ "dvf") match {
          case JString(p) => Some(Dv(p, lng(j \ "dvRows")))
          case _          => None
        }
        Add(str("f"), Stats(lng(j \ "rows"), lng(j \ "bytes"),
          statMap("min"), statMap("max"), nulls), dv)
      case JString("rm") => Remove(str("f"))
      case JString("feature") => Feature(str("name"))
      case JString("constraint") => Constraint(str("name"), str("expr"))
      case JString("colspec") =>
        val spec = (j \ "spec") match {
          case JObject(fs) => fs.collect {
            case (k, JString(v)) => k -> v
          }.toMap
          case _ => Map.empty[String, String]
        }
        ColSpec(str("col"), str("kind"), spec)
      case JString("idhwm") => IdentityHwm(str("col"), lng(j \ "value"))
      case JString("copied") => CopiedFile(str("src"))
      case JString("meta") =>
        val appId = (j \ "appId") match {
          case JString(s) => Some(s); case _ => None
        }
        val batchId = (j \ "batchId") match {
          case JLong(l) => Some(l); case JInt(i) => Some(i.toLong)
          case _        => None
        }
        val statsCols = (j \ "statsCols") match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _          => Nil
        }
        val clusterBy = (j \ "clusterBy") match {
          case JString(s) => Some(s); case _ => None
        }
        val colMap = (j \ "colMap") match {
          case JObject(fs) => fs.collect {
            case (k, JString(v)) => k -> v
          }.toMap
          case _ => Map.empty[String, String]
        }
        val partitionBy = (j \ "partitionBy") match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _          => Nil
        }
        Meta(str("op"), str("schema"), statsCols, appId, batchId,
          lng(j \ "ts"), clusterBy, colMap, partitionBy)
      case o => throw new IllegalArgumentException(s"unknown action: $o")
    }
  }

  // ---- Log IO ------------------------------------------------------

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](64 * 1024)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  def readCommit(fs: FileSystem, root: Path, v: Long): Seq[Action] =
    readString(fs, commitPath(root, v)).linesIterator
      .filter(_.nonEmpty).map(l => actionFromJson(JsonMethods.parse(l)))
      .toSeq

  /** Committed versions in ascending order (empty = no table). */
  def versions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json") &&
        !n.startsWith("."))
      .map(n => n.stripSuffix(".json").toLong).sorted.toSeq
  }

  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    versions(fs, root).lastOption

  /** Latest version whose commit timestamp (the Meta `ts`, driver
    * wall-clock at commit build time) is <= `tsMillis` — the
    * `timestampAsOf` resolution rule. Commit timestamps are read
    * newest-first so resolution touches O(answer distance from HEAD)
    * commit files, not the whole log.
    */
  def versionAtTimestamp(fs: FileSystem, root: Path, tsMillis: Long): Long = {
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no lake table at $root")
    def tsOf(v: Long): Long =
      readCommit(fs, root, v).collectFirst { case m: Meta => m.ts }
        .getOrElse(Long.MaxValue)
    vs.reverseIterator.find(v => tsOf(v) <= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version at or before timestamp $tsMillis " +
          s"(earliest commit is at ${tsOf(vs.head)})"))
  }

  /** First version whose commit timestamp is AT OR AFTER `tsMillis`
    * — the INCLUSIVE resolution `startingTimestamp` needs (a stream
    * replaying from a recorded commit timestamp must re-emit that
    * very commit; [[versionAtTimestamp]] answers the other question,
    * "state AS OF ts" = last commit <= ts). A timestamp predating the
    * log resolves to the first version; one past the newest commit
    * resolves to `last + 1` (emit only future commits) — both are the
    * natural ends of the same inclusive rule, so no case is an error
    * here. "No lake table at root" still refuses loudly: callers must
    * NOT see a wrong path as "stream from the beginning".
    */
  def firstVersionAtOrAfter(fs: FileSystem, root: Path,
                            tsMillis: Long): Long = {
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no lake table at $root")
    def tsOf(v: Long): Long =
      readCommit(fs, root, v).collectFirst { case m: Meta => m.ts }
        .getOrElse(Long.MaxValue)
    vs.find(v => tsOf(v) >= tsMillis).getOrElse(vs.last + 1)
  }

  private def render(actions: Seq[Action]): String = actions.map(a =>
    JsonMethods.compact(JsonMethods.render(actionToJson(a)))).mkString("\n")

  /** Put-if-absent, the log's one publish primitive: `body` lands at
    * `target` whole, and only if `target` does not exist yet. Returns
    * false when another writer got there first. The body is staged to
    * a hidden temp file beside `target`, then published per scheme
    * (the split Delta's `LocalLogStore` / `HDFSLogStore` make):
    *
    *  - `file`: a hard link, POSIX link(2), which fails atomically
    *    when the target exists. The temp file is written without a
    *    checksum sidecar, so the published file is one inode — never
    *    one writer's data beside another writer's `.crc`. Hadoop's
    *    local `FileContext.rename(..., Rename.NONE)` is NOT this: it
    *    is an exists-check then a replacing rename(2), with the
    *    sidecar renamed separately;
    *  - `hdfs`: `FileContext.rename(..., Rename.NONE)`, which the
    *    NameNode makes atomic;
    *  - any other scheme refuses until a store exists for it.
    */
  private def putIfAbsent(fs: FileSystem, target: Path,
                          body: String): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    fs.getUri.getScheme match {
      case "file" =>
        def local(p: Path) = Paths.get(fs.makeQualified(p).toUri.getPath)
        val staged = local(tmp)
        try {
          Files.write(staged, body.getBytes("UTF-8"),
            StandardOpenOption.CREATE_NEW)
          Files.createLink(local(target), staged)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally Files.deleteIfExists(staged): Unit
      case "hdfs" =>
        try {
          writeString(fs, tmp, body)
          FileContext.getFileContext(fs.getUri, fs.getConf).rename(
            fs.makeQualified(tmp), fs.makeQualified(target),
            Options.Rename.NONE)
          true
        } catch {
          case _: FileAlreadyExistsException => false
        } finally if (fs.exists(tmp)) fs.delete(tmp, false): Unit
      case other => throw new UnsupportedOperationException(
        s"lake log at $target: scheme '$other' has no atomic " +
          "put-if-absent here (supported: file, hdfs)")
    }
  }

  /** Atomic commit attempt at exactly `v` ([[putIfAbsent]]). Returns
    * false when some other writer won `v`; any other I/O failure
    * propagates — a disk error is not a lost race.
    */
  def tryCommit(fs: FileSystem, root: Path, v: Long,
                actions: Seq[Action]): Boolean = {
    fs.mkdirs(logDir(root))
    val target = commitPath(root, v)
    !fs.exists(target) && putIfAbsent(fs, target, render(actions))
  }

  /** Commit `actions` at the next free version, retrying lost races.
    * `guardFiles` + `baseVersion` are the rewrite conflict guard:
    * `baseVersion` is the snapshot version the caller computed its
    * rewrite against; whenever the log has advanced past it (a
    * concurrent commit landed — before our first attempt or by
    * winning a commit race), every file this commit supersedes
    * (removes OR re-adds with a new deletion vector) must still be
    * present in the current snapshot EXACTLY as the caller read it —
    * same stats, same DV. Liveness alone is not enough: a concurrent
    * merge-on-read delete leaves the path live but re-points its DV,
    * and a rewrite that read the old DV would resurrect those rows.
    * Any mismatch aborts loudly. Writes a checkpoint every
    * [[checkpointInterval]] commits. Returns the committed version.
    */
  def commit(fs: FileSystem, root: Path, actions: Seq[Action],
             guardFiles: Seq[Add] = Nil,
             baseVersion: Long = -1L,
             maxRetries: Int = 50,
             expectConstraints: Option[Map[String, String]] = None,
             dedupBatch: Option[(String, Long)] = None,
             expectExactFiles: Boolean = false,
             expectIdentityHwm: Option[Map[String, Long]] = None,
             guardCopies: Seq[String] = Nil,
             guardPartitions: Option[(Seq[String], Set[Seq[Option[Any]]])] =
               None): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val v = latestVersion(fs, root).map(_ + 1).getOrElse(0L)
      if ((guardFiles.nonEmpty || expectConstraints.nonEmpty ||
           dedupBatch.nonEmpty || expectExactFiles ||
           expectIdentityHwm.nonEmpty || guardCopies.nonEmpty ||
           guardPartitions.nonEmpty) &&
          v != baseVersion + 1) {
        val cur = snapshot(fs, root, None)
        // exactly-once streaming: re-check the (appId, batchId) token
        // INSIDE the retry loop — a zombie duplicate that slipped past
        // the caller's first snapshot read races the commit, and the
        // loser's retry must notice the token landed and abort, not
        // commit the batch twice
        dedupBatch.foreach { case (app, b) =>
          if (cur.committedBatches.getOrElse(app, Long.MinValue) >= b)
            throw new DuplicateBatchException(
              s"batch $b of app '$app' already committed (log advanced " +
                s"to v${cur.version} while this write was in flight)")
        }
        if (guardFiles.nonEmpty) {
          val live = cur.files.map(a => a.path -> a).toMap
          val stale = guardFiles.filter(g => !live.get(g.path).contains(g))
          if (stale.nonEmpty) throw new ConcurrentCommitException(
            "rewrite lost race: files removed or re-pointed by a " +
              s"concurrent commit: ${stale.map(_.path).take(3)}…")
        }
        // AUTHORITATIVE commits (REPLACE TABLE / INSERT OVERWRITE /
        // Complete-mode truncate) remove "the whole table" — which is
        // only well-defined if the live set still IS the snapshot the
        // writer read. guardFiles alone misses files a concurrent
        // commit ADDED; those would survive the replace in the commit
        // record (the replay rule clears them regardless, but the log
        // should say what happened: abort and let the caller re-read).
        if (expectExactFiles &&
            cur.filePaths != guardFiles.map(_.path).toSet)
          throw new ConcurrentCommitException(
            "replace/overwrite lost race: a concurrent commit changed " +
              s"the live file set (now ${cur.files.size} files, " +
              s"expected ${guardFiles.size}) — re-read and retry")
        // a writer validated its batch against the constraints it
        // read; if a concurrent ADD/DROP CONSTRAINT landed since,
        // committing would bypass the new gate — abort, the caller
        // re-runs against the new table policy
        expectConstraints.foreach { want =>
          if (cur.constraints != want) throw new ConcurrentCommitException(
            "write lost race: table constraints changed while the " +
              s"batch was being written (validated against $want, " +
              s"table now has ${cur.constraints}) — re-run the write")
        }
        // an identity-allocating write handed out values past the
        // watermark it READ; if a concurrent allocator advanced it
        // since, this commit's range may overlap — abort, the caller
        // re-reads and re-allocates (the serialization every identity
        // implementation needs)
        expectIdentityHwm.foreach { want =>
          if (cur.identityHwm != want) throw new ConcurrentCommitException(
            "identity allocation lost race: the high-water-mark moved " +
              s"(allocated from $want, table now at ${cur.identityHwm}) " +
              "— re-run the write")
        }
        // DYNAMIC partition overwrite replaces "every live file in the
        // partitions the batch touches" — which is only well-defined
        // if no concurrent commit ADDED a file into one of those
        // partitions since the writer planned (its rows would silently
        // survive a commit that claims to have replaced the
        // partition). guardFiles already pins the planned candidates;
        // this pins the complement. Appends to UNTOUCHED partitions
        // land freely — that is the point of dynamic mode.
        guardPartitions.foreach { case (partCols, touched) =>
          val candPaths = guardFiles.map(_.path).toSet
          val intruders = cur.files
            .filterNot(a => candPaths.contains(a.path))
            .filter(a => touched.contains(partCols.map(c =>
              a.stats.min.get(c))))
          if (intruders.nonEmpty) throw new ConcurrentCommitException(
            "dynamic overwrite lost race: a concurrent commit added " +
              "file(s) into a replaced partition: " +
              s"${intruders.map(_.path).take(3)}… — re-read and retry")
        }
        // two COPY INTOs racing over the same landing files: the
        // loser must notice the winner already loaded (some of) its
        // files and abort — committing would double-load their rows
        if (guardCopies.nonEmpty) {
          val dup = guardCopies.filter(cur.copiedFiles.contains)
          if (dup.nonEmpty) throw new ConcurrentCommitException(
            "COPY INTO lost race: file(s) loaded by a concurrent copy " +
              s"since this one planned: ${dup.take(3)}… — re-run (the " +
              "re-run will skip them)")
        }
      }
      if (tryCommit(fs, root, v, actions)) {
        if (v > 0 && v % checkpointInterval == 0) writeCheckpoint(fs, root, v)
        return v
      }
      attempt += 1
    }
    throw new ConcurrentCommitException(
      s"gave up after $maxRetries contended commit attempts at $root")
  }

  /** Max file actions inlined in (or sharded into) one checkpoint
    * part. Below this, the checkpoint is ONE manifest file exactly as
    * before; above it, Add actions shard into `<v>.checkpoint.<i>.part`
    * files (~10 MB each at ~100 B/file) written BEFORE the manifest —
    * manifest presence marks the checkpoint complete, and no single
    * driver-side string ever holds the whole 10^6-file table. Part
    * files deliberately do not end in `.json`, so the version listing
    * ignores them by construction.
    */
  private[lake] val checkpointPartRows = 100000

  private def checkpointPartPath(root: Path, v: Long, i: Int): Path =
    new Path(logDir(root), f"$v%020d.checkpoint.$i.part")

  private def writeCheckpoint(fs: FileSystem, root: Path, v: Long): Unit = {
    // incremental: replay from the PREVIOUS checkpoint, not version 0
    // — checkpoint cost is O(interval + files), never O(history)
    val snap = replay(fs, root, v, fromCheckpoint = true)
    val header =
      Meta("checkpoint", snap.schemaDdl, snap.statsCols, None, None,
        System.currentTimeMillis(), snap.clusterBy, snap.colMap,
        snap.partitionBy) +:
        (snap.features.toSeq.sorted.map(Feature(_)) ++
          snap.constraints.toSeq.sortBy(_._1).map {
            case (n, e) => Constraint(n, e)
          } ++
          snap.colSpecs.toSeq.sortBy(_._1).map(_._2) ++
          snap.identityHwm.toSeq.sortBy(_._1).map {
            case (c, v) => IdentityHwm(c, v)
          } ++
          snap.committedBatches.toSeq.sortBy(_._1).map { case (app, b) =>
            Meta("batchmark", snap.schemaDdl, Nil, Some(app), Some(b), 0L)
          })
    val p = checkpointPath(root, v)
    if (fs.exists(p)) return
    // only the winner of `v` writes its checkpoint, so a put never loses
    def put(target: Path, body: String): Unit =
      putIfAbsent(fs, target, body): Unit
    // CopiedFile entries scale with ingest history exactly like Adds
    // scale with the table — they shard into the same part files, so
    // no single driver-side string ever holds a 10^6-file ingest log
    val bulk: Seq[Action] =
      snap.files ++ snap.copiedFiles.toSeq.sorted.map(CopiedFile(_))
    if (bulk.size <= checkpointPartRows)
      put(p, render(header ++ bulk))
    else {
      val parts = bulk.grouped(checkpointPartRows).toSeq
      parts.zipWithIndex.foreach { case (fsPart, i) =>
        put(checkpointPartPath(root, v, i), render(fsPart))
      }
      // parts-count marker rides a Meta (batchId = count), so the
      // manifest stays a plain action stream for old readers of
      // single-file checkpoints
      put(p, render(header :+
        Meta("checkpointparts", "", Nil, None, Some(parts.size.toLong), 0L)))
    }
  }

  private def latestCheckpointAtOrBefore(fs: FileSystem, root: Path,
                                         v: Long): Option[Long] = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong)
      .filter(_ <= v).sorted.lastOption
  }

  /** Table state at `asOf` (default: latest). Replays from the newest
    * checkpoint at or before the target version. Time travel BELOW
    * the vacuum floor refuses loudly at resolution time — the files
    * may be gone, and the alternative is a FileNotFoundException deep
    * inside an executor task (or, with ignoreMissingFiles, silent
    * partial rows).
    */
  def snapshot(fs: FileSystem, root: Path, asOf: Option[Long]): Snapshot =
    snapshot(fs, root, asOf, enforceFloor = true)

  /** `enforceFloor = false` is for callers that fold METADATA only
    * and never open the files — vacuum replays pre-floor versions to
    * PROTECT their still-existing files (a keepFrom below the current
    * floor is legal and conservative: it deletes less), and refusing
    * there would make a second, wider-retention vacuum impossible.
    */
  private[lake] def snapshot(fs: FileSystem, root: Path, asOf: Option[Long],
                             enforceFloor: Boolean): Snapshot = {
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no lake table at $root")
    val target = asOf.getOrElse(vs.last)
    require(vs.contains(target),
      s"version $target not in log (have ${vs.headOption}..${vs.lastOption})")
    if (enforceFloor) asOf.foreach { v =>
      vacuumFloor(fs, root).foreach { case (keepFrom, horizonTs) =>
        if (v < keepFrom) throw new IllegalStateException(
          s"version $v of $root was vacuumed: the vacuum floor is " +
            s"$keepFrom (horizon ${java.time.Instant
              .ofEpochMilli(horizonTs)}) — files referenced below the " +
            "floor were deleted; time travel reaches versions >= " +
            s"$keepFrom only")
      }
    }
    replay(fs, root, target, fromCheckpoint = true)
  }

  // ---- vacuum floor -----------------------------------------------------

  private def floorPath(root: Path): Path =
    new Path(root, "_vacuum_floor.json")

  private def floorsDir(root: Path): Path =
    new Path(root, "_vacuum_floors")

  /** Advisory vacuum floor: (keepFromVersion, horizonTs) of the last
    * vacuum that deleted a file REFERENCED by a pre-floor version —
    * i.e. the oldest version whose files are still guaranteed
    * present. Written by [[graft.lake.LakeTable.vacuum]], read at
    * time-travel resolution so a vacuumed-away read refuses loudly
    * with the horizon instead of dying file-by-file inside tasks. A
    * marker, not a log action: readers need the LATEST floor when
    * resolving an OLD version, which a log action (living after the
    * target) could only provide via an O(versions) scan per read;
    * absence degrades to today's behavior (the scan itself still
    * fails loudly, never partially, under ignoreMissingFiles=false).
    */
  def vacuumFloor(fs: FileSystem, root: Path): Option[(Long, Long)] = {
    def parseBody(body: String): (Long, Long) = {
      val j = JsonMethods.parse(body)
      def lng(k: String): Long = (j \ k) match {
        case JLong(l) => l; case JInt(i) => i.toLong
        case o => throw new IllegalArgumentException(s"bad floor $k: $o")
      }
      (lng("keepFrom"), lng("horizonTs"))
    }
    // legacy single-file floor (pre-marker-dir tables) + the
    // per-keepFrom marker dir; the effective floor is the MAX across
    // both. Listing races with a concurrent marker write are benign:
    // a marker missed this read is seen by the next.
    val legacy =
      try {
        val p = floorPath(root)
        if (!fs.exists(p)) None else Some(parseBody(readString(fs, p)))
      } catch { case _: java.io.FileNotFoundException => None }
    val markers =
      try {
        val d = floorsDir(root)
        if (!fs.exists(d)) Nil
        else fs.listStatus(d).toSeq
          .filter(_.getPath.getName.endsWith(".json"))
          .map(st => parseBody(readString(fs, st.getPath)))
      } catch { case _: java.io.FileNotFoundException => Nil }
    (legacy.toSeq ++ markers).sortBy(_._1).lastOption
  }

  /** Monotone floor advance (a concurrent lower vacuum never
    * regresses it) — one IMMUTABLE marker file per keepFrom under
    * `_vacuum_floors/`, committed put-if-absent and never deleted
    * or overwritten; [[vacuumFloor]] takes the max. A single
    * read-check-then-replace file cannot be made monotone under
    * concurrent vacuums (keepFrom 5 and 10 interleaving so the LOWER
    * value's write lands last would silently regress the floor, and
    * the lower writer — re-reading its own value — has no reason to
    * retry); append-only markers are monotone by construction, and
    * the marker count grows only with vacuums that actually deleted
    * pre-floor files (a handful over a table's life).
    */
  def recordVacuumFloor(fs: FileSystem, root: Path, keepFrom: Long,
                        horizonTs: Long): Unit = {
    val cur = vacuumFloor(fs, root).map(_._1).getOrElse(Long.MinValue)
    if (keepFrom <= cur) return
    val dir = floorsDir(root)
    fs.mkdirs(dir)
    // false = another vacuum recorded the same keepFrom first: an
    // identical floor, nothing to retry
    putIfAbsent(fs, new Path(dir, f"$keepFrom%020d.json"),
      s"""{"keepFrom":$keepFrom,"horizonTs":$horizonTs}"""): Unit
  }

  private def replay(fs: FileSystem, root: Path, target: Long,
                     fromCheckpoint: Boolean): Snapshot = {
    val files = mutable.LinkedHashMap[String, Add]()
    var schemaDdl = ""
    var statsCols: Seq[String] = Nil
    var clusterBy: Option[String] = None
    var colMap: Map[String, String] = Map.empty
    var partitionBy: Seq[String] = Nil
    val batches = mutable.Map[String, Long]()
    val features = mutable.Set[String]()
    val constraints = mutable.LinkedHashMap[String, String]()
    val colSpecs = mutable.LinkedHashMap[String, ColSpec]()
    val identityHwm = mutable.Map[String, Long]()
    val copiedFiles = mutable.Set[String]()
    def one(a: Action): Unit = a match {
      case a: Add    => files(a.path) = a
      case Remove(p) => files.remove(p)
      case cs: ColSpec =>
        if (cs.spec.isEmpty) colSpecs.remove(cs.col)
        else colSpecs(cs.col) = cs
      case IdentityHwm(c, v) => identityHwm(c) = v
      case CopiedFile(src) => copiedFiles += src
      case Feature(n) =>
        if (!supportedFeatures.contains(n))
          throw new UnsupportedFeatureException(
            s"table at $root requires reader feature '$n' this build " +
              s"does not understand (supported: " +
              s"${supportedFeatures.toSeq.sorted.mkString(", ")}) — " +
              "refusing to mis-read it")
        features += n
      case Constraint(n, e) =>
        if (e.isEmpty) constraints.remove(n) else constraints(n) = e
      case Meta(op, ddl, sc, appId, batchId, _, cb, cm, pb) =>
        if (op == "replace") {
          // REPLACE TABLE is AUTHORITATIVE, not cumulative: the new
          // definition stands alone — cluster spec, column mapping and
          // stats columns are taken verbatim (including empty), CHECK
          // constraints and reader features of the replaced table are
          // cleared, and so is the LIVE FILE SET: only files added in
          // or after the replace commit survive. The commit itself
          // carries Removes for every file its writer saw (audit/CDF),
          // but the replay-side clear is what makes the replace
          // airtight — a file added by a commit that raced in between
          // the writer's snapshot and its replace commit must NOT stay
          // live under a schema/policy that was just authoritatively
          // reset (by-name reads would silently null its columns).
          // Streaming batch tokens survive: exactly-once protection
          // must not re-admit a replayed epoch just because the table
          // was replaced.
          schemaDdl = ddl; statsCols = sc; clusterBy = cb; colMap = cm
          partitionBy = pb
          constraints.clear()
          features.clear()
          files.clear()
          // the new definition's own ColSpecs ride the replace commit;
          // identity numbering and COPY INTO ingest memory restart
          // with the new table definition
          colSpecs.clear()
          identityHwm.clear()
          copiedFiles.clear()
        } else if (op == "overwrite") {
          // INSERT OVERWRITE / streaming Complete-mode truncate: the
          // same authoritative CONTENT reset (live file set cleared —
          // a racing concurrent append's files must not survive an
          // overwrite that never saw them), but policy (constraints,
          // features, cluster spec) is table metadata and stays.
          files.clear()
          if (ddl.nonEmpty) { schemaDdl = ddl }
          if (sc.nonEmpty) { statsCols = sc }
          if (cb.nonEmpty) { clusterBy = cb }
          if (cm.nonEmpty) { colMap = cm }
          if (pb.nonEmpty) { partitionBy = pb }
        } else {
          if (ddl.nonEmpty) { schemaDdl = ddl }
          if (sc.nonEmpty) { statsCols = sc }
          if (cb.nonEmpty) { clusterBy = cb }
          // complete-once-active: a schema commit under column mapping
          // always carries the FULL logical->physical map
          if (cm.nonEmpty) { colMap = cm }
          // partition spec is create-time immutable: set by the
          // create/convert/clone commit, carried by checkpoints
          if (pb.nonEmpty) { partitionBy = pb }
        }
        for (app <- appId; b <- batchId)
          batches(app) = math.max(b, batches.getOrElse(app, Long.MinValue))
    }
    val start = if (fromCheckpoint) {
      latestCheckpointAtOrBefore(fs, root, target) match {
        case Some(cv) =>
          var nParts = 0L
          readString(fs, checkpointPath(root, cv)).linesIterator
            .filter(_.nonEmpty)
            .map(l => actionFromJson(JsonMethods.parse(l))).foreach {
              case Meta("checkpoint", ddl, sc, _, _, _, cb, cm, pb) =>
                schemaDdl = ddl; statsCols = sc; clusterBy = cb
                colMap = cm; partitionBy = pb
              case Meta("batchmark", _, _, Some(app), Some(b), _, _, _, _) =>
                batches(app) = b
              case Meta("checkpointparts", _, _, _, Some(n), _, _, _, _) =>
                nParts = n
              case other => one(other)
            }
          (0L until nParts).foreach { i =>
            readString(fs, checkpointPartPath(root, cv, i.toInt))
              .linesIterator.filter(_.nonEmpty)
              .map(l => actionFromJson(JsonMethods.parse(l))).foreach(one)
          }
          cv + 1
        case None => 0L
      }
    } else 0L
    (start to target).foreach { v =>
      readCommit(fs, root, v).foreach(one)
    }
    Snapshot(target, schemaDdl, statsCols, files.values.toSeq, batches.toMap,
      clusterBy, features.toSet, constraints.toMap, colMap, partitionBy,
      colSpecs.toMap, identityHwm.toMap, copiedFiles.toSet)
  }
}
