package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import LakeLog._

/** Transactional copy-on-write table over parquet + [[LakeLog]] — the
  * lakehouse operations a 100 TB training-data pipeline leans on:
  *
  *  - `create` / `append` / `overwrite`: staged parquet writes; each
  *    commit's files land under a fresh `data/<uuid>/` directory, so
  *    uncommitted files are invisible (readers only see what the log
  *    references) and a failed writer leaves garbage, never corruption;
  *  - `scan` / `scanAsOf`: snapshot-isolated reads — a reader pins a
  *    version's file list and is immune to concurrent rewrites (TIME
  *    TRAVEL is the same call with an explicit version);
  *  - `scanPruned`: file skipping on the per-file min/max stats the
  *    log carries — the scan-layer pruning that replaces directory
  *    partitioning (see [[LakeLog]]); returns how many files were
  *    skipped so specs and operators can assert the pruning actually
  *    happened;
  *  - `deleteWhere` / `merge`: COPY-ON-WRITE row-level mutation.
  *    Stats-prune candidate files first, rewrite only those, commit
  *    remove+add atomically. The untouched majority of a 100 TB table
  *    is never read, never rewritten, never shuffled — candidate
  *    selection is the whole economics of row-level ops at scale;
  *  - `merge` is SQL MERGE latest-wins: a keyed changelog of upserts
  *    ('U') and deletes ('D') with a monotone per-key version column
  *    resolves per key (ties: 'D' wins, matching
  *    [[graft.operators.CdcMerge]]), then candidates = files whose
  *    [min,max] key range holds some changelog key — the others
  *    provably contain no changed key and are skipped;
  *  - `compact`: bin-pack files smaller than a threshold into
  *    ~target-sized files as a normal rewrite commit — readers never
  *    see a half-compacted table (contrast
  *    [[graft.operators.Compaction]], which rewrites a bare directory
  *    in place with no isolation);
  *  - `vacuum`: physically delete data files referenced by no retained
  *    version (time travel older than the retention floor then fails
  *    at read — the standard lakehouse contract).
  *
  * Everything data-sized runs as Spark jobs over the referenced
  * parquet; the driver only touches the KB-sized log.
  */
object LakeTable {

  /** Inclusive-bounds range predicate on one column, the unit of both
    * file skipping and the row filter (`None` = unbounded side).
    * Stats/pruning columns are restricted to integral, floating and
    * string types — encode dates as ISO strings or epoch ints, as the
    * fixture tables do.
    */
  final case class ColRange(column: String, lo: Option[Any], hi: Option[Any])

  final case class PruneReport(filesTotal: Int, filesRead: Int) {
    def filesSkipped: Int = filesTotal - filesRead
  }
  final case class RewriteReport(version: Long, filesRewritten: Int,
                                 filesAdded: Int, filesUntouched: Int)
  final case class VacuumReport(filesDeleted: Int, bytesDeleted: Long)

  private def fs(spark: SparkSession, root: Path) =
    LakeLog.fileSystem(root, spark.sparkContext.hadoopConfiguration)

  private def now(): Long = System.currentTimeMillis()

  // ---- staged writes with stats ------------------------------------

  /** Normalize a collected stats value to the Long/Double/String
    * domain [[LakeLog.Stats]] serializes.
    */
  private[lake] def normalizeStat(v: Any): Any = v match {
    case null                 => null
    case l: java.lang.Long    => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short   => s.longValue()
    case b: java.lang.Byte    => b.longValue()
    case d: java.lang.Double  => d.doubleValue()
    case f: java.lang.Float   => f.doubleValue()
    case s: String            => s
    case other => throw new IllegalArgumentException(
      s"unsupported stats column value ${other.getClass}")
  }

  private def requireStatsColsSupported(schema: StructType,
                                        statsCols: Seq[String]): Unit =
    statsCols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"stats column '$c' not in schema"))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"stats column '$c' has unsupported type $dt — use integral/" +
            "floating/string (encode dates as ISO strings or epoch ints)")
      }
    }

  /** Write `df` as `nFiles` parquet files under a fresh per-commit
    * `data/<uuid>/` staging directory and return their Add actions
    * with per-file stats, folded by the lake's one data-file writer
    * ([[LakeStreamDataWriter]], the streaming sink's and staged CTAS's
    * too) inside the write tasks: the write is the commit's last job,
    * and nothing reads its own output back.
    *
    * One arrangement covers every layout: range-partition by
    * (partition cols ++ order key) into `nFiles` tasks and sort within
    * each, where the order key is the cluster column or the
    * range-normalized curve key of a `z:`/`h:` spec. Each file then
    * covers a contiguous key range (tight, disjoint min/max — the
    * layout that makes skipping bite; same idea as
    * [[graft.operators.Compaction]]'s range-clustered mode), and a
    * partitioned write rolls to a new file at each partition-value
    * boundary, so a task holding three days writes three files. File
    * CONTENT excludes the partition columns (pure hive layout — what
    * CONVERT TO LAKE adopts in place); their per-file value is
    * recorded as min==max stats, which is where reads and pruning get
    * them back. Without an order key rows spread over `nFiles` tasks.
    * One file needs no shuffle at all, ordered or not: one task sorts
    * and writes it.
    */
  private def writeDataFiles(spark: SparkSession, root: Path, df: DataFrame,
                             statsCols: Seq[String], nFiles: Int,
                             clusterBy: Option[String],
                             colMap: Map[String, String] = Map.empty,
                             partitionBy: Seq[String] = Nil)
      : Seq[Add] = {
    require(nFiles > 0, "nFiles must be positive")
    requireStatsColsSupported(df.schema, statsCols)
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column '$c' not in write schema ${df.columns.toSeq}"))
    // multi-dimensional layout: the curve key interleaves the recorded
    // columns so every file carries tight min/max bounds on ALL of
    // them — a predicate on any dimension prunes. Rewrites re-enter
    // here with the same recorded spec, so maintenance preserves it.
    // Values outside the curve's guarded domain become NULL so the
    // key's own assert fails LOUDLY instead of wrapping into a wrong
    // (but silent) position. On a partitioned table the curve orders
    // rows WITHIN each partition directory; it must not span partition
    // columns themselves (their value is constant per directory;
    // interleaving a constant wastes key bits) — refused loudly.
    val curveKey: Option[Column] = clusterBy.collect {
      case spec if spec.startsWith("z:") || spec.startsWith("h:") =>
        val dims = spec.drop(2).split(",").toSeq
        dims.filter(partitionBy.contains) match {
          case Nil => ()
          case overlap => throw new IllegalArgumentException(
            s"curve cluster spec '$spec' references partition " +
              s"column(s) ${overlap.mkString(", ")} — a partition " +
              "column is constant within its directory; curve-cluster " +
              "the non-partition dimensions only")
        }
        def dim(c: String) =
          when(col(c).between(0, Int.MaxValue), col(c)).cast("int")
        graft.operators.ZOrder.normalizedCurveKey(df, dims.map(dim),
          hilbert = spec.startsWith("h:"))
    }
    val (keyed, orderCols) = curveKey match {
      case Some(k) => (df.withColumn("__curve", k), partitionBy :+ "__curve")
      case None =>
        (df, partitionBy ++ clusterBy.filterNot(partitionBy.contains).toSeq)
    }
    val arranged =
      if (orderCols.nonEmpty)
        (if (nFiles == 1) keyed.coalesce(1)
         else keyed.repartitionByRange(nFiles, orderCols.map(col): _*))
          .sortWithinPartitions(orderCols.map(col): _*)
          .drop("__curve") // projection preserves the per-task order
      else if (nFiles == 1) df.coalesce(1)
      else df.repartition(nFiles)
    val sub = s"data/${java.util.UUID.randomUUID()}"
    // files carry PHYSICAL column names and record stats under them —
    // the same key pre-mapping files used — so lookups translate once
    // via the snapshot's mapping and a rename never invalidates the
    // skipping index
    val factory = LakeStreamWriterFactory(spark, root.toString, sub,
      df.schema, statsCols, partitionBy, colMap)
    try LakeStreamWriterFactory.writeBatch(arranged, factory)
    catch { case e: Throwable =>
      // the committed tasks' files are unreferenced: drop the staging
      // dir now rather than leave it to vacuum
      fs(spark, root).delete(new Path(root, sub), true)
      throw e
    }
  }

  // ---- create / append / overwrite ---------------------------------

  /** Cluster-spec for n-D z-order layout (2-4 columns), usable
    * anywhere a `clusterBy` column name is: `create(..., clusterBy =
    * Some(LakeTable.zCluster("x", "y")))`. Columns must be
    * non-negative integers (the guarded curve domain; with k > 2
    * columns each must fit in 63/k bits) and should also be stats
    * columns so the skipping index sees the per-file bounds the
    * layout tightened.
    */
  def zCluster(cols: String*): String = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zCluster takes 2-4 columns, got ${cols.size}")
    s"z:${cols.mkString(",")}"
  }

  /** Cluster-spec for HILBERT-curve layout (2-4 columns) —
    * [[zCluster]]'s better-locality sibling (consecutive curve cells
    * are always adjacent, so per-file bounding boxes are tighter than
    * Morton's on the same data and file count). Same non-negative-int
    * domain contract; 2-D runs the codegen'd order-31 walk, 3-D/4-D
    * the Skilling-transform kernels.
    */
  def hilbertCluster(cols: String*): String = {
    require(cols.size >= 2 && cols.size <= 4,
      s"hilbertCluster takes 2-4 columns, got ${cols.size}")
    s"h:${cols.mkString(",")}"
  }

  /** Integral + string only: float directory names have formatting
    * pitfalls, and anything else has no stats form to carry the
    * per-file value in.
    */
  private[lake] def requirePartitionColsSupported(schema: StructType,
                                                  partCols: Seq[String])
      : Unit =
    partCols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '$c' not in schema"))
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"partition column '$c' has unsupported type $dt — partition " +
            "by integral/string columns (encode dates as ISO strings or " +
            "epoch ints)")
      }
    }

  /** `checks`: inline CHECK constraints folded into the CREATE commit
    * itself — the table is never visible without them (a post-create
    * ADD CONSTRAINT loop would leave a half-constrained table behind
    * a crash). `df`'s rows are validated against them first.
    * `partitionBy`: hive-style directory partitioning (create-time
    * immutable); partition columns are auto-added to the stats
    * columns — per-file min==max stats are where reads and pruning
    * get the values back from.
    */
  def create(spark: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String], nFiles: Int = 8,
             clusterBy: Option[String] = None,
             checks: Seq[(String, String)] = Nil,
             partitionBy: Seq[String] = Nil,
             colSpecs: Seq[LakeLog.ColSpec] = Nil): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    require(LakeLog.latestVersion(f, rootP).isEmpty,
      s"lake table already exists at $root")
    // the schema may arrive decorated with the analyzer's semantics
    // metadata (DEFAULT clauses) — the log's DDL stays plain, the
    // semantics live as ColSpec actions
    val schema = LakeColumns.strip(df.schema)
    requirePartitionColsSupported(schema, partitionBy)
    LakeColumns.validate(spark, schema, colSpecs, partitionBy)
    val specMap = colSpecs.map(cs => cs.col -> cs).toMap
    val (df1, alloc) = LakeColumns.applyWriteSemantics(
      spark, schema, specMap, Map.empty, df)
    enforceConstraints(df1, checks.toMap, "create")
    val conActions =
      if (checks.isEmpty) Nil
      else LakeLog.Feature("check-constraints") +:
        checks.map { case (n, e) => LakeLog.Constraint(n, e) }
    val semActions =
      if (colSpecs.isEmpty) Nil
      else LakeLog.Feature("column-semantics") +: colSpecs
    val allStats = LakeColumns.statsColsFor(
      statsCols ++ partitionBy.filterNot(statsCols.contains), specMap)
    val adds = writeDataFiles(spark, rootP, df1, allStats, nFiles, clusterBy,
      partitionBy = partitionBy)
    LakeLog.commit(f, rootP,
      (Meta("create", schema.toDDL, allStats, None, None, now(),
        clusterBy, partitionBy = partitionBy) +:
        (conActions ++ semActions)) ++ adds ++ alloc.hwmActions(adds))
  }

  /** `CONVERT TO LAKE` — IN-PLACE adoption of an existing parquet
    * directory (flat, or hive-partitioned `col=value/` layout): the
    * first operation anyone with 100 TB of existing parquet runs.
    * METADATA-ONLY: one v0 commit Adds every existing file where it
    * sits — zero data bytes written, zero files moved. Per-file
    * min/max/null/rowCount stats come from the parquet FOOTERS (a
    * distributed KB-per-file metadata read, never a data scan — at
    * 10^6 files this is the difference between minutes and a
    * full-table pass), so the skipping index is live from version 0.
    * Hive partition values are parsed from the paths, recorded as the
    * same min==max stats every partitioned write produces, and the
    * directory becomes a normal PARTITIONED lake table — later
    * appends land under `data/<uuid>/<col>=<value>/`, DML, time
    * travel, CDF, compaction and vacuum all work. Footer stats for
    * strings are unsigned-lexicographic (UTF-8 byte order) — the same
    * order [[cmp]] probes with. A footer without usable statistics
    * for a column simply leaves that file unprunable on it
    * (mayMatch's conservative read) — never a correctness event.
    */
  def convert(spark: SparkSession, root: String,
              statsCols: Option[Seq[String]] = None): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    require(f.exists(rootP), s"no directory at $root")
    require(LakeLog.latestVersion(f, rootP).isEmpty,
      s"already a lake table: $root")

    // candidate files: everything *.parquet under root, skipping the
    // lake's own namespaces and _-prefixed markers (_SUCCESS etc.)
    val qualRoot = f.makeQualified(rootP).toUri.getPath
    val it = f.listFiles(rootP, true)
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(qualRoot + "/")
      val top = rel.takeWhile(_ != '/')
      if (rel.endsWith(".parquet") && !top.startsWith("_") &&
          top != "data" && top != "dv" &&
          !rel.split('/').exists(_.startsWith("_")))
        found += ((rel, st.getLen))
    }
    require(found.nonEmpty, s"no parquet files under $root")
    val files = found.toSeq.sortBy(_._1)

    // partition layout from the paths: every file must carry the SAME
    // k=v directory chain (flat = none) — anything else is not a hive
    // layout and refuses rather than guessing
    def partChain(rel: String): Seq[String] = {
      val dirs = rel.split('/').dropRight(1).toSeq
      require(dirs.forall(_.contains('=')),
        s"mixed layout: '$rel' nests non-partition directories — " +
          "CONVERT TO LAKE accepts flat or hive-partitioned layouts")
      dirs.map(_.takeWhile(_ != '='))
    }
    val partitionBy = partChain(files.head._1)
    files.foreach(fl => require(partChain(fl._1) == partitionBy,
      s"inconsistent partition layout: '${fl._1}' vs $partitionBy"))

    // schema: Spark's own footer-based inference (+ partition
    // discovery types for the path columns)
    val inferred = spark.read.parquet(root).schema
    requirePartitionColsSupported(inferred, partitionBy)
    val chosen = statsCols.getOrElse(inferred.fields.collect {
      case fd if LakeStagedTable.statsSupported(fd.dataType) => fd.name
    }.toSeq)
    requireStatsColsSupported(inferred, chosen)
    val allStats = chosen ++ partitionBy.filterNot(chosen.contains)
    val contentStats = allStats.filterNot(partitionBy.contains)
      .map(c => c -> inferred(c).dataType).toMap

    // distributed footer pass: each task opens only footers (KBs per
    // file); the driver gets back one Stats per file
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rootStr = rootP.toString
    val statsByRel: Map[String, Stats] = spark.sparkContext
      .parallelize(files, math.min(files.size, 64).max(1))
      .map { case (rel, bytes) =>
        rel -> LakeTable.footerStats(conf.value, rootStr, rel, bytes,
          contentStats)
      }.collect().toMap

    def partVal(rel: String, c: String): Option[Any] = {
      val raw = rel.split('/').dropRight(1)
        .find(_.startsWith(c + "=")).get.drop(c.length + 1)
      val unescaped = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(raw)
      if (unescaped == "__HIVE_DEFAULT_PARTITION__") None
      else inferred(c).dataType match {
        case StringType => Some(unescaped)
        case _          => Some(unescaped.toLong)
      }
    }
    val adds = files.map { case (rel, _) =>
      val base = statsByRel(rel)
      val pvals = partitionBy.flatMap(c => partVal(rel, c).map(c -> _))
      val pnulls = partitionBy.map(c =>
        c -> (if (partVal(rel, c).isEmpty) base.rows else 0L))
      Add(rel, base.copy(
        min = base.min ++ pvals, max = base.max ++ pvals,
        nulls = base.nulls ++ pnulls))
    }
    LakeLog.commit(f, rootP,
      Meta("convert", inferred.toDDL, allStats, None, None, now(), None,
        partitionBy = partitionBy) +: adds)
  }

  /** Footer-only stats of one parquet file: row count from the block
    * metadata, min/max/nulls per requested column aggregated across
    * row groups. A column whose statistics are absent, truncated away
    * or of an unexpected physical type contributes nothing (file
    * unprunable on it). Runs on executors.
    */
  private[lake] def footerStats(conf: org.apache.hadoop.conf.Configuration,
                                root: String, rel: String, bytes: Long,
                                cols: Map[String, DataType]): Stats = {
    import org.apache.parquet.column.statistics.{BinaryStatistics,
      DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics}
    val p = new Path(new Path(root), rel)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.Map[String, Any]()
      val maxs = scala.collection.mutable.Map[String, Any]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      val dropped = scala.collection.mutable.Set[String]()
      for (b <- blocks; cc <- b.getColumns.asScala) {
        val name = cc.getPath.toDotString
        cols.get(name).foreach { want =>
          val st = cc.getStatistics
          // hasNonNullValue=false means the chunk publishes NO bounds
          // (all-null, or a writer that omitted them) — genericGetMin
          // on such stats returns type defaults, never read them
          val v: Option[(Any, Any)] =
            if (st == null || st.isEmpty || !st.hasNonNullValue) None
            else (want, st) match {
              case (ByteType | ShortType | IntegerType, s: IntStatistics) =>
                Some((s.getMin.toLong, s.getMax.toLong))
              case (LongType, s: LongStatistics) =>
                Some((s.getMin, s.getMax))
              case (FloatType, s: FloatStatistics) =>
                Some((s.getMin.toDouble, s.getMax.toDouble))
              case (DoubleType, s: DoubleStatistics) =>
                Some((s.getMin, s.getMax))
              case (StringType, s: BinaryStatistics) =>
                Some((s.genericGetMin.toStringUsingUTF8,
                  s.genericGetMax.toStringUsingUTF8))
              case _ => None
            }
          val allNull = st != null && !st.isEmpty &&
            !st.hasNonNullValue && st.getNumNulls == cc.getValueCount
          v match {
            case Some((lo, hi)) if !dropped(name) =>
              if (mins.get(name).forall(m => cmp(lo, m).exists(_ < 0)))
                mins(name) = lo
              if (maxs.get(name).forall(m => cmp(hi, m).exists(_ > 0)))
                maxs(name) = hi
            case None if !allNull =>
              // one block without stats poisons the file's bound
              dropped += name
              mins.remove(name); maxs.remove(name)
            case _ => () // all-null block: contributes no bound
          }
          if (st != null && st.getNumNulls >= 0)
            nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
        }
      }
      Stats(rows, bytes, mins.toMap, maxs.toMap, nulls.toMap)
    } finally reader.close()
  }

  private def requireSameSchema(existing: String, df: DataFrame): Unit = {
    val want = StructType.fromDDL(existing)
    val got = df.schema
    require(want.fields.map(fd => (fd.name, fd.dataType)).toSeq ==
      got.fields.map(fd => (fd.name, fd.dataType)).toSeq,
      s"schema mismatch: table has $want, append has $got")
  }

  /** ADDITIVE schema evolution: incoming columns that already exist
    * must keep their exact type (no widening/renames — those are
    * rewrites, not appends); genuinely new columns join the table
    * schema as nullable, AFTER the existing columns. Incoming may
    * also OMIT existing columns — parquet reads fill them with null.
    * Readers resolve columns by name, so nothing old is rewritten:
    * old files simply lack the new column and read as null, the
    * standard lakehouse evolution contract.
    */
  /** The wider of two types when one losslessly contains the other
    * WITHIN a family (byte<short<int<long; float<double) — the
    * parquet vectorized reader upcasts narrow file columns under the
    * widened read schema, so widening is a metadata-only evolution.
    * Cross-family changes (int -> double) are value-rewriting and
    * refused.
    */
  private def widenedType(a: DataType, b: DataType): Option[DataType] = {
    val ints: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val floats: Seq[DataType] = Seq(FloatType, DoubleType)
    Seq(ints, floats).collectFirst {
      case fam if fam.contains(a) && fam.contains(b) =>
        fam(math.max(fam.indexOf(a), fam.indexOf(b)))
    }
  }

  private def evolvedSchemaDdl(existing: String, df: DataFrame,
                               widen: Boolean): String =
    evolvedSchemaDdl(existing, df.schema, widen)

  private[lake] def evolvedSchemaDdl(existing: String, incoming: StructType,
                                     widen: Boolean = false): String = {
    val table = StructType.fromDDL(existing)
    val updated = table.fields.map { t =>
      incoming.fields.find(_.name == t.name) match {
        case Some(fd) if fd.dataType == t.dataType => t
        case Some(fd) if widen =>
          val w = widenedType(t.dataType, fd.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"column ${t.name}: ${t.dataType} -> ${fd.dataType} is not " +
                "a lossless in-family widening (byte<short<int<long, " +
                "float<double) — that change is a table rewrite"))
          t.copy(dataType = w)
        case Some(fd) =>
          throw new IllegalArgumentException(
            s"mergeSchema is additive-only: column ${t.name} has type " +
              s"${t.dataType} in the table but ${fd.dataType} in the " +
              "append (pass widenTypes=true for lossless in-family " +
              "widening)")
        case None => t
      }
    }
    val fresh = incoming.fields
      .filterNot(fd => table.fieldNames.contains(fd.name))
      .map(_.copy(nullable = true))
    StructType(updated ++ fresh).toDDL
  }

  /** Refuse a streaming (appId, batchId) token the snapshot already
    * holds — the write-side half of exactly-once (the commit-time
    * half is [[LakeLog.commit]]'s `dedupBatch` re-check, which
    * catches tokens landing between this read and the commit).
    */
  private def requireFreshBatch(snap: LakeLog.Snapshot,
                                appId: Option[String],
                                batchId: Option[Long]): Unit =
    for (app <- appId; b <- batchId)
      if (snap.committedBatches.getOrElse(app, Long.MinValue) >= b)
        throw new LakeLog.DuplicateBatchException(
          s"batch $b of app '$app' already committed at table version " +
            s"${snap.version}")

  def append(spark: SparkSession, root: String, df0: DataFrame,
             nFiles: Int = 4, clusterBy: Option[String] = None,
             appId: Option[String] = None,
             batchId: Option[Long] = None,
             mergeSchema: Boolean = false,
             widenTypes: Boolean = false,
             copiedSources: Seq[String] = Nil): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    requireFreshBatch(snap, appId, batchId)
    // column semantics run FIRST: fill omitted defaulted columns,
    // compute generated columns, allocate identity values — the batch
    // then faces the same schema/constraint gates as any other
    val (df, alloc) = LakeColumns.applyWriteSemantics(spark,
      StructType.fromDDL(snap.schemaDdl), snap.colSpecs, snap.identityHwm,
      df0)
    val ddl =
      if (mergeSchema) evolvedSchemaDdl(snap.schemaDdl, df, widenTypes)
      else { requireSameSchema(snap.schemaDdl, df); snap.schemaDdl }
    // widening (int->long, float->double, opt-in): old files read
    // through the widened schema via the parquet reader's upcast —
    // nothing rewritten; the incoming batch is cast UP to the evolved
    // types (it may itself be the narrow side of the widening)
    val evolved = StructType.fromDDL(ddl)
    val dfw =
      if (!widenTypes) df
      else df.select(df.columns.map { c =>
        val want = evolved(c).dataType
        if (df.schema(c).dataType == want) col(c) else col(c).cast(want)
      }: _*)
    val widenedCols = StructType.fromDDL(snap.schemaDdl).fields
      .filter(t => evolved.fieldNames.contains(t.name) &&
        evolved(t.name).dataType != t.dataType).map(_.name)
    // mapping active: evolution columns need fresh physical names
    // (never reuse a dropped column's slot)
    val oldNames = StructType.fromDDL(snap.schemaDdl).fieldNames.toSet
    val evoMap =
      if (snap.colMap.isEmpty) Map.empty[String, String]
      else snap.colMap ++ evolved.fieldNames.filterNot(oldNames.contains)
        .map(n => n -> freshPhysical())
    // CHECK the batch exactly as readers will see it (omitted
    // evolution columns read as null, and NULL passes a SQL CHECK)
    enforceConstraints(padToSchema(dfw, ddl), snap.constraints, "append")
    // a mergeSchema append may OMIT existing columns — including stats
    // columns. Files written without a column carry no min/max for it
    // (mayMatch treats missing stats as "may match", the conservative
    // read that is also exactly right: the column is all-null there),
    // so only measure stats for columns the batch actually has
    val fileStatsCols = LakeColumns.statsColsFor(
      snap.statsCols.filter(dfw.columns.contains), snap.colSpecs)
    val effMap = if (evoMap.isEmpty) snap.colMap else evoMap
    // a mergeSchema append must still carry the partition columns —
    // partitioned files cannot null-fill them from the path
    snap.partitionBy.foreach(c => require(dfw.columns.contains(c),
      s"append to a partitioned table must include partition column '$c'"))
    val adds = writeDataFiles(spark, rootP, dfw, fileStatsCols, nFiles,
      clusterBy.orElse(snap.clusterBy), effMap, snap.partitionBy)
    LakeLog.commit(f, rootP,
      ((Meta(if (copiedSources.isEmpty) "append" else "copyinto", ddl,
        snap.statsCols, appId, batchId,
        now(), colMap = effMap) +:
        (if (widenedCols.isEmpty) Nil
         else Seq(LakeLog.Feature("type-widening")))) ++ adds) ++
        alloc.hwmActions(adds) ++
        copiedSources.map(LakeLog.CopiedFile(_)),
      baseVersion = snap.version,
      expectConstraints = Some(snap.constraints),
      dedupBatch = appId.zip(batchId),
      expectIdentityHwm = if (alloc.isEmpty) None else Some(alloc.baseHwm),
      guardCopies = copiedSources)
  }

  /** `COPY INTO <table> FROM '<dir>'` — idempotent FILE-grain ingest
    * of a parquet landing directory, the standing companion to
    * `CONVERT TO LAKE`: convert adopts the data you already have,
    * COPY INTO keeps loading what keeps arriving. Every successfully
    * loaded source file is recorded as a [[LakeLog.CopiedFile]] in
    * the SAME commit as its rows, so a re-run (cron retry, failed
    * orchestrator step, a second team member) subtracts the replayed
    * set and loads only genuinely new files — exactly-once ingest
    * without a streaming checkpoint. Racing copies are safe: the
    * commit aborts if a concurrent copy loaded any of this run's
    * files first (`guardCopies`).
    *
    * Schema contract (strict, Delta-parity): every incoming column
    * must exist in the table (extra columns refuse); types must match
    * or losslessly upcast; table columns missing from the source
    * refuse UNLESS column semantics fill them (DEFAULT / GENERATED /
    * IDENTITY — ingest composes with the declarative column features,
    * so a landing feed without ids gets them allocated on the way in).
    *
    * Returns (filesLoaded, rowsLoaded, filesSkipped).
    */
  def copyInto(spark: SparkSession, root: String, from: String,
               pattern: Option[String] = None): (Long, Long, Long) = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val fromP = new Path(from)
    val srcFs = LakeLog.fileSystem(fromP,
      spark.sparkContext.hadoopConfiguration)
    require(srcFs.exists(fromP), s"COPY INTO source not found: $from")
    val qualFrom = srcFs.makeQualified(fromP).toUri.toString
    val matcher = pattern.map(p => java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + p))
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = srcFs.listFiles(fromP, true)
    while (it.hasNext) {
      val st = it.next()
      val uri = st.getPath.toUri.toString
      val rel = uri.stripPrefix(qualFrom).stripPrefix("/")
      if (uri.endsWith(".parquet") &&
          !rel.split('/').exists(_.startsWith("_")) &&
          matcher.forall(_.matches(
            java.nio.file.Paths.get(rel))))
        found += uri
    }
    val (skipped, fresh) = found.sorted.partition(snap.copiedFiles.contains)
    if (fresh.isEmpty) return (0L, 0L, skipped.size.toLong)

    val schema = StructType.fromDDL(snap.schemaDdl)
    val raw = spark.read.parquet(fresh.toSeq: _*)
    val extra = raw.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty,
      s"COPY INTO: source carries column(s) ${extra.mkString(", ")} the " +
        "table does not have — evolve the table first or fix the feed")
    val missing = schema.fields.filterNot(fd =>
      raw.columns.contains(fd.name) || snap.colSpecs.contains(fd.name))
    require(missing.isEmpty,
      s"COPY INTO: source is missing column(s) " +
        s"${missing.map(_.name).mkString(", ")} (only DEFAULT/GENERATED/" +
        "IDENTITY columns may be omitted)")
    val aligned = raw.select(raw.columns.toSeq.map { c =>
      val want = schema(c).dataType
      val got = raw.schema(c).dataType
      if (got == want) col(c)
      else {
        require(org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(got, want),
          s"COPY INTO: column '$c' is ${got.sql} in the source but " +
            s"${want.sql} in the table — not a lossless upcast")
        col(c).cast(want)
      }
    }: _*)
    // parquet count() is a footer-only job — rows reported without a
    // data pass
    val rows = raw.count()
    append(spark, root, aligned, nFiles = math.max(2, fresh.size / 4),
      copiedSources = fresh.toSeq)
    (fresh.size.toLong, rows, skipped.size.toLong)
  }

  /** Metadata-only ADDITIVE evolution — `ALTER TABLE ... ADD COLUMNS`:
    * the new columns join the schema as nullable, AFTER the existing
    * ones; no file moves, existing files read the columns as null
    * (the same by-name back-fill contract as a mergeSchema append).
    * Duplicate names are refused; constraints/clusterBy/statsCols are
    * untouched (a Meta-only commit never resets cumulative actions).
    */
  def addColumns(spark: SparkSession, root: String,
                 cols: Seq[StructField],
                 colSpecs: Seq[LakeLog.ColSpec] = Nil): Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val existing = StructType.fromDDL(snap.schemaDdl)
    val clash = cols.map(_.name).filter(n =>
      existing.fieldNames.contains(n))
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} already exist — evolution is " +
        "additive (no renames/retypes without a rewrite)")
    val evolved = StructType(existing.fields ++
      cols.map(c => LakeColumns.strip(StructType(Seq(c))).head
        .copy(nullable = true)))
    // ADD COLUMN ... DEFAULT: the "exists" default makes every file
    // written BEFORE this commit read the default back (the parquet
    // reader's EXISTS_DEFAULT machinery) — a metadata-only backfill
    require(colSpecs.forall(cs => cols.exists(_.name == cs.col)),
      "addColumns specs must target the added columns")
    // only DEFAULT can join after the fact: a generated/identity
    // column would need values computed INTO existing rows — a
    // rewrite this format refuses to imply
    colSpecs.find(_.kind != LakeColumns.KindDefault).foreach(cs =>
      throw new UnsupportedOperationException(
        s"ADD COLUMN ${cs.col}: ${cs.kind} columns can only be declared " +
          "at CREATE/REPLACE TABLE (existing rows cannot be backfilled " +
          "without a rewrite)"))
    LakeColumns.validate(spark, evolved, colSpecs, snap.partitionBy)
    val semActions =
      if (colSpecs.isEmpty) Nil
      else LakeLog.Feature("column-semantics") +: colSpecs
    // under column mapping, a NEW column must never reuse a dropped
    // column's physical name (old files' orphaned values would
    // resurrect into it) — fresh columns get uuid physical names
    val colMap =
      if (snap.colMap.isEmpty) Map.empty[String, String]
      else snap.colMap ++ cols.map(c => c.name -> freshPhysical())
    LakeLog.commit(f, rootP,
      Meta("altertable", evolved.toDDL, snap.statsCols, None, None, now(),
        colMap = colMap) +: semActions)
  }

  /** `ALTER TABLE ... ALTER COLUMN c SET DEFAULT e` / `DROP DEFAULT`:
    * one metadata commit changing the CURRENT default (what future
    * INSERTs fill). The EXISTS default — what files written before
    * the column existed read back — is deliberately PRESERVED across
    * both: dropping it would silently flip those files' rows from the
    * declared default to NULL, i.e. rewrite history with a metadata
    * statement.
    */
  def setColumnDefault(spark: SparkSession, root: String, colName: String,
                       current: Option[String]): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    require(schema.fieldNames.contains(colName),
      s"no column '$colName'")
    val old = snap.colSpecs.get(colName)
    old.filter(_.kind != LakeColumns.KindDefault).foreach(cs =>
      throw new UnsupportedOperationException(
        s"column '$colName' is ${cs.kind} — it cannot carry a DEFAULT"))
    val keepExists = old.map(_.spec).getOrElse(Map.empty)
      .get("exists").map("exists" -> _)
    val spec = current match {
      case Some(sql) => Map("current" -> sql) ++ keepExists
      case None      => keepExists.toMap // empty map drops the entry
    }
    val cs = LakeLog.ColSpec(colName, LakeColumns.KindDefault, spec)
    if (current.isDefined)
      LakeColumns.validate(spark, schema, Seq(cs), snap.partitionBy)
    LakeLog.commit(f, rootP, Seq(
      Meta("setdefault", snap.schemaDdl, snap.statsCols, None, None, now()),
      LakeLog.Feature("column-semantics"), cs))
  }

  private def freshPhysical(): String =
    s"col-${java.util.UUID.randomUUID()}"

  /** `ALTER TABLE ... SET TBLPROPERTIES (clusterBy = ...)`: re-key
    * FUTURE writes (appends without an explicit spec, and every
    * maintenance rewrite — compaction re-clusters by the recorded
    * spec) as one metadata commit. Existing files keep their layout
    * and stats; OPTIMIZE applies the new layout wholesale. Accepts a
    * plain column or the `z:`/`h:` curve specs; every referenced
    * column must exist.
    */
  def setClusterBy(spark: SparkSession, root: String, spec: String): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    val dims =
      if (spec.startsWith("z:") || spec.startsWith("h:"))
        spec.drop(2).split(",").toSeq
      else Seq(spec)
    dims.foreach(c => require(schema.fieldNames.contains(c),
      s"clusterBy references missing column '$c'"))
    // refuse a partition-column curve dimension AT THE ALTER, not at
    // the next write: a deferred refusal records a spec every later
    // INSERT/MERGE/OPTIMIZE then trips over — a poisoned table the
    // user must ALTER back before any write lands
    if (spec.startsWith("z:") || spec.startsWith("h:"))
      dims.filter(snap.partitionBy.contains) match {
        case Nil => ()
        case overlap => throw new IllegalArgumentException(
          s"curve cluster spec '$spec' references partition " +
            s"column(s) ${overlap.mkString(", ")} — a partition " +
            "column is constant within its directory; curve-cluster " +
            "the non-partition dimensions only")
      }
    LakeLog.commit(f, rootP,
      Seq(Meta("setproperties", snap.schemaDdl, snap.statsCols, None, None,
        now(), Some(spec), snap.colMap)))
  }

  /** `ALTER TABLE ... SET TBLPROPERTIES (statsCols = ...)`: change
    * which columns FUTURE files record min/max/null stats for, as one
    * metadata commit. Old files keep the stats they were written
    * with; a column missing from a file's stats is simply unprunable
    * there ([[mayMatch]]'s conservative read), so the change is never
    * a correctness event.
    */
  def setStatsCols(spark: SparkSession, root: String,
                   cols: Seq[String]): Long = {
    require(cols.nonEmpty, "statsCols needs at least one column")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    requireStatsColsSupported(StructType.fromDDL(snap.schemaDdl), cols)
    // partition values LIVE in the stats — dropping them would leave
    // future files' partition columns unreadable
    val missing = snap.partitionBy.filterNot(cols.contains)
    require(missing.isEmpty,
      s"statsCols must keep the partition column(s) ${missing.mkString(",")}" +
        " — per-file partition values are carried as min==max stats")
    LakeLog.commit(f, rootP,
      Seq(Meta("setproperties", snap.schemaDdl, cols, None, None,
        now(), colMap = snap.colMap)))
  }

  /** `ALTER TABLE ... ALTER COLUMN <c> TYPE <wider>` as a
    * metadata-only commit: the schema records the wider type, old
    * files read through it via the parquet vectorized reader's
    * in-family upcast (byte<short<int<long, float<double) — nothing
    * rewritten. Cross-family changes (int -> double, long -> string)
    * are value-rewriting and refuse. Same widening law as the
    * `widenTypes=true` append; this is the explicit-DDL route for the
    * "widen first, then write" workflow. Narrowing refuses (existing
    * files may hold out-of-range values). Already-widened is a no-op
    * returning the current version (idempotent DDL).
    */
  def widenColumn(spark: SparkSession, root: String, name: String,
                  to: DataType): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    require(schema.fieldNames.contains(name), s"no column '$name'")
    val cur = schema(name).dataType
    if (cur == to) return snap.version
    val ok = widenedType(cur, to).contains(to)
    require(ok,
      s"column $name: $cur -> $to is not a lossless in-family widening " +
        "(byte<short<int<long, float<double) — that change is a table " +
        "rewrite")
    val ddl = StructType(schema.fields.map(fd =>
      if (fd.name == name) fd.copy(dataType = to) else fd)).toDDL
    LakeLog.commit(f, rootP,
      Seq(Meta("widencolumn", ddl, snap.statsCols, None, None, now(),
        colMap = snap.colMap), LakeLog.Feature("type-widening")))
  }

  /** RENAME COLUMN as a metadata-only commit (the Delta column-mapping
    * idea): files keep their physical column names forever and the
    * log maps logical -> physical, so a rename moves ZERO data. The
    * first rename activates the mapping (a complete logical->physical
    * map plus the `column-mapping` reader feature — old readers
    * refuse loudly instead of null-filling the renamed column).
    * Refused while a CHECK constraint or the cluster spec references
    * the column (their expressions are stored as SQL text).
    */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    require(schema.fieldNames.contains(from), s"no column '$from'")
    require(!schema.fieldNames.contains(to), s"column '$to' already exists")
    require(snap.partitionBy.isEmpty,
      "RENAME COLUMN is not supported on PARTITIONED tables (column " +
        "mapping and directory partitioning don't compose — partition " +
        "values are keyed by column name in paths and stats)")
    requireUnreferenced(snap, from, "rename")
    val fullMap = schema.fieldNames.map(n =>
      n -> snap.colMap.getOrElse(n, n)).toMap
    val colMap = (fullMap - from) + (to -> fullMap(from))
    val ddl = StructType(schema.fields.map(fd =>
      if (fd.name == from) fd.copy(name = to) else fd)).toDDL
    val statsCols = snap.statsCols.map(c => if (c == from) to else c)
    val clusterBy = snap.clusterBy.map(renameInClusterSpec(_, from, to))
    // the column's own semantics follow the rename (its generation
    // SOURCES were guarded above)
    val semMoves = snap.colSpecs.get(from).toSeq.flatMap(cs => Seq(
      LakeLog.ColSpec(from, cs.kind, Map.empty),
      cs.copy(col = to)))
    LakeLog.commit(f, rootP,
      Seq(Meta("renamecolumn", ddl, statsCols, None, None, now(),
        clusterBy, colMap), LakeLog.Feature("column-mapping")) ++ semMoves)
  }

  /** DROP COLUMN as a metadata-only commit: the physical column stays
    * in the files, invisible behind the mapping; later re-adds of the
    * same logical name get a fresh physical name (see [[addColumns]]).
    */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val schema = StructType.fromDDL(snap.schemaDdl)
    require(schema.fieldNames.contains(name), s"no column '$name'")
    require(schema.fields.length > 1, "cannot drop the only column")
    require(snap.partitionBy.isEmpty,
      "DROP COLUMN is not supported on PARTITIONED tables (column " +
        "mapping and directory partitioning don't compose)")
    requireUnreferenced(snap, name, "drop")
    snap.clusterBy.foreach { spec =>
      val dims =
        if (spec.startsWith("z:") || spec.startsWith("h:"))
          spec.drop(2).split(",").toSeq
        else Seq(spec)
      require(!dims.contains(name),
        s"cannot drop column '$name': the cluster spec '$spec' " +
          "references it — recluster first")
    }
    val colMap = schema.fieldNames.filterNot(_ == name).map(n =>
      n -> snap.colMap.getOrElse(n, n)).toMap
    val ddl = StructType(schema.fields.filterNot(_.name == name)).toDDL
    val statsCols = snap.statsCols.filterNot(_ == name)
    val semDrops = snap.colSpecs.get(name).toSeq.map(cs =>
      LakeLog.ColSpec(name, cs.kind, Map.empty))
    LakeLog.commit(f, rootP,
      Seq(Meta("dropcolumn", ddl, statsCols, None, None, now(),
        colMap = colMap), LakeLog.Feature("column-mapping")) ++ semDrops)
  }

  /** A rename/drop under a referencing CHECK constraint or cluster
    * spec would silently break stored SQL text — refuse loudly.
    */
  private def requireUnreferenced(snap: LakeLog.Snapshot, name: String,
                                  what: String): Unit = {
    val word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    snap.constraints.foreach { case (n, e) =>
      require(word.findFirstIn(e).isEmpty,
        s"cannot $what column '$name': CHECK constraint '$n' ($e) " +
          "references it — drop the constraint first")
    }
    // a GENERATED column's expression is part of the table contract:
    // renaming/dropping one of its source columns would orphan it
    snap.colSpecs.values.filter(_.kind == LakeColumns.KindGenerated)
      .foreach { cs =>
        require(cs.col == name ||
          word.findFirstIn(cs.spec("expr")).isEmpty,
          s"cannot $what column '$name': generated column '${cs.col}' " +
            s"(${cs.spec("expr")}) references it")
      }
  }

  private def renameInClusterSpec(spec: String, from: String,
                                  to: String): String = {
    def ren(c: String) = if (c == from) to else c
    if (spec.startsWith("z:"))
      "z:" + spec.stripPrefix("z:").split(",").map(ren).mkString(",")
    else if (spec.startsWith("h:"))
      "h:" + spec.stripPrefix("h:").split(",").map(ren).mkString(",")
    else ren(spec)
  }

  def overwrite(spark: SparkSession, root: String, df0: DataFrame,
                nFiles: Int = 8, clusterBy: Option[String] = None): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val (df, alloc) = LakeColumns.applyWriteSemantics(spark,
      StructType.fromDDL(snap.schemaDdl), snap.colSpecs, snap.identityHwm,
      df0)
    requireSameSchema(snap.schemaDdl, df)
    enforceConstraints(df, snap.constraints, "overwrite")
    val adds = writeDataFiles(spark, rootP, df,
      LakeColumns.statsColsFor(snap.statsCols, snap.colSpecs), nFiles,
      clusterBy.orElse(snap.clusterBy), snap.colMap, snap.partitionBy)
    LakeLog.commit(f, rootP,
      ((Meta("overwrite", snap.schemaDdl, snap.statsCols, None, None,
        now()) +: snap.files.map(a => Remove(a.path))) ++ adds) ++
        alloc.hwmActions(adds),
      guardFiles = snap.files, baseVersion = snap.version,
      expectConstraints = Some(snap.constraints),
      expectExactFiles = true,
      expectIdentityHwm = if (alloc.isEmpty) None else Some(alloc.baseHwm))
  }

  /** DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` semantics, Delta's
    * `replaceWhere`-free `overwritePartitions`): ONE commit atomically
    * replaces exactly the partitions whose values appear in `df` —
    * candidates found by partition value (each file's log-recorded
    * min==max stats, a driver-side metadata filter over the snapshot,
    * zero file reads), survivors in untouched partitions never read,
    * never rewritten, never even listed into the commit. The commit
    * guards BOTH directions: the replaced candidates must be live
    * unchanged (standard rewrite guard) and no concurrent commit may
    * have added a file INTO a replaced partition since planning —
    * while a racing append to an untouched partition lands freely and
    * survives, which is the whole point of dynamic mode vs the
    * whole-table `INSERT OVERWRITE`.
    *
    * At 100 TB this is the nightly-reload shape: re-materializing 3
    * of 3000 day-partitions touches 0.1% of the table's files and
    * commits a KB-sized log entry; static overwrite would drop and
    * rewrite the other 99.9% for nothing.
    */
  def dynamicOverwrite(spark: SparkSession, root: String, df0: DataFrame,
                       nFiles: Int = 8): RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    require(snap.partitionBy.nonEmpty,
      "dynamic partition overwrite needs a PARTITIONED table — use " +
        "overwrite() to replace an unpartitioned table")
    val (df, alloc) = LakeColumns.applyWriteSemantics(spark,
      StructType.fromDDL(snap.schemaDdl), snap.colSpecs, snap.identityHwm,
      df0)
    requireSameSchema(snap.schemaDdl, df)
    enforceConstraints(df, snap.constraints, "dynamic overwrite")
    val adds = writeDataFiles(spark, rootP, df,
      LakeColumns.statsColsFor(snap.statsCols, snap.colSpecs), nFiles,
      snap.clusterBy, snap.colMap, snap.partitionBy)
    if (adds.isEmpty) // empty batch: nothing to replace, nothing to add
      return RewriteReport(snap.version, 0, 0, snap.files.size)
    def partTuple(a: Add): Seq[Option[Any]] =
      snap.partitionBy.map(c => a.stats.min.get(c))
    // the touched partition-value set derives from the files ACTUALLY
    // WRITTEN (each partitioned file's min==max stats carry its
    // directory value — the same tuples the read path injects), not
    // from a separate pre-write pass over df: executing the frame
    // twice would let a nondeterministic input (rand()-derived
    // partition values, a re-planned sample) write rows into
    // partitions the first pass never saw — their old files would
    // survive and the new rows would land as silent appends, breaking
    // the replace-exactly contract. Deriving from the adds makes the
    // Removes match the data that is IN the commit by construction,
    // and costs nothing (one execution instead of two). The set stays
    // bounded by partitions in the BATCH, never by table size; None
    // is the null partition (a file of nulls records no min).
    val touched: Set[Seq[Option[Any]]] = adds.map(partTuple).toSet
    val cands = snap.files.filter(a => touched.contains(partTuple(a)))
    val v = LakeLog.commit(f, rootP,
      ((Meta("dynoverwrite", snap.schemaDdl, snap.statsCols, None, None,
        now()) +: cands.map(a => Remove(a.path))) ++ adds) ++
        alloc.hwmActions(adds),
      guardFiles = cands, baseVersion = snap.version,
      expectConstraints = Some(snap.constraints),
      expectIdentityHwm = if (alloc.isEmpty) None else Some(alloc.baseHwm),
      guardPartitions = Some((snap.partitionBy, touched)))
    RewriteReport(v, cands.size, adds.size, snap.files.size - cands.size)
  }

  // ---- reads --------------------------------------------------------

  /** The lake's one file relation: a stock `HadoopFsRelation` whose
    * file list is a [[LakeFileIndex]] over `files` of `view` (stats
    * skipping from the commit log, zero planning FS calls, vectorized
    * parquet with whole-stage codegen). Its data schema carries the
    * PHYSICAL column names the files hold, decorated with EXISTS_DEFAULT
    * so files written before an `ADD COLUMN ... DEFAULT` read the
    * declared default (the parquet reader's own existence-default
    * machinery, applied per file), and nullable as every file-source
    * read is (a file may lack a column). Partitioned tables: the index
    * carries the partition schema and the scan injects each file's
    * values from its min==max stats; the output is (data cols ++
    * partition cols). The format provider serves this relation bare
    * when its output already IS the snapshot's rows; [[readAdds]]
    * builds every other read on it.
    */
  private[lake] def fileRelation(spark: SparkSession, root: Path,
                                 view: LakeLog.Snapshot, files: Seq[Add])
      : HadoopFsRelation = {
    val schema = org.apache.spark.sql.graft.PlanBridge.asNullable(
      LakeColumns.decorateExists(StructType.fromDDL(view.schemaDdl),
        view.colSpecs))
    HadoopFsRelation(
      location = new LakeFileIndex(spark, root, view, files),
      partitionSchema = StructType(view.partitionBy.map(c => schema(c))),
      dataSchema = StructType(schema.fields
        .filterNot(f => view.partitionBy.contains(f.name))
        .map(f => f.copy(name = view.colMap.getOrElse(f.name, f.name)))),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
  }

  // ---- deletion vectors (merge-on-read) -----------------------------

  private val dvSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** The trailing path segments DV rows key files by: 3 for flat
    * tables ("data/<uuid>/<name>" — the uuid makes it unique), plus
    * one per partition column ("data/<uuid>/day=5/<name>"; one task
    * writes the SAME file name into several value directories, so the
    * value segments are part of the identity). CONVERTED tables'
    * adopted files sit directly under the root with fewer own
    * segments — the root-resolved absolute path pads them with root
    * directory names, and BOTH sides compute from the absolute path,
    * so the identity stays consistent (and unchanged for every
    * pre-existing flat table and clone).
    */
  private def idDepth(partitionBy: Seq[String]): Int = 3 + partitionBy.size

  /** Identity of the file a row came from, from the scan's own
    * `_metadata.file_path` (absolute). Root-AGNOSTIC beyond the
    * trailing segments: a shallow clone references source files by
    * absolute path and their id stays the same segments, so
    * inherited deletion vectors keep matching.
    */
  private def fileRelPath(depth: Int): Column =
    concat_ws("/",
      slice(split(col("_metadata.file_path"), "/"), -depth, depth))

  /** The same identity computed from an Add's recorded path, resolved
    * against the table root (relative for own files, absolute for
    * clone-inherited ones — `new Path(root, abs)` keeps an absolute
    * child as-is). Derived through `toUri` because the OTHER side of
    * every comparison is `_metadata.file_path` — the URI-ENCODED
    * SparkPath form: for a partition VALUE holding URI-special
    * characters the raw name ('day=01%2F01%2F2024', a Hive-escaped
    * '/') and its URI encoding ('day=01%252F01%252F2024') diverge,
    * and a raw-keyed id made every MOR delete on such a partition a
    * silent no-op. Identical to the raw form for every name without
    * such characters (all pre-existing tables and sidecars).
    */
  private def fileId(rootP: Path, path: String, depth: Int): String =
    new Path(rootP, path).toUri.toString.split('/').takeRight(depth)
      .mkString("/")

  private def readDvRows(spark: SparkSession, root: Path,
                         dvPaths: Seq[String]): DataFrame =
    if (dvPaths.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), dvSchema)
    else spark.read.schema(dvSchema)
      .parquet(dvPaths.distinct.map(p => new Path(root, p).toString): _*)

  /** Fold `df`'s rows task-side into one partial per task, then merge
    * the partials on the driver: one job and no exchange, where a
    * `distinct()`/`groupBy().count()` + `collect()` shuffles first.
    * For metadata bounded by the FILE count (touched files, per-file
    * DV counts), whatever the row count. `add` sees Spark's reused
    * `InternalRow`s and copies what it keeps.
    */
  private def foldRows[P: scala.reflect.ClassTag](df: DataFrame, zero: => P)(
      add: (P, InternalRow) => P)(merge: (P, P) => P): P = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("lake fold")) {
      qe.toRdd.mapPartitions(rows => Iterator.single(rows.foldLeft(zero)(add)))
        .collect()
    }.reduceOption(merge).getOrElse(zero)
  }

  /** Row count per value of `df`'s one string column (NULL kept). */
  private def fileCounts(df: DataFrame): Map[String, Long] =
    foldRows(df, scala.collection.mutable.HashMap.empty[String, Long]) {
      (m, r) =>
        val k = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
        m(k) = m.getOrElse(k, 0L) + 1L
        m
    } { (a, b) => b.foreach { case (k, n) => a(k) = a.getOrElse(k, 0L) + n }; a }
      .toMap

  /** The merge-on-read commit: write `positions` (`file`, `pos`: the
    * new dead rows of `files` plus the ones they already carry) as ONE
    * fresh sidecar, take per-file counts from its KB-sized read-back,
    * and re-point each file whose count grew at the sidecar, so a file
    * always references exactly one DV dataset. The commit guards the
    * exact Add (stats + DV) of every re-pointed file: a racing rewrite
    * or MOR delete conflicts loudly instead of losing deletions. A
    * file whose victims were all dead already keeps its Add; when no
    * file grew nothing commits (the sidecar is garbage for vacuum).
    */
  private def commitDv(spark: SparkSession, f: FileSystem, rootP: Path,
                       snap: LakeLog.Snapshot, files: Seq[Add],
                       positions: DataFrame): RewriteReport = {
    val dvSub = s"dv/${java.util.UUID.randomUUID()}"
    val dvDir = new Path(rootP, dvSub).toString
    positions.repartition(math.max(1, files.size / 8)).write.parquet(dvDir)
    val counts =
      fileCounts(spark.read.schema(dvSchema).parquet(dvDir).select("file"))
    val depth = idDepth(snap.partitionBy)
    val grown = files.flatMap { a =>
      val total = counts.getOrElse(fileId(rootP, a.path, depth), 0L)
      if (total > a.dv.map(_.rows).getOrElse(0L))
        Some(a -> a.copy(dv = Some(Dv(dvSub, total))))
      else None
    }
    if (grown.isEmpty)
      return RewriteReport(snap.version, 0, 0, snap.files.size)
    val v = LakeLog.commit(f, rootP,
      (Meta("mordelete", snap.schemaDdl, snap.statsCols, None, None,
        now()) +: LakeLog.Feature("deletion-vectors") +: grown.map(_._2)),
      guardFiles = grown.map(_._1), baseVersion = snap.version)
    RewriteReport(v, grown.size, grown.size, snap.files.size - grown.size)
  }

  /** The live rows of `files` under `view`'s logical schema: the one
    * read every snapshot, change-feed, DML, stream-batch and staged
    * epoch read plans through. Each scan is a [[fileRelation]] with
    * the logical projection above it (physical -> logical names, data
    * ++ partition order -> table order; none when the relation's
    * output already is the logical row), so pushed filters rewrite
    * through the aliases into the file index. Files without a DV stay
    * on that plain scan (the common case); DV'd files add the file
    * identity and the parquet-native row index (`_metadata.row_index`,
    * the physical position, stable under any pushed filter) and
    * anti-join their KB-sized sidecar on it (auto-broadcast), so file
    * skipping and row-group pushdown survive DVs. `withPos` appends
    * the `(__file, __pos)` coordinates to every row — the addressing
    * surface of position-level deletes; clean files' coordinates never
    * appear in a sidecar.
    */
  private[lake] def readAdds(spark: SparkSession, root: Path,
                             view: LakeLog.Snapshot, files: Seq[Add],
                             withPos: Boolean = false): DataFrame = {
    val names = StructType.fromDDL(view.schemaDdl).fieldNames.toSeq
    def out(pos: Boolean): Seq[String] =
      if (pos) names ++ Seq("__file", "__pos") else names
    def scan(adds: Seq[Add], pos: Boolean): DataFrame = {
      val rel = spark.baseRelationToDataFrame(
        fileRelation(spark, root, view, adds))
      val r =
        if (!pos) rel
        else rel.withColumn("__file", fileRelPath(idDepth(view.partitionBy)))
          .withColumn("__pos", col("_metadata.row_index"))
      if (r.columns.toSeq == out(pos)) r // keep the unprojected plan
      else r.select(out(pos).map { n =>
        val p = view.colMap.getOrElse(n, n)
        if (p == n) col(n) else col(p).as(n)
      }: _*)
    }
    val (dvd, clean) = files.partition(_.dv.nonEmpty)
    if (dvd.isEmpty) return scan(clean, withPos)
    val dels = readDvRows(spark, root, dvd.flatMap(_.dv).map(_.path))
    val hits = scan(dvd, pos = true)
    val live = hits
      .join(dels,
        hits("__file") === dels("file") && hits("__pos") === dels("pos"),
        "left_anti")
      .select(out(withPos).map(col): _*)
    if (clean.isEmpty) live else scan(clean, withPos).unionByName(live)
  }

  /** Batch change feed `[from, to]` as one frame, in `view`'s logical
    * names (the mapping is stable across the range: physical names
    * never move) — behind [[scanChanges]], the `readChangeFeed` format
    * read and the change-tailing stream source.
    */
  private[lake] def cdfFrame(spark: SparkSession, root: Path,
                             view: LakeLog.Snapshot, from: Long,
                             to: Long): DataFrame =
    changeFrames(spark, root, view, from, to).reduceOption(_.unionByName(_))
      .getOrElse(taggedChanges(readAdds(spark, root, view, Nil), "insert",
        0L).limit(0))

  /** Merge-on-read DELETE: instead of rewriting candidate files,
    * record the matching rows' (file, position) coordinates in a
    * deletion-vector sidecar dataset and RE-ADD the files pointing at
    * it — the commit moves KBs of positions, not the files' data.
    * This is the delete shape for wide files at 100 TB, where
    * copy-on-write pays a full file rewrite for one dead row; the
    * debt is settled by the next rewrite that touches the file
    * (compact / COW delete / merge all read DV-aware and write purged
    * files). Cumulative: a second MOR delete on the same file carries
    * the prior positions forward into the new sidecar, so a file
    * always references exactly ONE DV dataset. Positions are computed
    * over LIVE rows only (already-deleted positions never recount).
    * One candidate scan in total: new and carried-forward positions go
    * straight into the sidecar, and [[commitDv]] folds the per-file
    * counts from its read-back, guarding every re-pointed file.
    */
  def deleteWhereMor(spark: SparkSession, root: String,
                     ranges: Seq[ColRange]): RewriteReport = {
    require(ranges.nonEmpty, "refusing a full-table delete via empty ranges" +
      " — use overwrite with an empty frame if that is really intended")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val pr = physRanges(ranges, snap.colMap)
    val (cands, untouched) =
      snap.files.partition(a => pr.forall(r => mayMatch(a.stats, r)))
    if (cands.isEmpty)
      return RewriteReport(snap.version, 0, 0, untouched.size)
    val depth = idDepth(snap.partitionBy)
    val candIds = cands.map(a => fileId(rootP, a.path, depth))
    val oldDels = readDvRows(spark, rootP, cands.flatMap(_.dv).map(_.path))
      .where(col("file").isin(candIds: _*))
    val newDel = readAdds(spark, rootP, snap, cands, withPos = true)
      .where(rangeFilter(ranges))
      .select(col("__file").as("file"), col("__pos").as("pos"))
    commitDv(spark, f, rootP, snap, cands, newDel.unionByName(oldDels))
  }

  /** Live rows plus their `(__file, __pos)` coordinates — the
    * addressing surface for position-level operations: compute any
    * delete set with arbitrary Spark logic (joins, windows, dedup
    * ranks) over this frame and hand it to [[deleteAt]]. Coordinates
    * are only valid against the snapshot they were read from.
    */
  def scanWithPos(spark: SparkSession, root: String): DataFrame = {
    val rootP = new Path(root)
    val snap = LakeLog.snapshot(fs(spark, rootP), rootP, None)
    readAdds(spark, rootP, snap, snap.files, withPos = true)
  }

  /** Transactional REPLACE WHERE (the DSv2 filtered overwrite /
    * Delta `replaceWhere`): ONE commit atomically deletes the rows
    * matching ALL `ranges` and inserts `df` — candidates stats-pruned,
    * survivors carried over, untouched files never read. The incoming
    * batch must itself satisfy the ranges (anything else silently
    * "overwrites" rows it did not replace — refused loudly instead).
    */
  def replaceWhere(spark: SparkSession, root: String,
                   ranges: Seq[ColRange], df0: DataFrame): RewriteReport = {
    require(ranges.nonEmpty,
      "empty REPLACE WHERE — use overwrite for the whole table")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    // semantics apply to the INCOMING batch only — the survivors
    // carried over below already hold their computed/allocated values
    val (df, alloc) = LakeColumns.applyWriteSemantics(spark,
      StructType.fromDDL(snap.schemaDdl), snap.colSpecs, snap.identityHwm,
      df0)
    requireSameSchema(snap.schemaDdl, df)
    // a NULL key can never be INSIDE a range (the predicate evaluates
    // NULL): coalesce to false so null-keyed batch rows count as
    // OUTSIDE and refuse — without it !NULL = NULL let them slip past
    // this check and land as inserts the replace never deleted
    val outside =
      df.where(!coalesce(rangeFilter(ranges), lit(false))).limit(1).count()
    require(outside == 0,
      s"REPLACE WHERE ${ranges.map(_.column).distinct.mkString(",")}: the " +
        "incoming batch carries rows OUTSIDE the replaced range — they " +
        "would land as inserts while pretending to be an overwrite")
    val pr = physRanges(ranges, snap.colMap)
    val (cands, _) =
      snap.files.partition(a => pr.forall(r => mayMatch(a.stats, r)))
    // null-keyed survivors are outside every range: keep them (same
    // coalesce rule as deleteWhere)
    val survivors = readAdds(spark, rootP, snap, cands)
      .where(!coalesce(rangeFilter(ranges), lit(false)))
    rewriteCommit(spark, root, snap, cands,
      survivors.unionByName(df), "replacewhere", alloc0 = Some(alloc))
  }

  /** Shared rewrite commit for the SQL DML commands (MERGE INTO /
    * UPDATE / non-range DELETE): constraint-gate `newRows`, write
    * them, and atomically swap them in for `cands` with the standard
    * guard (a racing rewrite of any candidate aborts this commit).
    */
  private[lake] def rewriteCommit(spark: SparkSession, root: String,
                                  snap: LakeLog.Snapshot, cands: Seq[Add],
                                  newRows0: DataFrame,
                                  op: String,
                                  alloc0: Option[
                                    LakeColumns.IdentityAllocation] = None)
      : RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    // DML rewrites apply column semantics in REWRITE mode: surviving
    // rows keep their identity values, MERGE-inserted rows (null ids)
    // allocate, generated columns recompute (an UPDATE may have
    // changed their source columns). Callers that already allocated
    // (replaceWhere applies strict semantics to the incoming batch)
    // pass their allocation instead.
    val (newRows, alloc) = alloc0 match {
      case Some(a) => (newRows0, a)
      case None => LakeColumns.applyWriteSemantics(spark,
        StructType.fromDDL(snap.schemaDdl), snap.colSpecs,
        snap.identityHwm, newRows0, rewrite = true)
    }
    enforceConstraints(padToSchema(newRows, snap.schemaDdl),
      snap.constraints, op)
    val nOut = math.max(1, cands.size)
    val adds = writeDataFiles(spark, rootP, newRows,
      LakeColumns.statsColsFor(snap.statsCols, snap.colSpecs), nOut,
      snap.clusterBy, snap.colMap, snap.partitionBy)
    val v = LakeLog.commit(f, rootP,
      ((Meta(op, snap.schemaDdl, snap.statsCols, None, None, now()) +:
        cands.map(a => Remove(a.path))) ++ adds) ++ alloc.hwmActions(adds),
      guardFiles = cands, baseVersion = snap.version,
      expectConstraints = Some(snap.constraints),
      expectIdentityHwm = if (alloc.isEmpty) None else Some(alloc.baseHwm))
    RewriteReport(v, cands.size, adds.size, snap.files.size - cands.size)
  }

  /** Merge-on-read delete of EXACTLY the rows addressed by `victims`
    * (`__file`, `__pos` columns, as emitted by [[scanWithPos]] of the
    * CURRENT snapshot) — the primitive behind [[deleteWhereMor]] and
    * [[dedupTable]]: any Spark-computable delete set becomes a
    * KB-sized sidecar commit, no data rewritten. Victim coordinates
    * pointing at unknown files fail loudly (stale snapshot);
    * already-dead positions are dropped, never double-counted. The
    * victims are evaluated once: their file set folds task-side from
    * the materialized coordinates (no `distinct` shuffle); the sidecar
    * write, counts and guarded commit are [[commitDv]]'s, so a racing
    * rewrite of a re-pointed file aborts this delete instead of
    * losing it.
    */
  def deleteAt(spark: SparkSession, root: String,
               victims: DataFrame): RewriteReport = {
    require(Set("__file", "__pos").subsetOf(victims.columns.toSet),
      s"victims needs __file/__pos columns, got ${victims.columns.toSeq}")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    // dedupe caller coordinates: a victim passed twice must count
    // once, both against Dv.rows and in the change feed (exceptAll/
    // unionByName below are multiset ops, so duplicates would survive);
    // materialized once for the file fold and the sidecar write
    val vRows = victims
      .select(col("__file").as("file"), col("__pos").as("pos"))
      .distinct()
      .localCheckpoint(eager = false)
    val victimFiles = fileCounts(vRows.select(col("file"))).keySet
    if (victimFiles.isEmpty)
      return RewriteReport(snap.version, 0, 0, snap.files.size)
    val depth = idDepth(snap.partitionBy)
    val byId = snap.files.map(a => fileId(rootP, a.path, depth) -> a).toMap
    val unknown = victimFiles -- byId.keySet
    require(unknown.isEmpty,
      s"victim coordinates reference files not in the current snapshot " +
        s"(stale scanWithPos?): ${unknown.take(3)}")
    val touched = victimFiles.toSeq.sorted.map(byId)
    val carried = readDvRows(spark, rootP, touched.flatMap(_.dv).map(_.path))
      .where(col("file").isin(victimFiles.toSeq: _*))
    // already-dead coordinates cancel against the carried positions,
    // so cumulative per-file counts stay exact for any caller input
    commitDv(spark, f, rootP, snap, touched,
      vRows.exceptAll(carried).unionByName(carried))
  }

  /** Deduplicate the TABLE IN PLACE: for each group of rows sharing
    * `keys`, keep the one with the smallest `tieBreak` (then smallest
    * physical coordinates — deterministic for exact ties) and
    * MOR-delete the rest. A 100 TB corpus drops its duplicates for
    * the cost of one window pass plus a KB-sized sidecar commit — no
    * file is rewritten; the next compaction settles the debt.
    */
  def dedupTable(spark: SparkSession, root: String, keys: Seq[String],
                 tieBreak: String): RewriteReport = {
    require(keys.nonEmpty, "dedupTable needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tieBreak).asc, col("__file").asc, col("__pos").asc)
    val victims = scanWithPos(spark, root)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col("__file"), col("__pos"))
    deleteAt(spark, root, victims)
  }

  /** [[dedupTable]] for WIDE keys (document text, payload blobs): the
    * window partitions on `xxhash64(keys)` so only 8-byte
    * fingerprints shuffle, never the payload — the [[ExactDedup]]
    * economics applied in place. Safe under collisions: a row is a
    * victim only when its ACTUAL keys equal the group survivor's
    * (first_value over the same window, a colliding non-duplicate
    * survives — bounded recall loss, never a false deletion).
    */
  def dedupTableByFingerprint(spark: SparkSession, root: String,
                              keys: Seq[String],
                              tieBreak: String): RewriteReport = {
    require(keys.nonEmpty, "dedupTable needs at least one key column")
    val w = Window.partitionBy(xxhash64(keys.map(col): _*))
      .orderBy(col(tieBreak).asc, col("__file").asc, col("__pos").asc)
    val firsts = keys.map(k => first(col(k)).over(w).as(s"__first_$k"))
    val sameAsFirst = keys.map(k => col(k) <=> col(s"__first_$k"))
      .reduce(_ && _)
    val victims = scanWithPos(spark, root)
      .select(col("*") +: (row_number().over(w).as("__rn") +: firsts): _*)
      .where(col("__rn") > 1 && sameAsFirst)
      .select(col("__file"), col("__pos"))
    deleteAt(spark, root, victims)
  }

  def scan(spark: SparkSession, root: String): DataFrame =
    scanAsOf(spark, root, None)

  def scanAsOf(spark: SparkSession, root: String,
               asOf: Option[Long]): DataFrame = {
    val rootP = new Path(root)
    val snap = LakeLog.snapshot(fs(spark, rootP), rootP, asOf)
    readAdds(spark, rootP, snap, snap.files)
  }

  /** ZERO-COPY shallow clone: `dst`'s v0 commit REFERENCES `src`'s
    * data files (and their deletion-vector sidecars) by absolute
    * path — no data moves, the clone of a 100 TB table is one
    * KB-sized commit. The clone then lives its own life: appends land
    * under its own root; rewrites (COW delete / merge / compact /
    * recluster) read the referenced files and write local ones, so
    * the clone progressively localizes exactly the regions it
    * touches; MOR deletes sidecar locally against the inherited
    * files. The source never learns about the clone — the standard
    * shallow-clone caveat applies: VACUUMING THE SOURCE can delete
    * files a clone still references (its reads then fail loudly at
    * scan time). Use a clone for experiments/branches, compact it to
    * localize before vacuuming the source.
    */
  def shallowClone(spark: SparkSession, src: String, dst: String,
                   asOf: Option[Long] = None): Long = {
    val srcP = new Path(src)
    val dstP = new Path(dst)
    val f = fs(spark, dstP)
    require(LakeLog.latestVersion(f, dstP).isEmpty,
      s"lake table already exists at $dst")
    val snap = LakeLog.snapshot(fs(spark, srcP), srcP, asOf)
    def absolutize(p: String): String =
      new Path(srcP, p).toString // absolute child stays absolute
    val adds = snap.files.map(a => a.copy(path = absolutize(a.path),
      dv = a.dv.map(d => d.copy(path = absolutize(d.path)))))
    // the clone inherits the source's reader features, CHECK
    // constraints and column semantics (incl. the identity watermark —
    // appends to the clone must allocate past the cloned rows' ids),
    // and requires absolute-path support itself. COPY INTO ingest
    // memory carries too: the clone HOLDS the loaded rows via the
    // shared files, so re-copying their source files would duplicate
    val carried = (snap.features + "absolute-paths").toSeq.sorted
      .map(LakeLog.Feature(_)) ++
      snap.constraints.toSeq.sortBy(_._1)
        .map { case (n, e) => LakeLog.Constraint(n, e) } ++
      snap.colSpecs.toSeq.sortBy(_._1).map(_._2) ++
      snap.identityHwm.toSeq.sortBy(_._1)
        .map { case (c, v) => LakeLog.IdentityHwm(c, v) } ++
      snap.copiedFiles.toSeq.sorted.map(LakeLog.CopiedFile(_))
    LakeLog.commit(f, dstP,
      (Meta("clone", snap.schemaDdl, snap.statsCols, None, None, now(),
        snap.clusterBy, snap.colMap, snap.partitionBy) +: carried) ++ adds)
  }

  /** Escape hatch for the shallow-clone/source-vacuum hazard: copy
    * every file this table references OUTSIDE its own root (the
    * absolute paths a [[shallowClone]] inherited) into the table's
    * own layout, and atomically re-point the log at the local copies.
    * After `localize`, a SOURCE vacuum can no longer strand this
    * table — the non-localized refusal path (loud scan-time failure)
    * is unchanged for clones that skip it.
    *
    * Each copy preserves the file's trailing identity segments
    * ([[idDepth]] — the segments deletion-vector rows key files by),
    * so inherited DVs keep matching; foreign DV sidecar directories
    * localize under their own `dv/<uuid>` tail. The copy itself is a
    * distributed Spark job (at a 100 TB clone this is a data-movement
    * job by nature — Delta's DEEP CLONE), never a driver loop; the
    * driver handles only the KB-sized path list and the one swap
    * commit. Layout-only (live-row multiset unchanged): CDF skips the
    * commit exactly like `compact`.
    */
  def localize(spark: SparkSession, root: String): RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val qualRoot = f.makeQualified(rootP).toString + "/"
    def isForeign(p: String): Boolean =
      !f.makeQualified(new Path(rootP, p)).toString.startsWith(qualRoot)
    val depth = idDepth(snap.partitionBy)
    def localRel(p: String, segs: Int): String =
      f.makeQualified(new Path(rootP, p)).toUri.getPath
        .split('/').filter(_.nonEmpty).takeRight(segs).mkString("/")
    val todo = snap.files.filter(a =>
      isForeign(a.path) || a.dv.exists(d => isForeign(d.path)))
    if (todo.isEmpty)
      return RewriteReport(snap.version, 0, 0, snap.files.size)
    val dataMoves = todo.collect {
      case a if isForeign(a.path) => a.path -> localRel(a.path, depth)
    }
    val dvMoves = todo.flatMap(_.dv).map(_.path).distinct.collect {
      case p if isForeign(p) => p -> localRel(p, 2)
    }
    val moves = dataMoves ++ dvMoves
    // trailing-segment collisions can only arise from pathological
    // converted layouts — refuse rather than silently merge files
    require(moves.map(_._2).distinct.size == moves.size,
      "localize: trailing path segments collide across referenced " +
        "files — compact the clone to rewrite it locally instead")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rootStr = f.makeQualified(rootP).toString
    spark.sparkContext
      .parallelize(moves, math.min(moves.size, 64).max(1))
      .foreach { case (src, rel) =>
        val sp = new Path(src)
        val dp = new Path(new Path(rootStr), rel)
        val sfs = sp.getFileSystem(conf.value)
        val dfs = dp.getFileSystem(conf.value)
        // overwrite=true keeps task retries idempotent; the files
        // become live only when the swap commit below lands
        org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
          false, true, conf.value)
      }
    val readds = todo.map { a =>
      val np = if (isForeign(a.path)) localRel(a.path, depth) else a.path
      val nd = a.dv.map(d =>
        if (isForeign(d.path)) d.copy(path = localRel(d.path, 2)) else d)
      a.copy(path = np, dv = nd)
    }
    val v = LakeLog.commit(f, rootP,
      (Meta("localize", snap.schemaDdl, snap.statsCols, None, None,
        now()) +: todo.map(a => Remove(a.path))) ++ readds,
      guardFiles = todo, baseVersion = snap.version)
    RewriteReport(v, todo.size, readds.size, snap.files.size - todo.size)
  }

  /** DEEP CLONE: a [[shallowClone]] immediately [[localize]]d — the
    * destination owns a physical copy of every referenced file, so
    * the source's vacuum/retention lifecycle can never strand it.
    * Two commits (v0 references, v1 swaps in the local copies); the
    * returned version is the localized one.
    */
  def deepClone(spark: SparkSession, src: String, dst: String,
                asOf: Option[Long] = None): Long = {
    shallowClone(spark, src, dst, asOf)
    localize(spark, dst).version
  }

  // ---- CHECK constraints ---------------------------------------------

  /** Project `df` onto the table schema, null-filling omitted
    * columns — the view readers will see.
    */
  private[lake] def padToSchema(df: DataFrame, ddl: String): DataFrame = {
    val want = StructType.fromDDL(ddl)
    df.select(want.fields.toSeq.map { fd =>
      if (df.columns.contains(fd.name)) col(fd.name)
      else lit(null).cast(fd.dataType).as(fd.name)
    }: _*)
  }

  /** True SQL-CHECK violation test: a row violates when the
    * expression evaluates to FALSE (NULL passes, per the SQL CHECK
    * contract).
    */
  private def violates(e: String): Column =
    !coalesce(expr(e).cast("boolean"), lit(true))

  /** Refuse `df` (about to be written by `op`) if any row violates an
    * active constraint — ONE pass over the incoming batch, first
    * violation short-circuits, the failing constraint(s) named.
    */
  private[lake] def enforceConstraints(df: DataFrame,
                                 cs: Map[String, String],
                                 op: String): Unit = {
    if (cs.isEmpty) return
    val checks = cs.toSeq.sortBy(_._1)
    val flagged = df.select(checks.map { case (n, e) =>
      violates(e).as(n) }: _*)
    val bad = flagged
      .where(checks.map(c => col(s"`${c._1}`")).reduce(_ || _))
      .limit(1).collect()
    if (bad.nonEmpty) {
      val names = checks.zipWithIndex
        .collect { case ((n, e), i) if bad.head.getBoolean(i) => s"$n ($e)" }
      throw new IllegalArgumentException(
        s"$op rejected: incoming rows violate CHECK constraint(s) " +
          names.mkString(", "))
    }
  }

  /** Add (or replace) a CHECK constraint. EXISTING rows are validated
    * first — a table can never hold data its active constraints
    * reject; every later append/overwrite/merge-upsert batch is
    * gated by one extra predicate pass before its commit. NULL
    * results pass (SQL CHECK semantics). RACE-FREE: the commit is
    * attempted at exactly the validated snapshot's successor version,
    * so a concurrent write (whose rows validation never saw) forces a
    * re-snapshot and FULL re-validation — there is no window where a
    * violating append and the constraint both land.
    */
  def addConstraint(spark: SparkSession, root: String,
                    name: String, checkExpr: String): Long = {
    require(name.nonEmpty && checkExpr.nonEmpty,
      "constraint needs a name and a non-empty CHECK expression")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    var attempt = 0
    while (attempt < 20) {
      val snap = LakeLog.snapshot(f, rootP, None)
      val existing = readAdds(spark, rootP, snap, snap.files)
        .where(violates(checkExpr)).limit(1).count()
      require(existing == 0,
        s"cannot add CHECK constraint '$name' ($checkExpr): existing " +
          "rows violate it")
      if (LakeLog.tryCommit(f, rootP, snap.version + 1, Seq(
        Meta("add constraint", snap.schemaDdl, snap.statsCols, None, None,
          now()),
        LakeLog.Feature("check-constraints"),
        LakeLog.Constraint(name, checkExpr))))
        return snap.version + 1
      attempt += 1 // lost the version race: re-validate the new state
    }
    throw new LakeLog.ConcurrentCommitException(
      s"gave up adding constraint '$name' after 20 contended attempts")
  }

  def dropConstraint(spark: SparkSession, root: String,
                     name: String): Long = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    require(snap.constraints.contains(name),
      s"no CHECK constraint '$name' " +
        s"(have: ${snap.constraints.keys.toSeq.sorted.mkString(", ")})")
    LakeLog.commit(f, rootP, Seq(
      Meta("drop constraint", snap.schemaDdl, snap.statsCols, None, None,
        now()),
      LakeLog.Constraint(name, "")))
  }

  /** Time travel by wall clock: the snapshot a reader at `tsMillis`
    * would have pinned (latest commit at or before it).
    */
  def scanAsOfTimestamp(spark: SparkSession, root: String,
                        tsMillis: Long): DataFrame = {
    val rootP = new Path(root)
    val v = LakeLog.versionAtTimestamp(fs(spark, rootP), rootP, tsMillis)
    scanAsOf(spark, root, Some(v))
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    LakeLog.latestVersion(fs(spark, new Path(root)), new Path(root))

  /** The replayed table state (file list + stats + schema) at `asOf`
    * — the metadata surface maintenance tooling sizes its work from.
    */
  def snapshot(spark: SparkSession, root: String,
               asOf: Option[Long] = None): LakeLog.Snapshot =
    LakeLog.snapshot(fs(spark, new Path(root)), new Path(root), asOf)

  /** ONE string order everywhere stats are written or probed: UTF-8
    * byte order — what Spark's min/max aggregates (UTF8String binary
    * compare) produce, what the lake's data-file writer folds per
    * row, and what parquet footers record
    * for BINARY/UTF8 columns. `java.lang.String` `<`/`compareTo` is
    * UTF-16 code-unit order, which DISAGREES for supplementary-plane
    * characters (surrogates 0xD800-0xDFFF sort below 0xE000+ code
    * units, while their UTF-8 encoding 0xF0.. sorts above all BMP
    * bytes) — mixing the two orders makes recorded min/max invalid
    * bounds and misprunes non-BMP data.
    */
  private[lake] def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private[lake] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Cmp(a, b)

  /** Engine-independent ordering for stats/bound comparisons: numbers
    * by numeric value (exact — longs via BigDecimal, no 2^53 clip)
    * with doubles ordered as Spark orders them (-Infinity < finite <
    * Infinity < NaN, -0.0 equal to 0.0), strings in UTF-8 byte order
    * (see [[utf8Cmp]]). Mixed number/string never compares (caller
    * treats as unprunable).
    */
  private[lake] def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(utf8Cmp(x, y))
    case (x, y) =>
      // (class, value): class -1 / 0 / 1 / 2 for -Infinity / finite /
      // Infinity / NaN; the value only tells finite numbers apart
      def key(v: Any): Option[(Int, BigDecimal)] = v match {
        case l: Long   => Some((0, BigDecimal(l)))
        case i: Int    => Some((0, BigDecimal(i)))
        case f: Float  => key(f.toDouble)
        case d: Double =>
          if (d.isNaN) Some((2, BigDecimal(0)))
          else if (d.isInfinite) Some((if (d > 0) 1 else -1, BigDecimal(0)))
          else Some((0, BigDecimal(d)))
        case _         => None
      }
      for ((cx, dx) <- key(x); (cy, dy) <- key(y))
        yield if (cx != cy) cx.compare(cy) else dx.compare(dy)
  }

  /** Could any row of a file with stats `st` satisfy `r`? Missing
    * stats ⇒ unprunable ⇒ keep. A range predicate is null-rejecting,
    * but an all-null file publishes no min/max and is kept anyway —
    * the row filter still drops its rows, so pruning is only ever an
    * optimization, never a semantics change.
    */
  /** Stats maps are keyed by the FILE's column names (= physical
    * names under column mapping; pre-mapping files used the logical
    * name, which IS the physical name). Callers holding logical-name
    * ranges translate before probing.
    */
  private[lake] def physRanges(ranges: Seq[ColRange],
                               colMap: Map[String, String]): Seq[ColRange] =
    if (colMap.isEmpty) ranges
    else ranges.map(r => r.copy(column = colMap.getOrElse(r.column, r.column)))

  private[lake] def mayMatch(st: Stats, r: ColRange): Boolean = {
    val aboveLo = r.lo.forall(lo => st.max.get(r.column) match {
      case Some(mx) => cmp(mx, lo).forall(_ >= 0)
      case None     => true
    })
    val belowHi = r.hi.forall(hi => st.min.get(r.column) match {
      case Some(mn) => cmp(mn, hi).forall(_ <= 0)
      case None     => true
    })
    aboveLo && belowHi
  }

  /** Interval stab over sorted starts + running max of ends: indices
    * of every [mins(i), maxs(i)] containing `k`. `prefMax(i)` is
    * max(maxs(0..i)) — the walk-left stop condition when ranges
    * overlap arbitrarily.
    */
  private def stab[T](mins: Array[T], maxs: Array[T], prefMax: Array[T],
                      k: T)(implicit ord: Ordering[T]): Seq[Int] = {
    var lo = 0
    var hi = mins.length - 1
    var last = -1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      if (ord.lteq(mins(m), k)) { last = m; lo = m + 1 } else hi = m - 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = last
    while (i >= 0 && ord.gteq(prefMax(i), k)) {
      if (ord.gteq(maxs(i), k)) out += i
      i -= 1
    }
    out.toSeq
  }

  /** Partition `files` into (candidates, untouched) for the changelog
    * `changes`: a file is a candidate iff some changelog key stabs its
    * [min,max] `keyCol` range (files without key stats are always
    * candidates). Every changelog row's key is binary-searched against
    * the task-broadcast sorted range index; the winner window yields
    * one row per changelog key, so stabbing the raw rows selects the
    * same files without computing it. Each task folds its matches into
    * a bitset over the file count ([[foldRows]]: one job, no exchange),
    * with a flag for whether it saw any row — the third element: false
    * ⇒ an empty changelog, a guaranteed no-op merge.
    */
  private def touchedFiles(spark: SparkSession, files: Seq[Add],
                           keyCol: String, keyType: DataType,
                           changes: DataFrame,
                           statsKey: String): (Seq[Add], Seq[Add], Boolean) = {
    val (statted, unstatted) = files.partition(a =>
      a.stats.min.contains(statsKey) && a.stats.max.contains(statsKey))

    // (files hit, any row seen) over the changelog's key column
    def fold(key: Column, hits: InternalRow => Seq[Int])
        : (java.util.BitSet, Boolean) =
      foldRows(changes.select(key), (new java.util.BitSet, false)) {
        case ((bits, _), r) =>
          if (!r.isNullAt(0)) hits(r).foreach(bits.set)
          (bits, true)
      } { case ((a, sa), (b, sb)) => a.or(b); (a, sa || sb) }

    // The sorted range index ships to executors as a BROADCAST, never
    // a task closure: at 10^6 files the three arrays are ~24 MB, and a
    // closure-captured copy would serialize with EVERY task of every
    // batch, while a broadcast moves once per executor and is
    // torrent-distributed. The tasks capture only the broadcast handle.
    def run[T: scala.reflect.ClassTag](ord: Ordering[T], key: Column,
                                       keys: InternalRow => Seq[T])
        : (Set[Int], Boolean) = {
      implicit val o: Ordering[T] = ord
      def stat(m: Map[String, Any]): T = m(statsKey).asInstanceOf[T]
      val order = statted.indices.sortBy(i => stat(statted(i).stats.min))
      val mins = order.map(i => stat(statted(i).stats.min)).toArray
      val maxs = order.map(i => stat(statted(i).stats.max)).toArray
      val pref = maxs.clone()
      (1 until pref.length).foreach { i =>
        if (ord.lt(pref(i), pref(i - 1))) pref(i) = pref(i - 1)
      }
      val bc = spark.sparkContext.broadcast((mins, maxs, pref))
      val (bits, sawRow) =
        try fold(key, r => {
          val (mn, mx, pf) = bc.value
          keys(r).flatMap(stab(mn, mx, pf, _)(ord))
        })
        finally bc.destroy()
      (bits.stream().toArray.map(order).toSet, sawRow)
    }

    val (touched, hasKeys) =
      if (statted.isEmpty) (Set.empty[Int], fold(col(keyCol), _ => Nil)._2)
      else keyType match {
        case ByteType | ShortType | IntegerType | LongType =>
          run[Long](Ordering.Long, col(keyCol).cast(LongType),
            r => Seq(r.getLong(0)))
        case FloatType | DoubleType =>
          // the anti-join ties -0.0 to 0.0; the stats order does not
          run[Double](Ordering.Double.TotalOrdering,
            col(keyCol).cast(DoubleType), r => {
              val k = r.getDouble(0)
              if (k == 0.0) Seq(0.0, -0.0) else Seq(k)
            })
        case StringType =>
          // stats were written in UTF-8 byte order — stab with the
          // same order, or non-BMP keys could miss their files
          run[String](utf8Ordering, col(keyCol),
            r => Seq(r.getUTF8String(0).toString))
        case dt => throw new IllegalArgumentException(
          s"merge key '$keyCol' has unsupported type $dt")
      }

    val cands = statted.zipWithIndex.collect {
      case (a, i) if touched(i) => a
    } ++ (if (hasKeys) unstatted else Nil)
    val candSet = cands.map(_.path).toSet
    (cands, files.filterNot(a => candSet(a.path)), hasKeys)
  }

  private[lake] def rangeFilter(ranges: Seq[ColRange]): Column =
    ranges.flatMap { r =>
      r.lo.map(lo => col(r.column) >= lit(lo)).toSeq ++
        r.hi.map(hi => col(r.column) <= lit(hi)).toSeq
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Rows satisfying the conjunction of `ranges`, reading only files
    * whose stats admit a match. The row filter is applied on top (a
    * kept file holds matching and non-matching rows), and Spark
    * additionally pushes it into the parquet scan for row-group-level
    * pruning inside each kept file — stats skipping and predicate
    * pushdown compose.
    */
  def scanPruned(spark: SparkSession, root: String, ranges: Seq[ColRange],
                 asOf: Option[Long] = None): (DataFrame, PruneReport) = {
    val rootP = new Path(root)
    val snap = LakeLog.snapshot(fs(spark, rootP), rootP, asOf)
    val pr = physRanges(ranges, snap.colMap)
    val kept = snap.files.filter(a => pr.forall(r => mayMatch(a.stats, r)))
    val df = readAdds(spark, rootP, snap, kept)
      .where(rangeFilter(ranges))
    (df, PruneReport(snap.files.size, kept.size))
  }

  // ---- copy-on-write row-level ops ----------------------------------

  /** Delete rows satisfying ALL `ranges`. Only stats-candidate files
    * are read and rewritten; a candidate whose every row matches
    * simply disappears (no empty rewrite).
    */
  def deleteWhere(spark: SparkSession, root: String,
                  ranges: Seq[ColRange]): RewriteReport = {
    require(ranges.nonEmpty, "refusing a full-table delete via empty ranges" +
      " — use overwrite with an empty frame if that is really intended")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val pr = physRanges(ranges, snap.colMap)
    val (cands, untouched) =
      snap.files.partition(a => pr.forall(r => mayMatch(a.stats, r)))
    if (cands.isEmpty)
      return RewriteReport(snap.version, 0, 0, untouched.size)
    // SQL DELETE removes rows where the predicate is TRUE; on a NULL
    // key the range predicate is NULL, and bare !NULL = NULL would
    // silently DROP those rows from the rewritten survivors — coalesce
    // to false so null-keyed rows survive (the general rewrite path
    // in LakeDeleteCommand applies the same rule)
    val survivors = readAdds(spark, rootP, snap, cands)
      .where(!coalesce(rangeFilter(ranges), lit(false)))
    val nOut = math.max(1, cands.size / 2)
    val adds = writeDataFiles(spark, rootP, survivors, snap.statsCols, nOut,
      snap.clusterBy, snap.colMap, snap.partitionBy)
    val v = LakeLog.commit(f, rootP,
      (Meta("delete", snap.schemaDdl, snap.statsCols, None, None, now()) +:
        cands.map(a => Remove(a.path))) ++ adds,
      guardFiles = cands, baseVersion = snap.version)
    RewriteReport(v, cands.size, adds.size, untouched.size)
  }

  /** SQL MERGE, latest-wins: `changes` carries the table's columns
    * plus `versionCol` (monotone per key) and `opCol` ('U' upsert /
    * 'D' delete). Per key the highest version wins; version ties
    * resolve to 'D' (the conservative reading, same rule as
    * [[graft.operators.CdcMerge]]). Candidate files are selected by
    * PER-FILE key membership ([[touchedFiles]], one job with no
    * exchange): every changelog key is binary-searched
    * against the (broadcast) sorted per-file [min,max] key ranges —
    * O(|changes|·log|files|) work, interval-stab via sorted starts +
    * running max — so a file is rewritten only when some changed key
    * can actually live in it. On a clustered table this keeps
    * untouched key regions untouched even when the changelog spans
    * the whole key domain, where a single global [min,max] check
    * would mark every file a candidate. Winning upserts REPLACE the
    * whole row (full-row upsert, not per-column patch).
    */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
            keyCol: String, versionCol: String = "version",
            opCol: String = "op", appId: Option[String] = None,
            batchId: Option[Long] = None): RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    requireFreshBatch(snap, appId, batchId)
    val tableCols = StructType.fromDDL(snap.schemaDdl).fieldNames.toSeq
    require(changes.columns.toSet == (tableCols :+ versionCol :+ opCol).toSet,
      s"changes must carry table columns $tableCols + $versionCol + $opCol," +
        s" got ${changes.columns.toSeq}")

    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col(opCol).asc)
    val winners = changes
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
    val upserts = winners.where(col(opCol) =!= lit("D"))
      .select(tableCols.map(col): _*)
    enforceConstraints(upserts, snap.constraints, "merge upsert")

    val keyType = StructType.fromDDL(snap.schemaDdl)
      .find(_.name == keyCol).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"merge key '$keyCol' not in schema"))
    val (cands, untouched, hasKeys) =
      touchedFiles(spark, snap.files, keyCol, keyType, changes,
        snap.colMap.getOrElse(keyCol, keyCol))
    if (!hasKeys)
      return RewriteReport(snap.version, 0, 0, snap.files.size)

    val base = readAdds(spark, rootP, snap, cands)
    // broadcast the changelog's keys: a daily changelog is dwarfed by
    // the base table, and the anti join then never shuffles the base.
    // Raw keys, not the winners': a left-anti join drops the same rows
    // when its build side repeats a key, and a NULL key matches
    // nothing either way — so that side needs no window or distinct
    val merged0 = base
      .join(broadcast(changes.select(col(keyCol))), Seq(keyCol), "left_anti")
      .unionByName(upserts)
    // rewrite-mode semantics: surviving rows keep their identity
    // values, changelog inserts with null ids allocate past the
    // watermark, generated columns recompute — the keyed-upsert path
    // honors the same column contract as the SQL MERGE rewrite
    val (merged, alloc) = LakeColumns.applyWriteSemantics(spark,
      StructType.fromDDL(snap.schemaDdl), snap.colSpecs, snap.identityHwm,
      merged0, rewrite = true)
    val nOut = math.max(1, cands.size)
    val adds = writeDataFiles(spark, rootP, merged,
      LakeColumns.statsColsFor(snap.statsCols, snap.colSpecs), nOut,
      snap.clusterBy, snap.colMap, snap.partitionBy)
    val v = LakeLog.commit(f, rootP,
      ((Meta("merge", snap.schemaDdl, snap.statsCols, appId, batchId,
        now()) +: cands.map(a => Remove(a.path))) ++ adds) ++
        alloc.hwmActions(adds),
      guardFiles = cands, baseVersion = snap.version,
      expectConstraints = Some(snap.constraints),
      dedupBatch = appId.zip(batchId),
      expectIdentityHwm = if (alloc.isEmpty) None else Some(alloc.baseHwm))
    RewriteReport(v, cands.size, adds.size, untouched.size)
  }

  /** Roll the table BACK to the state of `toVersion` as a NEW commit
    * (the RESTORE shape): the current snapshot's files are removed,
    * the target version's re-added — pure log movement, no data
    * read or written, so restoring a 100 TB table is a KB commit.
    * History is preserved (the bad commits stay inspectable and the
    * restore itself is one more auditable version); the restored
    * files must still exist, so restore only reaches versions vacuum
    * has retained — the same retention contract as time travel.
    * Active CHECK constraints and reader features are NOT rolled
    * back: they are table policy, not data.
    */
  def restore(spark: SparkSession, root: String,
              toVersion: Long): RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val cur = LakeLog.snapshot(f, rootP, None)
    require(toVersion < cur.version,
      s"restore target $toVersion is not before current ${cur.version}")
    val old = LakeLog.snapshot(f, rootP, Some(toVersion))
    val needed = old.files.map(_.path) ++ old.files.flatMap(_.dv.map(_.path))
    val missing = needed.filterNot(p => f.exists(new Path(rootP, p)))
    require(missing.isEmpty,
      s"cannot restore to $toVersion: ${missing.size} of its files/" +
        s"sidecars were vacuumed (first: ${missing.headOption})")
    val keep = old.files.map(a => a.path -> a).toMap
    val rms = cur.files.filterNot(a => keep.get(a.path).contains(a))
      .map(a => Remove(a.path))
    val readds = old.files.filterNot(a =>
      cur.files.contains(a)) // unchanged files need no action
    // column semantics revert WITH the schema (replay is cumulative,
    // so the restore commit carries corrective actions): a spec added
    // after the target would otherwise dangle on a column the
    // restored schema no longer has — and break every later write.
    // The identity watermark deliberately does NOT revert (vacuumed-
    // proof: allocating past the all-time high can never collide);
    // COPY INTO memory keeps its full history too (re-loading files
    // whose rows were un-restored needs an explicit new COPY after
    // the operator decides that is really wanted).
    val semFixes =
      cur.colSpecs.keySet.diff(old.colSpecs.keySet).toSeq.sorted.map(c =>
        LakeLog.ColSpec(c, cur.colSpecs(c).kind, Map.empty)) ++
      old.colSpecs.toSeq.sortBy(_._1).collect {
        case (c, cs) if !cur.colSpecs.get(c).contains(cs) => cs
      }
    val v = LakeLog.commit(f, rootP,
      ((Meta("restore", old.schemaDdl, old.statsCols, None, None, now(),
        old.clusterBy) +: semFixes) ++ rms) ++ readds,
      guardFiles = cur.files, baseVersion = cur.version)
    RewriteReport(v, rms.size, readds.size,
      cur.files.size - rms.size)
  }

  /** Bin-pack every live file smaller than `smallBytes` into
    * ~`targetBytes` outputs (measured input bytes, like
    * [[graft.operators.Compaction]]) as one atomic rewrite commit.
    * `within` (optional) scopes the pass to files whose stats admit
    * the ranges — the "OPTIMIZE WHERE" shape: a daily maintenance
    * job compacts yesterday's key region without touching (or even
    * listing the stats of) the rest of a 100 TB table.
    */
  def compact(spark: SparkSession, root: String, smallBytes: Long,
              targetBytes: Long,
              within: Seq[ColRange] = Nil): RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val withinP = physRanges(within, snap.colMap)
    val (smalls, untouched) = snap.files.partition(a =>
      a.stats.bytes < smallBytes &&
        withinP.forall(r => mayMatch(a.stats, r)))
    if (smalls.size < 2)
      return RewriteReport(snap.version, 0, 0, snap.files.size)
    val totalBytes = smalls.map(_.stats.bytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // DV-aware read: compaction PURGES deletion vectors — the packed
    // outputs are the files' live rows, written clean (still
    // dataChange=false: the live-row multiset is unchanged)
    val packed = readAdds(spark, rootP, snap, smalls)
    // partitioned tables: the partitioned write re-splits packed rows
    // on value boundaries, so bin-packing never merges across
    // partition directories and every output stays single-valued
    val adds = writeDataFiles(spark, rootP, packed, snap.statsCols, nOut,
      snap.clusterBy, snap.colMap, snap.partitionBy)
    val v = LakeLog.commit(f, rootP,
      (Meta("compact", snap.schemaDdl, snap.statsCols, None, None, now()) +:
        smalls.map(a => Remove(a.path))) ++ adds,
      guardFiles = smalls, baseVersion = snap.version)
    RewriteReport(v, smalls.size, adds.size, untouched.size)
  }

  /** Re-cluster the table's live rows onto a NEW layout (plain
    * column order or [[zCluster]]) in one atomic rewrite — the
    * `OPTIMIZE ... ZORDER BY` / `ALTER TABLE CLUSTER BY` shape. The
    * commit records the new spec in its Meta, so every LATER
    * write/rewrite re-enters the new layout, and it is LAYOUT-ONLY
    * (row multiset unchanged; pending deletion vectors are purged
    * into the rewrite): CDF skips it unread, exactly like `compact`.
    */
  def recluster(spark: SparkSession, root: String, clusterBy: String,
                nFiles: Int = 8): RewriteReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val snap = LakeLog.snapshot(f, rootP, None)
    val rows = readAdds(spark, rootP, snap, snap.files)
    val adds = writeDataFiles(spark, rootP, rows, snap.statsCols, nFiles,
      Some(clusterBy), snap.colMap, snap.partitionBy)
    val v = LakeLog.commit(f, rootP,
      (Meta("recluster", snap.schemaDdl, snap.statsCols, None, None, now(),
        Some(clusterBy)) +: snap.files.map(a => Remove(a.path))) ++ adds,
      guardFiles = snap.files, baseVersion = snap.version)
    RewriteReport(v, snap.files.size, adds.size, 0)
  }

  // ---- maintenance ---------------------------------------------------

  /** Safety window below which [[vacuum]] refuses to touch a file:
    * the staged `data/<uuid>/` files of a concurrent IN-FLIGHT writer
    * are written BEFORE its commit lands, so by log state alone they
    * are indistinguishable from garbage — only age separates "about
    * to be referenced" from "abandoned". 7 days, the same default
    * retention public lakehouse formats ship with.
    */
  val defaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Physically delete data files referenced by NO version >=
    * `keepFromVersion` (plus stray staging files no version ever
    * referenced) — but ONLY files older than `retentionMs`
    * (default 7 days): younger unreferenced files may belong to an
    * in-flight writer whose commit has not landed yet, and deleting
    * them would corrupt that commit the moment it lands. Log versions
    * are re-listed AFTER the candidate scan, so a commit landing
    * mid-vacuum is already in the live set when deletions run (its
    * files are also younger than any sane horizon — two independent
    * guards). Time travel to versions older than the floor may fail
    * afterwards — that is the retention contract. Tests and
    * single-writer maintenance may pass `retentionMs = 0L` (the
    * moral equivalent of disabling Delta's retention-duration
    * check) — never do that with concurrent writers.
    */
  def vacuum(spark: SparkSession, root: String, keepFromVersion: Long,
             retentionMs: Long = defaultVacuumRetentionMs,
             dryRun: Boolean = false): VacuumReport = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    require(LakeLog.versions(f, rootP).nonEmpty, s"no lake table at $root")
    val horizon = now() - math.max(0L, retentionMs)
    // 1. candidate scan FIRST: only files old enough to predate any
    //    in-flight writer are eligible at all
    val dd = LakeLog.dataDir(rootP)
    // recursive: partitioned tables nest one `<col>=<value>/` level
    // per partition column below each staging dir
    val qualRoot = f.makeQualified(rootP).toUri.getPath
    def relToRoot(p: Path): String =
      p.toUri.getPath.stripPrefix(qualRoot + "/")
    val dataCands: Seq[(Path, String, Long)] = {
      if (!f.exists(dd)) Nil
      else {
        val it = f.listFiles(dd, true)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Path, String, Long)]
        while (it.hasNext) {
          val st = it.next()
          if (!st.getPath.getName.startsWith("_") &&
              st.getModificationTime < horizon)
            buf += ((st.getPath, relToRoot(st.getPath), st.getLen))
        }
        buf.toSeq
      }
    }
    // CONVERT-origin files live OUTSIDE data/ (adopted in place at the
    // root / under partition-value dirs); once a rewrite de-references
    // them they are reclaimable garbage like any other orphan. Only
    // *.parquet outside the lake's own namespaces — foreign markers
    // (_SUCCESS etc.) are never touched.
    val convertCands: Seq[(Path, String, Long)] = {
      val it = f.listFiles(rootP, true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Path, String, Long)]
      while (it.hasNext) {
        val st = it.next()
        val rel = relToRoot(st.getPath)
        val top = rel.takeWhile(_ != '/')
        if (rel.endsWith(".parquet") && top != "data" && top != "dv" &&
            !top.startsWith("_") &&
            !rel.split('/').exists(_.startsWith("_")) &&
            st.getModificationTime < horizon)
          buf += ((st.getPath, rel, st.getLen))
      }
      buf.toSeq
    }
    val dvd = new Path(rootP, "dv")
    val dvCands: Seq[Path] =
      if (!f.exists(dvd)) Nil
      else f.listStatus(dvd).toSeq.collect {
        case sub if sub.getModificationTime < horizon &&
            f.listStatus(sub.getPath)
              .forall(_.getModificationTime < horizon) =>
          sub.getPath
      }
    // 2. THEN replay the log: any commit that landed while we listed
    //    is visible here and protects its files
    val vs = LakeLog.versions(f, rootP)
    val retained = vs.filter(_ >= keepFromVersion)
    require(retained.nonEmpty, s"keepFromVersion=$keepFromVersion retains no" +
      s" version (have ${vs.head}..${vs.last})")
    // enforceFloor = false: this fold only needs the retained
    // versions' file LISTS (to protect their still-existing files) —
    // a keepFrom below the current floor is legal and conservative
    // (it deletes less), and the floor guard would refuse replaying
    // those pre-floor versions
    val snaps = retained.map(v =>
      LakeLog.snapshot(f, rootP, Some(v), enforceFloor = false))
    val live: Set[String] = snaps.flatMap(_.filePaths).toSet
    val liveDv: Set[String] =
      snaps.flatMap(_.files.flatMap(_.dv.map(_.path))).toSet
    var files = 0
    var bytes = 0L
    // staging-dir sweep decisions are taken from a PRE-DELETION
    // listing: deleting a dir's files bumps the dir's mtime past the
    // horizon, so a post-deletion mtime gate would skip exactly the
    // dirs this vacuum just emptied (they'd leak forever, pinned by
    // their _SUCCESS marker) and make the real run's accounting
    // diverge from the dry run's. mtime < horizon on the PRE state is
    // the real guard: a writer may have mkdir'd but not written yet.
    val preDirs: Seq[(Path, Seq[(Path, String, Long)])] =
      if (!f.exists(dd)) Nil
      else f.listStatus(dd).toSeq.collect {
        case sub if sub.isDirectory &&
            sub.getModificationTime < horizon =>
          val it = f.listFiles(sub.getPath, true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Path, String, Long)]
          while (it.hasNext) {
            val st = it.next()
            buf += ((st.getPath, relToRoot(st.getPath), st.getLen))
          }
          sub.getPath -> buf.toSeq
      }
    // dryRun: identical candidate selection and accounting, ZERO
    // deletions — "what would this vacuum reclaim" is answerable
    // before committing to breaking time travel below the floor
    val reclaimed = scala.collection.mutable.Set.empty[String]
    (dataCands ++ convertCands).foreach { case (p, rel, len) =>
      if (!live.contains(rel)) {
        bytes += len
        files += 1
        reclaimed += rel
        if (!dryRun) f.delete(p, false): Unit
      }
    }
    // reap a stale staging dir once no non-marker file survives this
    // vacuum, judged against the reclaim set (never a re-listing: dry
    // run deletes nothing, and write markers — _SUCCESS — are never
    // data candidates, so an emptiness probe would pin the dir
    // forever after its last data file was vacuumed). Markers reaped
    // with their dir are bytes too, accounted in BOTH modes so the
    // dry==real report contract holds.
    preDirs.foreach { case (dir, under) =>
      val (markers, data) =
        under.partition(_._1.getName.startsWith("_"))
      if (data.forall { case (_, rel, _) => reclaimed.contains(rel) }) {
        markers.foreach { case (_, _, len) => bytes += len; files += 1 }
        if (!dryRun) f.delete(dir, true): Unit
      }
    }
    // deletion-vector sidecars: a dv/<uuid> dataset is live while any
    // retained version's Add still points at it
    val reclaimedDv = scala.collection.mutable.Set.empty[String]
    dvCands.foreach { sub =>
      if (!liveDv.contains(s"dv/${sub.getName}")) {
        f.listStatus(sub).filterNot(_.isDirectory).foreach { st =>
          bytes += st.getLen
          files += 1
        }
        reclaimedDv += s"dv/${sub.getName}"
        if (!dryRun) f.delete(sub, true): Unit
      }
    }
    // record the vacuum floor when this run deleted a file some
    // PRE-FLOOR version still references (pure staging/convert
    // garbage that no version ever referenced breaks nothing and
    // moves no floor): time travel below the floor then refuses at
    // resolution time with the horizon in the message —
    // LakeLog.snapshot — instead of dying file-by-file inside tasks.
    // One linear scan of the pre-floor commits; vacuum is a
    // maintenance op that already listed the whole data tree.
    if (!dryRun && files > 0 && keepFromVersion > 0) {
      val brokeHistory = {
        val refs = scala.collection.mutable.Set.empty[String]
        vs.filter(_ < keepFromVersion).foreach { v =>
          LakeLog.readCommit(f, rootP, v).foreach {
            case a: LakeLog.Add =>
              refs += a.path
              a.dv.foreach(d => refs += d.path.split('/').take(2)
                .mkString("/"))
            case _ => ()
          }
        }
        reclaimed.exists(refs.contains) ||
          reclaimedDv.exists(refs.contains)
      }
      if (brokeHistory)
        LakeLog.recordVacuumFloor(f, rootP, keepFromVersion, horizon)
    }
    VacuumReport(files, bytes)
  }

  /** Change-data-feed read: row-level changes the table underwent in
    * commit versions `(fromVersion, toVersion]`, as the data columns
    * plus `_change_type` ('insert' | 'delete') and `_commit_version`.
    *
    * No change files are stored — changes are RECONSTRUCTED per
    * commit from the file-level log, the lakehouse CDF-on-demand
    * technique: an append commit's added files are pure inserts (no
    * read of the rest of the table); a rewrite commit's row delta is
    * the multiset difference between its added and removed files
    * (`exceptAll` both ways — rows a rewrite merely copied appear on
    * both sides and cancel). Cost is therefore bounded by the
    * COMMIT's touched files, never the table: at 100 TB a day of CDC
    * reads only that day's rewritten files. Commits tagged
    * `compact` are layout-only (dataChange=false) and are skipped
    * without reading anything — bin-packing produces no row changes
    * by construction (and an exceptAll proving that emptiness would
    * cost a full shuffle of the compacted range).
    *
    * An update arrives as delete(old row) + insert(new row) — the
    * key-less multiset contract; pair them downstream with
    * [[graft.operators.SnapshotDiff]] if a keyed upsert view is
    * needed.
    */
  def scanChanges(spark: SparkSession, root: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val latest = LakeLog.latestVersion(f, rootP).getOrElse(
      throw new IllegalArgumentException(s"no lake table at $root"))
    // fromVersion = -1 means "include the create commit's inserts" —
    // the value the INCLUSIVE table_changes(t, 0, ...) SQL form maps to
    require(fromVersion >= -1 && fromVersion <= toVersion &&
      toVersion <= latest,
      s"bad change range ($fromVersion, $toVersion]: table has 0..$latest")
    // a rewrite commit's REMOVED side reads files referenced by the
    // previous version — the lowest being `fromVersion` itself — so a
    // change range dipping below the vacuum floor may be missing
    // files: refuse at resolution with the horizon, like time travel
    LakeLog.vacuumFloor(f, rootP).foreach { case (keepFrom, horizonTs) =>
      if (fromVersion < keepFrom) throw new IllegalStateException(
        s"change range ($fromVersion, $toVersion] of $root reaches " +
          s"below the vacuum floor $keepFrom (horizon ${java.time
            .Instant.ofEpochMilli(horizonTs)}) — files of pre-floor " +
          s"versions were deleted; start the range at $keepFrom or " +
          "later")
    }
    // the change view is expressed in toVersion's LOGICAL names
    cdfFrame(spark, rootP, LakeLog.snapshot(f, rootP, Some(toVersion)),
      fromVersion + 1, toVersion)
  }

  private def taggedChanges(df: DataFrame, tpe: String, v: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn("_change_type", lit(tpe))
      .withColumn("_commit_version", lit(v))
  }

  /** One tagged change frame per data-changing commit in
    * `[from, to]`, read under `view` — the reconstruction behind
    * [[cdfFrame]].
    */
  private def changeFrames(spark: SparkSession, rootP: Path,
                           view: LakeLog.Snapshot, from: Long, to: Long)
      : Seq[DataFrame] = {
    val f = fs(spark, rootP)
    (from to to).flatMap { v =>
      val actions = LakeLog.readCommit(f, rootP, v)
      val op = actions.collectFirst { case m: Meta => m.op }.getOrElse("")
      val adds = actions.collect { case a: Add => a }
      val rms = actions.collect { case r: LakeLog.Remove => r.path }
      if (op == "compact" || op == "recluster" || op == "localize")
        Seq.empty // layout-only: dataChange=false
      else if (op == "mordelete") {
        // a MOR delete re-points files at a new DV; the row delta is
        // exactly the NEW positions minus the previous snapshot's —
        // read only the re-pointed files, at only those positions
        val prev = LakeLog.snapshot(f, rootP, Some(v - 1)).files
          .filter(a => adds.exists(_.path == a.path))
        val ids = adds.map(a =>
          fileId(rootP, a.path, idDepth(view.partitionBy)))
        val newDels = readDvRows(spark, rootP, adds.flatMap(_.dv).map(_.path))
          .where(col("file").isin(ids: _*))
        val oldDels = readDvRows(spark, rootP, prev.flatMap(_.dv).map(_.path))
          .where(col("file").isin(ids: _*))
        val delta = newDels.exceptAll(oldDels)
        // every physical row with its coordinates: the delta's rows
        // are exactly the ones the new DV hides
        val all = readAdds(spark, rootP, view, adds.map(_.copy(dv = None)),
          withPos = true)
        val rows = all
          .join(delta,
            all("__file") === delta("file") && all("__pos") === delta("pos"),
            "left_semi")
          .drop("__file", "__pos")
        Seq(taggedChanges(rows, "delete", v))
      }
      else if (rms.isEmpty)
        Seq(taggedChanges(readAdds(spark, rootP, view, adds), "insert", v))
      else {
        // the REMOVED side must be read through the previous
        // snapshot's Adds (their deletion vectors included) — raw
        // file reads would count already-MOR-deleted rows as deleted
        // again by this rewrite
        val prev = LakeLog.snapshot(f, rootP, Some(v - 1)).files
          .filter(a => rms.contains(a.path))
        val added = readAdds(spark, rootP, view, adds)
        val removed = readAdds(spark, rootP, view, prev)
        Seq(taggedChanges(added.exceptAll(removed), "insert", v),
          taggedChanges(removed.exceptAll(added), "delete", v))
      }
    }
  }

  /** DESCRIBE-DETAIL-style one-row summary of the latest snapshot:
    * version, file/row/byte totals, pending deletion-vector debt,
    * layout spec, reader features, active constraints — the
    * dashboard row maintenance tooling keys off.
    */
  def detail(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, new Path(root))
    val snap = LakeLog.snapshot(f, new Path(root), None)
    val dvRows = snap.files.flatMap(_.dv).map(_.rows).sum
    // oldest version time travel is guaranteed to reach: the recorded
    // vacuum floor, or 0 when no vacuum has broken history
    val floor = LakeLog.vacuumFloor(f, new Path(root))
      .map(_._1).getOrElse(0L)
    import spark.implicits._
    Seq((snap.version, snap.files.size.toLong,
      snap.files.map(_.stats.rows).sum - dvRows,
      snap.files.map(_.stats.bytes).sum,
      snap.files.count(_.dv.nonEmpty).toLong, dvRows,
      snap.partitionBy.mkString(","),
      snap.clusterBy.getOrElse(""),
      snap.features.toSeq.sorted.mkString(","),
      snap.constraints.toSeq.sorted.map { case (n, e) => s"$n: $e" }
        .mkString("; "), floor))
      .toDF("version", "num_files", "num_rows", "total_bytes",
        "dv_files", "dv_dead_rows", "partition_by", "cluster_by",
        "features", "constraints", "time_travel_floor")
  }

  /** Commit history as a DataFrame: (version, op, files_added,
    * files_removed, rows_added) — the audit surface.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val rows = LakeLog.versions(f, rootP).map { v =>
      val as = LakeLog.readCommit(f, rootP, v)
      val op = as.collectFirst { case m: Meta => m.op }.getOrElse("")
      val adds = as.collect { case a: Add => a }
      val rms = as.count { case _: Remove => true; case _ => false }
      (v, op, adds.size.toLong, rms.toLong, adds.map(_.stats.rows).sum)
    }
    import spark.implicits._
    rows.toDF("version", "op", "files_added", "files_removed", "rows_added")
  }
}
