package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** [[FileIndex]] over a [[LakeLog.Snapshot]] — the piece that puts
  * the lake's per-file min/max stats INSIDE Spark's native parquet
  * scan planning (the Delta `TahoeFileIndex` idea): every lake read
  * ([[LakeTable.fileRelation]]) plans a stock `FileScan parquet` whose
  * file list is the snapshot's (never a directory listing — vacuumed
  * or not-yet-committed files are invisible by construction), and
  * `listFiles` re-prunes that list against the pushed data filters,
  * so version isolation, stats skipping, parquet row-group pushdown
  * and whole-stage codegen all compose in ONE stock scan node.
  *
  * PARTITIONED tables (`PARTITIONED BY` / converted hive layouts)
  * surface a real `partitionSchema`: each file's partition values are
  * read from its log-recorded min==max stats (never from the path at
  * plan time, never from a directory listing), grouped into
  * `PartitionDirectory` rows, and Spark's scan injects the columns
  * into every row — the file CONTENT never stores them. Pushed
  * partition filters are evaluated EXACTLY against each group's
  * values (arbitrary predicates, not just ranges), so the scan shows
  * true `PartitionFilters:` pruning.
  *
  * File sizes come from the commit log's recorded stats — planning
  * makes ZERO filesystem calls per file, which at a 10^6-file table
  * is the difference between instant planning and a namenode storm.
  */
final class LakeFileIndex(spark: SparkSession, root: Path,
                          snap: LakeLog.Snapshot,
                          // any subset of files read under `snap`'s view
                          // (a DV-aware read plans the clean and the DV'd
                          // files as two separate native scans)
                          files: Seq[LakeLog.Add])
    extends FileIndex {

  private val statsByPath: Map[String, LakeLog.Stats] =
    files.map(f => f.path -> f.stats).toMap

  private def abs(rel: String): Path = new Path(root, rel)

  // log-recorded length; mtime 0 is fine — nothing downstream of a
  // snapshot read keys on it
  private def status(f: LakeLog.Add): FileStatus =
    new FileStatus(f.stats.bytes, false, 1, 128L * 1024 * 1024, 0L, abs(f.path))

  override def rootPaths: Seq[Path] = Seq(root)

  private val fullSchema: StructType = StructType.fromDDL(snap.schemaDdl)

  // base-column predicates → ranges on generated partition columns
  // (parsed once per index; see LakeGenPruning for the sound shapes)
  private val inferGenerated = LakeGenPruning.inferencer(spark, snap,
    fullSchema)

  override val partitionSchema: StructType =
    StructType(snap.partitionBy.map(c => fullSchema(c)))

  override def sizeInBytes: Long = files.map(_.stats.bytes).sum

  override def inputFiles: Array[String] =
    files.map(f => abs(f.path).toString).toArray

  override def refresh(): Unit = () // snapshot = immutable version pin

  /** Partition values of one file, from its min==max stats (stats
    * normalize to Long/String; convert back to the column's Catalyst
    * internal type). A missing stat is the null partition
    * (`__HIVE_DEFAULT_PARTITION__` at write time).
    */
  private def partValues(f: LakeLog.Add): Seq[Any] =
    snap.partitionBy.map { c =>
      f.stats.min.get(c) match {
        case None => null
        case Some(v) => fullSchema(c).dataType match {
          case ByteType    => v.asInstanceOf[Long].toByte
          case ShortType   => v.asInstanceOf[Long].toShort
          case IntegerType => v.asInstanceOf[Long].toInt
          case LongType    => v.asInstanceOf[Long]
          case StringType  => UTF8String.fromString(v.asInstanceOf[String])
          case dt => throw new IllegalStateException(
            s"partition column '$c' of unsupported type $dt")
        }
      }
    }

  /** Pushed data filters → per-column bounds → stats pruning. The
    * conjuncts [[LakeRanges.widening]] translates on a stats column
    * prune; everything else is ignored here and still applied row-level by
    * the scan's own filters — pruning is an optimization, never a
    * semantics change (same contract as [[LakeTable.scanPruned]]).
    * Partition filters (arbitrary predicates on partition columns)
    * are evaluated EXACTLY per partition-value group.
    */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]):
      Seq[PartitionDirectory] = {
    // under column mapping the scan schema (and thus every pushed
    // filter) uses PHYSICAL names — the same names stats are keyed by
    val statKeys = snap.statsCols
      .map(c => snap.colMap.getOrElse(c, c)).toSet
    val ranges = dataFilters.flatMap(LakeRanges.widening(_))
      .filter(r => statKeys.contains(r.column)) ++
      // generated-partition inference: a base-column predicate also
      // bounds its GENERATED partition column (month(base) etc.), and
      // the partition value is exactly the file's min==max stat —
      // so a date filter prunes directories the query never names
      inferGenerated(dataFilters)
    val kept = files.filter(f =>
      ranges.forall(r => LakeTable.mayMatch(f.stats, r)))
    if (snap.partitionBy.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty,
        kept.map(f => FileStatusWithMetadata(status(f)))))
    else {
      val pred: InternalRow => Boolean =
        if (partitionFilters.isEmpty) _ => true
        else {
          val bound = partitionFilters.reduce(And(_, _)).transform {
            case a: Attribute =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType,
                nullable = true)
          }
          val p = Predicate.createInterpreted(bound)
          row => p.eval(row)
        }
      kept.groupBy(partValues).toSeq
        .sortBy(_._2.head.path) // deterministic plan
        .flatMap { case (vals, fs) =>
          val row = InternalRow.fromSeq(vals)
          if (!pred(row)) None
          else Some(PartitionDirectory(row,
            fs.map(f => FileStatusWithMetadata(status(f)))))
        }
    }
  }

  /** Stats of one committed file, for tests/tooling. */
  def statsOf(relPath: String): Option[LakeLog.Stats] =
    statsByPath.get(relPath)
}
