package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Batch-read relation for a snapshot whose rows are NOT just its
  * files' rows under their own names: it carries deletion vectors (a
  * DV'd file's live rows are the file minus its recorded positions),
  * or column mapping (files hold physical names a rename or drop
  * re-labels), or its partition columns sit before data columns. The
  * format provider returns it for exactly those snapshots; every other
  * snapshot gets the bare [[LakeTable.fileRelation]].
  *
  * With `spark.sql.extensions=graft.GraftSparkExtensions`,
  * [[LakeMorExpansion]] splices this relation out during analysis for
  * [[LakeTable.readAdds]] over the snapshot — the lake's one reader,
  * native vectorized scans with whole-stage codegen. Without the
  * extensions this `PrunedFilteredScan` serves the same rows:
  * `buildScan` stats-prunes the file list against the pushed filters
  * (the same [[LakeTable.mayMatch]] index), reads the survivors
  * through [[LakeTable.readAdds]], and re-applies the translatable
  * filters INSIDE that plan so parquet row-group pushdown still bites.
  * Spark re-applies every filter above the scan (`unhandledFilters`
  * default), so pruning here is only ever an optimization. The only
  * row-based piece is the API boundary itself (`buildScan` returns
  * `RDD[Row]`), inherent to every V1 fallback.
  */
private[lake] final class LakeMorRelation(spark: SparkSession,
                                          private[lake] val root: Path,
                                          private[lake] val snap: LakeLog.Snapshot)
    extends BaseRelation with PrunedFilteredScan
    with org.apache.spark.internal.Logging {

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = StructType.fromDDL(snap.schemaDdl)

  override def sizeInBytes: Long = snap.files.map(_.stats.bytes).sum

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    // reaching here means LakeMorExpansion did NOT splice this
    // relation out — the session is running without
    // GraftSparkExtensions. Same results, slower physics: say so
    // loudly ONCE per table instead of silently degrading.
    if (LakeMorRelation.warnedRoots.add(root.toString))
      logWarning(
        s"reading lake table $root through the V1 " +
          "PrunedFilteredScan fallback: the inner parquet scan is " +
          "still vectorized, but rows cross the relation boundary " +
          "one at a time (no whole-stage codegen across it). Set " +
          "spark.sql.extensions=graft.GraftSparkExtensions to splice " +
          "the native scan (and enable MOR DML, table_changes, " +
          "lake SQL statements).")
    val ranges = LakeRanges.widening(filters)
      .filter(r => snap.statsCols.contains(r.column))
    val pr = LakeTable.physRanges(ranges, snap.colMap)
    val kept = snap.files.filter(a =>
      pr.forall(r => LakeTable.mayMatch(a.stats, r)))
    val df = LakeTable.readAdds(spark, root, snap, kept)
      .where(LakeTable.rangeFilter(ranges))
    df.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

/** Batch change-data-feed relation:
  * `spark.read.format("graft-lake").option("readChangeFeed", true)
  * .option("startingVersion", v) [.option("endingVersion", w)]` —
  * the row-level changes of commits `[startingVersion, ending]`
  * (inclusive, Delta's batch-CDF convention), reconstructed by
  * [[LakeTable.cdfFrame]] under the ending version's snapshot `view`
  * and tagged with `_change_type`/`_commit_version`.
  */
private[lake] final class LakeCdfRelation(spark: SparkSession,
                                          private[lake] val root: Path,
                                          private[lake] val from: Long,
                                          private[lake] val to: Long,
                                          private[lake] val view:
                                            LakeLog.Snapshot)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType =
    LakeStreamSource.withCdfColumns(StructType.fromDDL(view.schemaDdl))

  override def buildScan(): RDD[Row] =
    LakeTable.cdfFrame(spark, root, view, from, to).rdd
}

private[lake] object LakeMorRelation {

  /** Tables already warned about the no-extensions fallback — the
    * degradation is per-TABLE news, not per-query noise.
    */
  private[lake] val warnedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
