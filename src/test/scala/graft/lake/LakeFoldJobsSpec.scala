package graft.lake

import org.apache.spark.scheduler.SparkListenerStageSubmitted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import LakeTable.ColRange

/** Keyed merges and merge-on-read deletes collect their file-bounded
  * metadata (touched files, per-file DV counts) in one job each, with
  * no shuffle. Bounds, not exact counts: writing a key-clustered table
  * samples its key range in one or two jobs. With a window, `distinct`
  * and `groupBy` per collection instead, the three cases below ran 9,
  * 8 and 4 jobs.
  */
class LakeFoldJobsSpec extends SparkSuite {

  /** 400 rows, keys 0..399, in `nFiles` files clustered by key. */
  private def table(nFiles: Int): String = {
    val root = tempDir("lake_fold_jobs").resolve("tbl").toString
    LakeTable.create(spark, root,
      spark.range(0, 400).select(col("id"), concat(lit("v"), col("id")).as("v")),
      Seq("id"), nFiles = nFiles, clusterBy = Some("id"))
    root
  }

  private def changes(rows: (Long, String, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v", "version", "op")
  }

  test("a keyed merge into a 4-file clustered table runs at most 7 jobs") {
    val root = table(4)
    val ch = changes(
      (10L, "a1", 1L, "U"), (10L, "a3", 3L, "U"), (10L, "a2", 2L, "U"),
      (250L, "tie", 4L, "U"), (250L, "tie", 4L, "D"),
      (5000L, "past", 1L, "U"))
    var rep: LakeTable.RewriteReport = null
    val jobs = jobsDuring { rep = LakeTable.merge(spark, root, ch, "id") }
    assert(jobs <= 7, s"$jobs jobs for one keyed merge")
    assert(rep.filesRewritten == 2 && rep.filesUntouched == 2, s"$rep")
    val out = LakeTable.scan(spark, root)
    assert(out.count() == 400)
    assert(out.where(col("id") === 10L).head().getString(1) == "a3")
    assert(out.where(col("id").isin(250L, 5000L)).collect()
      .map(_.getLong(0)).toSeq == Seq(5000L))
  }

  test("a changelog that misses every file pays no key-presence job") {
    val root = table(4)
    val ch = changes((5000L, "past", 1L, "U"), (5001L, "past", 1L, "U"))
    var rep: LakeTable.RewriteReport = null
    val jobs = jobsDuring { rep = LakeTable.merge(spark, root, ch, "id") }
    assert(jobs <= 5, s"$jobs jobs for a merge that touches no file")
    assert(rep.filesRewritten == 0 && rep.filesUntouched == 4, s"$rep")
    assert(LakeTable.scan(spark, root).count() == 402)
  }

  test("a merge-on-read delete over at most 8 candidates runs 3 jobs") {
    val root = table(8)
    var rep: LakeTable.RewriteReport = null
    val jobs = jobsDuring {
      rep = LakeTable.deleteWhereMor(spark, root,
        Seq(ColRange("id", Some(20L), Some(160L))))
    }
    assert(jobs <= 3, s"$jobs jobs for one MOR delete")
    assert(rep.filesRewritten >= 2 && rep.filesRewritten <= 4, s"$rep")
    assert(LakeTable.scan(spark, root).count() == 400 - 141)
  }

  test("dedupTable over an 8-file table scans its data files once") {
    // 400 rows, 4 per key k: 300 victims spread over every file
    val root = tempDir("lake_fold_jobs").resolve("dups").toString
    LakeTable.create(spark, root,
      spark.range(0, 400).select(col("id"), (col("id") % 100).as("k")),
      Seq("id"), nFiles = 8, clusterBy = Some("id"))
    var rep: LakeTable.RewriteReport = null
    val scans = eventsDuring[SparkListenerStageSubmitted] {
      rep = LakeTable.dedupTable(spark, root, Seq("k"), "id")
    }.count(_.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
    // one scan of the data files (the victims' window), one read-back
    // of the sidecar the commit counts from; evaluating the victims
    // once for their file set and again for the sidecar scanned twice
    assert(scans == 2, s"$scans file-scan stages for one dedupTable")
    // ids 0..99 survive: the first file or two hold no victim
    assert(rep.filesRewritten == 6, s"$rep")
    val out = LakeTable.scan(spark, root)
    assert(out.count() == 100)
    assert(out.agg(max(col("id"))).head().getLong(0) == 99L)
  }
}
