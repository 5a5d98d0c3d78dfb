package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column mapping (rename/drop without rewrite) and lossless type
  * widening — the two schema evolutions beyond add-column. Both are
  * metadata-only: files never move, and both stamp reader features so
  * an older build refuses instead of mis-reading.
  */
class LakeEvolutionSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("graft_lakeevo").resolve("tbl").toString

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def seed(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, i * 10L)).toDF("id", "amount")

  test("rename is a metadata commit: old files read under the new name") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id", "amount"),
      nFiles = 2, clusterBy = Some("id"))
    val dataFiles = LakeTable.snapshot(spark, root).files.map(_.path).toSet
    LakeTable.renameColumn(spark, root, "amount", "total")
    assert(LakeTable.snapshot(spark, root).files.map(_.path).toSet ==
      dataFiles, "rename must move zero data files")
    val out = LakeTable.scan(spark, root)
    assert(out.columns.toSeq == Seq("id", "total"))
    assert(out.where(col("id") === 7L).head().getLong(1) == 70L)
    // time travel shows each version's own names
    val v0 = LakeTable.scanAsOf(spark, root, Some(0L))
    assert(v0.columns.toSeq == Seq("id", "amount"))
    // the feature flag is stamped
    assert(LakeTable.snapshot(spark, root).features
      .contains("column-mapping"))
  }

  test("post-rename writes, pruning, merge and MOR deletes all compose") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id", "amount"),
      nFiles = 4, clusterBy = Some("id"))
    LakeTable.renameColumn(spark, root, "amount", "total")
    // append under the new logical name lands in the old physical slot
    LakeTable.append(spark, root,
      (100 until 200).map(i => (i.toLong, i * 10L)).toDF("id", "total"),
      nFiles = 4)
    assert(ids(LakeTable.scan(spark, root)) == (0L until 200L))
    // stats skipping on the RENAMED column still bites for old AND new
    // files (stats are keyed by the stable physical name)
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("total", Some(0L), Some(200L))))
    assert(rep.filesRead < rep.filesTotal,
      s"renamed-column pruning lost: ${rep.filesRead}/${rep.filesTotal}")
    assert(ids(df) == (0L until 21L))
    // MOR delete + scan through the DV
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("total", Some(0L), Some(95L))))
    assert(ids(LakeTable.scan(spark, root)) == (10L until 200L))
    // merge keyed on the renamed column
    val up = Seq((150L, 9999L, 1L, "U")).toDF("id", "total", "version", "op")
    LakeTable.merge(spark, root, up, "id")
    assert(LakeTable.scan(spark, root).where(col("id") === 150L)
      .head().getLong(1) == 9999L)
    // format read agrees end to end
    assert(spark.read.format("graft-lake").load(root).count() == 190)
  }

  test("drop + re-add never resurrects the dropped values") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    LakeTable.dropColumn(spark, root, "amount")
    assert(LakeTable.scan(spark, root).columns.toSeq == Seq("id"))
    LakeTable.addColumns(spark, root,
      Seq(StructField("amount", LongType)))
    val re = LakeTable.scan(spark, root)
    assert(re.columns.toSeq == Seq("id", "amount"))
    assert(re.select("amount").collect().forall(_.isNullAt(0)),
      "re-added column must read null, not the dropped physical values")
    // and new writes fill only the fresh physical slot
    LakeTable.append(spark, root,
      Seq((100L, 5L)).toDF("id", "amount"), nFiles = 1)
    assert(LakeTable.scan(spark, root).where(col("id") === 100L)
      .head().getLong(1) == 5L)
  }

  test("rename refuses while a CHECK constraint references the column") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1)
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    intercept[IllegalArgumentException] {
      LakeTable.renameColumn(spark, root, "amount", "total")
    }
    intercept[IllegalArgumentException] {
      LakeTable.dropColumn(spark, root, "amount")
    }
    LakeTable.dropConstraint(spark, root, "nonneg")
    LakeTable.renameColumn(spark, root, "amount", "total")
    assert(LakeTable.scan(spark, root).columns.contains("total"))
  }

  test("CDF spans a rename in the range's logical view") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1) // v0
    LakeTable.renameColumn(spark, root, "amount", "total")            // v1
    LakeTable.append(spark, root,
      Seq((10L, 100L)).toDF("id", "total"), nFiles = 1)               // v2
    val ch = LakeTable.scanChanges(spark, root, 0L, 2L)
    assert(ch.columns.contains("total") && !ch.columns.contains("amount"))
    assert(ch.count() == 1, "only v2's insert is a row change")
    // clone of the renamed table reads correctly
    val cl = freshRoot()
    LakeTable.shallowClone(spark, root, cl)
    assert(LakeTable.scan(spark, cl).columns.toSeq == Seq("id", "total"))
    assert(ids(LakeTable.scan(spark, cl)) == (0L until 11L))
  }

  test("widenTypes append: int->long and float->double, files untouched") {
    val root = freshRoot()
    val narrow = (0 until 50)
      .map(i => (i, i * 1.5f)).toDF("id", "x")
    LakeTable.create(spark, root, narrow, Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    val wide = (50 until 60)
      .map(i => (i.toLong + 3000000000L, i * 1.5d)).toDF("id", "x")
    // without the flag the mismatch refuses
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, root, wide, mergeSchema = true)
    }
    LakeTable.append(spark, root, wide, mergeSchema = true,
      widenTypes = true)
    val out = LakeTable.scan(spark, root)
    assert(out.schema("id").dataType == LongType &&
      out.schema("x").dataType == DoubleType)
    assert(out.count() == 60)
    assert(out.agg(max("id")).head().getLong(0) == 3000000059L,
      "post-widening values exceed the old type's range")
    assert(out.where(col("id") === 7L).head().getDouble(1) == 10.5d,
      "old narrow files read exactly through the widened schema")
    assert(LakeTable.snapshot(spark, root).features
      .contains("type-widening"))
    // pruning still works across narrow and wide files
    val (pruned, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(10L))))
    assert(rep.filesRead < rep.filesTotal)
    assert(pruned.count() == 11)
  }

  test("narrowing and cross-family changes refuse even with the flag") {
    val root = freshRoot()
    LakeTable.create(spark, root,
      (0 until 10).map(i => (i.toLong, i.toDouble)).toDF("id", "x"),
      Seq("id"), nFiles = 1)
    // long -> int incoming is fine (batch is CAST UP, schema unchanged)
    LakeTable.append(spark, root,
      (10 until 15).map(i => (i, i.toDouble)).toDF("id", "x"),
      mergeSchema = true, widenTypes = true)
    val snap = LakeTable.snapshot(spark, root)
    assert(StructType.fromDDL(snap.schemaDdl)("id").dataType == LongType,
      "a narrower batch must not narrow the table")
    assert(ids(LakeTable.scan(spark, root)) == (0L until 15L))
    // cross-family (double -> long) refuses
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, root,
        (15 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "x"),
        mergeSchema = true, widenTypes = true)
    }
  }
  test("overwrite, compact and vacuum compose with column mapping") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 40), Seq("id"), nFiles = 4)
    LakeTable.renameColumn(spark, root, "amount", "total")
    // overwrite under the renamed schema: new files carry the stable
    // PHYSICAL name, reads stay logical
    LakeTable.overwrite(spark, root,
      (0 until 20).map(i => (i.toLong, i * 2L)).toDF("id", "total"),
      nFiles = 4)
    assert(LakeTable.scan(spark, root).where(col("id") === 3L)
      .head().getLong(1) == 6L)
    // compaction reads/writes through the mapping and keeps pruning
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue)
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("total", Some(0L), Some(10L))))
    assert(df.count() == 6)
    assert(ids(LakeTable.scan(spark, root)) == (0L until 20L))
    // vacuum reclaims the pre-overwrite and pre-compaction files
    val v = LakeTable.latestVersion(spark, root).get
    val vac = LakeTable.vacuum(spark, root, keepFromVersion = v,
      retentionMs = 0L)
    assert(vac.filesDeleted >= 8)
    assert(LakeTable.scan(spark, root).count() == 20)
  }
}
