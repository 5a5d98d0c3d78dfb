package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.GreaterThanOrEqual
import org.apache.spark.sql.types.StructType

import graft.SparkSuite

/** Every way to read a lake table returns the same rows: the format
  * read (`spark.read.format("graft-lake")`), the catalog `SELECT`,
  * `LakeTable.scan` and the no-extensions fallback
  * (`LakeMorRelation.buildScan`), on a clean table and on each shape
  * whose rows differ from its files' rows under their own names —
  * renamed, dropped and re-added, and defaulted columns, deletion
  * vectors, a partition column ahead of the data columns, and a
  * shallow clone inheriting its source's deletion vectors.
  */
class LakeFormatReadParitySpec extends SparkSuite {

  private val cat = "gparity"
  private lazy val warehouse = {
    val w = tempDir("graft_parity").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }
  private def rootOf(name: String): String = s"$warehouse/$name"

  /** Four rows in two files clustered by `id`: {0, 1} and {2, 3}. */
  private def create(name: String): String = {
    import spark.implicits._
    val root = rootOf(name)
    LakeTable.create(spark, root,
      Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "amount"),
      Seq("id", "amount"), nFiles = 2, clusterBy = Some("id"))
    root
  }

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  /** The four reads of `name`, each with the table's logical columns in
    * order and `want`'s rows; the format provider serves the bare file
    * relation only when `bare`.
    */
  private def assertParity(name: String, want: Seq[Row],
                           bare: Boolean = false): Unit = {
    val root = rootOf(name)
    val snap = LakeTable.snapshot(spark, root)
    val cols = StructType.fromDDL(snap.schemaDdl).fieldNames.toSeq
    val reads = Seq(
      "format" -> spark.read.format("graft-lake").load(root),
      "catalog" -> spark.sql(s"SELECT * FROM $cat.$name"),
      "scan" -> LakeTable.scan(spark, root))
    reads.foreach { case (how, df) =>
      assert(df.columns.toSeq == cols, how)
      assert(sorted(df.collect().toSeq) == sorted(want), s"$name via $how")
    }
    val rel = new LakeMorRelation(spark, new Path(root), snap)
    assert(sorted(rel.buildScan(cols.toArray, Array.empty).collect().toSeq)
      == sorted(want), s"$name via buildScan")
    val provided = new LakeStreamSourceProvider()
      .createRelation(spark.sqlContext, Map("path" -> root))
    assert(provided.isInstanceOf[HadoopFsRelation] == bare, provided)
  }

  private def finalPlan(df: DataFrame): SparkPlan = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    unwrap(df.queryExecution.executedPlan)
  }

  /** Data files the (already executed) `df` scanned. */
  private def filesRead(df: DataFrame): Long =
    finalPlan(df).collect { case s: FileSourceScanExec => s }
      .filterNot(_.schema.fieldNames.contains("pos")) // DV sidecar scans
      .map(_.metrics("numFiles").value).sum

  test("clean table") {
    create("clean")
    assertParity("clean",
      Seq(Row(0L, 0L), Row(1L, 10L), Row(2L, 20L), Row(3L, 30L)),
      bare = true)
  }

  test("RENAME COLUMN, and a filter on the renamed column prunes files") {
    val root = create("renamed")
    LakeTable.renameColumn(spark, root, "amount", "total")
    assertParity("renamed",
      Seq(Row(0L, 0L), Row(1L, 10L), Row(2L, 20L), Row(3L, 30L)))
    val df = spark.read.format("graft-lake").load(root)
      .where(col("total") >= 20L)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(filesRead(df) == 1, "total >= 20 lies in the {2, 3} file only")
    val sql = spark.sql(s"SELECT id FROM $cat.renamed WHERE total >= 20")
    assert(sql.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(filesRead(sql) == 1)
    val rel = new LakeMorRelation(spark, new Path(root),
      LakeTable.snapshot(spark, root))
    assert(rel.buildScan(Array("id"), Array(GreaterThanOrEqual("total", 20L)))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("DROP COLUMN then ADD COLUMN of the same name reads null") {
    val root = create("readded")
    LakeTable.dropColumn(spark, root, "amount")
    LakeTable.addColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.LongType)))
    assertParity("readded",
      Seq(Row(0L, null), Row(1L, null), Row(2L, null), Row(3L, null)))
  }

  test("ADD COLUMN ... DEFAULT reads the exists default from old files") {
    create("defaulted")
    spark.sql(s"ALTER TABLE $cat.defaulted ADD COLUMN tag STRING " +
      "DEFAULT 'legacy'")
    spark.sql(s"INSERT INTO $cat.defaulted VALUES (4, 40, 'fresh')")
    assertParity("defaulted",
      Seq(Row(0L, 0L, "legacy"), Row(1L, 10L, "legacy"),
        Row(2L, 20L, "legacy"), Row(3L, 30L, "legacy"),
        Row(4L, 40L, "fresh")),
      bare = true) // the decorated data schema applies the default per file
  }

  test("MOR-deleted rows stay deleted") {
    val root = create("mordeleted")
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(1L), Some(1L))))
    assertParity("mordeleted", Seq(Row(0L, 0L), Row(2L, 20L), Row(3L, 30L)))
  }

  test("a partition column ahead of the data columns keeps table order") {
    import spark.implicits._
    LakeTable.create(spark, rootOf("partitioned"),
      Seq(("a", 0L, 0L), ("a", 1L, 10L), ("b", 2L, 20L), ("b", 3L, 30L))
        .toDF("p", "id", "amount"),
      Seq("id"), nFiles = 1, partitionBy = Seq("p"))
    assertParity("partitioned",
      Seq(Row("a", 0L, 0L), Row("a", 1L, 10L), Row("b", 2L, 20L),
        Row("b", 3L, 30L)))
  }

  test("a shallow clone reads its source's files and deletion vectors") {
    import spark.implicits._
    val src = create("clonesrc")
    LakeTable.deleteWhereMor(spark, src,
      Seq(LakeTable.ColRange("id", Some(0L), Some(0L))))
    val dst = rootOf("cloned")
    LakeTable.shallowClone(spark, src, dst)
    LakeTable.append(spark, dst, Seq((5L, 50L)).toDF("id", "amount"))
    assertParity("cloned",
      Seq(Row(1L, 10L), Row(2L, 20L), Row(3L, 30L), Row(5L, 50L)))
  }
}
