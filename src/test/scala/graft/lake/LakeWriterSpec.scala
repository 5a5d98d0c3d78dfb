package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import LakeLog.{Add, Stats}
import LakeTable.ColRange

/** The lake's one data-file writer: every write path (create, append,
  * rewrite commits, staged CTAS, streaming epochs) folds per-file
  * stats inside its write tasks. The stats must equal an aggregate over
  * the written file, a blank partition value must follow one rule on
  * every path, and a commit must run no job after its write.
  */
class LakeWriterSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("t").resolve("tbl").toString

  /** An Add as the log stores it: stats go through the same JSON round
    * trip the snapshot's do, so both sides of a comparison share it.
    */
  private def logged(a: Add): Add = {
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    LakeLog.actionFromJson(parse(compact(render(LakeLog.actionToJson(a)))))
      .asInstanceOf[Add]
  }

  /** Equality under Spark's ordering: -0.0 ties 0.0, NaN ties NaN. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case _ => a == b
  }

  private val statsSchema = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("z", DoubleType), StructField("str", StringType),
    StructField("none", IntegerType)))
  private val statsCols = statsSchema.fieldNames.toSeq

  // NaN and both infinities, -0.0 beside 0.0 (z holds only zeros, so
  // they are its bounds), nulls, an all-null column, and strings whose
  // UTF-8 byte order disagrees with UTF-16 code-unit order
  private val statsRows: Seq[Row] = Seq(
    Row(1.toByte, 10.toShort, 100, 1000L, 1.5f, 0.0, 0.0, "a", null),
    Row(-3.toByte, -30.toShort, -300, -3000L, -0.0f, -0.0, -0.0, "\uFFFD",
      null),
    Row(7.toByte, 70.toShort, 700, 7000L, Float.NaN, Double.NaN, 0.0,
      "\uD83D\uDE00", null),
    Row(null, null, null, null, null, null, null, null, null),
    Row(0.toByte, 0.toShort, 0, 0L, 0.0f, 2.5, -0.0, "", null),
    Row(Byte.MaxValue, Short.MinValue, Int.MaxValue, Long.MinValue,
      Float.MaxValue, Double.MinValue, 0.0, "\uD83D\uDE00z", null),
    Row(5.toByte, 5.toShort, 5, 5L, 5.0f, -0.0, -0.0, "m", null),
    Row(2.toByte, 2.toShort, 2, 2L, 0.0f, 0.0, 0.0, "zz", null),
    Row(3.toByte, 3.toShort, 3, 3L, Float.PositiveInfinity,
      Double.NegativeInfinity, 0.0, "q", null),
    Row(4.toByte, 4.toShort, 4, 4L, Float.NegativeInfinity,
      Double.PositiveInfinity, -0.0, "r", null))

  private def statsFrame(copies: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      Seq.fill(copies)(statsRows).flatten, 3), statsSchema)

  /** The Add an aggregate over `a`'s file gives: Spark's count, min,
    * max and null count per stats column.
    */
  private def aggregated(root: String, a: Add): Add = {
    val file = spark.read.schema(statsSchema)
      .parquet(new Path(root, a.path).toString)
    val aggs = count(lit(1)) +: statsCols.flatMap(c => Seq(min(col(c)),
      max(col(c)), sum(when(col(c).isNull, 1L).otherwise(0L))))
    val r = file.agg(aggs.head, aggs.tail: _*).head()
    def at(c: String, k: Int): Any =
      LakeTable.normalizeStat(r.get(1 + 3 * statsCols.indexOf(c) + k))
    Add(a.path, Stats(r.getLong(0), a.stats.bytes,
      statsCols.map(c => c -> at(c, 0)).filter(_._2 != null).toMap,
      statsCols.map(c => c -> at(c, 1)).filter(_._2 != null).toMap,
      statsCols.map(c => c -> r.getLong(3 + 3 * statsCols.indexOf(c))).toMap))
  }

  private val probeRanges: Seq[ColRange] = {
    val nums: Seq[Option[Any]] = Seq(None, Some(-5000L), Some(-1L),
      Some(0L), Some(-0.0), Some(0.0), Some(2L), Some(2.5), Some(7000L),
      Some(Long.MaxValue), Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity))
    val strs: Seq[Option[Any]] = Seq(None, Some(""), Some("a"), Some("n"),
      Some("\uFFFD"), Some("\uD83D\uDE00"), Some("\uD83D\uDE00zz"))
    statsCols.flatMap { c =>
      val vs = if (c == "str") strs else nums
      for (lo <- vs; hi <- vs) yield ColRange(c, lo, hi)
    }
  }

  test("written stats equal an aggregate over each file, and prune alike") {
    val root = freshRoot()
    LakeTable.create(spark, root, statsFrame(1), statsCols, nFiles = 1)
    // the single file holds both zeros: the writer orders -0.0 below
    // 0.0, where Spark's aggregate keeps the first of two ties
    val Seq(one) = LakeTable.snapshot(spark, root).files.map(_.stats)
    def bits(v: Any): Long =
      java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])
    assert(bits(one.min("z")) == bits(-0.0) && bits(one.max("z")) == bits(0.0),
      one)
    // non-finite bounds come back from the log as doubles
    assert(bits(one.max("d")) == bits(Double.NaN) &&
      bits(one.min("d")) == bits(Double.NegativeInfinity), one)
    assert(bits(one.max("f")) == bits(Double.NaN) &&
      bits(one.min("f")) == bits(Double.NegativeInfinity), one)
    // then a round-robin spread, a range-clustered write and a
    // compaction, all through the same writer
    LakeTable.append(spark, root, statsFrame(4), nFiles = 3)
    LakeTable.append(spark, root, statsFrame(4), nFiles = 2,
      clusterBy = Some("l"))
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = 4000L)
    LakeTable.append(spark, root, statsFrame(2), nFiles = 1)
    val files = LakeTable.snapshot(spark, root).files
    assert(files.size >= 3, files)
    files.foreach { a =>
      val want = logged(aggregated(root, a))
      assert(a.stats.rows == want.stats.rows, a.path)
      assert(a.stats.nulls == want.stats.nulls, a.path)
      assert(want.stats.nulls("none") == a.stats.rows)
      Seq(a.stats.min -> want.stats.min, a.stats.max -> want.stats.max)
        .foreach { case (got, exp) =>
          assert(got.keySet == exp.keySet, s"${a.path}: $got vs $exp")
          got.foreach { case (k, v) =>
            assert(same(v, exp(k)), s"${a.path} $k: $v vs ${exp(k)}")
          }
        }
      probeRanges.foreach(r => assert(
        LakeTable.mayMatch(a.stats, r) == LakeTable.mayMatch(want.stats, r),
        s"${a.path} $r: ${a.stats} vs ${want.stats}"))
    }
    assert(LakeTable.scan(spark, root).count() == statsRows.size * 11)
    // a NaN literal prunes through the same comparison (Spark: NaN = NaN)
    val nans = statsRows.count(r => !r.isNullAt(5) && r.getDouble(5).isNaN)
    assert(spark.read.format("graft-lake").load(root)
      .where(col("d") === lit(Double.NaN)).count() == nans * 11)
  }

  test("a one-file append runs one Spark job, clustered or not") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (99L - i, s"v$i")).toDF("k", "v")
    Seq(None, Some("k")).foreach { clusterBy =>
      val root = freshRoot()
      LakeTable.create(spark, root, df, Seq("k"), nFiles = 1,
        clusterBy = clusterBy)
      assert(jobsDuring(LakeTable.append(spark, root, df, nFiles = 1)) == 1,
        clusterBy)
      val snap = LakeTable.snapshot(spark, root)
      assert(snap.files.size == 2)
      assert(snap.files.forall(a => a.stats.rows == 100L &&
        a.stats.min("k") == 0L && a.stats.max("k") == 99L), snap.files)
      assert(snap.files.forall(_.path.matches("data/[^/]+/part-e-1-p0-t\\d+.*")),
        snap.files.map(_.path))
      // the one task still sorts a clustered file by its cluster column
      if (clusterBy.nonEmpty) snap.files.foreach { a =>
        val ks = spark.read.parquet(new Path(root, a.path).toString)
          .select("k").as[Long].collect().toSeq
        assert(ks == (0L until 100L), a.path)
      }
    }
  }

  test("a blank partition value is a NULL one on every write path") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq[(String, Long)](("", 1L), (null, 2L), ("a", 3L))
    val df = rows.toDF("p", "v")
    val created = freshRoot()
    LakeTable.create(spark, created, df, Seq("v"), nFiles = 1,
      partitionBy = Seq("p"))
    val appended = freshRoot()
    LakeTable.create(spark, appended, df.limit(0), Seq("v"), nFiles = 1,
      partitionBy = Seq("p"))
    LakeTable.append(spark, appended, df, nFiles = 1)

    val cat = "gblankpart"
    val w = tempDir("wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    df.createOrReplaceTempView("blank_part_seed")
    spark.sql(s"CREATE TABLE $cat.ns.ctas PARTITIONED BY (p) " +
      "TBLPROPERTIES (nFiles = '1', statsCols = 'v') " +
      "AS SELECT * FROM blank_part_seed")
    spark.sql(s"CREATE TABLE $cat.ns.st (p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES (statsCols = 'v')")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = ms.toDF()
      .selectExpr("CASE value WHEN 1 THEN '' WHEN 3 THEN 'a' END AS p",
        "value AS v")
      .writeStream
      .option("checkpointLocation",
        tempDir("ckpt").toString)
      .toTable(s"$cat.ns.st")
    try {
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable()
    } finally q.stop()

    def statsOf(root: String): Set[(Long, Map[String, Any], Map[String, Any],
                                    Map[String, Long])] =
      LakeTable.snapshot(spark, root).files.map { a =>
        assert(a.path.contains("/p=__HIVE_DEFAULT_PARTITION__/") ||
          a.path.contains("/p=a/"), a.path)
        (a.stats.rows, a.stats.min, a.stats.max, a.stats.nulls)
      }.toSet
    def rowsOf(root: String): Set[(String, Long)] =
      LakeTable.scan(spark, root).select("p", "v").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet

    val roots = Seq(created, appended, s"$w/ns/ctas", s"$w/ns/st")
    assert(rowsOf(created) == Set((null, 1L), (null, 2L), ("a", 3L)))
    assert(statsOf(created) == Set(
      (2L, Map("v" -> 1L), Map("v" -> 2L), Map("p" -> 2L, "v" -> 0L)),
      (1L, Map("p" -> "a", "v" -> 3L), Map("p" -> "a", "v" -> 3L),
        Map("p" -> 0L, "v" -> 0L))))
    roots.tail.foreach { r =>
      assert(rowsOf(r) == rowsOf(created), r)
      assert(statsOf(r) == statsOf(created), r)
    }
  }
}
