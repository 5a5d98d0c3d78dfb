package graft.lake

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `CONVERT TO LAKE`: in-place adoption of existing parquet — zero
  * data bytes written, footer-derived stats, hive partition layouts
  * become partitioned lake tables, and every subsequent operation
  * (pruned reads, DML, append, time travel, vacuum) behaves as if the
  * table had been lake-born.
  */
class LakeConvertSpec extends SparkSuite {

  private def freshDir(): String =
    tempDir("graft_convert").resolve("t").toString

  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i % 4, s"n_$i")).toDF("id", "day", "name")
  }

  private def fsOf(root: String) = LakeLog.fileSystem(new Path(root),
    spark.sparkContext.hadoopConfiguration)

  /** (path, length, mtime) of every file under root. */
  private def fileState(root: String): Set[(String, Long, Long)] = {
    val f = fsOf(root)
    val it = f.listFiles(new Path(root), true)
    val buf = scala.collection.mutable.Set.empty[(String, Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      buf += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    buf.toSet
  }

  test("flat directory: metadata-only convert, stats populated from " +
      "footers, pruned reads work") {
    val root = freshDir()
    seed(1000).repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(root)
    val before = fileState(root)
    val v = LakeTable.convert(spark, root)
    assert(v == 0L)
    // ZERO data bytes written: every pre-existing file untouched, and
    // nothing new except the _log directory
    val after = fileState(root)
    assert(before.subsetOf(after))
    assert((after -- before).forall(_._1.contains("/_log/")),
      s"convert must not write data files: ${(after -- before).map(_._1)}")
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.files.size == 4 && snap.partitionBy.isEmpty)
    // footer stats: rows exact, id bounds tight and disjoint
    assert(snap.files.map(_.stats.rows).sum == 1000)
    snap.files.foreach { a =>
      assert(a.stats.min.contains("id") && a.stats.max.contains("id"),
        s"footer-derived id bounds missing: ${a.stats}")
    }
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(99L))))
    assert(rep.filesRead < rep.filesTotal, s"footer stats must prune: $rep")
    assert(df.count() == 100)
    assert(LakeTable.scan(spark, root).count() == 1000)
  }

  test("hive-partitioned directory becomes a partitioned lake table; " +
      "DML, appends and vacuum work after") {
    val root = freshDir()
    seed(400).write.partitionBy("day").parquet(root)
    LakeTable.convert(spark, root)
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.partitionBy == Seq("day"))
    // partition values parsed from the paths into min==max stats
    snap.files.foreach(a =>
      assert(a.stats.min("day") == a.stats.max("day"), a.path))
    val back = LakeTable.scan(spark, root)
    assert(back.count() == 400)
    assert(back.where(col("day") === 2).count() == 100)
    // partition pruning live from version 0
    val (_, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("day", Some(2L), Some(2L))))
    assert(rep.filesRead < rep.filesTotal)

    // DELETE inside one partition (rewrites adopted files into data/)
    val drep = LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("day", Some(1L), Some(1L)),
        LakeTable.ColRange("id", Some(0L), Some(99L))))
    assert(drep.filesRewritten > 0)
    val expectDeleted = (0 until 400)
      .count(i => i % 4 == 1 && i <= 99)
    assert(LakeTable.scan(spark, root).count() == 400 - expectDeleted)
    // append lands under data/<uuid>/day=X and reads merge both
    // worlds (converted schemas order partition columns LAST —
    // discovery order; append is order-strict like any lake table)
    LakeTable.append(spark, root,
      seed(410).where(col("id") >= 400).select("id", "name", "day"),
      nFiles = 1)
    assert(LakeTable.scan(spark, root).count() == 400 - expectDeleted + 10)
    // time travel still sees the adopted v0
    assert(LakeTable.scanAsOf(spark, root, Some(0L)).count() == 400)
    // vacuum reclaims the de-referenced ADOPTED originals once the
    // retaining versions move past them
    val keep = LakeTable.latestVersion(spark, root).get
    val vrep = LakeTable.vacuum(spark, root, keepFromVersion = keep,
      retentionMs = 0L)
    assert(vrep.filesDeleted > 0,
      "rewritten convert-origin files must be reclaimable")
    assert(LakeTable.scan(spark, root).count() == 400 - expectDeleted + 10)
  }

  test("MOR delete + in-place dedup address adopted (short-path) files") {
    val root = freshDir()
    import spark.implicits._
    // duplicate ids across partitions
    (0 until 100).map(i => (i.toLong % 25, i % 2, s"n_$i"))
      .toDF("id", "day", "name")
      .write.partitionBy("day").parquet(root)
    LakeTable.convert(spark, root)
    val rep = LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(4L)),
        LakeTable.ColRange("day", Some(0L), Some(0L))))
    assert(rep.filesRewritten > 0, "DV must re-point adopted files")
    val scanned = LakeTable.scan(spark, root)
    assert(scanned.where(col("day") === 0 && col("id") <= 4).count() == 0)
    LakeTable.dedupTable(spark, root, Seq("id"), tieBreak = "name")
    assert(LakeTable.scan(spark, root).groupBy("id").count()
      .where(col("count") > 1).count() == 0)
  }

  test("a directory converted INSIDE a catalog warehouse becomes " +
      "identifier-addressable (SQL reads + DML by name)") {
    val cat = "gconvcat"
    val w = tempDir("graft_convcat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    // pre-existing parquet dropped at the warehouse location
    seed(60).write.partitionBy("day").parquet(s"$w/ns/adopted")
    spark.sql(s"CONVERT TO LAKE '$w/ns/adopted'")
    // a lake log at <warehouse>/<ns>/<name> IS the table — no
    // registration step
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .exists(_.getString(1) == "adopted"))
    assert(spark.sql(s"SELECT count(*) c FROM $cat.ns.adopted").head()
      .getLong(0) == 60)
    spark.sql(s"DELETE FROM $cat.ns.adopted WHERE day = 1")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.ns.adopted").head()
      .getLong(0) == 60 - 15)
  }

  test("SQL surface: CONVERT TO LAKE '<path>' + refusals") {
    val root = freshDir()
    seed(100).write.partitionBy("day").parquet(root)
    val row = spark.sql(s"CONVERT TO LAKE '$root'").head()
    assert(row.getLong(0) == 0L && row.getLong(1) > 0L &&
      row.getString(2) == "day")
    assert(spark.read.format("graft-lake").load(root).count() == 100)
    // converting twice refuses
    intercept[IllegalArgumentException] {
      LakeTable.convert(spark, root)
    }
    // mixed (non-hive) nesting refuses
    val bad = freshDir()
    seed(10).write.parquet(s"$bad/sub/leaf")
    intercept[IllegalArgumentException] {
      LakeTable.convert(spark, bad)
    }
    // string partition values round-trip (incl. escaping)
    val sroot = freshDir()
    import spark.implicits._
    Seq((1L, "a b", "x"), (2L, "c:d", "y"), (3L, "plain", "z"))
      .toDF("id", "cat", "name")
      .write.partitionBy("cat").parquet(sroot)
    LakeTable.convert(spark, sroot)
    val back = LakeTable.scan(spark, sroot)
    assert(back.select("cat").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a b", "c:d", "plain"))
  }

  test("footer stats of DOUBLE and FLOAT columns holding NaN, " +
      "+-Infinity, -0.0 and 0.0 never prune a matching row") {
    val root = freshDir()
    import spark.implicits._
    val nan = Double.NaN
    val (inf, ninf) = (Double.PositiveInfinity, Double.NegativeInfinity)
    // one parquet file per group, so each file has its own footer stats
    val groups: Seq[Seq[Option[Double]]] = Seq(
      Seq(Some(nan), Some(1.0)), Seq(Some(ninf), Some(-2.0)),
      Seq(Some(inf), Some(3.0)), Seq(Some(-0.0)), Seq(Some(0.0)),
      Seq(Some(-0.0), Some(0.0), Some(5.0)), Seq(Some(nan)),
      Seq(None, Some(7.0)), Seq(Some(ninf), Some(inf)))
    var id = 0L
    groups.foreach { g =>
      g.map { v => id += 1; (id, v, v.map(_.toFloat)) }.toDF("id", "d", "f")
        .coalesce(1).write.mode("append").parquet(root)
    }
    LakeTable.convert(spark, root)
    assert(LakeTable.snapshot(spark, root).files.size == groups.size)
    val plain = LakeTable.scan(spark, root)
    def ids(df: DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val bounds: Seq[Option[Any]] = None +:
      Seq(nan, ninf, -2.0, -0.0, 0.0, 1.0, 5.0, inf).map(Some(_))
    val probes = for {
      c <- Seq("d", "f"); lo <- bounds; hi <- bounds
      if lo.nonEmpty || hi.nonEmpty
    } yield Seq(LakeTable.ColRange(c, lo, hi))
    val wrong = probes.filter { r =>
      ids(LakeTable.scanPruned(spark, root, r)._1) !=
        ids(plain.where(LakeTable.rangeFilter(r)))
    }
    assert(wrong.isEmpty, s"${wrong.size} of ${probes.size} probes differ: " +
      wrong.take(5).mkString("; "))
    // the stats still prune: an equality on one finite value skips files
    val (_, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("d", Some(5.0), Some(5.0))))
    assert(rep.filesRead < rep.filesTotal, rep)
  }
}
