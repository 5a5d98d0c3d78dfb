package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** `spark.read.format("graft-lake")` — the batch relation backed by
  * [[LakeFileIndex]]: stock parquet scan, snapshot file list, stats
  * pruning driven by the PUSHED filters (not a side-channel API).
  */
class LakeSqlReadSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lakesql").resolve("tbl").toString

  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name_$i", i * 10L))
      .toDF("id", "name", "amount")
  }

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect() // execute so scan metrics are populated
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
  }

  test("format read matches the API scan and plans a stock parquet scan") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(500), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val viaFormat = spark.read.format("graft-lake").load(root)
    assert(viaFormat.count() == 500)
    // same names/types; nullability may differ (DDL non-null flags
    // survive the format path, the API scan normalizes to nullable)
    assert(viaFormat.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      LakeTable.scan(spark, root).schema.fields
        .map(f => (f.name, f.dataType)).toSeq)
    val scan = scanOf(viaFormat.where(col("id") >= 100))
    assert(scan.metadata.get("Format").exists(_.toLowerCase.contains("parquet")),
      "batch relation must plan Spark's native parquet scan")
  }

  test("pushed range filters skip files via the log's min/max stats") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(800), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val pruned = spark.read.format("graft-lake").load(root)
      .where(col("id") >= 100L && col("id") < 200L)
    val scan = scanOf(pruned)
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles <= 3, s"expected <=3 of 8 clustered files, read $numFiles")
    assert(pruned.count() == 100)
    // a filter on a non-stats column must not prune (only row-filter)
    val unpruned = scanOf(spark.read.format("graft-lake").load(root)
      .where(col("name") === "name_7"))
    assert(unpruned.metrics("numFiles").value == 8)
  }

  test("versionAsOf pins the snapshot; stray data files stay invisible") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 1)
    LakeTable.append(spark, root, seed(150).where(col("id") >= 100),
      nFiles = 1)
    val v0 = spark.read.format("graft-lake")
      .option("versionAsOf", "0").load(root)
    assert(v0.count() == 100)
    // an uncommitted file in data/ is not part of any snapshot
    seed(10).write.mode("append")
      .parquet(new org.apache.hadoop.fs.Path(root, "data/stray").toString)
    assert(spark.read.format("graft-lake").load(root).count() == 150,
      "reads must come from the commit log, not directory listing")
  }

  test("z-ordered lake files prune on EITHER clustered dimension") {
    import spark.implicits._
    val root = freshRoot()
    // two independent dims: a single-column sort could prune only one
    val df = (0 until 4096).map { i =>
      val x = (i * 2654435761L % 64).toInt  // scrambled so x,y are
      val y = (i * 40503 % 64)              // uncorrelated with row order
      (i.toLong, x.toLong, y.toLong)
    }.toDF("id", "x", "y")
    LakeTable.create(spark, root, df, Seq("x", "y"), nFiles = 16,
      clusterBy = Some(LakeTable.zCluster("x", "y")))
    def filesRead(dfq: org.apache.spark.sql.DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.get
    }
    val base = spark.read.format("graft-lake").load(root)
    val onX = filesRead(base.where(col("x") >= 8 && col("x") < 16))
    val onY = filesRead(base.where(col("y") >= 8 && col("y") < 16))
    assert(onX <= 8, s"x-range read $onX of 16 z-ordered files")
    assert(onY <= 8, s"y-range read $onY of 16 z-ordered files")
    // correctness against the raw frame
    assert(base.where(col("x") >= 8 && col("x") < 16).count() ==
      df.where(col("x") >= 8 && col("x") < 16).count())
    // maintenance preserves the layout: compact, then pruning still bites
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = LakeTable.snapshot(spark, root).files
        .map(_.stats.bytes).sum / 8)
    val after = spark.read.format("graft-lake").load(root)
    val onYAfter = filesRead(after.where(col("y") >= 8 && col("y") < 16))
    val total = LakeTable.snapshot(spark, root).files.size
    assert(onYAfter < total,
      s"compaction must re-z-order: read $onYAfter of $total files")
  }

  test("recluster swaps the layout atomically; later writes inherit it") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(512), Seq("id", "amount"),
      nFiles = 8, clusterBy = Some("id"))
    // pending MOR deletions must be purged into the rewrite
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(9L))))
    val rep = LakeTable.recluster(spark, root,
      LakeTable.zCluster("id", "amount"), nFiles = 16)
    assert(rep.filesRewritten == 8 && rep.filesAdded >= 8)
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.clusterBy.contains("z:id,amount"),
      "the new spec must be recorded so later writes re-enter it")
    assert(snap.files.forall(_.dv.isEmpty), "recluster purges DVs")
    def filesRead(dfq: DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val base = spark.read.format("graft-lake").load(root)
    assert(base.count() == 502)
    // the old key-sorted layout could not prune on amount; z can
    val onAmount = filesRead(
      base.where(col("amount") >= 1000 && col("amount") < 2000))
    assert(onAmount < 16, s"amount-range read $onAmount of 16 files")
    // layout-only: the recluster version contributes no change rows
    val v = LakeTable.latestVersion(spark, root).get
    assert(LakeTable.scanChanges(spark, root, v - 1, v).count() == 0)
  }

  test("timestampAsOf resolves the wall-clock snapshot") {
    val root = freshRoot()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 1)
    Thread.sleep(5) // distinct commit timestamps
    LakeTable.append(spark, root, seed(150).where(col("id") >= 100),
      nFiles = 1)
    def tsOf(v: Long): Long = LakeLog.readCommit(f, rootP, v)
      .collectFirst { case m: LakeLog.Meta => m.ts }.get
    assert(LakeLog.versionAtTimestamp(f, rootP, tsOf(0L)) == 0L)
    assert(LakeLog.versionAtTimestamp(f, rootP, tsOf(1L)) == 1L)
    assert(LakeTable.scanAsOfTimestamp(spark, root, tsOf(0L)).count() == 100)
    assert(spark.read.format("graft-lake")
      .option("timestampAsOf", tsOf(0L).toString).load(root).count() == 100)
    assert(spark.read.format("graft-lake")
      .option("timestampAsOf", tsOf(1L).toString).load(root).count() == 150)
    // a quoted UTC timestamp string works too (the Delta-style form a
    // user types; millis remain exact for tooling)
    val iso0 = java.time.Instant.ofEpochMilli(tsOf(0L))
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    assert(spark.read.format("graft-lake")
      .option("timestampAsOf", iso0).load(root).count() == 100)
    intercept[IllegalArgumentException] {
      LakeLog.versionAtTimestamp(f, rootP, tsOf(0L) - 1)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-lake").option("versionAsOf", "0")
        .option("timestampAsOf", tsOf(0L).toString).load(root).count()
    }
    // malformed values refuse with the accepted forms in the message,
    // never a raw NumberFormatException or a silent 1970 resolution:
    // blank, and a short digit run (an epoch-SECONDS paste or a typo)
    // — digit strings only read as millis at >= 10 digits, matching
    // the SQL RESTORE grammar
    Seq("", "   ", "12345", "123456789").foreach { bad =>
      val ex = intercept[IllegalArgumentException] {
        spark.read.format("graft-lake")
          .option("timestampAsOf", bad).load(root).count()
      }
      assert(ex.getMessage.contains("yyyy-MM-dd"),
        s"'$bad' must name the accepted forms, got: ${ex.getMessage}")
    }
  }

  test("hilbert-clustered lake files prune on either dimension too") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 4096).map { i =>
      val x = (i * 2654435761L % 64).toInt
      val y = (i * 40503 % 64)
      (i.toLong, x.toLong, y.toLong)
    }.toDF("id", "x", "y")
    LakeTable.create(spark, root, df, Seq("x", "y"), nFiles = 16,
      clusterBy = Some(LakeTable.hilbertCluster("x", "y")))
    def filesRead(dfq: DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.get
    }
    val base = spark.read.format("graft-lake").load(root)
    val onX = filesRead(base.where(col("x") >= 8 && col("x") < 16))
    val onY = filesRead(base.where(col("y") >= 8 && col("y") < 16))
    assert(onX <= 8, s"x-range read $onX of 16 hilbert files")
    assert(onY <= 8, s"y-range read $onY of 16 hilbert files")
    assert(base.where(col("x") >= 8 && col("x") < 16).count() ==
      df.where(col("x") >= 8 && col("x") < 16).count())
    // the recorded spec survives maintenance like the z layout
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = LakeTable.snapshot(spark, root).files
        .map(_.stats.bytes).sum / 8)
    val total = LakeTable.snapshot(spark, root).files.size
    val after = filesRead(spark.read.format("graft-lake").load(root)
      .where(col("y") >= 8 && col("y") < 16))
    assert(after < total,
      s"compaction must re-hilbert: read $after of $total files")
  }

  test("3-D z-order prunes on any of the three dimensions") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 4096).map { i =>
      (i.toLong, (i % 64).toLong, ((i * 7) % 64).toLong, (i / 64).toLong)
    }.toDF("id", "x", "y", "w")
    LakeTable.create(spark, root, df, Seq("x", "y", "w"), nFiles = 16,
      clusterBy = Some(LakeTable.zCluster("x", "y", "w")))
    def filesRead(dfq: DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val base = spark.read.format("graft-lake").load(root)
    Seq("x", "y", "w").foreach { c =>
      val n = filesRead(base.where(col(c) >= 8 && col(c) < 16))
      assert(n < 16, s"$c-range read $n of 16 z3-ordered files")
      assert(base.where(col(c) >= 8 && col(c) < 16).count() ==
        df.where(col(c) >= 8 && col(c) < 16).count())
    }
    // out-of-domain coordinates fail the layout loudly
    intercept[Exception] {
      val big = Seq((1L, 1L << 40, 0L, 0L)).toDF("id", "x", "y", "w")
      LakeTable.append(spark, root, big, nFiles = 1)
    }
    // the recorded 3-D spec survives maintenance: compaction
    // re-enters the curve key with the same spec, so every dimension still
    // prunes over the rewritten files
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = math.max(1L, LakeTable.snapshot(spark, root).files
        .map(_.stats.bytes).sum / 8))
    val total = LakeTable.snapshot(spark, root).files.size
    Seq("x", "y", "w").foreach { c =>
      val n = filesRead(spark.read.format("graft-lake").load(root)
        .where(col(c) >= 8 && col(c) < 16))
      assert(n < total,
        s"post-compaction $c-range read $n of $total files — the n-D " +
          "layout must survive maintenance")
    }
  }

  test("curve clustering WITHIN partitions: z-order inside each day " +
      "prunes on every dimension and survives compaction") {
    import spark.implicits._
    val root = freshRoot()
    // 4 partition values x 2 independent in-partition dims; x,y
    // scrambled so neither correlates with row order or day
    val df = (0 until 8192).map { i =>
      val x = (i * 2654435761L % 64).toInt
      val y = (i * 40503 % 64)
      (i.toLong, (i % 4).toLong, x.toLong, y.toLong)
    }.toDF("id", "day", "x", "y")
    LakeTable.create(spark, root, df, Seq("x", "y"), nFiles = 16,
      clusterBy = Some(LakeTable.zCluster("x", "y")),
      partitionBy = Seq("day"))
    def filesRead(dfq: DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val total = LakeTable.snapshot(spark, root).files.size
    val perDay = LakeTable.snapshot(spark, root).files.count(
      _.stats.min.get("day").contains(2L))
    val base = spark.read.format("graft-lake").load(root)
    // partition + each curve dimension prune TOGETHER: a day filter
    // cuts to one directory, and the in-partition layout cuts inside it
    val onDayX = filesRead(base.where(col("day") === 2 &&
      col("x") >= 8 && col("x") < 16))
    assert(onDayX < perDay,
      s"day+x read $onDayX of $perDay day-2 files — the curve must " +
        "bite INSIDE the partition")
    val onDayY = filesRead(base.where(col("day") === 2 &&
      col("y") >= 8 && col("y") < 16))
    assert(onDayY < perDay, s"day+y read $onDayY of $perDay")
    // a bare curve-dimension filter still prunes across all partitions
    val onX = filesRead(base.where(col("x") >= 8 && col("x") < 16))
    assert(onX < total, s"x-range read $onX of $total")
    // row correctness vs the raw frame
    assert(base.where(col("day") === 2 && col("x") >= 8 && col("x") < 16)
      .count() ==
      df.where(col("day") === 2 && col("x") >= 8 && col("x") < 16).count())
    // the recorded spec survives maintenance: compaction re-enters the
    // partitioned writer with the same curve spec
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = math.max(1L, LakeTable.snapshot(spark, root).files
        .map(_.stats.bytes).sum / 8))
    assert(LakeTable.snapshot(spark, root).clusterBy
      .contains("z:x,y"), "spec must survive compaction")
    val totalAfter = LakeTable.snapshot(spark, root).files.size
    val afterX = filesRead(spark.read.format("graft-lake").load(root)
      .where(col("x") >= 8 && col("x") < 16))
    assert(afterX < totalAfter,
      s"post-compaction x-range read $afterX of $totalAfter — the " +
        "in-partition layout must survive maintenance")
    // a curve spec NAMING a partition column still refuses loudly
    val ex = intercept[IllegalArgumentException] {
      val r2 = freshRoot()
      LakeTable.create(spark, r2, df, Seq("x"), nFiles = 4,
        clusterBy = Some(LakeTable.zCluster("day", "x")),
        partitionBy = Seq("day"))
    }
    assert(ex.getMessage.contains("partition column"), ex.getMessage)
    // ...and a RECLUSTER toward such a spec refuses AT THE ALTER, not
    // at the next write (a deferred refusal would record a spec every
    // later INSERT/MERGE/OPTIMIZE trips over — a poisoned table)
    val alterEx = intercept[IllegalArgumentException] {
      LakeTable.setClusterBy(spark, root,
        LakeTable.zCluster("day", "x"))
    }
    assert(alterEx.getMessage.contains("partition column"),
      alterEx.getMessage)
    assert(LakeTable.snapshot(spark, root).clusterBy.contains("z:x,y"),
      "the refused ALTER must leave the recorded spec untouched")
  }

  test("HILBERT clustering within partitions prunes like the z twin") {
    // the h: spec shares the whole partitioned-writer path with z:
    // except the key kernel (HilbertSpec pins the kernel itself);
    // this pins the composition end-to-end incl. a MOR delete +
    // compaction on top
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 4096).map { i =>
      val x = (i * 2654435761L % 64).toInt
      val y = (i * 40503 % 64)
      (i.toLong, (i % 2).toLong, x.toLong, y.toLong)
    }.toDF("id", "day", "x", "y")
    LakeTable.create(spark, root, df, Seq("x", "y", "id"), nFiles = 8,
      clusterBy = Some(LakeTable.hilbertCluster("x", "y")),
      partitionBy = Seq("day"))
    def filesRead(dfq: DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val total = LakeTable.snapshot(spark, root).files.size
    val base = spark.read.format("graft-lake").load(root)
    val onY = filesRead(base.where(col("day") === 1 &&
      col("y") >= 8 && col("y") < 16))
    assert(onY < total / 2,
      s"day+y read $onY of $total hilbert-in-partition files")
    // MOR delete then compaction: rows stay exact, spec survives
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(499L))))
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = math.max(1L, LakeTable.snapshot(spark, root).files
        .map(_.stats.bytes).sum / 4))
    assert(LakeTable.snapshot(spark, root).clusterBy.contains("h:x,y"))
    // `base` pins its creation-time snapshot (the version-pin
    // contract); a FRESH read sees the post-delete, post-compaction
    // state
    assert(spark.read.format("graft-lake").load(root).count() ==
      4096 - 500, "compaction must purge the DV, never resurrect")
    val totalAfter = LakeTable.snapshot(spark, root).files.size
    val afterY = filesRead(spark.read.format("graft-lake").load(root)
      .where(col("y") >= 8 && col("y") < 16))
    assert(afterY < totalAfter,
      s"post-compaction y-range read $afterY of $totalAfter")
  }

  test("3-D HILBERT layout prunes on any dimension — zCluster parity") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 4096).map { i =>
      (i.toLong, (i % 64).toLong, ((i * 7) % 64).toLong, (i / 64).toLong)
    }.toDF("id", "x", "y", "w")
    LakeTable.create(spark, root, df, Seq("x", "y", "w"), nFiles = 16,
      clusterBy = Some(LakeTable.hilbertCluster("x", "y", "w")))
    def filesRead(dfq: DataFrame): Long = {
      dfq.collect()
      dfq.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val base = spark.read.format("graft-lake").load(root)
    Seq("x", "y", "w").foreach { c =>
      val n = filesRead(base.where(col(c) >= 8 && col(c) < 16))
      assert(n < 16, s"$c-range read $n of 16 hilbert3 files")
      assert(base.where(col(c) >= 8 && col(c) < 16).count() ==
        df.where(col(c) >= 8 && col(c) < 16).count())
    }
    // recorded-spec survival through compaction, like the z layouts
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = math.max(1L, LakeTable.snapshot(spark, root).files
        .map(_.stats.bytes).sum / 8))
    assert(LakeTable.snapshot(spark, root).clusterBy
      .contains("h:x,y,w"))
    val total = LakeTable.snapshot(spark, root).files.size
    Seq("x", "y", "w").foreach { c =>
      val n = filesRead(spark.read.format("graft-lake").load(root)
        .where(col(c) >= 8 && col(c) < 16))
      assert(n < total, s"post-compaction $c-range read $n of $total")
    }
  }

  test("batch readChangeFeed on the format surface slices commit ranges") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(50), Seq("id"), nFiles = 1)   // v0
    LakeTable.append(spark, root, seed(80).where(col("id") >= 50),
      nFiles = 1)                                                     // v1
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(4L))))              // v2
    def cdf(opts: Map[String, String]) = {
      val r = spark.read.format("graft-lake")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(root)
    }
    val all = cdf(Map.empty)
    assert(all.count() == 85)
    assert(all.where(col("_change_type") === "delete" &&
      col("_commit_version") === 2).count() == 5)
    val sliced = cdf(Map("startingVersion" -> "1", "endingVersion" -> "1"))
    assert(sliced.count() == 30)
    assert(sliced.where(col("_change_type") === "insert").count() == 30)
    intercept[IllegalArgumentException] {
      cdf(Map("startingVersion" -> "5")).count()
    }
  }

  test("filter-to-range extraction covers both operand orders") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    val id = Symbol("id").long
    def one(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      LakeRanges.widening(e)
    assert(one(id === Literal(5L)) ==
      Seq(LakeTable.ColRange("id", Some(5L), Some(5L))))
    assert(one(id >= Literal(5L)) ==
      Seq(LakeTable.ColRange("id", Some(5L), None)))
    assert(one(Literal(5L) >= id) ==
      Seq(LakeTable.ColRange("id", None, Some(5L))))
    assert(one((id >= Literal(2L)) && (id < Literal(9L))) ==
      Seq(LakeTable.ColRange("id", Some(2L), None),
        LakeTable.ColRange("id", None, Some(9L))))
    assert(one(id.isNotNull).isEmpty)
  }
}
