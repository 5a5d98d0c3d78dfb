package graft.lake

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hive-style `PARTITIONED BY` on lake tables: files live under
  * `<col>=<value>/` directories, their CONTENT excludes the partition
  * columns, per-file values ride the log as min==max stats, reads
  * inject the columns through [[LakeFileIndex]]'s partition schema,
  * and the scan prunes whole directories via real `PartitionFilters`.
  * DML, compaction, deletion vectors, CDF and the streaming source
  * all compose with the layout.
  */
class LakePartitionSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lakepart").resolve("tbl").toString

  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i % 5, i.toLong, s"n_$i")).toDF("day", "id", "name")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("partitioned create: hive layout, content-free files, " +
      "min==max stats, round-trip read") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 2,
      partitionBy = Seq("day"))
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.partitionBy == Seq("day"))
    // one value directory level per file, exactly one value per file
    assert(snap.files.nonEmpty)
    snap.files.foreach { a =>
      val seg = a.path.split('/')
      assert(seg.length == 4 && seg(2).startsWith("day="), a.path)
      assert(a.stats.min("day") == a.stats.max("day"),
        s"partition stats must be constant: ${a.stats}")
    }
    // the files themselves do NOT contain the partition column
    val rawFile = new org.apache.hadoop.fs.Path(root,
      snap.files.head.path).toString
    assert(!spark.read.parquet(rawFile).columns.contains("day"))
    // full read injects it, in logical column order
    val back = LakeTable.scan(spark, root)
    assert(back.columns.toSeq == Seq("day", "id", "name"))
    assert(ids(back) == (0L until 100L))
    assert(back.where(col("day") === 3).count() == 20)
    // every partition value got its own file set
    assert(snap.files.map(_.stats.min("day")).distinct.size == 5)
  }

  test("partition pruning: scanPruned skips other values' files and " +
      "the native catalog scan shows PartitionFilters") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 2,
      partitionBy = Seq("day"))
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("day", Some(2L), Some(2L))))
    assert(rep.filesRead < rep.filesTotal,
      s"expected partition pruning, got $rep")
    assert(df.count() == 20)

    // catalog read: partition filter lands in the scan's
    // PartitionFilters (true directory pruning, not a row filter)
    val cat = "gpart"
    val w = tempDir("graft_partcat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.p (day INT, id BIGINT, name STRING) " +
      "PARTITIONED BY (day)")
    seed(100).createOrReplaceTempView("seed_p")
    spark.sql(s"INSERT INTO $cat.ns.p SELECT * FROM seed_p")
    val q = spark.sql(s"SELECT id FROM $cat.ns.p WHERE day = 2 AND id < 90")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.replaceAll("\\s+", " ").matches(
        ".*PartitionFilters: \\[[^\\]]*day.*"),
      s"partition filter must reach the scan:\n$physical")
    assert(ids(q.selectExpr("id AS id")) ==
      (0L until 90L).filter(_ % 5 == 2))
    // INSERT refuses nothing silently: table reports its partitioning
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.ns.p")
      .collect().map(_.toString).mkString("\n")
    assert(props.contains("day"))
    assert(spark.sql(s"DESCRIBE DETAIL $cat.ns.p").head()
      .getAs[String]("partition_by") == "day")
  }

  test("DML on partitioned tables: COW delete, UPDATE, merge, compact " +
      "keep files single-valued") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 2,
      partitionBy = Seq("day"))
    // range delete within one partition
    val rep = LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("day", Some(1L), Some(1L)),
        LakeTable.ColRange("id", Some(0L), Some(50L))))
    assert(rep.filesRewritten > 0)
    // day == 1 && id <= 50: ids 1, 6, ..., 46 — ten rows
    assert(LakeTable.scan(spark, root).count() == 90)
    // merge upsert across partitions
    import spark.implicits._
    val changes = Seq(
      (0, 0L, "patched", 99L, "U"),
      (4, 999L, "fresh", 99L, "U"),
      (2, 2L, "", 99L, "D"))
      .toDF("day", "id", "name", "version", "op")
    LakeTable.merge(spark, root, changes, "id")
    val after = LakeTable.scan(spark, root)
    assert(after.where(col("id") === 0L).select("name").head().getString(0)
      == "patched")
    assert(after.where(col("id") === 999L).count() == 1)
    assert(after.where(col("id") === 2L).count() == 0)
    // compact scoped to ONE partition (the OPTIMIZE ... WHERE shape):
    // min==max partition stats make the range select exactly that
    // value's files — the rest of the table is never read
    // split one partition into several small files first so the
    // scoped pass has something to pack
    LakeTable.append(spark, root,
      seed(100).where(col("day") === 2 && col("id") >= 95), nFiles = 1)
    LakeTable.append(spark, root,
      seed(200).where(col("day") === 2 && col("id") >= 150), nFiles = 2)
    val preFiles = LakeTable.snapshot(spark, root).files
    val day2Before = preFiles.count(_.stats.min.get("day").contains(2L))
    assert(day2Before >= 2, s"need packable day=2 files, got $day2Before")
    val liveBefore = LakeTable.scan(spark, root).count()
    val scoped = LakeTable.compact(spark, root,
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue,
      within = Seq(LakeTable.ColRange("day", Some(2L), Some(2L))))
    assert(scoped.filesRewritten == day2Before,
      s"scoped compact must touch exactly day=2's $day2Before files: " +
        s"$scoped")
    // compact the rest: files stay one-value-per-file
    val crep = LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue)
    assert(crep.filesRewritten > 0)
    val snap = LakeTable.snapshot(spark, root)
    snap.files.foreach(a =>
      assert(a.stats.min("day") == a.stats.max("day"), a.path))
    assert(LakeTable.scan(spark, root).count() == liveBefore)
  }

  test("deletion vectors + in-place dedup address partitioned files " +
      "(value-segment-aware identity)") {
    val root = freshRoot()
    import spark.implicits._
    // duplicates across partitions: same id in two days
    val df = ((0 until 40).map(i => (i % 4, i.toLong % 10, s"n_$i")))
      .toDF("day", "id", "name")
    LakeTable.create(spark, root, df, Seq("id"), nFiles = 2,
      partitionBy = Seq("day"))
    // MOR delete of one partition's low ids
    val rep = LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("day", Some(0L), Some(0L)),
        LakeTable.ColRange("id", Some(0L), Some(3L))))
    assert(rep.filesRewritten > 0, "DV commit must re-point files")
    val scanned = LakeTable.scan(spark, root)
    assert(scanned.where(col("day") === 0 && col("id") <= 3).count() == 0)
    assert(scanned.count() == 40 -
      df.where(col("day") === 0 && col("id") <= 3).count())
    // in-place dedup by id across the whole table (scanWithPos +
    // deleteAt exercise the depth-aware file identity end to end)
    LakeTable.dedupTable(spark, root, Seq("id"), tieBreak = "name")
    val deduped = LakeTable.scan(spark, root)
    assert(deduped.groupBy("id").count().where(col("count") > 1).count()
      == 0)
  }

  test("CDF and streaming source read partitioned commits with " +
      "injected columns") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(50), Seq("id"), nFiles = 1,
      partitionBy = Seq("day"))
    LakeTable.append(spark, root, seed(100).where(col("id") >= 50),
      nFiles = 1)
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(4L))))
    val changes = LakeTable.scanChanges(spark, root, 0, 2)
    assert(changes.columns.toSeq ==
      Seq("day", "id", "name", "_change_type", "_commit_version"))
    assert(changes.where(col("_change_type") === "delete").count() == 5)
    assert(changes.where(col("_change_type") === "insert" &&
      col("_commit_version") === 1).count() == 50)
    // day injected correctly in the delta rows
    assert(changes.where(col("_change_type") === "delete" &&
      col("day").isNull).count() == 0)

    // streaming tail sees partition columns too
    val outDir = tempDir("graft_part_stream").toString
    val q = spark.readStream.format("graft-lake")
      .option("ignoreChanges", "true").load(root)
      .writeStream.format("memory").queryName("part_tail")
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val tailed = spark.table("part_tail")
    assert(tailed.columns.toSeq == Seq("day", "id", "name"))
    assert(tailed.where(col("day").isNull).count() == 0)
  }

  test("streaming tail restart across DROP PARTITION: strict refuses " +
      "loudly; ignoreChanges resumes without re-emitting dropped rows") {
    // the nightly-retention shape downstream streams actually tail:
    // a partitioned table whose old partitions get dropped while a
    // stream is between incarnations. The drop is a Remove-only
    // commit, so the append-only contract refuses it by default; an
    // ignoreChanges restart must resume cleanly AND re-emit nothing
    // for the drop (there are no added files — dropped rows must not
    // reappear downstream, and no survivor row may duplicate).
    val cat = "gdpstream"
    val w = tempDir("graft_dpstream").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    seed(50).createOrReplaceTempView("dpstream_seed")
    spark.sql(s"CREATE TABLE $cat.ns.s (day INT, id BIGINT, " +
      "name STRING) PARTITIONED BY (day) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '1')")
    spark.sql(s"INSERT INTO $cat.ns.s SELECT * FROM dpstream_seed")
    val root = s"$w/ns/s"
    val ckpt = tempDir("graft_dpstream_ck").toString
    def run(buf: scala.collection.mutable.ArrayBuffer[Long],
            ignoreChanges: Boolean): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("ignoreChanges", ignoreChanges.toString).load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          buf.synchronized { buf ++= ids(df) }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val first = scala.collection.mutable.ArrayBuffer.empty[Long]
    run(first, ignoreChanges = false)
    assert(first.sorted.toSeq == (0L until 50L))

    // retention lands between incarnations, then fresh data arrives
    spark.sql(s"ALTER TABLE $cat.ns.s DROP PARTITION (day = 0)")
    import spark.implicits._
    LakeTable.append(spark, root,
      (100 until 110).map(i => (7, i.toLong, s"n_$i")).toDF(
        "day", "id", "name"), nFiles = 1)

    // strict restart: the drop commit is a rewrite the append-only
    // contract cannot express — refuse naming the op and the escape
    val strict = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ex = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
      run(strict, ignoreChanges = false)
    }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("droppartition") && msg.contains("ignoreChanges"),
      s"refusal must name the op and the escape hatch: $msg")

    // ignoreChanges restart: the drop re-emits NOTHING (no adds), the
    // append flows — exactly the new rows, no duplicates, no
    // resurrection of the dropped partition
    val loose = scala.collection.mutable.ArrayBuffer.empty[Long]
    run(loose, ignoreChanges = true)
    assert(loose.sorted.toSeq == (100L until 110L),
      s"expected only the post-drop append, got ${loose.sorted.toSeq}")
  }

  test("partitioned CTAS: one atomic commit, rolling writers split " +
      "files on value boundaries, inline CHECK validates with the " +
      "injected partition column") {
    val cat = "gpctas"
    val w = tempDir("graft_pctas").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    seed(100).createOrReplaceTempView("pctas_seed")
    spark.sql(s"CREATE TABLE $cat.ns.c PARTITIONED BY (day) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '2') " +
      "AS SELECT * FROM pctas_seed")
    val root = s"$w/ns/c"
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.partitionBy == Seq("day"))
    assert(snap.version == 0L, "CTAS must be ONE commit")
    // every staged file is single-valued under its value dir, content
    // excludes the partition column, id-clustered within
    snap.files.foreach { a =>
      assert(a.path.matches("data/[^/]+/day=\\d+/.*\\.parquet"), a.path)
      assert(a.stats.min("day") == a.stats.max("day"), a.stats.toString)
    }
    val raw = spark.read.parquet(
      new org.apache.hadoop.fs.Path(root, snap.files.head.path).toString)
    assert(!raw.columns.contains("day"))
    assert(ids(LakeTable.scan(spark, root)) == (0L until 100L))
    // partition pruning live immediately
    val (_, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("day", Some(3L), Some(3L))))
    assert(rep.filesRead < rep.filesTotal)

    // an inline CHECK never reaches a staged write with rows: Spark's
    // parser refuses a constraint list on CTAS in either position, and
    // refuses a satisfied CHECK the same way, so it is the parser and
    // not the CHECK that stops the statement (nothing created)
    Seq("day < 3", "day < 30").foreach { chk =>
      val misplaced = intercept[
        org.apache.spark.sql.catalyst.parser.ParseException] {
        spark.sql(s"CREATE TABLE $cat.ns.bad PARTITIONED BY (day) " +
          s"(CONSTRAINT lowday CHECK ($chk)) AS SELECT * FROM pctas_seed")
      }
      assert(misplaced.getErrorClass == "PARSE_SYNTAX_ERROR",
        misplaced.getMessage)
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        spark.sql(s"CREATE TABLE $cat.ns.bad " +
          s"(CONSTRAINT lowday CHECK ($chk)) PARTITIONED BY (day) " +
          "AS SELECT * FROM pctas_seed")
      }
    }
    assert(!spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .exists(_.getString(1) == "bad"))
    // REPLACE TABLE AS SELECT resets the partition spec verbatim
    spark.sql(s"CREATE OR REPLACE TABLE $cat.ns.c " +
      "TBLPROPERTIES (nFiles = '1') AS SELECT id, name FROM pctas_seed")
    val snap2 = LakeTable.snapshot(spark, root)
    assert(snap2.partitionBy.isEmpty,
      "an unpartitioned replace must clear the partition spec")
    assert(LakeTable.scan(spark, root).count() == 100)
  }

  test("append-mode writeStream.toTable into a partitioned table " +
      "rolls per-value files each epoch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cat = "gpstr"
    val w = tempDir("graft_pstream").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.s (day INT, id BIGINT, name STRING) " +
      "PARTITIONED BY (day) TBLPROPERTIES (clusterBy = 'id')")
    val root = s"$w/ns/s"
    val ckpt = tempDir("pstream_ckpt").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    def start() = ms.toDF()
      .selectExpr("CAST(value % 3 AS INT) AS day", "value AS id",
        "concat('n_', value) AS name")
      .writeStream.option("checkpointLocation", ckpt)
      .option("nFiles", "2")
      .toTable(s"$cat.ns.s")
    val q = start()
    try {
      ms.addData(0L until 30L: _*)
      q.processAllAvailable()
      ms.addData(30L until 50L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val snap = LakeTable.snapshot(spark, root)
    snap.files.foreach { a =>
      assert(a.path.matches("data/[^/]+/day=\\d+/.*\\.parquet"), a.path)
      assert(a.stats.min("day") == a.stats.max("day"), a.stats.toString)
    }
    assert(ids(LakeTable.scan(spark, root)) == (0L until 50L))
    // restart replays nothing
    val q2 = start()
    try {
      ms.addData(50L until 60L: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ids(LakeTable.scan(spark, root)) == (0L until 60L))
    // partition pruning bites on the streamed files
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("day", Some(1L), Some(1L))))
    assert(rep.filesRead < rep.filesTotal)
    assert(df.count() == (0L until 60L).count(_ % 3 == 1))
  }

  test("clusterBy composes within partitions; null partition values " +
      "round-trip; refusals are loud") {
    val root = freshRoot()
    import spark.implicits._
    val withNull = Seq((Integer.valueOf(1), 1L, "a"),
      (Integer.valueOf(1), 2L, "b"), (null.asInstanceOf[Integer], 3L, "c"))
      .map { case (d, i, s) => (Option(d).map(_.toInt), i, s) }
      .toDF("day", "id", "name")
    LakeTable.create(spark, root, withNull, Seq("id"), nFiles = 1,
      clusterBy = Some("id"), partitionBy = Seq("day"))
    val back = LakeTable.scan(spark, root)
    assert(back.where(col("day").isNull).select("id").head().getLong(0)
      == 3L)
    assert(back.count() == 3)

    // a curve spec NAMING a partition column refuses (the value is
    // constant per directory — curve the non-partition dims instead;
    // curve specs over non-partition columns now cluster WITHIN
    // partitions, pinned in LakeSqlReadSpec)
    intercept[IllegalArgumentException] {
      val r2 = freshRoot()
      LakeTable.create(spark, r2, seed(10), Seq("id"), nFiles = 1,
        clusterBy = Some(LakeTable.zCluster("day", "id")),
        partitionBy = Seq("day"))
    }
    // float partition columns refuse
    intercept[IllegalArgumentException] {
      val r3 = freshRoot()
      LakeTable.create(spark, r3,
        seed(10).withColumn("f", col("id").cast("double")),
        Seq("id"), nFiles = 1, partitionBy = Seq("f"))
    }
    // rename/drop (column mapping) refuse on partitioned tables
    intercept[IllegalArgumentException] {
      LakeTable.renameColumn(spark, root, "name", "label")
    }
    // statsCols must keep the partition columns
    intercept[IllegalArgumentException] {
      LakeTable.setStatsCols(spark, root, Seq("id"))
    }
  }

  test("SHOW PARTITIONS / DROP PARTITION / TRUNCATE PARTITION: " +
      "metadata-only partition management through SQL") {
    val cat = "gpm"
    val wh = tempDir("graft_pm").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.core")
    spark.sql(s"CREATE TABLE $cat.core.p (id BIGINT, day STRING) " +
      "PARTITIONED BY (day)")
    val root = s"$wh/core/p"
    import spark.implicits._
    LakeTable.append(spark, root,
      (0 until 30).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "day"),
      nFiles = 1)

    // SHOW PARTITIONS lists the implicit partitions from log metadata
    val parts = spark.sql(s"SHOW PARTITIONS $cat.core.p").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("day=d0", "day=d1", "day=d2"), s"got $parts")
    // ... and accepts a partial spec
    val one = spark.sql(
      s"SHOW PARTITIONS $cat.core.p PARTITION (day='d1')").collect()
      .map(_.getString(0)).toSeq
    assert(one == Seq("day=d1"))

    // DROP PARTITION: one metadata commit, rows gone, others intact,
    // history travels
    val vBefore = LakeTable.latestVersion(spark, root).get
    spark.sql(s"ALTER TABLE $cat.core.p DROP PARTITION (day='d1')")
    assert(LakeTable.latestVersion(spark, root).get == vBefore + 1,
      "DROP PARTITION must be exactly one commit")
    val left = spark.sql(s"SELECT day, count(*) c FROM $cat.core.p " +
      "GROUP BY day ORDER BY day").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(left == Seq("d0" -> 10L, "d2" -> 10L))
    assert(LakeTable.scanAsOf(spark, root, Some(vBefore)).count() == 30,
      "dropped partitions stay time-travelable")
    // the commit carried ONLY removes — nothing was read or written
    val fs = LakeLog.fileSystem(new org.apache.hadoop.fs.Path(root),
      spark.sparkContext.hadoopConfiguration)
    val actions = LakeLog.readCommit(fs,
      new org.apache.hadoop.fs.Path(root), vBefore + 1)
    assert(actions.count(_.isInstanceOf[LakeLog.Remove]) > 0)
    assert(actions.count(_.isInstanceOf[LakeLog.Add]) == 0,
      "DROP PARTITION is metadata-only")

    // unknown partition: IF EXISTS no-ops, bare form raises
    spark.sql(
      s"ALTER TABLE $cat.core.p DROP IF EXISTS PARTITION (day='nope')")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.core.p DROP PARTITION (day='nope')")
    }

    // TRUNCATE PARTITION = the same metadata-only delete
    spark.sql(s"TRUNCATE TABLE $cat.core.p PARTITION (day='d2')")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.core.p").head()
      .getLong(0) == 10)

    // ADD PARTITION refuses loudly (partitions are implicit)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.core.p ADD PARTITION (day='new')")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .exists(t => Option(t.getMessage).exists(_.contains("implicit"))))

    // a racing rewrite of a candidate aborts the drop (guardFiles):
    // covered by the generic rewrite-guard specs; here pin the
    // unpartitioned refusal instead
    spark.sql(s"CREATE TABLE $cat.core.flat (id BIGINT)")
    intercept[Exception] {
      spark.sql(s"SHOW PARTITIONS $cat.core.flat")
    }
  }

  test("partition VALUES with URI-special characters ('/', '%', ' ') " +
      "read, prune, MOR-delete, COW-delete and compact exactly") {
    // Hive path-escapes such values on DISK ('01/01' -> '01%2F01'),
    // and Spark's URI name space encodes the escaped name AGAIN
    // ('01%252F01') — the two write-side lookups that mixed those
    // name spaces recorded 0-byte Adds (silently EMPTY reads) and
    // no-op'd MOR deletes. Probe-found round 20; pinned here across
    // the whole lifecycle.
    val root = freshRoot()
    import spark.implicits._
    val vals = Seq("01/01/2024", "50%off", "a b:c", "plain")
    val df = (0 until 80).map(i => (vals(i % 4), i.toLong)).toDF("day", "id")
    LakeTable.create(spark, root, df, Seq("id"), nFiles = 1,
      partitionBy = Seq("day"))
    assert(LakeTable.scan(spark, root).count() == 80,
      "escaped-partition files must read back (non-zero split length)")
    // exact partition filter prunes to the one escaped directory
    val one = LakeTable.scan(spark, root).where(col("day") === "01/01/2024")
    assert(ids(one) == (0L until 80L by 4L).toSeq)
    // stats carry the RAW value; SHOW PARTITIONS surfaces it
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.files.flatMap(_.stats.min.get("day")).toSet ==
      vals.toSet, "stats must hold the unescaped partition value")
    // MOR delete inside an escaped partition actually applies
    val rep = LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(7L))))
    assert(rep.filesRewritten > 0,
      "the DV identity must match files in escaped partition dirs")
    assert(LakeTable.scan(spark, root).count() == 72)
    // COW delete + compaction round-trip the escaped layout
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(8L), Some(9L))))
    assert(LakeTable.scan(spark, root).count() == 70)
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue)
    assert(LakeTable.scan(spark, root).count() == 70)
    assert(ids(LakeTable.scan(spark, root)
      .where(col("day") === "50%off")) == (13L until 80L by 4L).toSeq)
  }
}
