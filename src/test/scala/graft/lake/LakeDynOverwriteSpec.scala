package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DYNAMIC partition overwrite ([[LakeTable.dynamicOverwrite]] and the
  * `OverwritePartitionsDynamic` SQL/DataFrame routes): one commit
  * replaces exactly the partitions present in the batch — survivors in
  * untouched partitions are never read, rewritten, or listed into the
  * commit — and the commit guards BOTH directions (candidates live
  * unchanged; no concurrent file added INTO a replaced partition).
  */
object LakeDynOverwriteSpec {
  /** Shared across executor threads via the CLASS, not the task
    * closure (closures deserialize per task, which would reset a
    * captured counter and silently make the "nondeterministic" udf
    * deterministic again in local mode).
    */
  val flakyCounter = new java.util.concurrent.atomic.AtomicLong
}

class LakeDynOverwriteSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_dynov").resolve("tbl").toString

  private def rows(lo: Int, hi: Int, p: String): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i * 10L, p)).toDF("id", "v", "part")
  }

  private def byPart(root: String): Map[String, Seq[Long]] =
    LakeTable.scan(spark, root).collect()
      .groupBy(_.getString(2))
      .map { case (p, rs) => p -> rs.map(_.getLong(0)).sorted.toSeq }

  test("replaces only the batch's partitions; survivors keep their files") {
    val root = freshRoot()
    LakeTable.create(spark, root,
      rows(0, 10, "a").union(rows(10, 20, "b")).union(rows(20, 30, "c")),
      Seq("id"), nFiles = 1, partitionBy = Seq("part"))
    val untouchedBefore = LakeTable.snapshot(spark, root).files
      .filterNot(_.stats.min.get("part").contains("a")).map(_.path).toSet

    val rep = LakeTable.dynamicOverwrite(spark, root, rows(100, 103, "a"))
    assert(rep.filesAdded >= 1 && rep.filesRewritten >= 1)

    assert(byPart(root) == Map(
      "a" -> (100L until 103L),
      "b" -> (10L until 20L),
      "c" -> (20L until 30L)))
    val untouchedAfter = LakeTable.snapshot(spark, root).files
      .filterNot(_.stats.min.get("part").contains("a")).map(_.path).toSet
    assert(untouchedAfter == untouchedBefore,
      "survivor partitions must keep their exact files (never rewritten)")
  }

  test("multi-partition batch replaces each; empty batch is a no-op") {
    val root = freshRoot()
    LakeTable.create(spark, root,
      rows(0, 5, "a").union(rows(5, 10, "b")).union(rows(10, 15, "c")),
      Seq("id"), nFiles = 1, partitionBy = Seq("part"))
    LakeTable.dynamicOverwrite(spark, root,
      rows(50, 52, "a").union(rows(60, 64, "c")))
    assert(byPart(root) == Map(
      "a" -> (50L until 52L),
      "b" -> (5L until 10L),
      "c" -> (60L until 64L)))

    val v = LakeTable.latestVersion(spark, root).get
    val rep = LakeTable.dynamicOverwrite(spark, root, rows(0, 0, "a"))
    assert(rep.filesRewritten == 0 && rep.filesAdded == 0)
    assert(LakeTable.latestVersion(spark, root).get == v,
      "an empty dynamic overwrite must not commit")
  }

  test("a nondeterministic batch cannot break the replace-exactly " +
      "contract: the replaced set derives from the files written") {
    // the hazard: dynamicOverwrite used to plan `touched` from a
    // separate pre-write execution of the frame (distinct+collect);
    // a nondeterministic input re-evaluates between that pass and the
    // actual write, so rows could land in partitions the plan never
    // saw — their old files would survive and the new rows would be
    // silent appends. The fix derives the replaced set from the
    // written adds' min==max stats, so whatever got written is
    // exactly what gets replaced, regardless of how many times Spark
    // executes the frame (range-partitioning alone adds a sampling
    // pass). The JVM-shared counter makes every execution produce
    // DIFFERENT partition values on purpose.
    val root = freshRoot()
    LakeTable.create(spark, root,
      rows(0, 10, "a").union(rows(10, 20, "b")).union(rows(20, 30, "c")),
      Seq("id"), nFiles = 1, partitionBy = Seq("part"))
    val before = byPart(root)

    LakeDynOverwriteSpec.flakyCounter.set(0L)
    val flakyPart = udf((_: Long) =>
      if (LakeDynOverwriteSpec.flakyCounter.getAndIncrement() < 5) "a"
      else "b").asNondeterministic()
    import spark.implicits._
    val batch = (100 until 105)
      .map(i => (i.toLong, i * 10L)).toDF("id", "v")
      .withColumn("part", flakyPart(col("id")))
    LakeTable.dynamicOverwrite(spark, root, batch)

    val after = byPart(root)
    val newIds = (100L until 105L)
    // every new row landed exactly once, in exactly one partition
    assert(after.values.flatten.filter(_ >= 100L).toSeq.sorted == newIds,
      s"new rows must land exactly once, got $after")
    after.foreach { case (p, ids) =>
      val (nw, old) = ids.partition(_ >= 100L)
      // replace-exactly: a partition that received new rows must hold
      // ONLY new rows (its old files were removed in the same commit)
      assert(nw.isEmpty || old.isEmpty,
        s"partition '$p' mixes old and new rows ($ids) — the replaced " +
          "set diverged from the written set")
      // untouched partitions keep their exact original content
      if (nw.isEmpty) assert(ids == before(p),
        s"untouched partition '$p' changed: $ids vs ${before(p)}")
    }
  }

  test("the NULL partition replaces like any other (None tuple from " +
      "no-min stats)") {
    // a file of NULL partition values records no min stat — its
    // tuple is None — and the batch's null rows land under the
    // default partition dir with the same tuple: the null partition
    // must replace exactly, neighbors untouched
    import spark.implicits._
    val root = freshRoot()
    LakeTable.create(spark, root,
      Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]),
        (4L, null.asInstanceOf[String])).toDF("id", "part"),
      Seq("id"), nFiles = 1, partitionBy = Seq("part"))
    val rep = LakeTable.dynamicOverwrite(spark, root,
      Seq((100L, null.asInstanceOf[String])).toDF("id", "part"))
    assert(rep.filesRewritten == 1 && rep.filesAdded == 1)
    val rows = LakeTable.scan(spark, root).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, Some("a")), (2L, Some("a")), (100L, None)),
      s"null partition must replace exactly, got $rows")
  }

  test("unpartitioned tables refuse (use overwrite)") {
    val root = freshRoot()
    LakeTable.create(spark, root, rows(0, 5, "a"), Seq("id"), nFiles = 1)
    val ex = intercept[IllegalArgumentException] {
      LakeTable.dynamicOverwrite(spark, root, rows(5, 6, "a"))
    }
    assert(ex.getMessage.contains("PARTITIONED"))
  }

  test("guard: a racing append INTO a replaced partition aborts the " +
      "overwrite; one into an untouched partition survives it") {
    val root = freshRoot()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    LakeTable.create(spark, root, rows(0, 10, "a").union(rows(10, 20, "b")),
      Seq("id"), nFiles = 1, partitionBy = Seq("part"))
    val snap0 = LakeLog.snapshot(f, rootP, None)
    val cands = snap0.files.filter(_.stats.min.get("part").contains("a"))
    assert(cands.nonEmpty)
    val touched: Set[Seq[Option[Any]]] = Set(Seq(Some("a")))
    def overwriteActions() =
      LakeLog.Meta("dynoverwrite", snap0.schemaDdl, snap0.statsCols, None,
        None, System.currentTimeMillis(),
        partitionBy = snap0.partitionBy) +:
        cands.map(a => LakeLog.Remove(a.path))

    // race 1: a file lands in the UNTOUCHED partition after planning —
    // the overwrite must commit and the appended rows must survive
    LakeTable.append(spark, root, rows(200, 203, "b"), nFiles = 1)
    LakeLog.commit(f, rootP, overwriteActions(),
      guardFiles = cands, baseVersion = snap0.version,
      guardPartitions = Some((snap0.partitionBy, touched)))
    assert(byPart(root) == Map(
      "b" -> ((10L until 20L) ++ (200L until 203L))),
      "the untouched partition's racing append must survive")

    // race 2: rebuild partition a, plan again, then a file lands IN it
    LakeTable.append(spark, root, rows(0, 10, "a"), nFiles = 1)
    val snap1 = LakeLog.snapshot(f, rootP, None)
    val cands1 = snap1.files.filter(_.stats.min.get("part").contains("a"))
    LakeTable.append(spark, root, rows(300, 302, "a"), nFiles = 1)
    val ex = intercept[LakeLog.ConcurrentCommitException] {
      LakeLog.commit(f, rootP,
        LakeLog.Meta("dynoverwrite", snap1.schemaDdl, snap1.statsCols,
          None, None, System.currentTimeMillis(),
          partitionBy = snap1.partitionBy) +:
          cands1.map(a => LakeLog.Remove(a.path)),
        guardFiles = cands1, baseVersion = snap1.version,
        guardPartitions = Some((snap1.partitionBy, touched)))
    }
    assert(ex.getMessage.contains("replaced partition"))
  }

  test("readChangeFeed streams a dynamic overwrite and a partition " +
      "drop as their exact row deltas") {
    // the CDF-grain change STREAM over rewrite commits: a downstream
    // consumer tailing the nightly-reload table in readChangeFeed
    // mode must receive the overwrite as delete(old)+insert(new) for
    // the replaced partitions only, and a DROP PARTITION as pure
    // deletes — no refusal (CDF mode expresses rewrites), no survivor
    // bleed, partition column injected in the delta rows
    val root = freshRoot()
    LakeTable.create(spark, root,
      rows(0, 10, "a").union(rows(10, 20, "b")),
      Seq("id"), nFiles = 1, partitionBy = Seq("part"))
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("dyn_cdf_tail").start()
    try {
      q.processAllAvailable()
      LakeTable.dynamicOverwrite(spark, root, rows(100, 103, "a")) // v1
      q.processAllAvailable()
      // a Remove-only drop: commit the same shape DROP PARTITION
      // lands (the SQL route needs a catalog; the commit shape is
      // identical — Meta + Removes of the partition's files)
      val rootP = new org.apache.hadoop.fs.Path(root)
      val f = LakeLog.fileSystem(rootP,
        spark.sparkContext.hadoopConfiguration)
      val cur = LakeLog.snapshot(f, rootP, None)
      val bCands = cur.files.filter(_.stats.min.get("part").contains("b"))
      LakeLog.commit(f, rootP,
        LakeLog.Meta("droppartition", cur.schemaDdl, cur.statsCols,
          None, None, System.currentTimeMillis(),
          partitionBy = cur.partitionBy) +:
          bCands.map(a => LakeLog.Remove(a.path)),
        guardFiles = bCands, baseVersion = cur.version,
        guardPartitions = Some((cur.partitionBy,
          Set(Seq(Option("b"): Option[Any]))))) // v2
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dyn_cdf_tail")
    def part(ct: String, cv: Long): Seq[Long] =
      out.where(col("_change_type") === ct &&
        col("_commit_version") === cv)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(part("insert", 0L) == (0L until 20L))
    assert(part("delete", 1L) == (0L until 10L),
      "the overwrite must stream the replaced partition's old rows " +
        "as deletes")
    assert(part("insert", 1L) == (100L until 103L))
    assert(part("delete", 2L) == (10L until 20L),
      "the drop must stream the partition's rows as pure deletes")
    assert(out.count() == 20 + 10 + 3 + 10, "no other change rows")
    assert(out.where(col("part").isNull).count() == 0,
      "partition values must be injected in every delta row")
  }

  test("SQL INSERT OVERWRITE under partitionOverwriteMode=dynamic; " +
      "writeTo.overwritePartitions; static mode still replaces all") {
    val cat = "gdyno"
    val wh = tempDir("graft_dynsql").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.core")
    spark.sql(s"CREATE TABLE $cat.core.t (id BIGINT, v BIGINT, " +
      "part STRING) PARTITIONED BY (part)")
    val root = s"$wh/core/t"
    rows(0, 10, "a").union(rows(10, 20, "b"))
      .createOrReplaceTempView("dyn_seed")
    spark.sql(s"INSERT INTO $cat.core.t SELECT * FROM dyn_seed")

    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
      "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      rows(100, 102, "a").createOrReplaceTempView("dyn_batch")
      spark.sql(s"INSERT OVERWRITE $cat.core.t SELECT * FROM dyn_batch")
      assert(byPart(root) == Map(
        "a" -> (100L until 102L), "b" -> (10L until 20L)))

      // the explicit DataFrame route plans the same node regardless of
      // the session conf
      rows(500, 503, "b").writeTo(s"$cat.core.t").overwritePartitions()
      assert(byPart(root) == Map(
        "a" -> (100L until 102L), "b" -> (500L until 503L)))
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", prev)

    // default static mode: INSERT OVERWRITE replaces the WHOLE table
    spark.sql(s"INSERT OVERWRITE $cat.core.t SELECT * FROM dyn_seed")
    assert(byPart(root) == Map(
      "a" -> (0L until 10L), "b" -> (10L until 20L)))

    // static PARTITION spec: the classic explicit form replaces only
    // the named partition (routes through the REPLACE WHERE machinery
    // — the analyzer folds the spec into the overwrite filter and the
    // constant column)
    spark.sql(s"INSERT OVERWRITE $cat.core.t PARTITION (part = 'a') " +
      "SELECT id + 700 AS id, v FROM dyn_seed WHERE part = 'a'")
    assert(byPart(root) == Map(
      "a" -> (700L until 710L), "b" -> (10L until 20L)))
  }
}
