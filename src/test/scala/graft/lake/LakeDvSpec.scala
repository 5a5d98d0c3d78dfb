package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors: `deleteWhereMor` records deleted
  * positions in a sidecar instead of rewriting files; every read and
  * every later rewrite must apply them.
  */
class LakeDvSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lakedv").resolve("tbl").toString

  private def seed(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def range(lo: Long, hi: Long) =
    Seq(LakeTable.ColRange("id", Some(lo), Some(hi)))

  private def dataFileCount(root: String): Int = {
    val dd = new java.io.File(new java.net.URI(s"file:$root/data").getPath)
    if (!dd.exists()) 0
    else dd.listFiles().flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
  }

  test("MOR delete hides rows without touching data files") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    val before = dataFileCount(root)
    val rep = LakeTable.deleteWhereMor(spark, root, range(10, 19))
    assert(rep.filesRewritten == 1, "only the [0,49] file is re-pointed")
    assert(dataFileCount(root) == before,
      "merge-on-read must write NO data files")
    assert(ids(LakeTable.scan(spark, root)) ==
      ((0L until 10L) ++ (20L until 100L)))
    // time travel to v0 still sees everything (DV is v1 state)
    assert(ids(LakeTable.scanAsOf(spark, root, Some(0L))) == (0L until 100L))
    val snap = LakeTable.snapshot(spark, root)
    val dvd = snap.files.filter(_.dv.nonEmpty)
    assert(dvd.size == 1 && dvd.head.dv.get.rows == 10)
  }

  test("a second MOR delete carries prior positions forward (one DV per file)") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.deleteWhereMor(spark, root, range(10, 19))
    LakeTable.deleteWhereMor(spark, root, range(15, 24)) // overlaps: 15-19 already dead
    assert(ids(LakeTable.scan(spark, root)) ==
      ((0L until 10L) ++ (25L until 100L)))
    val dvd = LakeTable.snapshot(spark, root).files.filter(_.dv.nonEmpty)
    assert(dvd.size == 1 && dvd.head.dv.get.rows == 15,
      "cumulative DV counts live deletions only, never recounts")
  }

  test("rewrites purge DVs: compact, COW delete and merge all apply them") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.deleteWhereMor(spark, root, range(0, 4))
    // compaction reads DV-aware and writes clean files
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue)
    assert(LakeTable.snapshot(spark, root).files.forall(_.dv.isEmpty),
      "compaction must purge deletion vectors")
    assert(ids(LakeTable.scan(spark, root)) == (5L until 100L))

    LakeTable.deleteWhereMor(spark, root, range(10, 14))
    // COW delete on an overlapping file must not resurrect 10..14
    LakeTable.deleteWhere(spark, root, range(20, 24))
    assert(ids(LakeTable.scan(spark, root)) ==
      ((5L until 10L) ++ (15L until 20L) ++ (25L until 100L)))

    LakeTable.deleteWhereMor(spark, root, range(30, 34))
    import spark.implicits._
    val upsert = Seq((31L, "fresh", 1L, "U"), (90L, "fresh", 1L, "U"))
      .toDF("id", "name", "version", "op")
    LakeTable.merge(spark, root, upsert, "id")
    val out = LakeTable.scan(spark, root)
    assert(ids(out) == ((5L until 10L) ++ (15L until 20L) ++ (25L until 30L)
      :+ 31L) ++ (35L until 100L),
      "merge must apply the DV (30..34 stay dead) and upsert 31 fresh")
    assert(out.where(col("id") === 31L).select("name").head().getString(0)
      == "fresh")
  }

  test("vacuum deletes DV sidecars no retained version references") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 1)
    LakeTable.deleteWhereMor(spark, root, range(0, 9))   // dv A
    LakeTable.deleteWhereMor(spark, root, range(10, 19)) // dv B supersedes A
    val keepAll = LakeTable.vacuum(spark, root, keepFromVersion = 0L,
      retentionMs = 0L)
    assert(keepAll.filesDeleted == 0, "both DVs still referenced somewhere")
    val rep = LakeTable.vacuum(spark, root, keepFromVersion = 2L,
      retentionMs = 0L)
    assert(rep.filesDeleted > 0, "dv A is unreferenced past v1")
    assert(ids(LakeTable.scan(spark, root)) == (20L until 100L))
  }

  test("CDF reports MOR deletes as delete rows, incrementally") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 1)
    LakeTable.deleteWhereMor(spark, root, range(0, 9))   // v1
    LakeTable.deleteWhereMor(spark, root, range(5, 14))  // v2: only 5 new
    val ch = LakeTable.scanChanges(spark, root, 0L, 2L)
    assert(ch.where(col("_change_type") =!= "delete").count() == 0)
    assert(ids(ch.where(col("_commit_version") === 1L)) == (0L until 10L))
    assert(ids(ch.where(col("_commit_version") === 2L)) == (10L until 15L),
      "already-dead 5..9 must not re-appear in v2's delta")
    // a COW rewrite after the MOR delete must not re-report dead rows
    LakeTable.deleteWhere(spark, root, range(20, 29)) // v3 rewrites the file
    val ch3 = LakeTable.scanChanges(spark, root, 2L, 3L)
    assert(ids(ch3.where(col("_change_type") === "delete")) == (20L until 30L))
  }

  test("format read applies DVs (filters still prune and push)") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.deleteWhereMor(spark, root, range(10, 19))
    val df = spark.read.format("graft-lake").load(root)
      .where(col("id") >= 5 && col("id") <= 30)
    assert(ids(df) == ((5L until 10L) ++ (20L until 31L)))
    // count(*) (zero required columns) also works through the relation
    assert(spark.read.format("graft-lake").load(root).count() == 90)
    // pre-DV time travel keeps the native fast path
    val v0 = spark.read.format("graft-lake").option("versionAsOf", "0")
      .load(root)
    assert(v0.count() == 100)
    assert(v0.queryExecution.executedPlan.toString.contains("FileScan"),
      "clean snapshots must stay on the native FileScan path")
  }

  // the FINAL adaptive plan (collect the df first) — AQE's root node
  // and the result stage are traversal boundaries, not tree parents
  private def finalPlan(df: DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        unwrap(q.plan)
      case other => other
    }
    unwrap(df.queryExecution.executedPlan)
  }

  test("DV'd format read stays on the native vectorized scan (codegen)") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.deleteWhereMor(spark, root, range(10, 19))
    val df = spark.read.format("graft-lake").load(root)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 10L) ++ (20L until 100L)))
    val plan = finalPlan(df).toString
    assert(!plan.contains("LakeMorRelation"),
      "the expansion rule must replace the V1 fallback relation")
    assert(plan.contains("Batched: true"),
      "both branches must keep the vectorized parquet reader")
    val stages = finalPlan(df).collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty,
      "the DV-applying plan must stay inside whole-stage codegen")
    assert(stages.exists(_.toString.contains("BroadcastHashJoin")),
      "the sidecar anti-join itself must be codegen'd")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "the sidecar must apply as a broadcast anti-join")

    // filters push into the native scans AND stats-prune whole files:
    // id>=60 lands entirely in the clean [50,99] file, so the DV'd
    // branch's file index prunes to zero files
    val filtered = df.where(col("id") >= 60)
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq ==
      (60L until 100L))
    val scans = finalPlan(filtered).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("GreaterThanOrEqual(id,60)"))),
      "range predicate must reach the parquet scan")
    val dataScans = scans.filterNot(
      _.schema.fieldNames.contains("file")) // exclude the dv sidecar scan
    assert(dataScans.map(_.metrics("numFiles").value).sum == 1,
      "stats skipping must prune the DV'd file out of an id>=60 read")

    // self-join: each occurrence expands with fresh ids
    val joined = df.as("l").join(df.as("r"), "id")
    assert(joined.count() == 90)
  }

  test("batch CDF read avoids the RDD[Row] scan under extensions") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    LakeTable.deleteWhereMor(spark, root, range(0, 4))
    val cdf = spark.read.format("graft-lake")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(root)
    assert(cdf.count() == 55)
    assert(ids(cdf.where(col("_change_type") === "delete")) == (0L until 5L))
    assert(!cdf.queryExecution.executedPlan.toString.contains("LakeCdfRelation"),
      "the expansion rule must replace the V1 CDF relation")
  }

  test("scanPruned composes with DVs") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 4,
      clusterBy = Some("id"))
    LakeTable.deleteWhereMor(spark, root, range(30, 39))
    val (df, rep) = LakeTable.scanPruned(spark, root, range(26, 60))
    assert(rep.filesRead < rep.filesTotal, "stats pruning still bites")
    assert(ids(df) == ((26L until 30L) ++ (40L until 61L)))
  }

  test("append tail treats a MOR delete as a rewrite; ignoreChanges re-emits live rows") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    LakeTable.deleteWhereMor(spark, root, range(0, 9))
    val strict = spark.readStream.format("graft-lake")
      .option("startingVersion", "1").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("dv_strict").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try strict.processAllAvailable() finally strict.stop()
    }
    assert(ex.getMessage.contains("rewrite") ||
      Option(ex.getCause).exists(_.getMessage.contains("rewrite")))

    val loose = spark.readStream.format("graft-lake")
      .option("startingVersion", "1").option("ignoreChanges", "true")
      .load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("dv_loose").start()
    try loose.processAllAvailable() finally loose.stop()
    assert(ids(spark.table("dv_loose")) == (10L until 50L),
      "re-emitted file must carry live rows only, not the DV'd ones")
  }

  test("readChangeFeed streams a MOR delete as its delta") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("dv_cdf").start()
    try {
      q.processAllAvailable()
      LakeTable.deleteWhereMor(spark, root, range(0, 4))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dv_cdf")
    assert(ids(out.where(col("_change_type") === "delete")) == (0L until 5L))
    assert(out.count() == 55)
  }

  test("a change-feed stream restarted across a MOR delete emits the " +
      "delete delta once and replays no insert") {
    val root = freshRoot()
    val ckpt = tempDir("graft_lakedv_ckpt").toString
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    // (incarnation, change type, id) of every row a batch delivered;
    // foreachBatch recovers from a checkpoint, the memory sink does not
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    def run(incarnation: Int): Unit = {
      val q = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("_change_type", "id").collect().foreach(r =>
            seen.add((incarnation, r.getString(0), r.getLong(1))))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run(1)
    LakeTable.deleteWhereMor(spark, root, range(0, 4))
    run(2)
    run(3)
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSeq
    def of(incarnation: Int, kind: String): Seq[Long] =
      rows.collect { case (`incarnation`, `kind`, id) => id }.sorted
    assert(of(1, "insert") == (0L until 50L))
    assert(of(2, "delete") == (0L until 5L), "the delete delta, once")
    assert(of(2, "insert").isEmpty, "the restart must not replay inserts")
    assert(rows.size == 55, s"nothing else, no third-run replay: $rows")
  }

  test("deleteAt removes exactly the addressed rows; stale coords refuse") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.create(spark, root,
      (0 until 100).map(i => (i.toLong, s"n_${i % 40}")).toDF("id", "name"),
      Seq("id"), nFiles = 2, clusterBy = Some("id"))
    // arbitrary Spark logic picks the victims: every row whose name
    // ends in 7, addressed by physical position
    val victims = LakeTable.scanWithPos(spark, root)
      .where(col("name").endsWith("7"))
      .select(col("__file"), col("__pos"))
    val rep = LakeTable.deleteAt(spark, root, victims)
    assert(rep.filesRewritten == 2)
    val live = ids(LakeTable.scan(spark, root))
    assert(live == (0L until 100L).filterNot(i => (i % 40) % 10 == 7))
    // re-submitting the SAME victims: all already dead, a no-op
    val again = LakeTable.deleteAt(spark, root, victims)
    assert(again.filesRewritten == 0)
    assert(LakeTable.scan(spark, root).count() == live.size)
    // coordinates referencing unknown files are a stale snapshot: loud
    intercept[IllegalArgumentException] {
      LakeTable.deleteAt(spark, root,
        Seq(("data/nope/also-nope.parquet", 0L)).toDF("__file", "__pos"))
    }
  }

  test("dedupTable drops duplicate rows in place, smallest tieBreak wins") {
    import spark.implicits._
    val root = freshRoot()
    // 3 copies of each of 20 payloads, distinct ids; min id must win
    val rows = for (c <- 0 until 3; p <- 0 until 20)
      yield ((c * 100 + p).toLong, s"payload_$p")
    LakeTable.create(spark, root, rows.toDF("id", "text"), Seq("id"),
      nFiles = 3, clusterBy = Some("id"))
    val rep = LakeTable.dedupTable(spark, root, Seq("text"), "id")
    assert(rep.filesRewritten >= 1)
    val out = LakeTable.scan(spark, root)
    assert(out.count() == 20)
    assert(ids(out) == (0L until 20L), "the smallest id per payload survives")
    // no data file was written — the dedup is a sidecar commit
    assert(LakeTable.history(spark, root)
      .where(col("op") === "mordelete").count() == 1)
    // idempotent: a second pass finds nothing
    assert(LakeTable.dedupTable(spark, root, Seq("text"), "id")
      .filesRewritten == 0)
  }

  test("fingerprint dedup partitions on the 8-byte hash, min id survives") {
    import spark.implicits._
    val root = freshRoot()
    val rows = for (c <- 0 until 2; p <- 0 until 25)
      yield ((c * 100 + p).toLong, s"wide payload body $p")
    LakeTable.create(spark, root, rows.toDF("id", "text"), Seq("id"),
      nFiles = 2, clusterBy = Some("id"))
    val rep = LakeTable.dedupTableByFingerprint(spark, root,
      Seq("text"), "id")
    assert(rep.filesRewritten >= 1)
    val out = LakeTable.scan(spark, root)
    assert(out.count() == 25)
    assert(ids(out) == (0L until 25L), "min id per payload survives")
    // the window plan partitions on the hash, not the payload
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("text")))
      .orderBy(col("id"), col("__file"), col("__pos"))
    val plan = LakeTable.scanWithPos(spark, root)
      .withColumn("__rn", row_number().over(w))
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"),
      "partitioning must ride the 8-byte fingerprint")
  }

  test("near-dup cleaning composes: MinHash victims die in place") {
    import spark.implicits._
    val root = freshRoot()
    // 30 distinct base texts; ids 100.. are minor-edit copies of the
    // first 10 (near-dups, not exact) — MinHash must catch them
    val base = (0 until 30).map { i =>
      (i.toLong, s"the quick brown fox jumps over dog $i and then " +
        s"walks through the long meadow grass field number $i today")
    }
    val edited = (0 until 10).map { i =>
      ((100 + i).toLong, s"the quick brown fox jumps over dog $i and then " +
        s"walks through the long meadow grass field number $i tonight")
    }
    LakeTable.create(spark, root, (base ++ edited).toDF("doc_id", "text"),
      Seq("doc_id"), nFiles = 2, clusterBy = Some("doc_id"))
    // the near-dup pair set, computed by the LIBRARY operator over the
    // lake scan; min id survives, so the victim set is the b side of
    // (min, other) pairs
    val pairs = graft.operators.MinHashLSH.nearDuplicates(
      LakeTable.scan(spark, root), "doc_id", "text", threshold = 0.6)
    val victims = pairs.select(greatest(col("a"), col("b")).as("doc_id"))
      .distinct()
    assert(victims.count() == 10, "each edited copy pairs with its base")
    val withPos = LakeTable.scanWithPos(spark, root)
    val rep = LakeTable.deleteAt(spark, root,
      withPos.join(victims, Seq("doc_id"), "left_semi")
        .select(col("__file"), col("__pos")))
    assert(rep.filesRewritten == 1, "all edited copies live in the high file")
    assert(ids(LakeTable.scan(spark, root)
      .withColumnRenamed("doc_id", "id")) == (0L until 30L),
      "the corpus keeps exactly the 30 originals, cleaned in place")
  }

  test("concurrent MOR deletes on DISJOINT files both commit via retry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 200), Seq("id"), nFiles = 4,
      clusterBy = Some("id")) // files ~[0,49][50,99][100,149][150,199]
    val fs = Seq(
      Future(LakeTable.deleteWhereMor(spark, root, range(10, 19))),
      Future(LakeTable.deleteWhereMor(spark, root, range(160, 169))))
    val reps = Await.result(Future.sequence(fs), 120.seconds)
    assert(reps.map(_.version).toSet.size == 2,
      "both writers must land (distinct versions) — their files are disjoint")
    assert(ids(LakeTable.scan(spark, root)) ==
      ((0L until 10L) ++ (20L until 160L) ++ (170L until 200L)))
  }

  test("concurrent MOR deletes on the SAME file: one aborts, no lost rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 1)
    val outcomes = Await.result(Future.sequence(Seq(
      Future(scala.util.Try(
        LakeTable.deleteWhereMor(spark, root, range(0, 9)))),
      Future(scala.util.Try(
        LakeTable.deleteWhereMor(spark, root, range(20, 29)))))),
      120.seconds)
    val oks = outcomes.count(_.isSuccess)
    val aborted = outcomes.collect {
      case scala.util.Failure(e) => e
    }
    assert(aborted.forall(_.isInstanceOf[LakeLog.ConcurrentCommitException]),
      s"losers must abort with the conflict error, got $aborted")
    // whichever committed, its deletions are intact — and nothing else
    // was lost (the loser's work simply did not happen)
    val live = ids(LakeTable.scan(spark, root))
    if (oks == 2) // serial luck: both landed in order
      assert(live == ((10L until 20L) ++ (30L until 100L)))
    else {
      assert(oks == 1)
      assert(live == ((10L until 100L): Seq[Long]) ||
        live == ((0L until 20L) ++ (30L until 100L)))
    }
  }

  test("no-extensions DV fallback scan warns ONCE per table and stays " +
      "row-correct") {
    // with GraftSparkExtensions installed the expansion rule splices
    // buildScan out, so drive the V1 boundary directly — the path a
    // session WITHOUT the extensions executes
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 20), Seq("id"), nFiles = 1)
    LakeTable.deleteWhereMor(spark, root, range(0, 4))
    val rel = new LakeMorRelation(spark,
      new org.apache.hadoop.fs.Path(root), LakeTable.snapshot(spark, root))
    assert(!LakeMorRelation.warnedRoots.contains(rel.root.toString))
    val rows = rel.buildScan(Array("id"), Array.empty).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (5L until 20L),
      "the fallback scan must apply deletion vectors")
    assert(LakeMorRelation.warnedRoots.contains(rel.root.toString),
      "first fallback scan must record the one-time degradation warning")
    val before = LakeMorRelation.warnedRoots.size
    rel.buildScan(Array("id"), Array.empty).collect()
    assert(LakeMorRelation.warnedRoots.size == before,
      "the warning is per-table news, not per-query noise")
  }

  test("the commit guard conflicts on a concurrently re-pointed DV") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 1)
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    val stale = LakeLog.snapshot(f, rootP, None) // v0 view
    // a competing MOR delete re-points the file's DV...
    LakeTable.deleteWhereMor(spark, root, range(0, 9))
    // ...so a rewrite computed against the stale snapshot must abort
    // loudly (liveness alone would let it resurrect rows 0..9)
    intercept[LakeLog.ConcurrentCommitException] {
      LakeLog.commit(f, rootP,
        Seq(LakeLog.Meta("delete", stale.schemaDdl, stale.statsCols,
          None, None, 0L)) ++ stale.files.map(a => LakeLog.Remove(a.path)),
        guardFiles = stale.files, baseVersion = stale.version)
    }
  }
}
