package graft.lake

import graft.SparkSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LakeTableSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lake").resolve("tbl").toString

  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"name_$i", (i % 7).toLong, i * 10L)).toDF(
      "id", "name", "grp", "amount")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("restore rolls back to an old version as a new auditable commit") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(50), Seq("id"), nFiles = 2)   // v0
    LakeTable.append(spark, root, seed(80).where(col("id") >= 50),
      nFiles = 1)                                                     // v1
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(9L))))              // v2
    val rep = LakeTable.restore(spark, root, 0L)                      // v3
    assert(ids(LakeTable.scan(spark, root)) == (0L until 50L),
      "restore must reproduce v0's rows exactly")
    assert(rep.version == 3L, "restore is a NEW commit, not history erasure")
    // the rolled-back states stay time-travelable
    assert(ids(LakeTable.scanAsOf(spark, root, Some(2L))) ==
      (10L until 80L))
    // CDF reports the restore's row-level effect like any rewrite
    val ch = LakeTable.scanChanges(spark, root, 2L, 3L)
    assert(ids(ch.where(col("_change_type") === "insert")) == (0L until 10L))
    assert(ids(ch.where(col("_change_type") === "delete")) == (50L until 80L))
    // restore of the current state refuses; vacuumed targets refuse
    intercept[IllegalArgumentException] {
      LakeTable.restore(spark, root, 3L)
    }
    LakeTable.append(spark, root, seed(90).where(col("id") >= 80),
      nFiles = 1)                                                     // v4
    LakeTable.vacuum(spark, root, keepFromVersion = 3L, retentionMs = 0L)
    // v2's rewrite outputs were vacuumed: the refusal now comes from
    // the recorded vacuum floor, at snapshot RESOLUTION, naming the
    // horizon — before any file is touched
    val vex = intercept[IllegalStateException] {
      LakeTable.restore(spark, root, 2L)
    }
    assert(vex.getMessage.contains("vacuum floor"), vex.getMessage)
    assert(ids(LakeTable.scan(spark, root)) == (0L until 50L) ++ (80L until 90L))
  }

  test("compact within key ranges scopes the maintenance pass") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(400), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val rep = LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue,
      within = Seq(LakeTable.ColRange("id", Some(0L), Some(99L))))
    assert(rep.filesRewritten == 2 && rep.filesAdded == 1,
      s"only the two [0,99] files may compact, got $rep")
    assert(ids(LakeTable.scan(spark, root)) == (0L until 400L))
    val total = LakeTable.snapshot(spark, root).files.size
    assert(total == 7, s"8 files -> 2 packed into 1 -> 7, got $total")
  }

  test("mergeSchema append evolves additively; old files read as null") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(50), Seq("id"), nFiles = 1)
    // a new column arrives without mergeSchema: loud refusal
    val widened = seed(80).where(col("id") >= 50)
      .withColumn("lang", concat(lit("l"), col("id") % 3))
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, root, widened, nFiles = 1)
    }
    LakeTable.append(spark, root, widened, nFiles = 1, mergeSchema = true)
    val latest = LakeTable.scan(spark, root)
    assert(latest.schema.fieldNames.toSeq ==
      Seq("id", "name", "grp", "amount", "lang"))
    assert(latest.where(col("id") < 50 && col("lang").isNull).count() == 50,
      "pre-evolution files must read the new column as null")
    assert(latest.where(col("id") >= 50 && col("lang").isNotNull)
      .count() == 30)
    // time travel keeps the pre-evolution schema
    assert(LakeTable.scanAsOf(spark, root, Some(0L))
      .schema.fieldNames.toSeq == Seq("id", "name", "grp", "amount"))
    // a type CHANGE is never mergeable
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, root,
        seed(90).where(col("id") >= 80)
          .withColumn("amount", col("amount").cast("string")),
        nFiles = 1, mergeSchema = true)
    }
    // an append OMITTING an existing column back-fills null
    LakeTable.append(spark, root,
      widened.where(col("id") >= 75).drop("name"),
      nFiles = 1, mergeSchema = true)
    assert(LakeTable.scan(spark, root)
      .where(col("id") >= 75 && col("name").isNull).count() == 5)
  }

  test("scanChanges reconstructs row-level CDC from the file log") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(40), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.append(spark, root, seed(60).where(col("id") >= 40),
      nFiles = 1) // v1: pure inserts
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(10L), Some(19L)))) // v2: deletes
    LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue) // v3: layout-only, must emit nothing

    val all = LakeTable.scanChanges(spark, root, 0L, 3L)
    def part(tpe: String, v: Long): Seq[Long] =
      ids(all.where(col("_change_type") === tpe &&
        col("_commit_version") === v))
    assert(part("insert", 1L) == (40L until 60L))
    assert(part("delete", 2L) == (10L until 20L),
      "copy-on-write survivors must cancel in the multiset diff")
    assert(part("insert", 2L).isEmpty)
    assert(all.where(col("_commit_version") === 3L).count() == 0,
      "compaction is dataChange=false — no CDC rows, nothing read")
    // an empty range yields an empty frame with the CDC schema
    val none = LakeTable.scanChanges(spark, root, 3L, 3L)
    assert(none.count() == 0 &&
      none.columns.contains("_change_type"))
    intercept[IllegalArgumentException] {
      LakeTable.scanChanges(spark, root, 0L, 99L)
    }
  }

  test("create + scan round-trips rows and schema") {
    val root = freshRoot()
    val v = LakeTable.create(spark, root, seed(100), Seq("id", "grp"),
      nFiles = 4, clusterBy = Some("id"))
    assert(v == 0L)
    val back = LakeTable.scan(spark, root)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "grp", "amount"))
    assert(ids(back) == (0L until 100L))
  }

  test("append adds rows; time travel pins the old version") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(50), Seq("id"))
    val v1 = LakeTable.append(spark, root, seed(80).where(col("id") >= 50))
    assert(v1 == 1L)
    assert(ids(LakeTable.scan(spark, root)) == (0L until 80L))
    assert(ids(LakeTable.scanAsOf(spark, root, Some(0L))) == (0L until 50L))
  }

  test("append refuses a different schema") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"))
    val bad = seed(5).withColumn("extra", lit(1))
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, root, bad)
    }
  }

  test("scanPruned skips non-overlapping files and filters rows") {
    val root = freshRoot()
    // clusterBy id → 8 files with disjoint contiguous id ranges
    LakeTable.create(spark, root, seed(800), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("id", Some(100L), Some(199L))))
    assert(ids(df) == (100L to 199L))
    assert(rep.filesTotal == 8)
    assert(rep.filesRead <= 2, s"expected <=2 files read, got $rep")
  }

  test("string stats prune too") {
    val root = freshRoot()
    LakeTable.create(spark, root,
      seed(400).withColumn("name", format_string("name_%04d", col("id"))),
      Seq("name"), nFiles = 4, clusterBy = Some("name"))
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("name", Some("name_0390"), Some("name_0399"))))
    assert(df.count() == 10)
    assert(rep.filesSkipped >= 2, s"expected skipping, got $rep")
  }

  test("deleteWhere rewrites only candidate files") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(800), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val rep = LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(99L))))
    assert(rep.filesUntouched >= 6,
      s"untouched files should dominate, got $rep")
    assert(rep.filesRewritten <= 2)
    assert(ids(LakeTable.scan(spark, root)) == (100L until 800L))
    // deleted rows still visible in the pre-delete version
    assert(ids(LakeTable.scanAsOf(spark, root, Some(0L))) == (0L until 800L))
  }

  test("range DELETE keeps NULL-key rows; REPLACE WHERE refuses a " +
      "null-key batch (three-valued predicate semantics)") {
    import spark.implicits._
    val root = freshRoot()
    val df = ((0 until 20).map(i => (Option(i.toLong), s"n_$i", i * 10L)) ++
      Seq((Option.empty[Long], "nullkey_1", 1L),
        (Option.empty[Long], "nullkey_2", 2L)))
      .toDF("id", "name", "amount")
    LakeTable.create(spark, root, df, Seq("id"), nFiles = 1)
    // DELETE WHERE id BETWEEN 0 AND 99: the predicate is NULL for
    // null ids — SQL keeps those rows; the candidate file (missing
    // id stats cover the null rows) is rewritten, never just dropped
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(99L))))
    val left = LakeTable.scan(spark, root).select("name").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(left == Seq("nullkey_1", "nullkey_2"),
      s"null-keyed rows must survive a range delete: $left")

    // REPLACE WHERE: a batch row with a NULL key is OUTSIDE every
    // range — it must refuse, not land as an unrelated insert
    val bad = Seq((Option.empty[Long], "sneak", 9L))
      .toDF("id", "name", "amount")
    val ex = intercept[IllegalArgumentException] {
      LakeTable.replaceWhere(spark, root,
        Seq(LakeTable.ColRange("id", Some(0L), Some(9L))), bad)
    }
    assert(ex.getMessage.contains("OUTSIDE"))
  }

  test("merge applies upserts, deletes, inserts; D wins version ties") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 4,
      clusterBy = Some("id"))
    val changes = Seq(
      // upsert existing key 10 (version 2 beats version 1)
      (10L, "old", 0L, 0L, 1L, "U"),
      (10L, "newer", 0L, 111L, 2L, "U"),
      // delete key 20
      (20L, "x", 0L, 0L, 1L, "D"),
      // tie on key 30: U and D at version 5 → D wins
      (30L, "tie", 0L, 0L, 5L, "U"),
      (30L, "tie", 0L, 0L, 5L, "D"),
      // brand-new key 500
      (500L, "fresh", 3L, 42L, 1L, "U")
    ).toDF("id", "name", "grp", "amount", "version", "op")
    val rep = LakeTable.merge(spark, root, changes, "id")
    assert(rep.filesRewritten >= 1)
    val out = LakeTable.scan(spark, root)
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(!byId.contains(20L) && !byId.contains(30L))
    assert(byId(10L).getString(1) == "newer" && byId(10L).getLong(3) == 111L)
    assert(byId(500L).getString(1) == "fresh")
    assert(out.count() == 100 - 2 + 1)
  }

  test("merge prunes files outside the changelog key range") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.create(spark, root, seed(800), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val changes = Seq((5L, "upd", 0L, 1L, 1L, "U"),
      (90L, "upd", 6L, 2L, 1L, "D"))
      .toDF("id", "name", "grp", "amount", "version", "op")
    val rep = LakeTable.merge(spark, root, changes, "id")
    assert(rep.filesUntouched >= 6, s"key-range pruning failed: $rep")
    assert(LakeTable.scan(spark, root).count() == 799)
  }

  test("merge with a domain-spanning changelog leaves middle files alone") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.create(spark, root, seed(800), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    // keys at both EXTREMES of the domain: a global [min,max] check
    // would mark all 8 files candidates; per-file stabbing keeps the
    // middle 6 untouched
    val changes = Seq((1L, "lo", 0L, 0L, 1L, "U"),
      (799L, "hi", 1L, 0L, 1L, "U"))
      .toDF("id", "name", "grp", "amount", "version", "op")
    val rep = LakeTable.merge(spark, root, changes, "id")
    assert(rep.filesUntouched >= 6, s"per-file candidacy failed: $rep")
    assert(ids(LakeTable.scan(spark, root)) == (0L until 800L))
  }

  test("cluster layout survives a rewrite, so pruning keeps biting") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.create(spark, root, seed(800), Seq("id"), nFiles = 8,
      clusterBy = Some("id"))
    val changes = (0L until 800L by 50L).map(k =>
      (k, "touched", 0L, 1L, 1L, "U"))
      .toDF("id", "name", "grp", "amount", "version", "op")
    LakeTable.merge(spark, root, changes, "id") // touches every file
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("id", Some(100L), Some(199L))))
    assert(df.count() == 100)
    assert(rep.filesSkipped >= rep.filesTotal / 2,
      s"post-merge layout lost its clustering: $rep")
  }

  test("compact bin-packs small files atomically, content unchanged") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(50), Seq("id"), nFiles = 1)
    (0 until 6).foreach { i =>
      LakeTable.append(spark, root,
        seed(800).where(col("id") === lit(50L + i)), nFiles = 1)
    }
    val before = ids(LakeTable.scan(spark, root))
    val rep = LakeTable.compact(spark, root, smallBytes = 4096,
      targetBytes = 1 << 20)
    assert(rep.filesRewritten >= 6)
    assert(rep.filesAdded == 1)
    assert(ids(LakeTable.scan(spark, root)) == before)
  }

  test("checkpoint kicks in and snapshots stay correct past it") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"), nFiles = 1)
    (1 to 12).foreach { i =>
      LakeTable.append(spark, root,
        seed(200).where(col("id") === lit(9L + i)), nFiles = 1)
    }
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cps = fs.listStatus(new Path(root, "_log")).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.json"))
    assert(cps.nonEmpty, "expected a checkpoint after >10 commits")
    assert(ids(LakeTable.scan(spark, root)) == (0L until 22L))
    assert(ids(LakeTable.scanAsOf(spark, root, Some(5L))) == (0L until 15L))
  }

  test("vacuum deletes unreferenced files; old versions become unreadable") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 2)
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(49L))))
    val rep = LakeTable.vacuum(spark, root, keepFromVersion = 1L,
      retentionMs = 0L)
    assert(rep.filesDeleted >= 1)
    assert(ids(LakeTable.scan(spark, root)) == (50L until 100L))
    // the vacuum recorded its floor (it deleted files v0 references),
    // so the unreadable version refuses AT RESOLUTION with the
    // horizon — not file-by-file inside tasks, and never partially
    val ex = intercept[IllegalStateException] {
      LakeTable.scanAsOf(spark, root, Some(0L)).collect()
    }
    assert(ex.getMessage.contains("vacuum floor is 1"), ex.getMessage)
    // change feeds dipping below the floor refuse the same way (the
    // removed sides would read vacuumed files); at-the-floor ranges
    // still resolve
    val cex = intercept[IllegalStateException] {
      LakeTable.scanChanges(spark, root, 0L, 1L)
    }
    assert(cex.getMessage.contains("vacuum floor"), cex.getMessage)
    assert(LakeTable.scanChanges(spark, root, 1L, 1L).count() == 0)

    // the floor is MONOTONE under any write order: markers are
    // immutable per-keepFrom files and reads take the max, so a
    // lower recording landing AFTER a higher one (the interleaving a
    // single read-check-then-replace file cannot survive) never
    // regresses the horizon
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    assert(LakeLog.vacuumFloor(fs, rootP).map(_._1) == Some(1L))
    LakeLog.recordVacuumFloor(fs, rootP, 3L, 99L)
    LakeLog.recordVacuumFloor(fs, rootP, 2L, 98L) // late lower write
    assert(LakeLog.vacuumFloor(fs, rootP).map(_._1) == Some(3L),
      "a lower floor recorded after a higher one must not regress it")
    LakeLog.recordVacuumFloor(fs, rootP, 3L, 97L) // idempotent re-record
    assert(LakeLog.vacuumFloor(fs, rootP) == Some((3L, 99L)))
    // legacy single-file floors (pre-marker tables) still read, and
    // the effective floor is the max across both schemes
    val legacy = new Path(rootP, "_vacuum_floor.json")
    val out = fs.create(legacy, true)
    try out.write("""{"keepFrom":5,"horizonTs":77}""".getBytes("UTF-8"))
    finally out.close()
    assert(LakeLog.vacuumFloor(fs, rootP) == Some((5L, 77L)))
  }

  test("concurrent appends both land, on distinct versions") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"), nFiles = 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = List(
      Future(LakeTable.append(spark, root,
        seed(100).where(col("id") >= 10 && col("id") < 20), nFiles = 1)),
      Future(LakeTable.append(spark, root,
        seed(100).where(col("id") >= 20 && col("id") < 30), nFiles = 1)))
    val vs = Await.result(Future.sequence(fs), 120.seconds)
    assert(vs.toSet.size == 2, s"expected distinct versions, got $vs")
    assert(ids(LakeTable.scan(spark, root)) == (0L until 30L))
  }

  test("tryCommit loser never overwrites the winner's commit file") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"), nFiles = 1)
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(fs, rootP, None)
    val winner = LakeLog.Meta("winner", snap.schemaDdl, snap.statsCols,
      None, None, 0L)
    val loser = LakeLog.Meta("loser", snap.schemaDdl, snap.statsCols,
      None, None, 0L)
    assert(LakeLog.tryCommit(fs, rootP, 1L, Seq(winner)))
    // the second writer at v1 must LOSE — and, critically, must not
    // replace the winner's commit file (POSIX rename(2) would)
    assert(!LakeLog.tryCommit(fs, rootP, 1L, Seq(loser)))
    val ops = LakeTable.history(spark, root)
      .where(col("version") === 1L).select("op")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("winner"), s"winner's commit was clobbered: $ops")
  }

  test("vacuum retention shields young staged files of in-flight writers") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 2)
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(49L))))
    // default 7-day horizon: every unreferenced file here is seconds
    // old — exactly what a concurrent writer's staged output looks
    // like — so nothing may be deleted
    val rep = LakeTable.vacuum(spark, root, keepFromVersion = 1L)
    assert(rep.filesDeleted == 0,
      s"vacuum deleted ${rep.filesDeleted} files younger than retention")
    // all versions still readable
    assert(ids(LakeTable.scanAsOf(spark, root, Some(0L))) == (0L until 100L))
    assert(ids(LakeTable.scan(spark, root)) == (50L until 100L))
  }

  test("a rewrite that lost its files to a competing commit aborts") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"), nFiles = 1)
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(fs, rootP, None)
    val victim = snap.files.head
    // competing rewrite wins version 1 and removes the victim file
    assert(LakeLog.tryCommit(fs, rootP, 1L, Seq(
      LakeLog.Meta("delete", snap.schemaDdl, snap.statsCols, None, None, 0L),
      LakeLog.Remove(victim.path))))
    // our rewrite targeted version 1 too; its retry must notice the
    // victim is gone and abort instead of resurrecting it
    intercept[LakeLog.ConcurrentCommitException] {
      LakeLog.commit(fs, rootP, Seq(
        LakeLog.Meta("delete", snap.schemaDdl, snap.statsCols, None, None, 0L),
        LakeLog.Remove(victim.path)), guardFiles = Seq(victim))
    }
  }

  test("LakeSink replays of the same batch are no-ops") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"), nFiles = 1)
    val b1 = seed(100).where(col("id") >= 10 && col("id") < 20)
    assert(LakeSink.addBatch(root, "appA", 0L, b1))
    assert(!LakeSink.addBatch(root, "appA", 0L, b1), "replay must skip")
    assert(LakeSink.addBatch(root, "appA", 1L,
      seed(100).where(col("id") >= 20 && col("id") < 25)))
    // a different app's batch 0 is independent
    assert(LakeSink.addBatch(root, "appB", 0L,
      seed(100).where(col("id") >= 25 && col("id") < 30)))
    assert(ids(LakeTable.scan(spark, root)) == (0L until 30L))
  }

  test("a duplicate (appId, batchId) is refused at write AND commit time") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(10), Seq("id"), nFiles = 1)
    assert(LakeSink.addBatch(root, "app", 0L,
      seed(100).where(col("id") >= 10 && col("id") < 20)))
    // write-side: direct API use with a spent token throws
    intercept[LakeLog.DuplicateBatchException] {
      LakeTable.append(spark, root,
        seed(100).where(col("id") >= 10 && col("id") < 20),
        appId = Some("app"), batchId = Some(0L))
    }
    // commit-side: token lands AFTER the writer's snapshot read — the
    // retry-loop re-check must abort instead of committing twice
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(fs, rootP, None)
    assert(LakeLog.tryCommit(fs, rootP, snap.version + 1, Seq(
      LakeLog.Meta("append", snap.schemaDdl, snap.statsCols,
        Some("app"), Some(1L), 0L))))
    intercept[LakeLog.DuplicateBatchException] {
      LakeLog.commit(fs, rootP, Seq(
        LakeLog.Meta("append", snap.schemaDdl, snap.statsCols,
          Some("app"), Some(1L), 0L)),
        baseVersion = snap.version, dedupBatch = Some(("app", 1L)))
    }
    assert(ids(LakeTable.scan(spark, root)) == (0L until 20L),
      "duplicate batch must not land twice")
  }

  test("mergeSchema append may omit a stats column") {
    val root = freshRoot()
    LakeTable.create(spark, root,
      seed(50).withColumn("tag", col("id") * 10), Seq("id", "tag"),
      nFiles = 1)
    // incoming batch lacks 'tag' entirely — files it writes carry no
    // tag stats, readers see null, pruning keeps them conservatively
    LakeTable.append(spark, root,
      seed(100).where(col("id") >= 50), nFiles = 1, mergeSchema = true)
    assert(ids(LakeTable.scan(spark, root)) == (0L until 100L))
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("tag", Some(0L), Some(90L))))
    assert(ids(df) == (0L until 10L))
    assert(rep.filesRead == 2, "stat-less file must be kept (may match)")
  }

  test("deleteAt counts a victim passed twice exactly once") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(100), Seq("id"), nFiles = 1)
    val victims = LakeTable.scanWithPos(spark, root)
      .where(col("id") < 5).select("__file", "__pos")
    LakeTable.deleteAt(spark, root, victims.unionAll(victims))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvRows = LakeLog.snapshot(fs, rootP, None)
      .files.flatMap(_.dv).map(_.rows).sum
    assert(dvRows == 5L, s"expected 5 dv rows, got $dvRows")
    assert(ids(LakeTable.scan(spark, root)) == (5L until 100L))
  }

  test("history records one row per commit with op tags") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(20), Seq("id"))
    LakeTable.append(spark, root, seed(30).where(col("id") >= 20))
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(4L))))
    val h = LakeTable.history(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h == Map(0L -> "create", 1L -> "append", 2L -> "delete"))
  }
}
