package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reader-feature protocol flags and CHECK constraints — the two
  * guards that make the log safe to EVOLVE: old readers fail loudly
  * instead of mis-reading new semantics, and writers cannot land rows
  * the table's contract rejects.
  */
class LakeGuardSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lakeguard").resolve("tbl").toString

  private def seed(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"n_$i", i * 10L))
      .toDF("id", "name", "amount")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("addConstraint validates existing rows first") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2)
    intercept[IllegalArgumentException] {
      LakeTable.addConstraint(spark, root, "big", "id >= 50")
    }
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    assert(LakeTable.snapshot(spark, root).constraints ==
      Map("nonneg" -> "amount >= 0"))
  }

  test("appends, overwrites and merge upserts are gated; deletes are not") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2)
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    val vBefore = LakeTable.latestVersion(spark, root).get

    import spark.implicits._
    val bad = Seq((200L, "bad", -5L)).toDF("id", "name", "amount")
    val ex = intercept[IllegalArgumentException] {
      LakeTable.append(spark, root, bad, nFiles = 1)
    }
    assert(ex.getMessage.contains("nonneg"))
    assert(LakeTable.latestVersion(spark, root).get == vBefore,
      "a refused append must not commit")

    intercept[IllegalArgumentException] {
      LakeTable.overwrite(spark, root, bad)
    }

    val badUpsert = Seq((5L, "bad", -5L, 1L, "U"))
      .toDF("id", "name", "amount", "version", "op")
    intercept[IllegalArgumentException] {
      LakeTable.merge(spark, root, badUpsert, "id")
    }
    // a delete row's payload is never written — not gated
    val del = Seq((5L, "x", -5L, 1L, "D"))
      .toDF("id", "name", "amount", "version", "op")
    LakeTable.merge(spark, root, del, "id")
    assert(!ids(LakeTable.scan(spark, root)).contains(5L))

    LakeTable.append(spark, root, seed(100, 110), nFiles = 1)
    assert(LakeTable.scan(spark, root).count() == 109)
  }

  test("NULL passes a CHECK (SQL semantics); evolution appends stay legal") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    import spark.implicits._
    // an append omitting the constrained column reads as NULL → passes
    val partial = Seq((100L, "late")).toDF("id", "name")
    LakeTable.append(spark, root, partial, nFiles = 1, mergeSchema = true)
    assert(LakeTable.scan(spark, root).count() == 51)
  }

  test("dropConstraint lifts the gate; unknown names refuse") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1)
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    intercept[IllegalArgumentException] {
      LakeTable.dropConstraint(spark, root, "nope")
    }
    LakeTable.dropConstraint(spark, root, "nonneg")
    import spark.implicits._
    LakeTable.append(spark, root,
      Seq((99L, "neg", -1L)).toDF("id", "name", "amount"), nFiles = 1)
    assert(LakeTable.scan(spark, root).count() == 11)
  }

  test("a table requiring an unknown reader feature refuses to be read") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1)
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, rootP, None)
    LakeLog.commit(f, rootP, Seq(
      LakeLog.Meta("upgrade", snap.schemaDdl, snap.statsCols, None, None, 0L),
      LakeLog.Feature("time-crystals")))
    val ex = intercept[LakeLog.UnsupportedFeatureException] {
      LakeTable.scan(spark, root)
    }
    assert(ex.getMessage.contains("time-crystals"))
    // older versions (before the flag) stay readable
    assert(LakeTable.scanAsOf(spark, root, Some(0L)).count() == 10)
  }

  test("MOR deletes stamp the deletion-vectors feature") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1)
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(1L))))
    assert(LakeTable.snapshot(spark, root).features
      .contains("deletion-vectors"))
  }

  test("clones inherit features and constraints") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 10), Seq("id"), nFiles = 1)
    LakeTable.addConstraint(spark, src, "nonneg", "amount >= 0")
    LakeTable.shallowClone(spark, src, dst)
    val snap = LakeTable.snapshot(spark, dst)
    assert(snap.features.contains("absolute-paths") &&
      snap.features.contains("check-constraints"))
    import spark.implicits._
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, dst,
        Seq((99L, "neg", -1L)).toDF("id", "name", "amount"), nFiles = 1)
    }
  }

  test("a violating append can never race past addConstraint") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import spark.implicits._
    (0 until 5).foreach { i =>
      val root = freshRoot()
      LakeTable.create(spark, root, seed(0, 20), Seq("id"), nFiles = 1)
      val bad = Seq((100L + i, "neg", -1L)).toDF("id", "name", "amount")
      val both = Await.result(Future.sequence(Seq(
        Future(scala.util.Try(
          LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0"))),
        Future(scala.util.Try(
          LakeTable.append(spark, root, bad, nFiles = 1))))), 120.seconds)
      val constraintOn = LakeTable.snapshot(spark, root)
        .constraints.contains("nonneg")
      val violPresent = LakeTable.scan(spark, root)
        .where(col("amount") < 0).count() > 0
      assert(!(constraintOn && violPresent),
        s"round $i: constraint active with a violating row present " +
          s"(outcomes: $both) — the add/append race leaked")
      // at least one of the two must have succeeded
      assert(both.exists(_.isSuccess))
    }
  }

  test("detail summarizes files, DV debt, layout, features, constraints") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(9L))))
    val d = LakeTable.detail(spark, root).head()
    assert(d.getAs[Long]("version") == 2L)
    assert(d.getAs[Long]("num_files") == 2L)
    assert(d.getAs[Long]("num_rows") == 90L, "live rows net of DV debt")
    assert(d.getAs[Long]("dv_files") == 1L &&
      d.getAs[Long]("dv_dead_rows") == 10L)
    assert(d.getAs[String]("cluster_by") == "id")
    assert(d.getAs[String]("features")
      .split(",").toSet == Set("check-constraints", "deletion-vectors"))
    assert(d.getAs[String]("constraints") == "nonneg: amount >= 0")
  }

  test("features and constraints survive checkpoint replay") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1)
    LakeTable.addConstraint(spark, root, "nonneg", "amount >= 0")
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(0L))))
    // push past the checkpoint interval so the next snapshot replays
    // from the checkpoint, not the full log
    (0 until LakeLog.checkpointInterval).foreach { i =>
      LakeTable.append(spark, root, seed(100 + i, 101 + i), nFiles = 1)
    }
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.version >= LakeLog.checkpointInterval)
    assert(snap.constraints == Map("nonneg" -> "amount >= 0"),
      "constraints must be carried by the checkpoint")
    assert(snap.features.contains("deletion-vectors"),
      "features must be carried by the checkpoint")
    import spark.implicits._
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, root,
        Seq((99L, "neg", -1L)).toDF("id", "name", "amount"), nFiles = 1)
    }
    // the DV'd file's vector also survives checkpoint replay
    assert(!ids(LakeTable.scan(spark, root)).contains(0L))
  }
  test("a 10^5-file checkpoint shards into parts and replays exactly") {
    val root = freshRoot()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    // fabricate a wide table purely in the log: snapshot replay and
    // checkpointing never touch data bytes, so the Adds need no files
    def fakeAdds(lo: Int, n: Int): Seq[LakeLog.Add] =
      (lo until lo + n).map { i =>
        LakeLog.Add(f"data/sim/f$i%07d.parquet",
          LakeLog.Stats(100L, 1000L, Map("id" -> i.toLong),
            Map("id" -> (i + 99).toLong), Map("id" -> 0L)))
      }
    val ddl = "id BIGINT"
    val perCommit = 15000
    (0 to 10).foreach { v =>
      LakeLog.commit(fs, rootP,
        LakeLog.Meta("append", ddl, Seq("id"), None, None, 0L) +:
          fakeAdds(v * perCommit, perCommit))
    }
    // v10 checkpointed 11 * 15k = 165k files -> 2 parts + manifest
    val names = fs.listStatus(LakeLog.logDir(rootP))
      .map(_.getPath.getName).toSeq
    assert(names.contains("00000000000000000010.checkpoint.json"))
    val parts = names.filter(_.endsWith(".part"))
    assert(parts.size == 2, s"expected 2 shards, got $parts")
    // part files must not register as log versions
    assert(LakeLog.versions(fs, rootP) == (0L to 10L))
    // checkpoint replay reproduces the full file list bit-for-bit
    val viaCp = LakeLog.snapshot(fs, rootP, None)
    assert(viaCp.files.size == 11 * perCommit)
    // force a raw replay (no checkpoint) and compare
    (names.filter(n => n.contains(".checkpoint"))).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(LakeLog.logDir(rootP), n),
        false)
    }
    val raw = LakeLog.snapshot(fs, rootP, None)
    assert(raw.files == viaCp.files,
      "sharded-checkpoint replay must equal the raw commit replay")
    assert(raw.schemaDdl == viaCp.schemaDdl &&
      raw.statsCols == viaCp.statsCols)
  }
}
