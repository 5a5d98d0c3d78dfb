package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 hardening: authoritative replace/overwrite vs concurrent
  * appends (replay-side clear + commit-side exact-file-set guard),
  * one UTF-8 string order across every stats writer and prober,
  * atomic CREATE TABLE with inline CHECKs, and staged CTAS honoring
  * nFiles without a cluster column.
  */
class LakeRound16FixSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_r16").resolve("tbl").toString

  private def seed(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
  }

  test("replace replay clears files added by a commit the replacing " +
      "writer never saw") {
    val root = freshRoot()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1) // v0
    val stale = LakeLog.snapshot(f, rootP, None)
    LakeTable.append(spark, root, seed(10, 20), nFiles = 1)           // v1
    // a stale writer lands an (incorrectly unguarded) replace at v2
    // that only removes v0's files — the replay rule must still drop
    // v1's concurrently-added files: the new definition stands alone
    val ok = LakeLog.tryCommit(f, rootP, 2L,
      LakeLog.Meta("replace", stale.schemaDdl, stale.statsCols, None, None,
        System.currentTimeMillis()) +: stale.files.map(a =>
        LakeLog.Remove(a.path)))
    assert(ok)
    val snap = LakeLog.snapshot(f, rootP, None)
    assert(snap.files.isEmpty,
      s"files added by the racing append must not survive an " +
        s"authoritative replace: ${snap.files.map(_.path)}")
    assert(LakeTable.scan(spark, root).count() == 0)
  }

  test("overwrite commit fails the exact-file-set guard when a " +
      "concurrent append landed") {
    val root = freshRoot()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1) // v0
    val stale = LakeLog.snapshot(f, rootP, None)
    LakeTable.append(spark, root, seed(10, 20), nFiles = 1)           // v1
    // an overwrite computed against v0 must abort (not silently keep
    // v1's files in its commit record)
    intercept[LakeLog.ConcurrentCommitException] {
      LakeLog.commit(f, rootP,
        LakeLog.Meta("overwrite", stale.schemaDdl, stale.statsCols, None,
          None, System.currentTimeMillis()) +:
          stale.files.map(a => LakeLog.Remove(a.path)),
        guardFiles = stale.files, baseVersion = stale.version,
        expectExactFiles = true)
    }
    // and LakeTable.overwrite re-reads, so it succeeds at HEAD
    LakeTable.overwrite(spark, root, seed(100, 105))
    assert(LakeTable.scan(spark, root).count() == 5)
  }

  test("string stats order is UTF-8 everywhere: supplementary-plane " +
      "values prune correctly from batch AND staged writers") {
    // U+1F600 (4-byte UTF-8, a surrogate PAIR in UTF-16): UTF-16
    // code-unit order puts it BELOW U+E000, UTF-8 byte order ABOVE —
    // the two orders disagree exactly here
    val emoji = new String(Character.toChars(0x1F600))
    val bmp = ""
    assert(emoji < bmp, "java.lang.String order (UTF-16) sanity")
    assert(LakeTable.utf8Cmp(emoji, bmp) > 0, "UTF-8 order sanity")

    import spark.implicits._
    val root = freshRoot()
    // one file holding ONLY the emoji row: batch stats say
    // min = max = emoji (Spark min/max = UTF-8 order)
    LakeTable.create(spark, root,
      Seq((1L, emoji)).toDF("id", "name"), Seq("id", "name"), nFiles = 1)
    // `name >= U+E000` matches the emoji row in Spark's comparison —
    // a UTF-16 cmp would prune the file and lose the row
    val (df, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("name", Some(bmp), None)))
    assert(rep.filesRead == 1, "file must be kept under UTF-8 cmp")
    assert(df.count() == 1)

    // staged CTAS (the streaming writer stack): per-row folded stats
    // must record the same UTF-8 min/max as the batch pass would
    val cat = "gr16"
    val w = tempDir("graft_r16cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    Seq((1L, emoji), (2L, bmp)).toDF("id", "name")
      .createOrReplaceTempView("r16_strings")
    spark.sql(s"CREATE TABLE $cat.ns.s TBLPROPERTIES (nFiles = '1') " +
      "AS SELECT * FROM r16_strings")
    val snap = LakeTable.snapshot(spark, s"$w/ns/s")
    val st = snap.files.head.stats
    assert(st.min("name") == bmp && st.max("name") == emoji,
      s"staged writer must fold string stats in UTF-8 order, got $st")
  }

  test("CREATE TABLE with inline CHECK is atomic: one v0 commit " +
      "carries the constraint; non-CHECK refuses before creating") {
    val cat = "gr16b"
    val w = tempDir("graft_r16cat2").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.c (id BIGINT, " +
      "CONSTRAINT pos CHECK (id > 0))")
    val rootP = new org.apache.hadoop.fs.Path(s"$w/ns/c")
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    assert(LakeLog.versions(f, rootP) == Seq(0L),
      "the CHECK must land inside the create commit, not a follow-up")
    val snap = LakeLog.snapshot(f, rootP, None)
    assert(snap.constraints == Map("pos" -> "id > 0"))
    // and it gates writes
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ns.c VALUES (-1)")
    }
  }

  test("staged CTAS honors nFiles without a cluster column") {
    val cat = "gr16c"
    val w = tempDir("graft_r16cat3").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.n TBLPROPERTIES (nFiles = '3') " +
      "AS SELECT id FROM range(1000)")
    assert(LakeTable.snapshot(spark, s"$w/ns/n").files.size == 3)
  }
}
