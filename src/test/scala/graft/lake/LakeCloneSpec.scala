package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zero-copy shallow clones: a clone's v0 references the source's
  * files; both tables then evolve independently.
  */
class LakeCloneSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lakeclone").resolve("tbl").toString

  private def seed(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def range(lo: Long, hi: Long) =
    Seq(LakeTable.ColRange("id", Some(lo), Some(hi)))

  private def localFileCount(root: String): Int = {
    val dd = new java.io.File(s"$root/data")
    if (!dd.exists()) 0
    else dd.listFiles().flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
  }

  test("a clone is one commit, no data files, same content") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 100), Seq("id"), nFiles = 4,
      clusterBy = Some("id"))
    LakeTable.shallowClone(spark, src, dst)
    assert(localFileCount(dst) == 0, "zero-copy: the clone owns no data")
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 100L))
    // cluster spec and stats travel with the clone
    val snap = LakeTable.snapshot(spark, dst)
    assert(snap.clusterBy.contains("id"))
    assert(snap.files.forall(_.stats.min.contains("id")))
  }

  test("clones and sources evolve independently") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.shallowClone(spark, src, dst)
    // append to the clone: local file, source unaffected
    LakeTable.append(spark, dst, seed(100, 120), nFiles = 1)
    assert(localFileCount(dst) == 1)
    assert(ids(LakeTable.scan(spark, src)) == (0L until 100L))
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 120L))
    // COW delete in the SOURCE rewrites source files; the clone still
    // pins the pre-delete ones (they stay on disk until src vacuums)
    LakeTable.deleteWhere(spark, src, range(0, 9))
    assert(ids(LakeTable.scan(spark, src)) == (10L until 100L))
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 120L),
      "the clone's snapshot must be immune to source rewrites")
  }

  test("MOR deletes work on inherited files; inherited DVs keep applying") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    // source DV BEFORE the clone: inherited by reference
    LakeTable.deleteWhereMor(spark, src, range(0, 4))
    LakeTable.shallowClone(spark, src, dst)
    assert(ids(LakeTable.scan(spark, dst)) == (5L until 100L))
    // MOR delete in the CLONE: local sidecar over the inherited file,
    // prior (inherited) positions carried forward
    val rep = LakeTable.deleteWhereMor(spark, dst, range(10, 14))
    assert(rep.filesRewritten == 1)
    assert(ids(LakeTable.scan(spark, dst)) ==
      ((5L until 10L) ++ (15L until 100L)))
    assert(ids(LakeTable.scan(spark, src)) == (5L until 100L),
      "the source must not see the clone's deletions")
    val dvd = LakeTable.snapshot(spark, dst).files.filter(_.dv.nonEmpty)
    assert(dvd.size == 1 && dvd.head.dv.get.rows == 10,
      "clone-local DV must carry the inherited 5 + new 5 positions")
  }

  test("compaction localizes a clone; vacuum then touches nothing foreign") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 100), Seq("id"), nFiles = 4,
      clusterBy = Some("id"))
    LakeTable.shallowClone(spark, src, dst)
    LakeTable.compact(spark, dst, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue)
    assert(localFileCount(dst) > 0, "compaction writes local files")
    assert(LakeTable.snapshot(spark, dst).files
      .forall(a => !a.path.startsWith("/")),
      "a compacted clone references only its own (relative) files")
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 100L))
    // vacuum the localized clone from its compacted version: the
    // inherited absolute references age out of retention, but vacuum
    // only walks the clone's OWN directories — source files survive
    val compacted = LakeTable.latestVersion(spark, dst).get
    LakeTable.vacuum(spark, dst, keepFromVersion = compacted,
      retentionMs = 0L)
    assert(ids(LakeTable.scan(spark, src)) == (0L until 100L),
      "vacuuming a clone must never delete source data")
    // and NOW vacuuming the source is safe for the localized clone
    LakeTable.vacuum(spark, src, keepFromVersion = 0L, retentionMs = 0L)
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 100L))
  }

  test("a source vacuum breaking a non-localized clone fails the " +
      "clone's reads loudly, never partially") {
    // the documented hazard (Delta parity): a shallow clone that
    // still references source files by absolute path loses them when
    // the SOURCE vacuums past the cloned version. The contract is
    // complete-or-loud: the clone's read must fail at file access —
    // never silently return the surviving subset. (Localizing via
    // compaction BEFORE the source vacuums is the supported escape —
    // previous test.)
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.overwrite(spark, src, seed(0, 40), nFiles = 1)
    LakeTable.shallowClone(spark, src, dst, asOf = Some(0L))
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 100L))
    LakeTable.vacuum(spark, src, keepFromVersion = 1L, retentionMs = 0L)
    val ex = intercept[Exception] {
      LakeTable.scan(spark, dst).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(ex).exists(c =>
      String.valueOf(c.getMessage).contains("not exist") ||
        c.isInstanceOf[java.io.FileNotFoundException]),
      s"expected a loud missing-file failure, got $ex")
    // the source itself reads fine and its own time travel refuses
    // with its floor
    assert(ids(LakeTable.scan(spark, src)) == (0L until 40L))
    intercept[IllegalStateException] {
      LakeTable.scanAsOf(spark, src, Some(0L))
    }
  }

  test("localize copies foreign files (incl. DV sidecars) so a source " +
      "vacuum can no longer strand the clone") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 100), Seq("id"), nFiles = 4,
      clusterBy = Some("id"))
    LakeTable.deleteWhereMor(spark, src, range(0, 4)) // inherited DV
    LakeTable.shallowClone(spark, src, dst)
    assert(localFileCount(dst) == 0, "shallow: the clone owns no data")
    val rep = LakeTable.localize(spark, dst)
    assert(rep.filesRewritten == 4 && rep.filesUntouched == 0)
    assert(localFileCount(dst) == 4, "localize copies the data files")
    val snap = LakeTable.snapshot(spark, dst)
    assert(snap.files.forall(a => !a.path.startsWith("/") &&
      a.dv.forall(d => !d.path.startsWith("/"))),
      s"all references local after localize: ${snap.files.map(_.path)}")
    // the inherited DV still applies against the COPIED files (file
    // identity segments preserved by the copy)
    assert(ids(LakeTable.scan(spark, dst)) == (5L until 100L))
    // layout-only: CDF skips the localize commit unread
    val v = LakeTable.latestVersion(spark, dst).get
    assert(LakeTable.scanChanges(spark, dst, v - 1, v).count() == 0,
      "localize is dataChange=false for the change feed")
    // idempotent: nothing foreign remains
    assert(LakeTable.localize(spark, dst).filesRewritten == 0)
    // the hazard is gone: source rewrites AND vacuums everything,
    // the localized clone still reads (the non-localized refusal
    // path is pinned by the previous test, unchanged)
    LakeTable.overwrite(spark, src, seed(0, 10), nFiles = 1)
    LakeTable.vacuum(spark, src,
      keepFromVersion = LakeTable.latestVersion(spark, src).get,
      retentionMs = 0L)
    assert(ids(LakeTable.scan(spark, dst)) == (5L until 100L),
      "a localized clone must survive any source vacuum")
  }

  test("DEEP CLONE = shallow clone + localize, through SQL and API") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 60), Seq("id"), nFiles = 2)
    spark.sql(s"CREATE TABLE '$dst' DEEP CLONE '$src'")
    assert(localFileCount(dst) == 2, "deep clone owns physical copies")
    assert(LakeTable.snapshot(spark, dst).files
      .forall(a => !a.path.startsWith("/")))
    LakeTable.vacuum(spark, src, keepFromVersion = 0L, retentionMs = 0L)
    // even deleting the whole source tree cannot strand a deep clone
    def rm(fl: java.io.File): Unit = {
      if (fl.isDirectory) fl.listFiles().foreach(rm)
      fl.delete()
    }
    rm(new java.io.File(src))
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 60L))
    // API form at an old version
    val src2 = freshRoot()
    val dst2 = freshRoot()
    LakeTable.create(spark, src2, seed(0, 10), Seq("id"), nFiles = 1)
    LakeTable.append(spark, src2, seed(10, 20), nFiles = 1)
    LakeTable.deepClone(spark, src2, dst2, asOf = Some(0L))
    assert(ids(LakeTable.scan(spark, dst2)) == (0L until 10L))
  }

  test("clone at an old version branches history") {
    val src = freshRoot()
    val dst = freshRoot()
    LakeTable.create(spark, src, seed(0, 50), Seq("id"), nFiles = 1)
    LakeTable.append(spark, src, seed(50, 80), nFiles = 1)
    LakeTable.shallowClone(spark, src, dst, asOf = Some(0L))
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 50L))
    // CDF of the clone starts from its own v0 (one clone commit)
    val ch = LakeTable.scanChanges(spark, dst, 0L, 0L)
    assert(ch.count() == 0, "(0,0] is empty — v0 itself is the base")
  }
}
