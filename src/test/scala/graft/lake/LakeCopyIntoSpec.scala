package graft.lake

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `COPY INTO` — idempotent file-grain parquet ingest: re-runs skip
  * loaded files (the set rides the same commit as the rows), racing
  * copies abort instead of double-loading, the schema contract is
  * strict, and ingest composes with column semantics (a feed without
  * ids gets them allocated on the way in).
  */
class LakeCopyIntoSpec extends SparkSuite {

  private val cat = "gcpy"
  private lazy val warehouse = {
    val w = tempDir("graft_cpy").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }
  private def sql(q: String): DataFrame = { warehouse; spark.sql(q) }

  private def landing(): String =
    tempDir("graft_cpy_land").toString

  test("COPY INTO loads once, re-runs are no-ops, new files load " +
    "incrementally") {
    val land = landing()
    spark.range(0, 50).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.parquet(s"$land/batch1")
    sql(s"CREATE TABLE $cat.t1 (id BIGINT, v BIGINT)")
    val r1 = sql(s"COPY INTO $cat.t1 FROM '$land'").head
    assert(r1.getLong(0) == 1 && r1.getLong(1) == 50 && r1.getLong(2) == 0,
      s"first copy loads the file: $r1")
    // exact re-run: nothing loaded, everything skipped
    val r2 = sql(s"COPY INTO $cat.t1 FROM '$land'").head
    assert(r2.getLong(0) == 0 && r2.getLong(2) == 1, s"re-run no-op: $r2")
    assert(sql(s"SELECT count(*) AS c FROM $cat.t1").head.getLong(0) == 50)
    // a new file arrives; only it loads
    spark.range(50, 80).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.parquet(s"$land/batch2")
    val r3 = sql(s"COPY INTO $cat.t1 FROM '$land'").head
    assert(r3.getLong(0) == 1 && r3.getLong(1) == 30 && r3.getLong(2) == 1,
      s"incremental: $r3")
    assert(sql(s"SELECT count(*) AS c, count(DISTINCT id) AS d " +
      s"FROM $cat.t1").head.toSeq == Seq(80L, 80L))
  }

  test("PATTERN filters; strict schema contract refuses drift") {
    val land = landing()
    spark.range(0, 10).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.parquet(s"$land/a")
    spark.range(10, 20).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.parquet(s"$land/b")
    sql(s"CREATE TABLE $cat.t2 (id BIGINT, v BIGINT)")
    val r = sql(s"COPY INTO $cat.t2 FROM '$land' PATTERN = 'a/*.parquet'")
      .head
    assert(r.getLong(0) == 1 && r.getLong(1) == 10, s"pattern: $r")
    assert(sql(s"SELECT max(id) AS m FROM $cat.t2").head.getLong(0) == 9)

    // extra column refuses
    val land2 = landing()
    spark.range(5).selectExpr("id", "id AS v", "id AS extra")
      .coalesce(1).write.parquet(s"$land2/x")
    val e1 = intercept[Exception] {
      sql(s"COPY INTO $cat.t2 FROM '$land2'")
    }
    assert(e1.getMessage.contains("extra"), s"unexpected: $e1")
    // missing non-semantic column refuses
    val land3 = landing()
    spark.range(5).selectExpr("id").coalesce(1).write.parquet(s"$land3/y")
    val e2 = intercept[Exception] {
      sql(s"COPY INTO $cat.t2 FROM '$land3'")
    }
    assert(e2.getMessage.contains("missing"), s"unexpected: $e2")
    // lossless upcast is accepted (INT source into BIGINT column)
    val land4 = landing()
    spark.range(100, 105)
      .selectExpr("CAST(id AS INT) AS id", "CAST(id AS INT) AS v")
      .coalesce(1).write.parquet(s"$land4/z")
    val r4 = sql(s"COPY INTO $cat.t2 FROM '$land4'").head
    assert(r4.getLong(1) == 5)
  }

  test("ingest composes with column semantics: identity allocated, " +
    "defaults filled on the way in") {
    val land = landing()
    spark.range(0, 20).selectExpr("id AS k")
      .coalesce(1).write.parquet(s"$land/feed")
    sql(s"CREATE TABLE $cat.t3 (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, tag STRING DEFAULT 'ingested')")
    val r = sql(s"COPY INTO $cat.t3 FROM '$land'").head
    assert(r.getLong(1) == 20)
    val rows = sql(s"SELECT id, k, tag FROM $cat.t3").collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(0)).distinct.length == 20, "ids allocated")
    assert(rows.forall(_.getString(2) == "ingested"), "default filled")
  }

  test("a copy that lost the race to a concurrent copy aborts") {
    val land = landing()
    spark.range(3).selectExpr("id", "id AS v")
      .coalesce(1).write.parquet(s"$land/f")
    sql(s"CREATE TABLE $cat.t4 (id BIGINT, v BIGINT)")
    sql(s"COPY INTO $cat.t4 FROM '$land'")
    val root = s"$warehouse/t4"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, rootP, None)
    val already = snap.copiedFiles.head
    // a writer that planned BEFORE the copy landed tries to commit the
    // same source file from its stale base — must abort
    val e = intercept[LakeLog.ConcurrentCommitException] {
      LakeLog.commit(f, rootP, Seq(LakeLog.CopiedFile(already)),
        baseVersion = snap.version - 2, guardCopies = Seq(already))
    }
    assert(e.getMessage.contains("COPY INTO lost race"))
  }

  test("loaded-file memory survives checkpoints and clears on REPLACE") {
    val land = landing()
    spark.range(4).selectExpr("id", "id AS v")
      .coalesce(1).write.parquet(s"$land/g")
    sql(s"CREATE TABLE $cat.t5 (id BIGINT, v BIGINT)")
    sql(s"COPY INTO $cat.t5 FROM '$land'")
    // push past a checkpoint boundary (interval = 10)
    (1 to 11).foreach(i =>
      sql(s"INSERT INTO $cat.t5 VALUES (${100 + i}, 0)"))
    val r = sql(s"COPY INTO $cat.t5 FROM '$land'").head
    assert(r.getLong(0) == 0 && r.getLong(2) == 1,
      s"memory survives the checkpoint: $r")
    // REPLACE resets ingest memory: the new table loads afresh
    sql(s"REPLACE TABLE $cat.t5 (id BIGINT, v BIGINT)")
    val r2 = sql(s"COPY INTO $cat.t5 FROM '$land'").head
    assert(r2.getLong(0) == 1 && r2.getLong(1) == 4,
      s"replace clears ingest memory: $r2")
  }
}
