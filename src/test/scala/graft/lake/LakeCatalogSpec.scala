package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** The DSv2 catalog surface: lake tables addressable by identifier,
  * maintained with plain SQL text — CREATE/CTAS/INSERT/INSERT
  * OVERWRITE/DELETE/ALTER ADD COLUMNS/time travel/SHOW/DROP — all
  * committing through the same [[LakeLog]] transaction machinery as
  * the library API, and all reads planned by [[LakeMorExpansion]]
  * onto the native vectorized scan.
  */
class LakeCatalogSpec extends SparkSuite {

  private val cat = "glake"
  private lazy val warehouse = {
    val w = tempDir("graft_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  private def sql(q: String): DataFrame = { warehouse; spark.sql(q) }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("CREATE TABLE + INSERT INTO + SELECT round-trips as pure SQL") {
    sql(s"CREATE NAMESPACE $cat.core")
    sql(s"CREATE TABLE $cat.core.t (id BIGINT, name STRING) " +
      "TBLPROPERTIES (clusterBy = 'id')")
    sql(s"INSERT INTO $cat.core.t SELECT id, concat('n_', id) " +
      "FROM range(100)")
    assert(ids(sql(s"SELECT * FROM $cat.core.t")) == (0L until 100L))
    // reads are native scans, not the refusing DSv2 ScanBuilder
    val plan = sql(s"SELECT * FROM $cat.core.t WHERE id >= 90")
    assert(ids(plan) == (90L until 100L))
    assert(plan.queryExecution.executedPlan.toString.contains("LakeFileIndex"),
      "catalog reads must plan onto the snapshot file index")
    // a second INSERT is a second commit
    sql(s"INSERT INTO $cat.core.t SELECT id + 100, concat('n_', id + 100) " +
      "FROM range(20)")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.t").head().getLong(0)
      == 120)
  }

  test("DELETE FROM translates exactly or refuses; time travel by version") {
    sql(s"CREATE TABLE $cat.core.d (id BIGINT, v BIGINT)")       // v0
    sql(s"INSERT INTO $cat.core.d SELECT id, id * 2 FROM range(50)") // v1
    sql(s"DELETE FROM $cat.core.d WHERE id BETWEEN 10 AND 19")   // v2
    assert(ids(sql(s"SELECT * FROM $cat.core.d")) ==
      ((0L until 10L) ++ (20L until 50L)))
    // equality + strict bounds (integral widening to inclusive ranges)
    sql(s"DELETE FROM $cat.core.d WHERE id > 47")                // v3
    assert(ids(sql(s"SELECT * FROM $cat.core.d")) ==
      ((0L until 10L) ++ (20L until 48L)))
    // a predicate beyond the metadata path's ranges takes the general
    // rewrite command (candidates pruned, exact predicate row-level)
    val drep = sql(
      s"DELETE FROM $cat.core.d WHERE id % 10 = 5").head()       // v4
    assert(drep.getAs[Long]("files_rewritten") >= 1)
    assert(ids(sql(s"SELECT * FROM $cat.core.d")) ==
      ((0L until 10L) ++ (20L until 48L))
        .filterNot(i => i % 10 == 5))
    // time travel reads the pre-delete snapshots
    assert(ids(sql(s"SELECT * FROM $cat.core.d VERSION AS OF 1")) ==
      (0L until 50L))
    assert(ids(sql(s"SELECT * FROM $cat.core.d VERSION AS OF 2")) ==
      ((0L until 10L) ++ (20L until 50L)))

    // DATE/TIMESTAMP predicates — the everyday time-series delete —
    // take the general rewrite (the Catalyst range mirror must AGREE
    // with the DSv2 translation and refuse temporal literals, else
    // the statement strands on the refusing SupportsDelete path: a
    // date literal's INTERNAL Int-days value must not masquerade as
    // an integral range)
    sql(s"CREATE TABLE $cat.core.dd (id BIGINT, d DATE, ts TIMESTAMP)")
    sql(s"INSERT INTO $cat.core.dd SELECT id, " +
      "date_add(DATE'2024-01-01', CAST(id AS INT)), " +
      "timestamp_micros(CAST(1704067200000000 + id * 86400000000 AS " +
      "BIGINT)) FROM range(10)")
    sql(s"DELETE FROM $cat.core.dd WHERE d >= DATE'2024-01-08'")
    assert(ids(sql(s"SELECT * FROM $cat.core.dd")) == (0L until 7L),
      "a DATE-range DELETE must execute via the general rewrite")
    sql(s"DELETE FROM $cat.core.dd WHERE " +
      "ts < TIMESTAMP'2024-01-03 00:00:00'")
    assert(ids(sql(s"SELECT * FROM $cat.core.dd")) == (2L until 7L),
      "a TIMESTAMP-range DELETE must execute via the general rewrite")
  }

  test("INSERT OVERWRITE replaces the table in one commit") {
    sql(s"CREATE TABLE $cat.core.o (id BIGINT, v BIGINT)")
    sql(s"INSERT INTO $cat.core.o SELECT id, id FROM range(30)")
    sql(s"INSERT OVERWRITE $cat.core.o SELECT id + 100, id FROM range(5)")
    assert(ids(sql(s"SELECT * FROM $cat.core.o")) == (100L until 105L))
    // the overwrite is one version: v0 create, v1 insert, v2 overwrite
    assert(ids(sql(s"SELECT * FROM $cat.core.o VERSION AS OF 1")) ==
      (0L until 30L))
  }

  test("CTAS, SHOW TABLES, DROP TABLE") {
    sql(s"CREATE TABLE $cat.core.src AS " +
      "SELECT id, id * 3 AS v FROM range(40)")
    assert(ids(sql(s"SELECT * FROM $cat.core.src")) == (0L until 40L))
    val shown = sql(s"SHOW TABLES IN $cat.core").collect()
      .map(_.getString(1)).toSet
    assert(shown.contains("src"))
    sql(s"DROP TABLE $cat.core.src")
    assert(!sql(s"SHOW TABLES IN $cat.core").collect()
      .map(_.getString(1)).contains("src"))
    intercept[AnalysisException] { sql(s"SELECT * FROM $cat.core.src") }
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only evolution commit") {
    sql(s"CREATE TABLE $cat.core.ev (id BIGINT)")
    sql(s"INSERT INTO $cat.core.ev SELECT id FROM range(10)")
    sql(s"ALTER TABLE $cat.core.ev ADD COLUMNS (lang STRING)")
    // old rows read null for the new column; new rows carry values
    sql(s"INSERT INTO $cat.core.ev SELECT id + 10, 'en' FROM range(5)")
    val out = sql(s"SELECT id, lang FROM $cat.core.ev ORDER BY id").collect()
    assert(out.length == 15)
    assert(out.take(10).forall(_.isNullAt(1)), "pre-evolution rows are null")
    assert(out.drop(10).forall(_.getString(1) == "en"))
    // RENAME COLUMN is a metadata-only column-mapping commit: the
    // files keep their physical names, the new logical name reads the
    // same values
    sql(s"ALTER TABLE $cat.core.ev RENAME COLUMN lang TO language")
    val renamed = sql(
      s"SELECT id, language FROM $cat.core.ev ORDER BY id").collect()
    assert(renamed.drop(10).forall(_.getString(1) == "en"),
      "renamed column must read the old files' values")
    // DROP COLUMN hides it; a later re-add must NOT resurrect values
    sql(s"ALTER TABLE $cat.core.ev DROP COLUMN language")
    sql(s"ALTER TABLE $cat.core.ev ADD COLUMNS (language STRING)")
    assert(sql(s"SELECT language FROM $cat.core.ev").collect()
      .forall(_.isNullAt(0)),
      "a re-added column must read null, never the dropped values")
    // type changes stay a rewrite
    intercept[Exception] {
      sql(s"ALTER TABLE $cat.core.ev ALTER COLUMN id TYPE INT")
    }
  }

  test("SQL DML interoperates with the library API on the same table") {
    sql(s"CREATE TABLE $cat.core.x (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '2')")
    sql(s"INSERT INTO $cat.core.x SELECT id, id FROM range(60)")
    val root = s"$warehouse/core/x"
    // library-side MOR delete → SQL read applies the deletion vector
    LakeTable.deleteWhereMor(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(9L))))
    assert(ids(sql(s"SELECT * FROM $cat.core.x")) == (10L until 60L))
    // and the DV'd SQL read still plans the native anti-join scan
    val df = sql(s"SELECT * FROM $cat.core.x WHERE id <= 20")
    assert(ids(df) == (10L until 21L))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LakeFileIndex") && !p.contains("LakeMorRelation"))
    // SQL-side delete → library read agrees
    sql(s"DELETE FROM $cat.core.x WHERE id >= 50")
    assert(ids(LakeTable.scan(spark, root)) == (10L until 50L))
  }

  test("MERGE INTO: conditioned update/delete/insert clauses as SQL") {
    sql(s"CREATE TABLE $cat.core.m (id BIGINT, v BIGINT, note STRING) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '4')")
    sql(s"INSERT INTO $cat.core.m SELECT id, id * 10, 'base' " +
      "FROM range(100)")
    spark.range(80, 120)
      .selectExpr("id AS sid", "id * 1000 AS sv")
      .createOrReplaceTempView("merge_src")
    val rep = sql(
      s"""MERGE INTO $cat.core.m t USING merge_src s ON t.id = s.sid
      WHEN MATCHED AND s.sid >= 95 THEN UPDATE SET v = s.sv, note = 'upd'
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.sid < 110 THEN
        INSERT (id, v, note) VALUES (s.sid, s.sv, 'new')""").head()
    // candidate pruning: the clustered table's files outside the
    // source's key range [80, 119] are never read or rewritten
    assert(rep.getAs[Long]("files_rewritten") <
      rep.getAs[Long]("files_rewritten") +
        rep.getAs[Long]("files_untouched"),
      s"merge must not rewrite the whole table: $rep")
    assert(rep.getAs[Long]("files_untouched") >= 2,
      s"files below key 80 must stay untouched: $rep")
    val out = sql(s"SELECT id, v, note FROM $cat.core.m ORDER BY id")
      .collect()
    // 80..94 matched+deleted; 95..99 matched+updated; 100..109
    // inserted; 110..119 matched no insert clause -> dropped
    assert(out.map(_.getLong(0)).toSeq ==
      ((0L until 80L) ++ (95L until 110L)))
    assert(out.filter(r => r.getLong(0) >= 95 && r.getLong(0) < 100)
      .forall(r => r.getString(2) == "upd" &&
        r.getLong(1) == r.getLong(0) * 1000))
    assert(out.filter(_.getLong(0) >= 100)
      .forall(r => r.getString(2) == "new"))
    assert(out.filter(_.getLong(0) < 80).forall(_.getString(2) == "base"))
    // cardinality violation refuses loudly
    spark.range(2).selectExpr("50 AS sid", "id AS sv")
      .createOrReplaceTempView("merge_dup")
    val e = intercept[Exception] {
      sql(s"""MERGE INTO $cat.core.m t USING merge_dup s ON t.id = s.sid
        WHEN MATCHED THEN UPDATE SET v = s.sv""")
    }
    assert(e.getMessage.contains("multiple source rows") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple source rows")))
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE and update-star shapes") {
    sql(s"CREATE TABLE $cat.core.m2 (id BIGINT, v BIGINT)")
    sql(s"INSERT INTO $cat.core.m2 SELECT id, id FROM range(20)")
    spark.range(10, 15).selectExpr("id", "id * 100 AS v")
      .createOrReplaceTempView("m2_src")
    sql(s"""MERGE INTO $cat.core.m2 t USING m2_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE AND t.id < 5 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1""")
    val rows = sql(s"SELECT id, v FROM $cat.core.m2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == ((5L until 10L).map(i => (i, -1L)) ++
      (10L until 15L).map(i => (i, i * 100)) ++
      (15L until 20L).map(i => (i, -1L))))
  }

  test("UPDATE SET with arbitrary predicates and expressions") {
    sql(s"CREATE TABLE $cat.core.u (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '4')")
    sql(s"INSERT INTO $cat.core.u SELECT id, id FROM range(100)")
    val urep = sql(
      s"UPDATE $cat.core.u SET v = v * 2 + id WHERE id % 7 = 0").head()
    assert(urep.getAs[Long]("files_rewritten") == 4,
      "the % predicate has no range conjunct — every file is a candidate")
    val rows = sql(s"SELECT id, v FROM $cat.core.u ORDER BY id").collect()
    rows.foreach { r =>
      val (i, v) = (r.getLong(0), r.getLong(1))
      assert(v == (if (i % 7 == 0) i * 3 else i), s"row $i -> $v")
    }
    // unconditional UPDATE touches every row
    sql(s"UPDATE $cat.core.u SET v = 0")
    assert(sql(s"SELECT sum(v) AS s FROM $cat.core.u").head().getLong(0)
      == 0L)
  }

  test("OPTIMIZE / VACUUM / DESCRIBE HISTORY|DETAIL as SQL statements") {
    sql(s"CREATE TABLE $cat.core.opt (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '8')")
    sql(s"INSERT INTO $cat.core.opt SELECT id, id FROM range(400)")
    sql(s"INSERT INTO $cat.core.opt SELECT id + 400, id FROM range(400)")
    val before = sql(s"DESCRIBE DETAIL $cat.core.opt").head()
    val nBefore = before.getAs[Long]("num_files")
    assert(nBefore >= 8, s"two multi-file appends expected, got $nBefore")
    // bin-pack everything (all files are tiny)
    val rep = sql(s"OPTIMIZE $cat.core.opt").head()
    assert(rep.getAs[String]("operation") == "compact")
    assert(rep.getAs[Long]("files_rewritten") == nBefore)
    val after = sql(s"DESCRIBE DETAIL $cat.core.opt").head()
    assert(after.getAs[Long]("num_files") < nBefore)
    assert(after.getAs[Long]("num_rows") == 800)
    // z-order rewrite records the layout
    sql(s"OPTIMIZE $cat.core.opt ZORDER BY (id, v)")
    assert(sql(s"DESCRIBE DETAIL $cat.core.opt").head()
      .getAs[String]("cluster_by") == "z:id,v")
    // history shows every SQL-driven commit with op tags
    val ops = sql(s"DESCRIBE HISTORY $cat.core.opt").collect()
      .map(_.getAs[String]("op")).toSeq
    assert(ops == Seq("create", "append", "append", "compact", "recluster"))
    // vacuum with zero retention reclaims the rewritten files
    val vac = sql(s"VACUUM $cat.core.opt RETAIN 0 HOURS").head()
    assert(vac.getAs[Long]("files_deleted") >= nBefore,
      s"expected the pre-compaction files reclaimed, got $vac")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.opt").head()
      .getLong(0) == 800, "vacuum must never touch live data")
    // the path-target form works without a catalog
    val root = s"$warehouse/core/opt"
    assert(sql(s"DESCRIBE HISTORY '$root'").count() >= 5)
    // WHERE selects files by range and refuses non-range predicates
    sql(s"OPTIMIZE $cat.core.opt WHERE id >= 0 AND id <= 100")
    intercept[Exception] { sql(s"OPTIMIZE $cat.core.opt WHERE id % 2 = 0") }
    // ordinary SQL still parses through the delegating parser
    assert(sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // DESCRIBE-visible table properties carry the snapshot's real
    // metadata (SHOW TBLPROPERTIES reads the same map)
    // (provider/location are Spark-reserved and filtered from SHOW)
    val props = sql(s"SHOW TBLPROPERTIES $cat.core.opt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("clusterBy") == "z:id,v")
    assert(props("numFiles").toInt >= 1)
    assert(props("version").toLong >= 5L)
  }

  test("VACUUM DRY RUN reports without deleting; RESTORE TIMESTAMP " +
      "AS OF resolves commit time to a version") {
    sql(s"CREATE TABLE $cat.core.dr (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '4')")
    val root = s"$warehouse/core/dr"
    sql(s"INSERT INTO $cat.core.dr SELECT id, id FROM range(100)")
    Thread.sleep(15) // commit times are millis; separate them
    val ts1 = System.currentTimeMillis()
    Thread.sleep(15)
    sql(s"INSERT INTO $cat.core.dr SELECT id + 100, id FROM range(100)")

    // millis form: back to the state at ts1 (after the first insert)
    sql(s"RESTORE TABLE $cat.core.dr TO TIMESTAMP AS OF $ts1")
    assert(sql(s"SELECT count(*) c FROM $cat.core.dr").head().getLong(0)
      == 100)
    // quoted UTC string form
    sql(s"INSERT INTO $cat.core.dr SELECT id + 200, id FROM range(50)")
    val iso = java.time.Instant.ofEpochMilli(ts1)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    sql(s"RESTORE TABLE $cat.core.dr TO TIMESTAMP AS OF '$iso'")
    assert(sql(s"SELECT count(*) c FROM $cat.core.dr").head().getLong(0)
      == 100)
    // a timestamp before the first commit refuses loudly
    intercept[Exception] {
      sql(s"RESTORE TABLE $cat.core.dr TO TIMESTAMP AS OF '1990-01-01'")
    }

    // DRY RUN: same candidate accounting, zero deletions
    sql(s"OPTIMIZE $cat.core.dr") // rewrite → unreferenced old files
    val dry = sql(s"VACUUM $cat.core.dr RETAIN 0 HOURS DRY RUN").head()
    assert(dry.getAs[Long]("files_deleted") > 0)
    // nothing was deleted: historical versions still read
    assert(LakeTable.scanAsOf(spark, root, Some(1L)).count() == 100,
      "DRY RUN must not reclaim anything")
    val real = sql(s"VACUUM $cat.core.dr RETAIN 0 HOURS").head()
    assert(real.getAs[Long]("files_deleted") ==
      dry.getAs[Long]("files_deleted"),
      "the dry-run report must match what the real run reclaims")
    assert(real.getAs[Long]("bytes_deleted") ==
      dry.getAs[Long]("bytes_deleted"),
      "dry-run byte accounting must match the real run (incl. the " +
        "write markers reaped with emptied staging dirs)")
    assert(sql(s"SELECT count(*) c FROM $cat.core.dr").head().getLong(0)
      == 100, "vacuum never touches live data")
    // emptied staging dirs are reaped WITH their _SUCCESS markers —
    // a marker alone must not pin a dir forever after its last data
    // file was vacuumed; dirs holding live files stay
    val liveDirs = LakeTable.snapshot(spark, root).files
      .map(_.path.split('/')(1)).toSet
    val leftDirs = new java.io.File(s"$root/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(leftDirs == liveDirs,
      s"emptied staging dirs must be reaped: left $leftDirs, live " +
        s"$liveDirs")
    // the vacuum broke history (it reclaimed files old versions
    // reference), so DESCRIBE DETAIL surfaces how far back time
    // travel still reaches
    assert(sql(s"DESCRIBE DETAIL $cat.core.dr").head()
      .getAs[Long]("time_travel_floor") > 0L,
      "DESCRIBE DETAIL must surface the recorded vacuum floor")
  }

  test("INSERT INTO ... REPLACE WHERE swaps a key range in one commit") {
    sql(s"CREATE TABLE $cat.core.rw (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '4')")
    sql(s"INSERT INTO $cat.core.rw SELECT id, id FROM range(100)")
    val v1 = LakeTable.latestVersion(spark, s"$warehouse/core/rw").get
    sql(s"INSERT INTO $cat.core.rw REPLACE WHERE id >= 20 AND id <= 39 " +
      "SELECT id + 20, id * 100 FROM range(10)")
    // ONE commit: 20..39 gone, 20..29 re-inserted with new values
    assert(LakeTable.latestVersion(spark, s"$warehouse/core/rw").get
      == v1 + 1, "REPLACE WHERE must be one atomic commit")
    val rows = sql(s"SELECT id, v FROM $cat.core.rw ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == ((0L until 20L).map(i => (i, i)) ++
      (0L until 10L).map(i => (i + 20L, i * 100)) ++
      (40L until 100L).map(i => (i, i))))
    // a batch leaking outside the replaced range refuses loudly
    intercept[Exception] {
      sql(s"INSERT INTO $cat.core.rw REPLACE WHERE id <= 5 " +
        "SELECT id + 500, id FROM range(3)")
    }
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.rw").head()
      .getLong(0) == 90, "refused REPLACE WHERE must change nothing")
  }

  test("insert-only MERGE with a multi-matching source never duplicates rows") {
    sql(s"CREATE TABLE $cat.core.mi (id BIGINT, v BIGINT)")
    sql(s"INSERT INTO $cat.core.mi SELECT id, id FROM range(10)")
    // three source rows share key 5 (matching one target row) and
    // three share the unmatched key 100; with no matched action the
    // target row passes through EXACTLY once, and the cardinality
    // rule does not apply (nothing is updated twice)
    spark.range(3).selectExpr("5 AS sid", "id AS sv")
      .unionAll(spark.range(3).selectExpr("100 AS sid", "id AS sv"))
      .createOrReplaceTempView("mi_src")
    sql(s"""MERGE INTO $cat.core.mi t USING mi_src s ON t.id = s.sid
      WHEN NOT MATCHED AND s.sv = 0 THEN INSERT (id, v) VALUES (s.sid, s.sv)""")
    val rows = sql(s"SELECT id FROM $cat.core.mi").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(rows == ((0L until 10L) :+ 100L),
      s"matched rows must appear exactly once, got $rows")
    // with matched clauses present, >1 source matches per target row
    // is the SQL cardinality violation even if only one clause fires
    intercept[Exception] {
      sql(s"""MERGE INTO $cat.core.mi t USING mi_src s ON t.id = s.sid
        WHEN MATCHED AND s.sv = 0 THEN UPDATE SET v = 777""")
    }
    // SQL MERGE also composes with column mapping: rename, then merge
    // on the renamed key with a deduplicated source
    sql(s"ALTER TABLE $cat.core.mi RENAME COLUMN v TO val")
    spark.range(1).selectExpr("5 AS sid", "777 AS sv")
      .createOrReplaceTempView("mi_src1")
    sql(s"""MERGE INTO $cat.core.mi t USING mi_src1 s ON t.id = s.sid
      WHEN MATCHED THEN UPDATE SET val = s.sv""")
    assert(sql(s"SELECT val FROM $cat.core.mi WHERE id = 5")
      .head().getLong(0) == 777)
  }

  test("readStream.table tails the lake by identifier") {
    sql(s"CREATE TABLE $cat.core.st (id BIGINT, v BIGINT)")
    sql(s"INSERT INTO $cat.core.st SELECT id, id FROM range(30)")
    val q = spark.readStream.table(s"$cat.core.st")
      .writeStream.outputMode("append").format("memory")
      .queryName("cat_tail").start()
    try {
      q.processAllAvailable()
      // commits landing WHILE the stream runs arrive as later batches
      sql(s"INSERT INTO $cat.core.st SELECT id + 30, id FROM range(20)")
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(spark.table("cat_tail")) == (0L until 50L))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT gates SQL writes") {
    sql(s"CREATE TABLE $cat.core.ck (id BIGINT, v BIGINT)")
    sql(s"INSERT INTO $cat.core.ck SELECT id, id FROM range(10)")
    sql(s"ALTER TABLE $cat.core.ck ADD CONSTRAINT nonneg CHECK (v >= 0)")
    // an insert violating the CHECK refuses and changes nothing
    intercept[Exception] {
      sql(s"INSERT INTO $cat.core.ck SELECT id + 10, -1 FROM range(3)")
    }
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.ck").head()
      .getLong(0) == 10)
    // a constraint existing rows violate refuses to be added
    intercept[Exception] {
      sql(s"ALTER TABLE $cat.core.ck ADD CONSTRAINT big CHECK (v >= 5)")
    }
    // DROP CONSTRAINT lifts the gate
    sql(s"ALTER TABLE $cat.core.ck DROP CONSTRAINT nonneg")
    sql(s"INSERT INTO $cat.core.ck SELECT id + 10, -1 FROM range(3)")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.ck").head()
      .getLong(0) == 13)
  }

  test("RESTORE TABLE and CREATE TABLE ... SHALLOW CLONE as SQL statements") {
    sql(s"CREATE TABLE $cat.core.rs (id BIGINT, v BIGINT)")          // v0
    sql(s"INSERT INTO $cat.core.rs SELECT id, id FROM range(20)")    // v1
    sql(s"DELETE FROM $cat.core.rs WHERE id >= 10")                  // v2
    // identifier-target clone pinned at the PRE-delete version
    sql(s"CREATE TABLE $cat.core.rs_branch SHALLOW CLONE $cat.core.rs " +
      "VERSION AS OF 1")
    assert(ids(sql(s"SELECT * FROM $cat.core.rs_branch")) == (0L until 20L))
    // edits to the branch never touch the source
    sql(s"DELETE FROM $cat.core.rs_branch WHERE id < 5")
    assert(ids(sql(s"SELECT * FROM $cat.core.rs_branch")) == (5L until 20L))
    assert(ids(sql(s"SELECT * FROM $cat.core.rs")) == (0L until 10L))
    // roll the source back; RESTORE is a NEW commit, so the deleted
    // state stays time-travelable
    sql(s"RESTORE TABLE $cat.core.rs TO VERSION AS OF 1")
    assert(ids(sql(s"SELECT * FROM $cat.core.rs")) == (0L until 20L))
    assert(ids(sql(s"SELECT * FROM $cat.core.rs VERSION AS OF 2")) ==
      (0L until 10L))
    val ops = sql(s"DESCRIBE HISTORY $cat.core.rs").collect()
      .map(_.getAs[String]("op")).toSeq
    assert(ops == Seq("create", "append", "delete", "restore"))
    // cloning onto an existing table refuses; restoring to a
    // not-earlier version refuses
    intercept[Exception] {
      sql(s"CREATE TABLE $cat.core.rs_branch SHALLOW CLONE $cat.core.rs")
    }
    intercept[Exception] {
      sql(s"RESTORE TABLE $cat.core.rs TO VERSION AS OF 99")
    }
    // TIMESTAMP AS OF clones resolve against the SOURCE's commit
    // times — the same grammar as RESTORE (epoch millis here; the
    // quoted UTC form shares utcMillis with the RESTORE pin above)
    val rootP = new org.apache.hadoop.fs.Path(s"$warehouse/core/rs")
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)
    val ts1c = LakeLog.readCommit(f, rootP, 1L)
      .collectFirst { case m: LakeLog.Meta => m.ts }.get
    sql(s"CREATE TABLE $cat.core.rs_ts SHALLOW CLONE $cat.core.rs " +
      s"TIMESTAMP AS OF $ts1c")
    assert(ids(sql(s"SELECT * FROM $cat.core.rs_ts")) == (0L until 20L),
      "a timestamp clone must pin the source state at that wall clock")
  }

  test("ALTER COLUMN TYPE widens losslessly as a metadata-only commit") {
    sql(s"CREATE TABLE $cat.core.wd (id INT, v INT) " +
      "TBLPROPERTIES (clusterBy = 'id')")
    sql(s"INSERT INTO $cat.core.wd SELECT CAST(id AS INT), CAST(id AS INT) " +
      "FROM range(10)")
    val v1 = LakeTable.latestVersion(spark, s"$warehouse/core/wd").get
    sql(s"ALTER TABLE $cat.core.wd ALTER COLUMN v TYPE BIGINT")
    assert(LakeTable.latestVersion(spark, s"$warehouse/core/wd").get
      == v1 + 1, "widening must be ONE metadata commit, no rewrite")
    // old int32 files read exactly through the widened schema, and the
    // widened column now accepts values beyond the old type's range
    sql(s"INSERT INTO $cat.core.wd SELECT CAST(id + 10 AS INT), " +
      "id + 3000000000 FROM range(3)")
    val rows = sql(s"SELECT id, v FROM $cat.core.wd ORDER BY id").collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 13))
    assert(rows.map(_.getLong(1)).toSeq ==
      ((0L until 10L) ++ (0L until 3L).map(_ + 3000000000L)))
    // cross-family and narrowing changes stay rewrites (refused)
    intercept[Exception] {
      sql(s"ALTER TABLE $cat.core.wd ALTER COLUMN id TYPE DOUBLE")
    }
    intercept[Exception] {
      sql(s"ALTER TABLE $cat.core.wd ALTER COLUMN v TYPE INT")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns") {
    sql(s"CREATE TABLE $cat.core.me (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '2')")
    sql(s"INSERT INTO $cat.core.me SELECT id, id FROM range(20)")
    spark.range(10, 30)
      .selectExpr("id", "id * 10 AS v", "concat('t_', id) AS tag")
      .createOrReplaceTempView("me_src")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.me t
      USING me_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
    val rows = sql(s"SELECT id, v, tag FROM $cat.core.me ORDER BY id")
      .collect()
    assert(rows.length == 30)
    // pre-evolution rows untouched by the merge read NULL for the new
    // column (their files predate it); matched + inserted rows carry it
    assert(rows.take(10).forall(r => r.getLong(1) == r.getLong(0) &&
      r.isNullAt(2)), "pre-evolution unmatched rows must null-backfill")
    assert(rows.drop(10).forall(r => r.getLong(1) == r.getLong(0) * 10 &&
      r.getString(2) == s"t_${r.getLong(0)}"))
    // WITHOUT the evolution clause, a source-only column still refuses
    intercept[Exception] {
      sql(s"""MERGE INTO $cat.core.me t USING me_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET nope = s.tag""")
    }
  }

  test("evolving MERGE resolves new columns BY SOURCE NAME — a " +
      "renamed source column lands via a USING-clause alias") {
    // the stock ResolveMergeIntoSchemaEvolution rule (the contract
    // AUTOMATIC_SCHEMA_EVOLUTION buys) matches source-only columns by
    // NAME: a producer who renamed `tag` to `label` UPSTREAM would
    // otherwise evolve the table with the NEW name. The supported
    // spelling when the TABLE's name must win is an alias inside
    // USING — documented here as the worked example (SURVEY §8).
    // (The inverse direction — the TABLE renamed, the source still on
    // the old name — is handled automatically: see the next test.)
    sql(s"CREATE TABLE $cat.core.ma (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '2')")
    sql(s"INSERT INTO $cat.core.ma SELECT id, id FROM range(10)")
    spark.range(5, 15)
      .selectExpr("id", "id * 10 AS v", "concat('t_', id) AS label")
      .createOrReplaceTempView("ma_src_renamed")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.ma t
      USING (SELECT id, v, label AS tag FROM ma_src_renamed) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
    val cols = sql(s"SELECT * FROM $cat.core.ma").columns.toSeq
    assert(cols == Seq("id", "v", "tag"),
      s"the alias must pin the evolved column's name, got $cols")
    val rows = sql(s"SELECT id, v, tag FROM $cat.core.ma ORDER BY id")
      .collect()
    assert(rows.length == 15)
    assert(rows.drop(5).forall(r => r.getString(2) == s"t_${r.getLong(0)}"))
  }

  test("column mapping wins in evolving MERGE: the TABLE's old name " +
      "resolves to the renamed column instead of forking a new one") {
    // RENAME COLUMN tag -> label leaves the files (and often the
    // producers) on the physical name `tag`. An evolving MERGE whose
    // assignment keys still say `tag` used to fork a brand-new `tag`
    // column — the stock evolution rule matches by logical name only.
    // The parse-time remap (LakeMergeNameMapping) resolves assignment
    // KEYS through the column mapping, so the merge lands in `label`
    // and the table keeps its three columns.
    sql(s"CREATE TABLE $cat.core.mw (id BIGINT, v BIGINT, tag STRING) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '2')")
    sql(s"INSERT INTO $cat.core.mw SELECT id, id, concat('o_', id) " +
      "FROM range(10)")
    sql(s"ALTER TABLE $cat.core.mw RENAME COLUMN tag TO label")
    spark.range(5, 15)
      .selectExpr("id", "id * 10 AS v", "concat('n_', id) AS tag")
      .createOrReplaceTempView("mw_src")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.mw t
      USING mw_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""")
    val cols = sql(s"SELECT * FROM $cat.core.mw").columns.toSeq
    assert(cols == Seq("id", "v", "label"),
      s"the mapping must win — no forked column, got $cols")
    val rows = sql(s"SELECT id, v, label FROM $cat.core.mw ORDER BY id")
      .collect()
    assert(rows.length == 15)
    assert(rows.take(5).forall(r => r.getString(2) == s"o_${r.getLong(0)}"),
      "unmatched rows keep their pre-merge values")
    assert(rows.drop(5).forall(r => r.getLong(1) == r.getLong(0) * 10 &&
      r.getString(2) == s"n_${r.getLong(0)}"),
      "matched + inserted rows land in the RENAMED column")

    // the alias-qualified spelling (t.tag) remaps too
    spark.range(5, 7)
      .selectExpr("id", "id * 10 AS v", "concat('q_', id) AS tag")
      .createOrReplaceTempView("mw_src2")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.mw t
      USING mw_src2 s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.tag = s.tag""")
    assert(sql(s"SELECT * FROM $cat.core.mw").columns.toSeq ==
      Seq("id", "v", "label"))
    assert(sql(s"SELECT count(*) c FROM $cat.core.mw WHERE " +
      "label LIKE 'q_%'").head().getLong(0) == 2)

    // a GENUINELY new source column still evolves (the remap must not
    // swallow real evolution), and a column whose name never collided
    // with a physical name is untouched
    spark.range(17, 19)
      .selectExpr("id", "id * 10 AS v", "concat('r_', id) AS tag",
        "id * 2 AS score")
      .createOrReplaceTempView("mw_src3")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.mw t
      USING mw_src3 s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v, tag, score)
      VALUES (s.id, s.v, s.tag, s.score)""")
    assert(sql(s"SELECT * FROM $cat.core.mw").columns.toSeq ==
      Seq("id", "v", "label", "score"),
      "a real new column must still evolve")
    assert(sql(s"SELECT count(*) c FROM $cat.core.mw WHERE score IS " +
      "NOT NULL").head().getLong(0) == 2)

    // plain MERGE (no evolution clause) keeps its loud-failure
    // contract for unknown assignment targets — the remap is scoped
    // to WITH SCHEMA EVOLUTION where the failure mode was SILENT
    intercept[Exception] {
      sql(s"""MERGE INTO $cat.core.mw t USING mw_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET tag = s.tag""")
    }

    // the remap matches like the ANALYZER does — case-insensitively
    // under the default resolver: `SET TAG = …` (and an alias
    // qualifier typed in another case) still lands in the renamed
    // column instead of forking a cased twin
    spark.range(30, 32)
      .selectExpr("id", "id * 10 AS v", "concat('c_', id) AS tag",
        "id * 2 AS score")
      .createOrReplaceTempView("mw_src4")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.mw t
      USING mw_src4 s ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, v, TAG, score)
      VALUES (s.id, s.v, s.tag, s.score)""")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.core.mw t
      USING mw_src4 s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET T.Tag = concat(s.tag, '!')""")
    assert(sql(s"SELECT * FROM $cat.core.mw").columns.toSeq ==
      Seq("id", "v", "label", "score"),
      "differently-cased old names must remap, not fork")
    assert(sql(s"SELECT count(*) c FROM $cat.core.mw WHERE " +
      "label LIKE 'c_%!'").head().getLong(0) == 2)
  }

  test("table_changes TVF: the SQL change feed matches the API, " +
      "composes in queries, resolves timestamps, refuses sub-floor") {
    // a SQL-only user reads the CDF with no API call — Delta's
    // inclusive-bounds spelling, routed to LakeTable.scanChanges
    sql(s"CREATE TABLE $cat.core.tc (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '2')")          // v0
    sql(s"INSERT INTO $cat.core.tc SELECT id, id FROM range(10)") // v1
    Thread.sleep(15)
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(15)
    sql(s"INSERT INTO $cat.core.tc SELECT id + 10, id FROM range(5)") // v2
    sql(s"DELETE FROM $cat.core.tc WHERE id < 3")                 // v3
    val viaSql = sql(
      s"SELECT * FROM table_changes('$cat.core.tc', 2, 3) " +
        "ORDER BY _commit_version, _change_type, id")
    val root = s"$warehouse/core/tc"
    val viaApi = LakeTable.scanChanges(spark, root, 1L, 3L)
      .orderBy("_commit_version", "_change_type", "id")
    assert(viaSql.collect().toSeq == viaApi.collect().toSeq,
      "SQL TVF must reproduce the API change frames exactly")
    // inclusive bounds: start 0 includes nothing but the (empty)
    // create; start 1 includes the first insert commit
    assert(sql(s"SELECT count(*) c FROM table_changes('$cat.core.tc'," +
      " 1, 1)").head().getLong(0) == 10)
    // end defaults to the latest commit; the TVF composes with
    // ordinary SQL (filters, aggregates) like any relation
    assert(sql("SELECT count(*) c FROM " +
      s"table_changes('$cat.core.tc', 1) WHERE _change_type = 'delete'")
      .head().getLong(0) == 3)
    // timestamp bounds resolve like the stream/batch options: start =
    // first commit at or after, end = last commit at or before
    assert(sql(s"SELECT count(*) c FROM table_changes('$cat.core.tc', " +
      s"'$betweenTs')").head().getLong(0) == 8,
      "ts between v1 and v2 must cover v2's 5 inserts + v3's 3 deletes")
    // path form works; wrong names refuse loudly
    assert(sql(s"SELECT count(*) c FROM table_changes('$root', 2, 2)")
      .head().getLong(0) == 5)
    val missing = intercept[Exception] {
      sql(s"SELECT * FROM table_changes('$cat.core.nosuch', 1)").collect()
    }
    assert(missing.getMessage.contains("nosuch"), missing.getMessage)
    // a range dipping below the vacuum floor refuses AT RESOLUTION
    // with the same horizon message as the API path
    LakeTable.vacuum(spark, root, keepFromVersion = 3L, retentionMs = 0L)
    val ex = intercept[Exception] {
      sql(s"SELECT * FROM table_changes('$cat.core.tc', 1, 3)").collect()
    }
    assert(ex.getMessage.contains("vacuum floor"), ex.getMessage)
    // post-floor ranges still resolve
    sql(s"INSERT INTO $cat.core.tc SELECT id + 20, id FROM range(2)") // v4
    assert(sql(s"SELECT count(*) c FROM table_changes('$cat.core.tc', " +
      "4, 4)").head().getLong(0) == 2)
    // an INVERTED range refuses instead of silently mapping onto a
    // legal empty exclusive range (almost certainly a typo)
    val inv = intercept[Exception] {
      sql(s"SELECT * FROM table_changes('$cat.core.tc', 4, 2)").collect()
    }
    assert(inv.getMessage.contains("after end version"), inv.getMessage)
  }

  test("table_changes composes with column mapping and clones") {
    // the CDF speaks toVersion's LOGICAL names: after a RENAME, the
    // TVF's schema carries the new name even for pre-rename commits
    sql(s"CREATE TABLE $cat.core.tr (id BIGINT, tag STRING) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '1')")
    sql(s"INSERT INTO $cat.core.tr SELECT id, concat('t', id) " +
      "FROM range(5)")
    sql(s"ALTER TABLE $cat.core.tr RENAME COLUMN tag TO label")
    sql(s"INSERT INTO $cat.core.tr SELECT id + 5, concat('u', id) " +
      "FROM range(3)")
    val cols = sql(s"SELECT * FROM table_changes('$cat.core.tr', 1, 3)")
      .columns.toSeq
    assert(cols.contains("label") && !cols.contains("tag"),
      s"CDF must speak toVersion's LOGICAL names, got $cols")
    assert(sql(s"SELECT count(*) c FROM table_changes('$cat.core.tr', " +
      "1) WHERE label LIKE 't%'").head().getLong(0) == 5)
    // a shallow clone's own history reads through the TVF (v0 is the
    // adoption commit; the clone-local append is v1)
    sql(s"CREATE TABLE $cat.core.trc SHALLOW CLONE $cat.core.tr")
    sql(s"INSERT INTO $cat.core.trc SELECT id + 100, concat('c', id) " +
      "FROM range(2)")
    assert(sql(s"SELECT count(*) c FROM " +
      s"table_changes('$cat.core.trc', 1, 1)").head().getLong(0) == 2)
  }

  test("inline CHECK at CREATE TABLE time persists and gates writes") {
    // the TableCatalog interface DEFAULT for createTable(ident, info)
    // drops TableInfo.constraints() on the floor — the override must
    // persist the gate, or the statement would succeed while silently
    // losing it
    sql(s"CREATE TABLE $cat.core.ck2 (id BIGINT, v BIGINT, " +
      "CONSTRAINT nonneg CHECK (v >= 0))")
    intercept[Exception] {
      sql(s"INSERT INTO $cat.core.ck2 SELECT id, -1 FROM range(3)")
    }
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.ck2").head()
      .getLong(0) == 0, "violating insert must change nothing")
    sql(s"INSERT INTO $cat.core.ck2 SELECT id, id FROM range(3)")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.ck2").head()
      .getLong(0) == 3)
    // and the constraint is visible on the reloaded table
    sql(s"ALTER TABLE $cat.core.ck2 DROP CONSTRAINT nonneg")
    sql(s"INSERT INTO $cat.core.ck2 SELECT id, -1 FROM range(1)")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.ck2").head()
      .getLong(0) == 4)
  }

  test("DELETE at the Long domain edge never wraps to match-all") {
    sql(s"CREATE TABLE $cat.core.edge (id BIGINT, v BIGINT)")
    sql(s"INSERT INTO $cat.core.edge SELECT id, id FROM range(10)")
    // "> Long.MaxValue" is satisfiable by NO row; the naive inclusive
    // translation computes MaxValue+1 = MinValue and would delete ALL
    sql(s"DELETE FROM $cat.core.edge WHERE id > 9223372036854775807")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.edge").head()
      .getLong(0) == 10, "> Long.MaxValue must delete nothing")
    sql(s"DELETE FROM $cat.core.edge WHERE id < -9223372036854775808")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.edge").head()
      .getLong(0) == 10, "< Long.MinValue must delete nothing")
    // a legitimate edge-adjacent range still works
    sql(s"DELETE FROM $cat.core.edge WHERE id > 7")
    assert(ids(sql(s"SELECT * FROM $cat.core.edge")) == (0L until 8L))
    // OPTIMIZE WHERE refuses the wrapping literal instead of selecting
    // every file
    intercept[Exception] {
      sql(s"OPTIMIZE $cat.core.edge WHERE id > 9223372036854775807")
    }
  }

  test("REPLACE TABLE / CREATE OR REPLACE ... AS SELECT is one commit") {
    sql(s"CREATE TABLE $cat.core.rp (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id')")                           // v0
    sql(s"INSERT INTO $cat.core.rp SELECT id, id FROM range(50)")   // v1
    sql(s"ALTER TABLE $cat.core.rp ADD CONSTRAINT pos CHECK (v >= 0)") // v2
    val root = s"$warehouse/core/rp"
    // RTAS with a DIFFERENT schema in one atomic commit
    sql(s"REPLACE TABLE $cat.core.rp " +
      "TBLPROPERTIES (clusterBy = 'k', nFiles = '2') " +
      "AS SELECT id AS k, concat('n_', id) AS label FROM range(1000)")
    val rows = sql(s"SELECT k, label FROM $cat.core.rp ORDER BY k").collect()
    assert(rows.length == 1000 && rows.head.getString(1) == "n_0")
    // ONE commit: v3 is the replace, nothing in between
    val ops = sql(s"DESCRIBE HISTORY $cat.core.rp").collect()
      .map(_.getAs[String]("op")).toSeq
    assert(ops == Seq("create", "append", "add constraint", "replace"),
      s"got $ops")
    // the replace is AUTHORITATIVE: the old CHECK is gone, the new
    // cluster spec recorded, staged files range-clustered + disjoint
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.constraints.isEmpty, "REPLACE must reset constraints")
    assert(snap.clusterBy.contains("k"))
    assert(snap.files.size == 2)
    val ranges = snap.files.map(a => (a.stats.min("k").asInstanceOf[Long],
      a.stats.max("k").asInstanceOf[Long])).sortBy(_._1)
    assert(ranges.head._2 < ranges.last._1,
      s"staged clustered files must carry disjoint ranges: $ranges")
    // pre-replace versions stay travelable with their own schema
    assert(ids(sql(s"SELECT * FROM $cat.core.rp VERSION AS OF 1")) ==
      (0L until 50L))
    // CREATE OR REPLACE works on both existing and fresh identifiers
    sql(s"CREATE OR REPLACE TABLE $cat.core.rp AS " +
      "SELECT id AS k, 'x' AS label FROM range(10)")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.rp").head()
      .getLong(0) == 10)
    sql(s"CREATE OR REPLACE TABLE $cat.core.rp_new AS " +
      "SELECT id FROM range(7)")
    assert(ids(sql(s"SELECT * FROM $cat.core.rp_new")) == (0L until 7L))
    // REPLACE of a missing table refuses; CTAS of an existing refuses
    intercept[Exception] {
      sql(s"REPLACE TABLE $cat.core.nope AS SELECT id FROM range(3)")
    }
    intercept[Exception] {
      sql(s"CREATE TABLE $cat.core.rp_new AS SELECT id FROM range(3)")
    }
    // an inline CHECK never reaches staged rows: Spark's parser
    // refuses a column list on CREATE OR REPLACE ... AS SELECT, with a
    // violated and a satisfied CHECK alike; without the query the
    // statement stages the constraint on an empty table
    Seq("v >= 0", "v >= -100").foreach { chk =>
      val e = intercept[
        org.apache.spark.sql.catalyst.parser.ParseException] {
        sql(s"CREATE OR REPLACE TABLE $cat.core.rp_gate " +
          s"(id BIGINT, v BIGINT, CONSTRAINT nn CHECK ($chk)) " +
          "AS SELECT id, -id AS v FROM range(5)")
      }
      assert(e.getMessage.contains("Schema may not be specified"),
        e.getMessage)
    }
    sql(s"CREATE OR REPLACE TABLE $cat.core.rp_gate " +
      "(id BIGINT, v BIGINT, CONSTRAINT nn CHECK (v >= 0))")
    assert(LakeTable.snapshot(spark, s"$warehouse/core/rp_gate")
      .constraints.keySet == Set("nn"))
    intercept[Exception] {
      sql(s"INSERT INTO $cat.core.rp_gate VALUES (1, -1)")
    }
  }

  test("DataFrameWriterV2: writeTo(...).create/append/replace") {
    warehouse
    import spark.implicits._
    // create() is the atomic staged CTAS
    (0L until 20L).map(i => (i, i * 2)).toDF("id", "v")
      .writeTo(s"$cat.core.w2")
      .tableProperty("clusterBy", "id").tableProperty("nFiles", "2")
      .create()
    assert(ids(sql(s"SELECT * FROM $cat.core.w2")) == (0L until 20L))
    assert(LakeTable.snapshot(spark, s"$warehouse/core/w2")
      .clusterBy.contains("id"))
    // append() rides the transactional append
    (20L until 30L).map(i => (i, i * 2)).toDF("id", "v")
      .writeTo(s"$cat.core.w2").append()
    assert(ids(sql(s"SELECT * FROM $cat.core.w2")) == (0L until 30L))
    // replace() is the atomic staged swap — new schema, one commit
    (0L until 5L).map(i => (i, s"r_$i")).toDF("id", "tag")
      .writeTo(s"$cat.core.w2").replace()
    val out = sql(s"SELECT id, tag FROM $cat.core.w2 ORDER BY id").collect()
    assert(out.length == 5 && out.head.getString(1) == "r_0")
    val ops = sql(s"DESCRIBE HISTORY $cat.core.w2").collect()
      .map(_.getAs[String]("op")).toSeq
    assert(ops == Seq("create", "append", "replace"), s"got $ops")
    // createOrReplace() covers both branches
    (0L until 3L).map(i => (i, i)).toDF("id", "v")
      .writeTo(s"$cat.core.w2").createOrReplace()
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.w2").head()
      .getLong(0) == 3)
  }

  test("SET TBLPROPERTIES re-keys future writes; TRUNCATE TABLE empties") {
    sql(s"CREATE TABLE $cat.core.sp (id BIGINT, grp BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id', nFiles = '4')")
    sql(s"INSERT INTO $cat.core.sp SELECT id, id % 10 FROM range(400)")
    val root = s"$warehouse/core/sp"
    // re-key future writes onto grp as ONE metadata commit
    val v = LakeTable.latestVersion(spark, root).get
    sql(s"ALTER TABLE $cat.core.sp SET TBLPROPERTIES " +
      "(clusterBy = 'grp', statsCols = 'grp')")
    // two knobs = two metadata commits, no files touched
    assert(LakeTable.latestVersion(spark, root).get == v + 2)
    val snap0 = LakeTable.snapshot(spark, root)
    assert(snap0.clusterBy.contains("grp") && snap0.statsCols == Seq("grp"))
    // the next append clusters + measures stats by the NEW keys
    sql(s"INSERT INTO $cat.core.sp SELECT id + 400, id % 10 + 100 " +
      "FROM range(400)")
    val newest = LakeTable.snapshot(spark, root).files
      .filter(_.stats.min.contains("grp"))
      .filter(_.stats.min("grp").asInstanceOf[Long] >= 100L)
    assert(newest.nonEmpty, "post-SET files must carry grp stats")
    // and a grp-range read prunes within the re-keyed region
    val (_, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("grp", Some(100L), Some(101L))))
    assert(rep.filesSkipped > 0, s"grp stats must prune: $rep")
    // unknown properties refuse instead of silently dropping
    intercept[Exception] {
      sql(s"ALTER TABLE $cat.core.sp SET TBLPROPERTIES (bogus = '1')")
    }
    // referencing a missing column refuses
    intercept[Exception] {
      sql(s"ALTER TABLE $cat.core.sp SET TBLPROPERTIES (clusterBy = 'nope')")
    }
    // TRUNCATE TABLE routes through SupportsDelete: one commit, empty
    // table, history intact
    sql(s"TRUNCATE TABLE $cat.core.sp")
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.sp").head()
      .getLong(0) == 0)
    assert(ids(sql(s"SELECT id AS id FROM $cat.core.sp VERSION AS OF 1")).size
      == 400, "pre-truncate versions stay travelable")
  }

  test("writing to a time-travel snapshot refuses") {
    sql(s"CREATE TABLE $cat.core.tt (id BIGINT)")
    sql(s"INSERT INTO $cat.core.tt SELECT id FROM range(5)")
    val e = intercept[Exception] {
      sql(s"INSERT INTO $cat.core.tt VERSION AS OF 0 SELECT id FROM range(5)")
    }
    assert(e.getMessage.nonEmpty)
  }
}
