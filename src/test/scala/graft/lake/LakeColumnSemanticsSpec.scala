package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Declarative column semantics — DEFAULT / GENERATED ALWAYS AS /
  * IDENTITY — through the SQL catalog surface and the library API:
  * persisted as [[LakeLog.ColSpec]] commits, surfaced back through
  * `Table.schema()` metadata for the analyzer, enforced centrally by
  * every writer ([[LakeColumns.applyWriteSemantics]]).
  */
class LakeColumnSemanticsSpec extends SparkSuite {

  private val cat = "gsem"
  private lazy val warehouse = {
    val w = tempDir("graft_sem").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }
  private def sql(q: String): DataFrame = { warehouse; spark.sql(q) }

  test("DEFAULT: INSERT omission, DEFAULT keyword, explicit value") {
    sql(s"CREATE TABLE $cat.d1 (id BIGINT, v INT DEFAULT 7, " +
      "s STRING DEFAULT 'none')")
    sql(s"INSERT INTO $cat.d1 (id) VALUES (1), (2)")
    sql(s"INSERT INTO $cat.d1 VALUES (3, DEFAULT, DEFAULT)")
    sql(s"INSERT INTO $cat.d1 VALUES (4, 40, 'x')")
    sql(s"INSERT INTO $cat.d1 (id, s) VALUES (5, 'y')")
    val rows = sql(s"SELECT id, v, s FROM $cat.d1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 7, "none"), (2L, 7, "none"), (3L, 7, "none"),
      (4L, 40, "x"), (5L, 7, "y")))
    // the semantics survive the log round-trip (fresh snapshot)
    val props = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[LakeCatalog]
    assert(sql(s"SHOW TBLPROPERTIES $cat.d1").collect()
      .exists(r => r.getString(0) == "columnSemantics" &&
        r.getString(1).contains("v DEFAULT 7")), "DESCRIBE surface")
  }

  test("DEFAULT: library-API append may omit defaulted columns") {
    val root = tempDir("graft_sem_api").toString + "/t"
    LakeTable.create(spark,
      root,
      spark.range(0).selectExpr("id", "CAST(7 AS INT) AS v"),
      Seq("id"),
      colSpecs = Seq(LakeLog.ColSpec("v", "default",
        Map("current" -> "7", "exists" -> "7"))))
    LakeTable.append(spark, root, spark.range(3).selectExpr("id"))
    val got = LakeTable.scan(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((0L, 7), (1L, 7), (2L, 7)))
  }

  test("GENERATED ALWAYS AS: computed on omission, validated on supply") {
    sql(s"CREATE TABLE $cat.g1 (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    sql(s"INSERT INTO $cat.g1 (id, ts) VALUES " +
      "(1, timestamp'2026-01-02 03:04:05'), " +
      "(2, timestamp'2026-02-03 23:59:59')")
    // supplying the MATCHING value is accepted
    sql(s"INSERT INTO $cat.g1 VALUES " +
      "(3, timestamp'2026-03-04 00:00:01', date'2026-03-04')")
    val rows = sql(s"SELECT id, d FROM $cat.g1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSeq
    assert(rows == Seq((1L, "2026-01-02"), (2L, "2026-02-03"),
      (3L, "2026-03-04")))
    // a CONFLICTING supplied value fails the write
    val e = intercept[Exception] {
      sql(s"INSERT INTO $cat.g1 VALUES " +
        "(4, timestamp'2026-03-04 00:00:01', date'1999-01-01')")
    }
    assert(exists(e, "does not match computed"),
      s"unexpected error: $e")
    assert(sql(s"SELECT count(*) AS c FROM $cat.g1").head.getLong(0) == 3,
      "failed insert must not be committed")
  }

  test("IDENTITY: allocation, uniqueness, watermark across commits") {
    sql(s"CREATE TABLE $cat.i1 (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "v INT)")
    sql(s"INSERT INTO $cat.i1 (v) VALUES (10), (11), (12)")
    sql(s"INSERT INTO $cat.i1 (v) SELECT CAST(id AS INT) + 100 " +
      "FROM range(50)")
    val rows = sql(s"SELECT id, v FROM $cat.i1").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows.map(_._1).distinct.size == 53, "ids must be unique")
    assert(rows.map(_._1).forall(_ >= 1), "ids start at 1")
    // second commit's ids all land past the first commit's watermark
    val firstMax = rows.filter(_._2 < 100).map(_._1).max
    assert(rows.filter(_._2 >= 100).map(_._1).forall(_ > firstMax),
      "later commits allocate past the recorded watermark")
    // GENERATED ALWAYS refuses explicit values
    val e = intercept[Exception] {
      sql(s"INSERT INTO $cat.i1 VALUES (999, 1)")
    }
    assert(exists(e, "GENERATED ALWAYS"), s"unexpected error: $e")
  }

  test("IDENTITY BY DEFAULT: explicit values kept, nulls allocated") {
    sql(s"CREATE TABLE $cat.i2 (id BIGINT GENERATED BY DEFAULT AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 10), v INT)")
    sql(s"INSERT INTO $cat.i2 VALUES (5, 1)")
    sql(s"INSERT INTO $cat.i2 (v) VALUES (2)")
    val rows = sql(s"SELECT id, v FROM $cat.i2 ORDER BY v").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows.head == ((5L, 1)), "explicit value kept")
    assert(rows(1)._1 >= 100 && (rows(1)._1 - 100) % 10 == 0,
      s"allocated id follows START/INCREMENT, got ${rows(1)._1}")
  }

  test("exists-default: ADD COLUMN ... DEFAULT backfills old files " +
    "metadata-only") {
    sql(s"CREATE TABLE $cat.e1 (id BIGINT)")
    sql(s"INSERT INTO $cat.e1 VALUES (1), (2)")
    sql(s"ALTER TABLE $cat.e1 ADD COLUMN tag STRING DEFAULT 'legacy'")
    sql(s"INSERT INTO $cat.e1 (id) VALUES (3)")
    sql(s"INSERT INTO $cat.e1 VALUES (4, 'fresh')")
    val rows = sql(s"SELECT id, tag FROM $cat.e1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "legacy"), (2L, "legacy"), (3L, "legacy"),
      (4L, "fresh")),
      s"old files must read the exists default, got $rows")
  }

  test("validation: conflicting/invalid specs refuse at CREATE") {
    intercept[Exception] { // non-constant default
      sql(s"CREATE TABLE $cat.v1 (id BIGINT, v INT DEFAULT rand())")
    }
    intercept[Exception] { // circular generation
      sql(s"CREATE TABLE $cat.v2 (id BIGINT, " +
        "d BIGINT GENERATED ALWAYS AS (d + 1))")
    }
    intercept[Exception] { // INT identity
      sql(s"CREATE TABLE $cat.v3 (id INT GENERATED ALWAYS AS IDENTITY, " +
        "v INT)")
    }
  }

  test("UPDATE recomputes generated columns; refuses ALWAYS identity SET") {
    sql(s"CREATE TABLE $cat.g2 (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    sql(s"INSERT INTO $cat.g2 (id, ts) VALUES " +
      "(1, timestamp'2026-01-02 03:04:05')")
    // updating the SOURCE column must refresh the generated value
    sql(s"UPDATE $cat.g2 SET ts = timestamp'2026-06-07 08:09:10' " +
      "WHERE id = 1")
    val d = sql(s"SELECT d FROM $cat.g2 WHERE id = 1").head.getDate(0)
    assert(d.toString == "2026-06-07",
      s"generated column must recompute on update, got $d")

    sql(s"CREATE TABLE $cat.i3 (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "v INT)")
    sql(s"INSERT INTO $cat.i3 (v) VALUES (1)")
    val e = intercept[Exception] {
      sql(s"UPDATE $cat.i3 SET id = 42 WHERE v = 1")
    }
    assert(exists(e, "GENERATED ALWAYS"), s"unexpected: $e")
  }

  test("MERGE: inserts allocate identity, updates keep ids; " +
    "generated stays consistent") {
    sql(s"CREATE TABLE $cat.m1 (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, v INT)")
    sql(s"INSERT INTO $cat.m1 (k, v) SELECT id, 0 FROM range(5)")
    val before = sql(s"SELECT k, id FROM $cat.m1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sql(s"MERGE INTO $cat.m1 t USING " +
      "(SELECT id AS k, 10 AS v FROM range(3, 8)) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val after = sql(s"SELECT k, id, v FROM $cat.m1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(after.size == 8)
    assert(after.map(_._2).distinct.size == 8, "ids unique after merge")
    // matched rows keep their original ids
    before.filterKeys(k => k >= 3).foreach { case (k, oldId) =>
      assert(after.find(_._1 == k).get._2 == oldId,
        s"updated row k=$k must keep id $oldId")
    }
    // inserted rows allocated past the existing watermark
    val oldMax = before.values.max
    after.filter(_._1 >= 5).foreach { case (k, id, _) =>
      assert(id > oldMax, s"inserted row k=$k got id $id <= $oldMax")
    }
  }

  test("DROP DEFAULT keeps the exists default (old files stay stable)") {
    sql(s"CREATE TABLE $cat.e2 (id BIGINT)")
    sql(s"INSERT INTO $cat.e2 VALUES (1)")
    sql(s"ALTER TABLE $cat.e2 ADD COLUMN tag STRING DEFAULT 'legacy'")
    sql(s"ALTER TABLE $cat.e2 ALTER COLUMN tag DROP DEFAULT")
    sql(s"INSERT INTO $cat.e2 (id) VALUES (2)")
    val rows = sql(s"SELECT id, tag FROM $cat.e2 ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq
    assert(rows == Seq((1L, "legacy"), (2L, null)),
      s"pre-column files keep 'legacy', post-drop inserts get null: $rows")
  }

  test("rename moves a column's semantics; generated sources are pinned") {
    sql(s"CREATE TABLE $cat.r1 (id BIGINT, v INT DEFAULT 7)")
    sql(s"INSERT INTO $cat.r1 (id) VALUES (1)")
    sql(s"ALTER TABLE $cat.r1 RENAME COLUMN v TO w")
    sql(s"INSERT INTO $cat.r1 (id) VALUES (2)")
    val rows = sql(s"SELECT id, w FROM $cat.r1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows == Seq((1L, 7), (2L, 7)), s"default follows rename: $rows")

    sql(s"CREATE TABLE $cat.r2 (id BIGINT, ts TIMESTAMP, " +
      "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    val e = intercept[Exception] {
      sql(s"ALTER TABLE $cat.r2 RENAME COLUMN ts TO ts2")
    }
    assert(exists(e, "generated column"), s"unexpected: $e")
  }

  test("generated partition column: INSERT omits it, writers compute " +
    "it, equality reads prune directories") {
    sql(s"CREATE TABLE $cat.gp (id BIGINT, ts BIGINT, " +
      "day STRING GENERATED ALWAYS AS " +
      "(date_format(timestamp_micros(ts), 'yyyy-MM-dd')), v DOUBLE) " +
      "PARTITIONED BY (day)")
    // 3 days of data, hour-spaced micros from 2024-01-01T00:00Z
    sql(s"INSERT INTO $cat.gp (id, ts, v) " +
      "SELECT id, 1704067200000000 + id * 3600000000, CAST(id AS DOUBLE) " +
      "FROM range(72)")
    val q = sql(s"SELECT id FROM $cat.gp WHERE day = '2024-01-02'")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.replaceAll("\\s+", " ").matches(
        ".*PartitionFilters: \\[[^\\]]*day.*"),
      s"generated partition filter must reach the scan:\n$physical")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (24L until 48L),
      "day 2 holds hours 24..47")
    // the partition value is genuinely derived: files under day=...
    val snap = LakeLog.snapshot(
      LakeLog.fileSystem(new org.apache.hadoop.fs.Path(warehouse),
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$warehouse/gp"), None)
    assert(snap.files.forall(a => a.path.contains("day=")),
      s"files must live in day= directories: ${snap.files.map(_.path)}")
    assert(snap.files.map(_.stats.min("day")).distinct.size == 3,
      "three day partitions")
    // hidden-partitioning economics WITHOUT predicate translation:
    // users filtering the SOURCE column (ts) still skip files via the
    // per-file ts min/max stats the partitioned writer folds — day 3
    // starts at hour 48
    val (pruned, rep) = LakeTable.scanPruned(spark, s"$warehouse/gp",
      Seq(LakeTable.ColRange("ts",
        Some(1704067200000000L + 48L * 3600000000L), None)))
    assert(rep.filesRead < rep.filesTotal,
      s"a ts-range read must skip other days' files: $rep")
    assert(pruned.count() == 24, "day 3 holds hours 48..71")
  }

  test("generated-partition filter INFERENCE: a base-column predicate " +
      "prunes month/year/prefix generated partitions") {
    // month(d)-partitioned: the DATE base can be neither a partition
    // nor a stats column, so without inference a date range reads
    // EVERY partition — the Delta-parity gap the verdict named
    sql(s"CREATE TABLE $cat.gi (id BIGINT, d DATE, " +
      "m INT GENERATED ALWAYS AS (month(d)), v BIGINT) " +
      "PARTITIONED BY (m) TBLPROPERTIES (nFiles = '1')")
    sql(s"INSERT INTO $cat.gi (id, d, v) SELECT id, " +
      "date_add(DATE'1995-01-15', CAST(id * 30 AS INT)), id FROM range(12)")
    def filesRead(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val total = LakeLog.snapshot(
      LakeLog.fileSystem(new org.apache.hadoop.fs.Path(warehouse),
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$warehouse/gi"), None).files.size
    assert(total >= 10, s"expected ~12 month partitions, got $total")
    // same-year range on the BASE column only → month range inferred
    val inYear = sql(s"SELECT id FROM $cat.gi WHERE " +
      "d BETWEEN DATE'1995-03-01' AND DATE'1995-04-30'")
    assert(filesRead(inYear) <= 2,
      "a same-year date range must prune to its months' partitions")
    assert(inYear.collect().map(_.getLong(0)).sorted.toSeq ==
      (2L to 3L), "rows must be exact, inference is pruning-only")
    // equality on the base always maps
    assert(filesRead(sql(s"SELECT id FROM $cat.gi WHERE " +
      "d = DATE'1995-02-14'")) <= 1)
    // a YEAR-crossing range infers nothing (month is periodic) but
    // stays row-exact
    val crossing = sql(s"SELECT count(*) c FROM $cat.gi WHERE " +
      "d BETWEEN DATE'1995-12-01' AND DATE'1996-01-31'")
    assert(crossing.head().getLong(0) ==
      sql(s"SELECT count(*) c FROM $cat.gi").head().getLong(0) -
        sql(s"SELECT count(*) c FROM $cat.gi WHERE " +
          "d < DATE'1995-12-01' OR d > DATE'1996-01-31'").head().getLong(0))

    // year(ts) is monotone: ONE-SIDED timestamp bounds prune too
    sql(s"CREATE TABLE $cat.gy (id BIGINT, ts TIMESTAMP, " +
      "y INT GENERATED ALWAYS AS (year(ts)), v BIGINT) " +
      "PARTITIONED BY (y) TBLPROPERTIES (nFiles = '1')")
    sql(s"INSERT INTO $cat.gy (id, ts, v) SELECT id, " +
      "timestamp_micros(CAST(788918400000000 + id * 7776000000000 AS " +
      "BIGINT)), id FROM range(12)") // quarterly steps from 1995-01-01Z
    val yTotal = LakeLog.snapshot(
      LakeLog.fileSystem(new org.apache.hadoop.fs.Path(warehouse),
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$warehouse/gy"), None).files.size
    val late = sql(s"SELECT id FROM $cat.gy WHERE " +
      "ts >= TIMESTAMP'1997-01-01 00:00:00'")
    assert(filesRead(late) < yTotal,
      s"one-sided year inference must prune ($yTotal year partitions)")
    assert(late.count() ==
      sql(s"SELECT count(*) c FROM $cat.gy WHERE year(ts) >= 1997")
        .head().getLong(0))

    // substring(b, 1, k) prefix partitions prune on string ranges
    sql(s"CREATE TABLE $cat.gs (id BIGINT, name STRING, " +
      "pre STRING GENERATED ALWAYS AS (substring(name, 1, 2))) " +
      "PARTITIONED BY (pre) TBLPROPERTIES (nFiles = '1')")
    sql(s"INSERT INTO $cat.gs (id, name) SELECT id, " +
      "concat(CASE CAST(id / 3 AS INT) WHEN 0 THEN 'aa' WHEN 1 THEN " +
      "'bb' WHEN 2 THEN 'cc' ELSE 'dd' END, '_', id) FROM range(12)")
    val pref = sql(s"SELECT id FROM $cat.gs WHERE " +
      "name >= 'bb' AND name < 'cc'")
    assert(filesRead(pref) <= 1,
      "a name range must prune to its prefix partitions")
    assert(pref.count() == 3)

    // a generation expression spelling the base in ANOTHER CASE is
    // legal SQL (the analyzer resolves case-insensitively) — it must
    // validate at CREATE AND still infer partition pruning
    sql(s"CREATE TABLE $cat.gcase (id BIGINT, d DATE, " +
      "m INT GENERATED ALWAYS AS (month(D)), v BIGINT) " +
      "PARTITIONED BY (m) TBLPROPERTIES (nFiles = '1')")
    sql(s"INSERT INTO $cat.gcase (id, d, v) SELECT id, " +
      "date_add(DATE'1995-01-15', CAST(id * 30 AS INT)), id FROM range(12)")
    val cased = sql(s"SELECT id FROM $cat.gcase WHERE " +
      "d BETWEEN DATE'1995-03-01' AND DATE'1995-04-30'")
    assert(filesRead(cased) <= 2,
      "case-mismatched generation exprs must still infer pruning")
    assert(cased.count() == 2)

    // the canonical time-series key — day STRING GENERATED ALWAYS AS
    // (date_format(timestamp_micros(ts), 'yyyy-MM-dd')) — infers from
    // raw epoch-micros predicates: chronological formats are
    // monotone, so even a ONE-SIDED bound prunes. ts is deliberately
    // NOT a stats column here, so directory inference is the only
    // thing that can skip files.
    sql(s"CREATE TABLE $cat.gf (id BIGINT, ts BIGINT, " +
      "day STRING GENERATED ALWAYS AS " +
      "(date_format(timestamp_micros(ts), 'yyyy-MM-dd')), v BIGINT) " +
      "PARTITIONED BY (day) " +
      "TBLPROPERTIES (nFiles = '1', statsCols = 'id')")
    sql(s"INSERT INTO $cat.gf (id, ts, v) SELECT id, " +
      "1704067200000000 + id * 3600000000, id FROM range(72)") // 3 days
    val gfTotal = LakeLog.snapshot(
      LakeLog.fileSystem(new org.apache.hadoop.fs.Path(warehouse),
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$warehouse/gf"), None).files.size
    assert(gfTotal >= 3, s"expected 3 day partitions, got $gfTotal")
    val fmtOneSided = sql(s"SELECT id FROM $cat.gf WHERE " +
      "ts >= 1704067200000000 + 48 * 3600000000") // day 3 start
    assert(filesRead(fmtOneSided) < gfTotal,
      "a one-sided micros bound must prune via the date_format shape")
    assert(fmtOneSided.count() == 24, "day 3 holds hours 48..71")
    // a NON-chronological format infers nothing but stays row-exact
    sql(s"CREATE TABLE $cat.gnf (id BIGINT, ts BIGINT, " +
      "day STRING GENERATED ALWAYS AS " +
      "(date_format(timestamp_micros(ts), 'dd-MM-yyyy')), v BIGINT) " +
      "PARTITIONED BY (day) TBLPROPERTIES (nFiles = '1', " +
      "statsCols = 'id')")
    sql(s"INSERT INTO $cat.gnf (id, ts, v) SELECT id, " +
      "1704067200000000 + id * 3600000000, id FROM range(72)")
    assert(sql(s"SELECT count(*) c FROM $cat.gnf WHERE " +
      "ts >= 1704067200000000 + 48 * 3600000000").head().getLong(0) == 24)
  }

  test("generated-partition inference: prefix bounds truncate by CODE " +
      "POINTS — supplementary-plane bases are not over-pruned") {
    // U+1D11E (musical G clef): ONE code point, TWO UTF-16 units.
    // Spark's substring counts code points, so the generated prefix of
    // '<clef>a_1' at len 2 is '<clef>a' (3 UTF-16 units); a UTF-16
    // String.take(2) inference would cut the bound to just '<clef>',
    // which sorts BELOW the real prefix and prunes the matching file.
    val clef = "𝄞"
    sql(s"CREATE TABLE $cat.gnb (id BIGINT, name STRING, " +
      "pre STRING GENERATED ALWAYS AS (substring(name, 1, 2))) " +
      "PARTITIONED BY (pre) TBLPROPERTIES (nFiles = '1')")
    sql(s"INSERT INTO $cat.gnb (id, name) VALUES " +
      s"(0, '${clef}a_0'), (1, '${clef}a_1'), (2, '${clef}b_2')")
    val eq = sql(s"SELECT id FROM $cat.gnb WHERE name = '${clef}a_1'")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "code-point prefix truncation must keep the matching file")
    // pruning still bites: the range covers only the <clef>a prefix
    def filesRead(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val rng = sql(s"SELECT id FROM $cat.gnb WHERE " +
      s"name >= '${clef}a' AND name < '${clef}b'")
    assert(rng.count() == 2)
    assert(filesRead(rng) <= 1,
      "the non-BMP range must still prune to its prefix partition")
  }

  test("generated-partition inference honors the session timezone") {
    // month()/date_format() evaluate under spark.sql.session.timeZone
    // at write; a UTC-fixed inference shifts bounds near period
    // boundaries and prunes files that hold matching rows. 2024-02-01
    // 07:00 Sydney = 2024-01-31 20:00 UTC: month 2 under the session
    // zone, month 1 under UTC.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    val w2 = tempDir("graft_sem_tz").toString
    s2.conf.set("spark.sql.catalog.gtz", "graft.lake.LakeCatalog")
    s2.conf.set("spark.sql.catalog.gtz.warehouse", w2)
    s2.sql("CREATE TABLE gtz.t (id BIGINT, ts TIMESTAMP, " +
      "m INT GENERATED ALWAYS AS (month(ts)), v BIGINT) " +
      "PARTITIONED BY (m) TBLPROPERTIES (nFiles = '1')")
    s2.sql("INSERT INTO gtz.t (id, ts, v) VALUES " +
      "(0, TIMESTAMP'2024-01-15 12:00:00', 0), " +
      "(1, TIMESTAMP'2024-02-01 07:00:00', 1)")
    val q = s2.sql("SELECT id FROM gtz.t WHERE " +
      "ts = TIMESTAMP'2024-02-01 07:00:00'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "UTC-fixed inference would prune the month-2 file this row is in")
    // the inference still PRUNES under the zone: a same-month (Sydney)
    // range reads only that month's file
    def filesRead(q: DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(fail("no FileSourceScanExec"))
    }
    val inMonth = s2.sql("SELECT id FROM gtz.t WHERE " +
      "ts BETWEEN TIMESTAMP'2024-02-01 06:00:00' AND " +
      "TIMESTAMP'2024-02-20 00:00:00'")
    assert(inMonth.count() == 1)
    assert(filesRead(inMonth) <= 1,
      "a same-Sydney-month range must prune to one partition")
  }

  test("identity watermark guard: a commit from a stale base aborts") {
    val root = tempDir("graft_sem_hwm").toString + "/t"
    LakeTable.create(spark, root,
      spark.range(0).selectExpr("id", "CAST(id AS LONG) AS k"),
      Seq("k"),
      colSpecs = Seq(LakeLog.ColSpec("id", "identity",
        Map("start" -> "1", "step" -> "1", "allowExplicit" -> "false"))))
    LakeTable.append(spark, root,
      spark.range(5).selectExpr("CAST(NULL AS LONG) AS id", "id AS k"))
    val f = LakeLog.fileSystem(new org.apache.hadoop.fs.Path(root),
      spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, new org.apache.hadoop.fs.Path(root), None)
    assert(snap.identityHwm.contains("id"), "first append records the hwm")
    // a writer that allocated against the PRE-append watermark must
    // abort at commit instead of handing out overlapping ids
    val e = intercept[LakeLog.ConcurrentCommitException] {
      LakeLog.commit(f, new org.apache.hadoop.fs.Path(root),
        Seq(LakeLog.IdentityHwm("id", 3L)),
        baseVersion = 0L,
        expectIdentityHwm = Some(Map.empty))
    }
    assert(e.getMessage.contains("identity allocation lost race"))
  }

  test("clone carries semantics + watermark; restore reverts specs " +
    "with the schema") {
    val base = tempDir("graft_sem_cr").toString
    val src = s"$base/src"
    LakeTable.create(spark, src,
      spark.range(0).selectExpr("CAST(NULL AS LONG) AS id", "id AS k"),
      Seq("k"),
      colSpecs = Seq(LakeLog.ColSpec("id", "identity",
        Map("start" -> "1", "step" -> "1", "allowExplicit" -> "false"))))
    LakeTable.append(spark, src,
      spark.range(4).selectExpr("CAST(NULL AS LONG) AS id", "id AS k"))
    val dst = s"$base/dst"
    LakeTable.shallowClone(spark, src, dst)
    // appends to the clone allocate PAST the cloned rows' ids
    LakeTable.append(spark, dst,
      spark.range(4, 6).selectExpr("CAST(NULL AS LONG) AS id", "id AS k"))
    val ids = LakeTable.scan(spark, dst).select("id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.distinct.size == 6, s"clone ids must stay unique: $ids")

    // restore past an ADD COLUMN ... DEFAULT: the spec reverts with
    // the schema, later appends must not try to fill a ghost column
    val t = s"$base/r"
    LakeTable.create(spark, t, spark.range(2).selectExpr("id"), Seq("id"))
    val v0 = 0L
    LakeTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)),
      Seq(LakeLog.ColSpec("tag", "default",
        Map("current" -> "'x'", "exists" -> "'x'"))))
    LakeTable.restore(spark, t, v0)
    val f = LakeLog.fileSystem(new org.apache.hadoop.fs.Path(t),
      spark.sparkContext.hadoopConfiguration)
    val snap = LakeLog.snapshot(f, new org.apache.hadoop.fs.Path(t), None)
    assert(snap.colSpecs.isEmpty,
      s"restored table must not keep the ghost spec: ${snap.colSpecs}")
    LakeTable.append(spark, t, spark.range(2, 4).selectExpr("id"))
    assert(LakeTable.scan(spark, t).count() == 4)
  }

  test("keyed merge (library changelog path) allocates identity for " +
    "null-id inserts and keeps survivors' ids") {
    import spark.implicits._
    val root = tempDir("graft_sem_km").toString + "/t"
    LakeTable.create(spark, root,
      spark.range(0).selectExpr("CAST(NULL AS LONG) AS id", "id AS k",
        "CAST(id AS LONG) AS v"),
      Seq("k"),
      colSpecs = Seq(LakeLog.ColSpec("id", "identity",
        Map("start" -> "1", "step" -> "1", "allowExplicit" -> "false"))))
    LakeTable.append(spark, root, spark.range(5)
      .selectExpr("CAST(NULL AS LONG) AS id", "id AS k", "id * 10 AS v"))
    val before = LakeTable.scan(spark, root).select("k", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // changelog: update k=1, insert k=7 and k=8 with NULL ids
    val changes = Seq(
      (Option.empty[Long], 1L, 111L, 1L, "U"),
      (Option.empty[Long], 7L, 70L, 1L, "U"),
      (Option.empty[Long], 8L, 80L, 1L, "U"))
      .toDF("id", "k", "v", "version", "op")
    LakeTable.merge(spark, root, changes, "k")
    val after = LakeTable.scan(spark, root).select("k", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size == 7)
    assert(after.values.toSeq.distinct.size == 7,
      s"ids unique after keyed merge: $after")
    // untouched keys keep their ids; merged-in rows got fresh ones
    (Seq(0L, 2L, 3L, 4L)).foreach(k =>
      assert(after(k) == before(k), s"survivor k=$k id changed"))
    assert(after(7L) > before.values.max && after(8L) > before.values.max,
      "inserted rows allocate past the watermark")
  }

  test("SHOW CREATE TABLE paste-safety: a re-run that lost the " +
    "generated/identity clauses refuses instead of weakening") {
    sql(s"CREATE TABLE $cat.sc (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "v INT DEFAULT 7)")
    val stmt = sql(s"SHOW CREATE TABLE $cat.sc").head.getString(0)
    // Spark's column printer renders DEFAULT but cannot render
    // identity/generation — the catalog's columnSemantics property
    // rides along and must gate the re-run
    assert(stmt.contains("v INT DEFAULT 7"), stmt)
    assert(stmt.contains("columnSemantics"), stmt)
    // the paste needs one mechanical touch-up to parse at all (the
    // hyphenated provider must be back-quoted)
    val pasted = stmt.replace(s"$cat.sc", s"$cat.sc2")
      .replace("USING graft-lake", "USING `graft-lake`")
    val e = intercept[Exception] { sql(pasted) }
    assert(exists(e, "GENERATED/IDENTITY clauses cannot be expressed"),
      s"pasted statement must refuse via the semantics gate, got: $e")
    // declaring the clause again (plus the property) is accepted
    sql(pasted.replace("id BIGINT,",
      "id BIGINT GENERATED ALWAYS AS IDENTITY,"))
    sql(s"INSERT INTO $cat.sc2 (v) VALUES (1)")
    assert(sql(s"SELECT id FROM $cat.sc2").head.getLong(0) >= 1)
  }

  test("MERGE INSERT omitting a defaulted column fills the CURRENT " +
      "default (and tracks SET DEFAULT)") {
    sql(s"CREATE TABLE $cat.mi (k BIGINT, v INT DEFAULT 7)")
    sql(s"INSERT INTO $cat.mi (k) VALUES (1)")
    def mergeIn(key: Long): Unit =
      sql(s"MERGE INTO $cat.mi t USING (SELECT CAST($key AS BIGINT) mk) " +
        "s ON t.k = s.mk " +
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.mk)"): Unit
    mergeIn(2L)
    sql(s"ALTER TABLE $cat.mi ALTER COLUMN v SET DEFAULT 9")
    mergeIn(3L)
    val rows = sql(s"SELECT k, v FROM $cat.mi ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows == Seq((1L, 7), (2L, 7), (3L, 9)),
      s"merge-inserted omissions must fill the default current at " +
        s"merge time: $rows")
    // CTAS default propagation is a CONTRACT (Postgres LIKE ...
    // INCLUDING DEFAULTS shape): the copy keeps v's current default,
    // while generated/identity never ride a query's schema
    sql(s"CREATE TABLE $cat.mi_copy AS SELECT k, v FROM $cat.mi")
    sql(s"INSERT INTO $cat.mi_copy (k) VALUES (99)")
    assert(sql(s"SELECT v FROM $cat.mi_copy WHERE k = 99").head()
      .getInt(0) == 9)
  }

  private def exists(e: Throwable, needle: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(t => Option(t.getMessage).exists(_.contains(needle)))
}
