package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The DSv2 STREAMING sink surface: `writeStream.toTable("lake.ns.t")`
  * — executor-parallel parquet writers, per-file stats tracked in
  * flight, one transactional (appId, epochId) commit per epoch —
  * certified against the same exactly-once contract as the
  * foreachBatch sink ([[LakeSink]]).
  */
class LakeStreamToTableSpec extends SparkSuite {

  private val cat = "gstt"
  private lazy val warehouse = {
    val w = tempDir("graft_stt").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  private def sql(q: String): DataFrame = { warehouse; spark.sql(q) }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("writeStream.toTable appends micro-batches exactly once") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE NAMESPACE $cat.core")
    sql(s"CREATE TABLE $cat.core.st (id BIGINT, v BIGINT)")
    val root = s"$warehouse/core/st"
    val ckpt = tempDir("stt_ckpt").toString
    val ms = MemoryStream[Long]
    def start() = ms.toDF().selectExpr("value AS id", "value * 2 AS v")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.core.st")

    val q = start()
    try {
      ms.addData(0L until 50L: _*)
      q.processAllAvailable()
      ms.addData(50L until 80L: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(sql(s"SELECT * FROM $cat.core.st")) == (0L until 80L))
    // each epoch was ONE commit carrying its (appId, epochId) token
    val hist = LakeTable.history(spark, root).collect()
    assert(hist.count(_.getAs[String]("op") == "append") == 2)

    // restart from the SAME checkpoint: already-committed epochs are
    // not re-appended, new data flows
    val q2 = start()
    try {
      ms.addData(80L until 100L: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ids(sql(s"SELECT * FROM $cat.core.st")) == (0L until 100L),
      "a restarted query must not duplicate committed epochs")

    // streamed files carry real stats: a pruned range read skips files
    val (pruned, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("id", Some(90L), Some(99L))))
    assert(ids(pruned) == (90L until 100L))
    assert(rep.filesRead < rep.filesTotal,
      s"streamed per-file stats must prune: $rep")
  }

  test("nFiles bounds per-epoch files; cluster column gives tight ranges") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.cl (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id')")
    val root = s"$warehouse/core/cl"
    val ckpt = tempDir("stt_ckpt2").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF().selectExpr("value AS id", "value AS v")
      // many input partitions; the write must still land exactly 2
      // files, range-partitioned + sorted on the cluster column
      .repartition(16)
      .writeStream.option("checkpointLocation", ckpt)
      .option("nFiles", "2")
      .toTable(s"$cat.core.cl")
    try {
      ms.addData(0L until 1000L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val files = LakeTable.snapshot(spark, root).files
    assert(files.size == 2, s"expected 2 streamed files, got ${files.size}")
    // ordered distribution on the cluster key => disjoint [min,max]
    val ranges = files.map(a => (a.stats.min("id").asInstanceOf[Long],
      a.stats.max("id").asInstanceOf[Long])).sortBy(_._1)
    assert(ranges.head._2 < ranges.last._1,
      s"clustered streaming files must carry disjoint ranges: $ranges")
    assert(ids(sql(s"SELECT * FROM $cat.core.cl")) == (0L until 1000L))
    // and a key-range read prunes to one of the two files
    val (_, rep) = LakeTable.scanPruned(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(10L))))
    assert(rep.filesRead == 1, s"range read must prune to 1 file: $rep")
  }

  test("Complete mode replaces the table each epoch; constraints gate") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.agg (k BIGINT, n BIGINT)")
    val ckpt = tempDir("stt_ckpt3").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF().groupBy((col("value") % 3).as("k"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .toTable(s"$cat.core.agg")
    try {
      ms.addData(0L until 30L: _*)
      q.processAllAvailable()
      assert(sql(s"SELECT sum(n) AS s FROM $cat.core.agg").head().getLong(0)
        == 30L)
      ms.addData(30L until 60L: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the table holds the LATEST aggregate, not an accumulation
    assert(sql(s"SELECT sum(n) AS s FROM $cat.core.agg").head().getLong(0)
      == 60L)
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.agg").head().getLong(0)
      == 3L)

    // a CHECK constraint added to the table gates streamed epochs too
    sql(s"CREATE TABLE $cat.core.gate (id BIGINT, v BIGINT)")
    sql(s"ALTER TABLE $cat.core.gate ADD CONSTRAINT pos CHECK (v >= 0)")
    val ckpt2 = tempDir("stt_ckpt4").toString
    val ms2 = MemoryStream[Long]
    val q2 = ms2.toDF().selectExpr("value AS id", "-value AS v")
      .writeStream.option("checkpointLocation", ckpt2)
      .toTable(s"$cat.core.gate")
    ms2.addData(1L, 2L)
    intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.gate").head()
      .getLong(0) == 0L, "a violating epoch must commit nothing")
    // the refused epoch's staged files are aborted, not leaked live
    val gateSnap = LakeTable.snapshot(spark, s"$warehouse/core/gate")
    assert(gateSnap.files.isEmpty)
  }

  test("batch writers and the streaming sink interleave on one table") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.mix (id BIGINT, v BIGINT)")
    val ckpt = tempDir("stt_ckpt7").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF().selectExpr("value AS id", "value AS v")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.core.mix")
    try {
      ms.addData(0L until 10L: _*)
      q.processAllAvailable()
      // a batch INSERT lands BETWEEN epochs — appends never conflict,
      // both commits survive
      sql(s"INSERT INTO $cat.core.mix SELECT id + 100, id FROM range(5)")
      ms.addData(10L until 20L: _*)
      q.processAllAvailable()
      // an all-filtered epoch commits METADATA ONLY (the token must
      // still advance so a replay of it is recognized)
      ms.addData(-5L until 0L: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(sql(s"SELECT * FROM $cat.core.mix")) ==
      ((-5L until 20L) ++ (100L until 105L)))
    // and OPTIMIZE composes: compaction rewrites streamed + batch
    // files alike, rows unchanged
    sql(s"OPTIMIZE $cat.core.mix")
    assert(ids(sql(s"SELECT * FROM $cat.core.mix")) ==
      ((-5L until 20L) ++ (100L until 105L)))
  }

  test("two streams share a table under distinct appIds") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.two (id BIGINT, v BIGINT)")
    val root = s"$warehouse/core/two"
    def run(name: String, lo: Long, hi: Long): Unit = {
      val ckpt = tempDir(s"stt_$name").toString
      val ms = MemoryStream[Long]
      val q = ms.toDF().selectExpr("value AS id", "value AS v")
        .writeStream.option("checkpointLocation", ckpt)
        .option("appId", name)
        .toTable(s"$cat.core.two")
      try {
        ms.addData(lo until hi: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    run("writer_a", 0L, 10L)
    run("writer_b", 10L, 20L)
    assert(ids(sql(s"SELECT * FROM $cat.core.two")) == (0L until 20L))
    // both appIds' epoch-0 tokens coexist in the snapshot — neither
    // writer's replays can suppress the other's batches
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.committedBatches.keySet == Set("writer_a", "writer_b"),
      s"got ${snap.committedBatches}")
  }

  test("Trigger.AvailableNow: run-once incremental lake-to-lake ETL") {
    import org.apache.spark.sql.streaming.Trigger
    sql(s"CREATE TABLE $cat.core.etl_dst (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'id')")
    val src = tempDir("stt_etl_src").resolve("t").toString
    val ckpt = tempDir("stt_etl_ckpt").toString
    import spark.implicits._
    LakeTable.create(spark, src,
      (0L until 40L).map(i => (i, i)).toDF("id", "v"), Seq("id"), nFiles = 1)
    // the nightly-batch shape: drain everything committed so far,
    // transform, land exactly once, STOP — rerun tomorrow on the same
    // checkpoint and only the new commits flow
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-lake").load(src)
        .selectExpr("id", "v * 10 AS v")
        .writeStream.option("checkpointLocation", ckpt)
        .option("nFiles", "1")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.core.etl_dst")
      assert(q.awaitTermination(120000),
        "AvailableNow must drain and terminate by itself")
    }
    runOnce()
    assert(ids(sql(s"SELECT * FROM $cat.core.etl_dst")) == (0L until 40L))
    LakeTable.append(spark, src,
      (40L until 70L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    LakeTable.append(spark, src,
      (70L until 90L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    runOnce()
    val rows = sql(s"SELECT id, v FROM $cat.core.etl_dst ORDER BY id")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 90L),
      "the second run must process ONLY the new commits, exactly once")
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10))
    // an immediate third run has nothing to do and still terminates
    runOnce()
    assert(sql(s"SELECT count(*) AS c FROM $cat.core.etl_dst").head()
      .getLong(0) == 90)
  }

  test("mergeSchema option evolves the table additively mid-stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.ev2 (id BIGINT)")
    sql(s"INSERT INTO $cat.core.ev2 SELECT id FROM range(5)")
    val ckpt = tempDir("stt_ckpt5").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF().selectExpr("value AS id", "concat('s_', value) AS lang")
      .writeStream.option("checkpointLocation", ckpt)
      .option("mergeSchema", "true")
      .toTable(s"$cat.core.ev2")
    try {
      ms.addData(5L, 6L)
      q.processAllAvailable()
    } finally q.stop()
    val rows = sql(s"SELECT id, lang FROM $cat.core.ev2 ORDER BY id")
      .collect()
    assert(rows.length == 7)
    assert(rows.take(5).forall(_.isNullAt(1)),
      "pre-evolution rows must read null for the streamed-in column")
    assert(rows.drop(5).forall(r => r.getString(1) == s"s_${r.getLong(0)}"))
    // without the option, a schema mismatch refuses loudly
    val ckpt2 = tempDir("stt_ckpt6").toString
    val ms2 = MemoryStream[Long]
    val q2 = ms2.toDF().selectExpr("value AS id", "value AS extra")
      .writeStream.option("checkpointLocation", ckpt2)
      .toTable(s"$cat.core.ev2")
    ms2.addData(1L)
    intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
  }

  test("update mode + mergeKey: per-epoch keyed upserts converge to " +
      "the aggregation's latest state, restart-safe") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.upd (id BIGINT, total BIGINT)")
    val root = s"$warehouse/core/upd"
    val ckpt = tempDir("stt_upd").toString
    val ms = MemoryStream[Long]
    def start() = ms.toDF()
      .groupBy((col("value") % 5).as("id"))
      .agg(sum("value").as("total"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .option("mergeKey", "id")
      .toTable(s"$cat.core.upd")

    val q = start()
    try {
      ms.addData(0L until 20L: _*)
      q.processAllAvailable()
      ms.addData(20L until 40L: _*)
      q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits each touched key; the merge keeps ONE row
    // per key with the latest total — never appended duplicates
    val expect = (0L until 40L).groupBy(_ % 5).view
      .mapValues(_.sum).toMap
    val got = sql(s"SELECT id, total FROM $cat.core.upd").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(sql(s"SELECT count(*) c FROM $cat.core.upd").head().getLong(0)
      == 5, "exactly one row per key")

    // restart from the same checkpoint: committed epochs skip whole
    val q2 = start()
    try {
      ms.addData(40L until 50L: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val expect2 = (0L until 50L).groupBy(_ % 5).view
      .mapValues(_.sum).toMap
    val got2 = sql(s"SELECT id, total FROM $cat.core.upd").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == expect2)
    // the upserts were MERGE commits, one per non-empty epoch
    val hist = LakeTable.history(spark, root).collect()
    assert(hist.exists(_.getAs[String]("op") == "merge"))
  }

  test("update mode WITHOUT mergeKey appends update rows " +
      "(the documented Delta-parity marker semantics)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.updlog (id BIGINT, total BIGINT)")
    val ckpt = tempDir("stt_updlog").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF()
      .groupBy((col("value") % 2).as("id"))
      .agg(sum("value").as("total"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .toTable(s"$cat.core.updlog")
    try {
      ms.addData(1L, 2L)
      q.processAllAvailable()
      ms.addData(3L, 4L)
      q.processAllAvailable()
    } finally q.stop()
    // both epochs' update rows are present — a CDC-style log table
    assert(sql(s"SELECT count(*) c FROM $cat.core.updlog").head()
      .getLong(0) == 4)
  }

  test("IDENTITY + GENERATED columns: task writers compute/allocate; " +
      "ids stay unique across a restart (hwm advances per epoch)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.semd (" +
      "rid BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "k BIGINT, v BIGINT, " +
      "v2 BIGINT GENERATED ALWAYS AS (v * 2 + 1))")
    val root = s"$warehouse/core/semd"
    val ckpt = tempDir("stt_sem").toString
    val ms = MemoryStream[Long]
    def start() = ms.toDF().selectExpr("value AS k", "value * 10 AS v")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.core.semd")

    val q = start()
    try {
      ms.addData(0L until 40L: _*)
      q.processAllAvailable()
      ms.addData(40L until 70L: _*)
      q.processAllAvailable()
    } finally q.stop()
    // restart over the SAME checkpoint: committed epochs skip, new ids
    // allocate past the advanced watermark — never overlapping
    val q2 = start()
    try {
      ms.addData(70L until 100L: _*)
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = sql(s"SELECT rid, k, v, v2 FROM $cat.core.semd").collect()
    assert(rows.length == 100)
    assert(rows.map(_.getLong(0)).distinct.length == 100,
      "identity values must be unique across epochs AND the restart")
    assert(rows.map(_.getLong(0)).min >= 1L, "ids start at 1")
    assert(rows.forall(r => r.getLong(3) == r.getLong(2) * 2 + 1),
      "generated column computed per row inside the stream")
    assert(LakeTable.snapshot(spark, root).identityHwm.get("rid")
      .exists(_ >= 100L), "commits fold the watermark from file stats")
    // identity epochs are ordinary appends: one commit per non-empty
    // epoch, exactly-once under the (appId, epochId) token
    val hist = LakeTable.history(spark, root).collect()
    assert(hist.count(_.getAs[String]("op") == "append") == 3)
  }

  test("GENERATED partition column computed in-stream: hive layout, " +
      "values injected, pruning live") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.semp (k BIGINT, " +
      "bucket STRING GENERATED ALWAYS AS " +
      "(CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END)) " +
      "PARTITIONED BY (bucket)")
    val root = s"$warehouse/core/semp"
    val ckpt = tempDir("stt_semp").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF().selectExpr("value AS k")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.core.semp")
    try {
      ms.addData(0L until 20L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = sql(s"SELECT k, bucket FROM $cat.core.semp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (0L until 20L).map(k =>
      k -> (if (k % 2 == 0) "even" else "odd")).toMap)
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.files.forall(a => a.path.contains("bucket=")),
      "streamed files land under hive value directories")
    assert(snap.files.forall(a =>
      a.stats.min.get("bucket") == a.stats.max.get("bucket")),
      "partition value recorded as min==max stats")
  }

  test("streaming semantics refusals: explicit computed column; " +
      "mergeKey into a computed table") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql(s"CREATE TABLE $cat.core.semr (" +
      "rid BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v BIGINT)")

    // the stream must OMIT the identity column
    val ms1 = MemoryStream[Long]
    val ck1 = tempDir("stt_semr1").toString
    val q1 = ms1.toDF()
      .selectExpr("value AS rid", "value AS k", "value AS v")
      .writeStream.option("checkpointLocation", ck1)
      .toTable(s"$cat.core.semr")
    val e1 = intercept[Exception] {
      try { ms1.addData(1L); q1.processAllAvailable() } finally q1.stop()
    }
    assert(causeHas(e1, "must OMIT"), s"got: $e1")

    // keyed upserts route through foreachBatch + merge instead
    val ms2 = MemoryStream[Long]
    val ck2 = tempDir("stt_semr2").toString
    val q2 = ms2.toDF().selectExpr("value AS k", "value AS v")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck2)
      .option("mergeKey", "k")
      .toTable(s"$cat.core.semr")
    val e2 = intercept[Exception] {
      try { ms2.addData(1L); q2.processAllAvailable() } finally q2.stop()
    }
    assert(causeHas(e2, "foreachBatch"), s"got: $e2")
  }

  private def causeHas(e: Throwable, needle: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(t => Option(t.getMessage).exists(_.contains(needle)))
}
