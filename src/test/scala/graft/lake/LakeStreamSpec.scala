package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

class LakeStreamSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_lakestream").resolve("tbl").toString

  private def seed(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"n_$i")).toDF("id", "name")
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("tailing a lake emits each append as its own micro-batch") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 1)
    val q = spark.readStream.format("graft-lake").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("lake_tail_t1").start()
    try {
      q.processAllAvailable()
      LakeTable.append(spark, root, seed(100, 150), nFiles = 1)
      q.processAllAvailable()
      LakeTable.append(spark, root, seed(150, 180), nFiles = 1)
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3,
        s"expected >=3 data micro-batches, got $dataBatches")
    } finally q.stop()
    assert(ids(spark.table("lake_tail_t1")) == (0L until 180L))
  }

  test("a restarted query resumes at the committed log version") {
    val root = freshRoot()
    val ckpt = tempDir("lake_ckpt").toString
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1)
    // memory sink refuses checkpoint recovery; foreachBatch into a
    // per-incarnation buffer is the recoverable-sink harness
    def run(buf: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          buf.synchronized { buf ++= ids(df) }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val first = scala.collection.mutable.ArrayBuffer.empty[Long]
    run(first)
    assert(first.sorted.toSeq == (0L until 50L))

    LakeTable.append(spark, root, seed(50, 80), nFiles = 1)
    val second = scala.collection.mutable.ArrayBuffer.empty[Long]
    run(second)
    assert(second.sorted.toSeq == (50L until 80L),
      "restart must resume at committed offset, not replay the table")
  }

  test("readChangeFeed tail across RENAME COLUMN: the running " +
      "incarnation keeps its pinned names; a restart adopts the new " +
      "ones without replaying") {
    // column mapping makes a rename metadata-only: files keep their
    // PHYSICAL names, so a CDF stream's schema is a per-incarnation
    // LOGICAL view. Mid-stream the pinned (old) names keep mapping to
    // the same physical columns — post-rename commits still stream
    // correctly; the rename commit itself (Meta-only) emits nothing.
    // A restarted incarnation re-derives the logical view and emits
    // under the NEW name, resuming at the committed offset.
    val root = freshRoot()
    val ckpt = tempDir("lake_ckpt_rename").toString
    LakeTable.create(spark, root, seed(0, 10), Seq("id"), nFiles = 1)
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Seq[Long])]
    def record(df: DataFrame): Unit = {
      val rows = df.collect()
      if (rows.nonEmpty) batches.synchronized {
        batches += ((df.columns.toSeq,
          rows.map(_.getLong(df.columns.indexOf("id"))).sorted.toSeq))
      }
    }
    def start() = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) => record(df) }.start()

    val q1 = start()
    try {
      q1.processAllAvailable() // v0 inserts under the old name
      LakeTable.renameColumn(spark, root, "name", "label") // v1, mid-stream
      import spark.implicits._
      LakeTable.append(spark, root, // v2, written under the NEW name
        (10 until 20).map(i => (i.toLong, s"n_$i")).toDF("id", "label"),
        nFiles = 1)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(batches.map(_._2) == Seq(0L until 10L, 10L until 20L),
      s"both commits must stream exactly once: $batches")
    assert(batches.forall(_._1.take(2) == Seq("id", "name")),
      "the running incarnation keeps its pinned (pre-rename) names")

    batches.clear()
    LakeTable.append(spark, root,
      { import spark.implicits._
        (20 until 25).map(i => (i.toLong, s"n_$i")).toDF("id", "label") },
      nFiles = 1) // v3, between incarnations
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.map(_._2) == Seq(20L until 25L),
      s"restart must resume at the committed offset: $batches")
    assert(batches.forall(_._1.take(2) == Seq("id", "label")),
      "a restarted incarnation must adopt the renamed logical view")
  }

  test("startingTimestamp bounds the cold start like startingVersion") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 50), Seq("id"), nFiles = 1) // v0
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    LakeTable.append(spark, root, seed(50, 80), nFiles = 1)           // v1
    def drain(name: String, opts: Map[String, String]): Seq[Long] = {
      val r = spark.readStream.format("graft-lake")
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.load(root).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      ids(spark.table(name))
    }
    // millis between the commits: emit FROM the first commit after it
    assert(drain("st_millis",
      Map("startingTimestamp" -> between.toString)) == (50L until 80L))
    // a timestamp predating the log means "from the beginning"
    assert(drain("st_old",
      Map("startingTimestamp" -> "2000-01-01")) == (0L until 80L))
    // both knobs refuse; malformed values refuse naming the forms
    // (createSource runs inside the stream engine, so the refusal
    // arrives wrapped in a StreamingQueryException — assert the chain)
    def chainMsg(t: Throwable): String =
      (t +: Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq)
        .map(c => String.valueOf(c.getMessage)).mkString(" | ")
    val both = intercept[Exception] {
      drain("st_both", Map("startingTimestamp" -> between.toString,
        "startingVersion" -> "0"))
    }
    assert(chainMsg(both).contains("not both"), chainMsg(both))
    val bad = intercept[Exception] {
      drain("st_bad", Map("startingTimestamp" -> "12345"))
    }
    assert(chainMsg(bad).contains("yyyy-MM-dd"), chainMsg(bad))

    // INCLUSIVE boundary: a stream replaying from a RECORDED commit
    // timestamp must re-emit that very commit — the exact-equality
    // case must not be silently skipped (the Delta option this
    // mirrors is inclusive too)
    val fs = LakeLog.fileSystem(new org.apache.hadoop.fs.Path(root),
      spark.sparkContext.hadoopConfiguration)
    val v1Ts = LakeLog.readCommit(fs, new org.apache.hadoop.fs.Path(root), 1L)
      .collectFirst { case m: LakeLog.Meta => m.ts }.get
    assert(drain("st_exact",
      Map("startingTimestamp" -> v1Ts.toString)) == (50L until 80L),
      "a commit whose timestamp EQUALS startingTimestamp must be emitted")
    // past the newest commit = only future commits, not an error and
    // not a from-the-beginning replay
    assert(drain("st_future",
      Map("startingTimestamp" -> (v1Ts + 60000).toString)) == Nil)
  }

  test("startingTimestamp on a wrong root refuses loudly, never " +
      "silently streams from the beginning") {
    val missing = freshRoot() // directory never created
    val ex = intercept[Exception] {
      val q = spark.readStream.format("graft-lake")
        .option("startingTimestamp", "2000-01-01")
        .load(missing)
        .writeStream.outputMode("append").format("memory")
        .queryName("st_wrongroot").start()
      try q.processAllAvailable() finally q.stop()
    }
    def chainMsg(t: Throwable): String =
      (t +: Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq)
        .map(c => String.valueOf(c.getMessage)).mkString(" | ")
    assert(chainMsg(ex).contains("no lake table"), chainMsg(ex))
  }

  test("a rewrite commit fails the tail unless ignoreChanges is set") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    LakeTable.deleteWhere(spark, root,
      Seq(LakeTable.ColRange("id", Some(0L), Some(9L))))

    val strict = spark.readStream.format("graft-lake")
      .option("startingVersion", "1").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("lake_strict").start()
    val ex = intercept[StreamingQueryException] {
      try strict.processAllAvailable() finally strict.stop()
    }
    assert(ex.getMessage.contains("rewrite") ||
      Option(ex.getCause).exists(_.getMessage.contains("rewrite")))

    val loose = spark.readStream.format("graft-lake")
      .option("startingVersion", "1").option("ignoreChanges", "true")
      .load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("lake_loose").start()
    try loose.processAllAvailable() finally loose.stop()
    // startingVersion=1 replays only the delete commit, so exactly
    // its REWRITTEN files arrive: the survivors of the deleted file
    // (the untouched 50..99 file belongs to the skipped commit 0)
    assert(ids(spark.table("lake_loose")) == (10L until 50L))
  }

  test("maxVersionsPerTrigger paces a cold start into bounded batches") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 20), Seq("id"), nFiles = 1)
    (1 to 5).foreach { i =>
      LakeTable.append(spark, root, seed(20 * i, 20 * (i + 1)), nFiles = 1)
    }
    // 6 commits (v0..v5) already in the log; cap 2 versions/batch →
    // the cold start must arrive as >=3 bounded micro-batches
    val q = spark.readStream.format("graft-lake")
      .option("maxVersionsPerTrigger", "2").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("lake_paced").start()
    try {
      q.processAllAvailable()
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
      assert(dataBatches.length >= 3,
        s"expected >=3 paced micro-batches, got ${dataBatches.length}")
      assert(dataBatches.forall(_.numInputRows <= 40),
        "a paced batch must cover at most 2 commits (40 rows)")
    } finally q.stop()
    assert(ids(spark.table("lake_paced")) == (0L until 120L))
  }

  test("maxBytesPerTrigger paces a cold start by recorded commit bytes") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 20), Seq("id"), nFiles = 1)
    (1 to 5).foreach { i =>
      LakeTable.append(spark, root, seed(20 * i, 20 * (i + 1)), nFiles = 1)
    }
    // each commit is one ~KB file; a cap of twice the smallest commit
    // forces >=3 micro-batches while still letting commits pair up
    val perCommit = LakeTable.snapshot(spark, root).files
      .map(_.stats.bytes).min
    val q = spark.readStream.format("graft-lake")
      .option("maxBytesPerTrigger", (2 * perCommit).toString).load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("lake_bytepaced").start()
    try {
      q.processAllAvailable()
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
      assert(dataBatches.length >= 3,
        s"expected >=3 byte-paced micro-batches, got ${dataBatches.length}")
      assert(dataBatches.forall(_.numInputRows <= 40),
        "a byte-paced batch here can cover at most 2 commits (40 rows)")
    } finally q.stop()
    assert(ids(spark.table("lake_bytepaced")) == (0L until 120L))
  }

  test("readChangeFeed streams rewrites as tagged deletes, compaction as nothing") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    val q = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName("lake_cdf_t1").start()
    try {
      q.processAllAvailable()
      LakeTable.append(spark, root, seed(100, 130), nFiles = 1)
      q.processAllAvailable()
      // copy-on-write rewrite: survivors of the rewritten file cancel
      // in the multiset diff, only the 10 deleted rows stream out
      LakeTable.deleteWhere(spark, root,
        Seq(LakeTable.ColRange("id", Some(0L), Some(9L))))
      q.processAllAvailable()
      val preCompact = q.recentProgress.map(_.numInputRows).sum
      LakeTable.compact(spark, root, smallBytes = Long.MaxValue,
        targetBytes = Long.MaxValue)
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).sum == preCompact,
        "layout-only compaction must stream no change rows")
    } finally q.stop()
    val out = spark.table("lake_cdf_t1")
    def part(ct: String, cv: Long): Seq[Long] =
      ids(out.where(col("_change_type") === ct &&
        col("_commit_version") === cv))
    assert(part("insert", 0L) == (0L until 100L))
    assert(part("insert", 1L) == (100L until 130L))
    assert(part("delete", 2L) == (0L until 10L))
    assert(out.count() == 140, "no other change rows may appear")
  }

  test("merge-sink batches are idempotent and latest-wins") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 100), Seq("id"), nFiles = 2,
      clusterBy = Some("id"))
    import spark.implicits._
    def change(lo: Int, hi: Int, v: Long, op: String): DataFrame =
      (lo until hi).map(i => (i.toLong, s"v${v}_$i", v, op))
        .toDF("id", "name", "version", "op")
    val b0 = change(0, 30, 1L, "U")
    assert(LakeSink.mergeBatch(root, "cdc", 0L, b0, "id"))
    assert(!LakeSink.mergeBatch(root, "cdc", 0L, b0, "id"),
      "a replayed merge batch must be skipped whole")
    val b1 = change(20, 40, 2L, "U")
      .unionByName(change(0, 10, 3L, "D"))
    assert(LakeSink.mergeBatch(root, "cdc", 1L, b1, "id"))
    val out = LakeTable.scan(spark, root)
    assert(out.count() == 90) // 100 - 10 deleted
    assert(out.where(col("id") === 25).select("name").head().getString(0)
      == "v2_25", "batch-1 upsert must win over batch-0")
    assert(out.where(col("id") === 15).select("name").head().getString(0)
      == "v1_15", "batch-0 upsert must survive where batch-1 silent")
  }

  test("the append sink evolves the table schema when asked") {
    val root = freshRoot()
    LakeTable.create(spark, root, seed(0, 20), Seq("id"), nFiles = 1)
    import spark.implicits._
    val evolved = (20 until 30)
      .map(i => (i.toLong, s"n_$i", s"l${i % 3}"))
      .toDF("id", "name", "lang")
    // without the flag the sink's append refuses the wider batch
    intercept[IllegalArgumentException] {
      LakeSink.addBatch(root, "evo", 0L, evolved)
    }
    assert(LakeSink.addBatch(root, "evo", 0L, evolved, mergeSchema = true))
    assert(!LakeSink.addBatch(root, "evo", 0L, evolved, mergeSchema = true),
      "idempotence must survive the evolution path")
    val out = LakeTable.scan(spark, root)
    assert(out.schema.fieldNames.toSeq == Seq("id", "name", "lang"))
    assert(out.where(col("id") < 20 && col("lang").isNull).count() == 20)
    assert(out.count() == 30)
  }

  test("lake-to-lake via LakeSink is exactly-once end to end") {
    val src = freshRoot()
    val dst = freshRoot()
    val ckpt = tempDir("lake_l2l").toString
    LakeTable.create(spark, src, seed(0, 60), Seq("id"), nFiles = 1)
    LakeTable.create(spark, dst, seed(0, 0), Seq("id"), nFiles = 1)

    def run(): Unit = {
      val q = spark.readStream.format("graft-lake").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(LakeSink.writer(dst, "l2l")).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    LakeTable.append(spark, src, seed(60, 90), nFiles = 1)
    run() // second incarnation: resumes source offset, sink dedups batches
    assert(ids(LakeTable.scan(spark, dst)) == (0L until 90L))
  }
}
