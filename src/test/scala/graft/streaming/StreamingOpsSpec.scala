package graft.streaming

import graft.SparkSuite
import graft.operators.TopNConfig
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.collection.mutable

class StreamingOpsSpec extends SparkSuite {
  import spark.implicits._

  test("perBatchTopN applies batch TopN independently per micro-batch (CDAP parity)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val collected = mutable.Map[Long, Seq[(Long, Double)]]()

    val query = StreamingOps.perBatchTopN(
        ms.toDF().toDF("id", "score"), TopNConfig("score", 2)) {
      (df, batchId) =>
        collected.synchronized {
          collected(batchId) =
            df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        }
    }.start()

    try {
      ms.addData((1L, 10.0), (2L, 50.0), (3L, 30.0))
      query.processAllAvailable()
      ms.addData((4L, 5.0), (5L, 99.0))
      query.processAllAvailable()
    } finally query.stop()

    val batches = collected.toSeq.sortBy(_._1).map(_._2)
    assert(batches.size == 2)
    // batch 0: top-2 of {10,50,30} = [50, 30]; batch 1 is independent: [99, 5]
    assert(batches(0) == Seq((2L, 50.0), (3L, 30.0)))
    assert(batches(1) == Seq((5L, 99.0), (4L, 5.0)))
  }

  test("perBatchDriftMonitor flags a shifted batch against the static reference") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    // reference: uniform over bins 0..3 (25 values each)
    val ref = (0L until 100L).map(i => (i % 4) * 10L + 5L).toDF("v")
    val collected = mutable.Map[Long, Map[Long, Boolean]]()

    val query = StreamingOps.perBatchDriftMonitor(
        ms.toDF().toDF("v"), ref, "v", binWidth = 10L, thresholdPct = 10) {
      (df, batchId) =>
        collected.synchronized {
          collected(batchId) = df.collect()
            .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
        }
    }.start()

    try {
      // batch 0 mirrors the reference -> no drift anywhere
      ms.addData((0L until 100L).map(i => (i % 4) * 10L + 5L): _*)
      query.processAllAvailable()
      // batch 1 collapses onto bin 9 -> every bin drifts
      ms.addData((0L until 50L).map(_ => 95L): _*)
      query.processAllAvailable()
    } finally query.stop()

    assert(collected(0L).values.forall(_ == false))
    assert(collected(1L).keySet == Set(0L, 1L, 2L, 3L, 9L))
    assert(collected(1L).values.forall(_ == true))
  }

  test("windowedEventAgg: event-time windows with watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = ms.toDF().toDF("ts", "event_type", "value")

    val query = StreamingOps.windowedEventAgg(stream, "ts", "10 minutes", "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("winagg")
      .start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData((t(1, 5), "click", 1.0), (t(1, 40), "click", 3.0), (t(2, 10), "buy", 7.0))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("winagg")
      .select(col("window.start").cast("string"), col("event_type"), col("n"), col("mn"), col("mx"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(rows == Set(
      ("2024-01-01 01:00:00", "click", 2L, 1.0, 3.0),
      ("2024-01-01 02:00:00", "buy", 1L, 7.0, 7.0)))
  }

  test("slidingEventAgg: each event lands in windowDuration/slide overlapping windows") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = ms.toDF().toDF("ts", "event_type", "value")

    val query = StreamingOps
      .slidingEventAgg(stream, "ts", "10 minutes", "1 hour", "15 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("hopagg")
      .start()

    try {
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 01:05:00"), "click", 2.0))
      query.processAllAvailable()
    } finally query.stop()

    val starts = spark.table("hopagg")
      .select(col("window.start").cast("string")).collect().map(_.getString(0)).sorted
    // 1h/15m = 4 windows: starts 00:15, 00:30, 00:45, 01:00
    assert(starts.toSeq == Seq("2024-01-01 00:15:00", "2024-01-01 00:30:00",
      "2024-01-01 00:45:00", "2024-01-01 01:00:00"), starts.toSeq)
  }

  test("file-source stream: per-batch top-N over parquet arriving in a watched dir") {
    val dir = tempDir("graft_stream").toString
    val schema = graft.Tables(spark, sf("sf0.001"), "orders").schema
    val collected = mutable.Buffer[Seq[Long]]()

    val stream = spark.readStream.schema(schema).parquet(dir)
    val query = StreamingOps.perBatchTopN(
        stream.select("o_orderkey", "o_custkey", "o_totalprice"),
        TopNConfig("o_totalprice", 3)) { (df, _) =>
      collected.synchronized {
        collected += df.collect().map(_.getLong(0)).toSeq
      }
    }.start()

    try {
      graft.Tables(spark, sf("sf0.001"), "orders").limit(500)
        .write.mode("append").parquet(dir)
      query.processAllAvailable()
    } finally query.stop()

    val batchTop = collected.flatten.toSet
    val expected = graft.operators.TopN.transform(TopNConfig("o_totalprice", 3))(
        spark.read.parquet(dir).select("o_orderkey", "o_custkey", "o_totalprice"))
      .collect().map(_.getLong(0)).toSet
    assert(batchTop == expected)
  }

  test("stream-stream join: clicks joined to purchases within an event-time range") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val c = clicks.toDF().toDF("c_ts", "user_id", "click_id")
      .withWatermark("c_ts", "1 hour")
    val b = buys.toDF().toDF("b_ts", "user_id", "buy_id")
      .withWatermark("b_ts", "1 hour")

    // purchase attributed to clicks in the preceding hour
    val joined = b.join(c,
      b("user_id") === c("user_id") &&
        c("c_ts") <= b("b_ts") && c("c_ts") >= b("b_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("buy_id"), col("click_id"))

    val query = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      clicks.addData((t(1, 0), 7L, 100L), (t(3, 0), 7L, 101L))
      buys.addData((t(1, 30), 7L, 900L)) // within 1h of click 100 only
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("attrib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((900L, 100L)))
  }

  test("stream-stream LEFT OUTER join: unmatched rows emit with nulls once the watermark passes") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val c = clicks.toDF().toDF("c_ts", "user_id", "click_id")
      .withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "user_id", "buy_id")
      .withWatermark("b_ts", "10 minutes")
    // every click, with its purchase within the following hour if any:
    // the outer side can only emit a null-padded row once the
    // watermark proves no match can still arrive — which is the state
    // eviction contract that bounds join state at scale
    val joined = c.join(b,
      c("user_id") === b("user_id") &&
        b("b_ts") >= c("c_ts") && b("b_ts") <= c("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("buy_id"))

    val query = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib_outer").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      clicks.addData((t(1, 0), 7L, 100L), (t(1, 0), 8L, 200L))
      buys.addData((t(1, 30), 7L, 900L)) // user 7 converts; user 8 never does
      query.processAllAvailable()
      // advance BOTH watermarks far past click 200's match horizon
      clicks.addData((t(6, 0), 9L, 300L))
      buys.addData((t(6, 0), 9L, 901L))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("attrib_outer").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows.contains((100L, Some(900L))), s"matched row missing: $rows")
    assert(rows.contains((200L, None)),
      s"watermark-expired unmatched click must emit null-padded: $rows")
  }

  test("native session windows: gap-based sessions with watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val stream = ms.toDF().toDF("ts", "user_id", "value")

    val sessions = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val query = sessions.writeStream.outputMode("complete")
      .format("memory").queryName("sessions").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // user 1: two events 10 min apart (one session), then one 2h later
      ms.addData((t(1, 0), 1L, 1.0), (t(1, 10), 1L, 1.0), (t(3, 30), 1L, 1.0))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("sessions")
      .select(col("user_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == Seq((1L, 1L), (1L, 2L))) // one 2-event session, one singleton
  }

  test("streamingGapSessionize: lag-gap sessions match the batch q_sessionize rule") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val stream = ms.toDF().toDF("ts", "user_id", "event_id")
    val gapUs = 30L * 60 * 1000000L
    val out = StreamingOps.streamingGapSessionize(
      stream, "user_id", "event_id", "ts", gapUs, "10 minutes")
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName("gapsess").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // user 1: events 10 min apart (one session) then 2h later (new
      // session); user 2: exactly-gap-apart events MERGE (the > gap
      // rule, same boundary semantics as the batch query). The second
      // batch delivers user 1's late-session event out of order
      // WITHIN the batch (id 4 before id 3 in arrival, ts order 3, 4)
      ms.addData((t(1, 0), 1L, 1L), (t(1, 10), 1L, 2L),
        (t(2, 0), 2L, 10L), (t(2, 30), 2L, 11L))
      query.processAllAvailable()
      ms.addData((t(3, 40), 1L, 4L), (t(3, 30), 1L, 3L))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("gapsess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    def us(h: Int, m: Int) = t(h, m).getTime * 1000L
    assert(rows == Set(
      (1L, 1L, us(1, 0)), (1L, 2L, us(1, 0)),   // session A: 2 events
      (2L, 10L, us(2, 0)), (2L, 11L, us(2, 0)), // exactly-gap merges
      (1L, 3L, us(3, 30)), (1L, 4L, us(3, 30))  // 2h later: new session
    ), s"unexpected sessions: $rows")

    // batch parity: the same rows through the q_sessionize lag/cumsum
    // rule produce the same (event -> session start) partitioning
    val batch = Seq((us(1, 0), 1L, 1L), (us(1, 10), 1L, 2L),
      (us(2, 0), 2L, 10L), (us(2, 30), 2L, 11L),
      (us(3, 30), 1L, 3L), (us(3, 40), 1L, 4L))
      .toDF("tsu", "user_id", "event_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    val idx = batch
      .withColumn("sidx",
        sum(when(col("tsu") - lag(col("tsu"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val starts = idx.groupBy("user_id", "sidx").agg(min("tsu").as("start"))
    val batchSessions = idx.join(starts, Seq("user_id", "sidx"))
      .select(col("user_id"), col("event_id"), col("start"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchSessions == rows,
      s"stream/batch divergence: batch=$batchSessions stream=$rows")
  }

  test("streamingFunnel: staged conversion within the attribution horizon") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val stream = ms.toDF().toDF("ts", "user_id", "event_id", "event_type")
    val hourUs = 3600L * 1000000L
    val out = StreamingOps.streamingFunnel(stream, "user_id", "event_id",
      "ts", "event_type", Seq("view", "click", "purchase"),
      horizonUs = 2 * hourUs, watermarkDelay = "10 minutes")
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName("sfunnel").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def us(h: Int, m: Int) = t(h, m).getTime * 1000L
    try {
      // user 1 converts fully inside the horizon; user 2 views then
      // clicks OUT OF ORDER within the batch (sorted by ts → still
      // advances); user 3's click arrives before any view (no advance)
      ms.addData(
        (t(1, 0), 1L, 1L, "view"), (t(1, 10), 1L, 2L, "click"),
        (t(1, 30), 1L, 3L, "purchase"),
        (t(2, 10), 2L, 11L, "click"), (t(2, 0), 2L, 10L, "view"),
        (t(1, 0), 3L, 20L, "click"))
      query.processAllAvailable()
      // user 2's purchase lands PAST the 2h horizon of its 02:00 view:
      // the expired funnel restarts at stage 0 on a later view instead
      ms.addData((t(4, 30), 2L, 12L, "purchase"), (t(4, 40), 2L, 13L, "view"))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("sfunnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(
      (1L, 0L, us(1, 0)), (1L, 1L, us(1, 10)), (1L, 2L, us(1, 30)),
      (2L, 0L, us(2, 0)), (2L, 1L, us(2, 10)),
      (2L, 0L, us(4, 40)) // restart after expiry, not a stage-2 advance
    ), s"unexpected funnel advances: $rows")

    // batch parity on the completed user: q_funnel's stage rule (min
    // next-type ts strictly after the previous stage) reproduces user
    // 1's advance timestamps
    val ev = Seq((us(1, 0), 1L, "view"), (us(1, 10), 1L, "click"),
      (us(1, 30), 1L, "purchase")).toDF("tsu", "user_id", "event_type")
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("tsu").as("t0"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("tsu") > col("t0"))
      .groupBy("user_id").agg(min("tsu").as("t1"), min("t0").as("t0"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("tsu") > col("t1"))
      .groupBy("user_id").agg(min("tsu").as("t2"), min("t0").as("t0"),
        min("t1").as("t1"))
    val batchStages = p.select("t0", "t1", "t2").head()
    assert((batchStages.getLong(0), batchStages.getLong(1),
      batchStages.getLong(2)) == (us(1, 0), us(1, 10), us(1, 30)))
  }

  test("streamingFunnel: a COMPLETED funnel restarts at stage 0 past the horizon") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val stream = ms.toDF().toDF("ts", "user_id", "event_id", "event_type")
    val hourUs = 3600L * 1000000L
    val horizonUs = 2 * hourUs
    val out = StreamingOps.streamingFunnel(stream, "user_id", "event_id",
      "ts", "event_type", Seq("view", "click", "purchase"),
      horizonUs = horizonUs, watermarkDelay = "10 minutes")
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName("sfunnel_restart").start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def us(h: Int, m: Int) = t(h, m).getTime * 1000L
    try {
      // the user COMPLETES the funnel inside the horizon...
      ms.addData(
        (t(1, 0), 1L, 1L, "view"), (t(1, 10), 1L, 2L, "click"),
        (t(1, 30), 1L, 3L, "purchase"))
      query.processAllAvailable()
      // ...then attempts again past the 2h horizon of the first view.
      // The completed funnel's state is still LIVE here (the watermark
      // — max ts 01:30 minus 10 min — never reached the 03:00 timeout
      // before these events arrive), so the restart must happen ON the
      // event, not depend on whether the timeout sweep evicted first.
      ms.addData((t(5, 0), 1L, 4L, "view"), (t(5, 20), 1L, 5L, "click"))
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("sfunnel_restart").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(
      (1L, 0L, us(1, 0)), (1L, 1L, us(1, 10)), (1L, 2L, us(1, 30)),
      (1L, 0L, us(5, 0)), (1L, 1L, us(5, 20)) // fresh second attempt
    ), s"unexpected funnel advances: $rows")

    // Documented batch divergence (first-touch attribution): the
    // q_funnel_windowed rule anchors every stage to the first view
    // EVER, so this multi-attempt user advances each stage at most
    // once — the 05:20 click is past the horizon of the 01:00 anchor
    // and is ignored, while the stream counted a second attempt.
    val ev = Seq((us(1, 0), 1L, "view"), (us(1, 10), 1L, "click"),
      (us(1, 30), 1L, "purchase"), (us(5, 0), 1L, "view"),
      (us(5, 20), 1L, "click")).toDF("tsu", "user_id", "event_type")
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("tsu").as("t0"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("tsu") > col("t0") && col("tsu") - col("t0") <= horizonUs)
      .groupBy("user_id").agg(min("tsu").as("t1"))
    assert(c.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, us(1, 10))))
    assert(rows.count(_._2 == 0L) == 2 && rows.count(_._2 == 1L) == 2)
  }

  test("streamingDedup drops later copies within the watermark horizon") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = ms.toDF().toDF("ts", "doc_id", "text")

    val query = StreamingOps.streamingDedup(stream, "ts", "text", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sdedup")
      .start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData((t(1, 0), 1L, "same text"), (t(1, 5), 2L, "same text"),
        (t(1, 10), 3L, "other text"))
      query.processAllAvailable()
      ms.addData((t(1, 20), 4L, "same text")) // still inside the horizon -> dropped
      query.processAllAvailable()
    } finally query.stop()

    val survivors = spark.table("sdedup").collect().map(_.getLong(1)).toSet
    assert(survivors == Set(1L, 3L)) // first copy of each distinct content
  }

  test("streamingSimhashDedup drops token-multiset duplicates (incl. reordered copies)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = ms.toDF().toDF("ts", "doc_id", "text")

    val query = StreamingOps.streamingSimhashDedup(stream, "ts", "text", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("shdedup")
      .start()

    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      ms.addData(
        (t(1, 0), 1L, "alpha beta gamma delta"),
        (t(1, 5), 2L, "delta gamma beta alpha"), // same bag of tokens -> dup
        (t(1, 10), 3L, "totally different words here"))
      query.processAllAvailable()
      ms.addData((t(1, 20), 4L, "alpha beta gamma delta")) // exact copy in horizon
      query.processAllAvailable()
    } finally query.stop()

    val survivors = spark.table("shdedup").collect().map(_.getLong(1)).toSet
    assert(survivors == Set(1L, 3L)) // 2 (reordered) and 4 (exact) dropped
  }

  test("statefulTopK keeps global top-k across batches (bounded GroupState heap)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Double)]

    val query = StreamingOps.statefulTopK(ms.toDS(), 2)
      .toDF("key", "value")
      .writeStream.outputMode("update").format("memory").queryName("stk")
      .start()

    try {
      ms.addData(("a", 1.0), ("a", 5.0), ("b", 9.0))
      query.processAllAvailable()
      ms.addData(("a", 3.0)) // evicts 1.0 from a's top-2; b untouched this batch
      query.processAllAvailable()

      val afterSecond = spark.table("stk").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      // update-mode sink appends each batch's emissions; the LAST batch
      // emitted only key 'a' with its refreshed global top-2
      val lastBatchA = afterSecond.filter(_._1 == "a").takeRight(2).toSet
      assert(lastBatchA == Set(("a", 5.0), ("a", 3.0)))
    } finally query.stop()
  }

  test("statefulTopKWithTTL evicts idle keys: state restarts from empty after the TTL") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Double)]

    val query = StreamingOps.statefulTopKWithTTL(ms.toDS(), 2, ttlMillis = 100L)
      .toDF("key", "value")
      .writeStream.outputMode("update").format("memory").queryName("stkttl")
      .start()

    // processAllAvailable() HANGS while group-state timeouts are armed
    // (the engine keeps scheduling timeout batches, so "no new data"
    // never latches) — await sink row counts instead; batches run
    // continuously under the default trigger.
    def awaitRows(n: Int): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (spark.table("stkttl").count() < n &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(spark.table("stkttl").count() >= n, s"timed out waiting for $n sink rows")
    }

    try {
      ms.addData(("a", 5.0), ("a", 1.0))
      awaitRows(2) // a emits its top-2 {5.0, 1.0}; TTL armed
      Thread.sleep(1000) // a's TTL lapses; an automatic timeout batch evicts it
      ms.addData(("b", 9.0))
      awaitRows(3)
      ms.addData(("a", 3.0)) // a restarts from EMPTY state
      awaitRows(4)
      Thread.sleep(300) // grace: catch any spurious extra emissions

      val rows = spark.table("stkttl").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      // eviction itself emitted nothing for either key
      assert(rows.count(_._1 == "b") == 1)
      // had a's state survived, the last batch would emit a's top-2
      // (5.0, 3.0) = TWO rows; eviction means exactly one row, 3.0
      val aRows = rows.filter(_._1 == "a")
      assert(aRows.length == 3, s"expected 2 (batch 0) + 1 (restart) rows for a, got ${aRows.toSeq}")
      assert(aRows.last == ("a", 3.0))
    } finally query.stop()
  }

  test("streamingLatestByKey: upsert view, late out-of-order change cannot overwrite") {
    implicit val ctx = spark.sqlContext
    // value = (event ts, payload); Ordering by (ts, payload) — the
    // (ts, unique-id) recency order of q_latest_by_key
    val ms = MemoryStream[(String, (Long, String))]
    val query = StreamingOps.streamingLatestByKey(ms.toDS())
      .toDF("key", "latest")
      .writeStream.outputMode("update").format("memory").queryName("cdc")
      .start()

    try {
      ms.addData(("u1", (10L, "v10")), ("u1", (30L, "v30")), ("u2", (5L, "a5")))
      query.processAllAvailable()
      // late arrival: ts 20 < current 30 must NOT overwrite u1
      ms.addData(("u1", (20L, "LATE")), ("u2", (9L, "a9")))
      query.processAllAvailable()
    } finally query.stop()

    val emitted = spark.table("cdc").collect()
      .map(r => (r.getString(0), r.getStruct(1).getLong(0), r.getStruct(1).getString(1)))
    // last emission per key is the compacted truth
    val last = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (k, rows) => k -> rows.maxBy(_._2)._1 }
    assert(last("u1") == ("u1", 30L, "v30"), s"late row overwrote: ${emitted.toSeq}")
    assert(last("u2") == ("u2", 9L, "a9"))
  }

  test("checkpointed file-sink pipeline restarts exactly-once (no dupes, no loss)") {
    val root = tempDir("graft_eo").toString
    val (src, out, chk) = (s"$root/src", s"$root/out", s"$root/chk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val schema = "doc_id LONG, text STRING"

    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$src/$name")

    // chunking as the pipeline stage: deterministic, append-mode
    def startQ() = graft.operators.TextChunk
      .transform(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet").parquet(s"$src/*"),
        "doc_id", "text", 4, 3)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()

    writeBatch("b1", Seq((1L, "a b c d e"), (2L, "x y")))
    val q1 = startQ()
    try q1.processAllAvailable() finally q1.stop()

    writeBatch("b2", Seq((3L, "p q r s t u v")))
    val q2 = startQ() // RESTART from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out)
    // exactly-once: every (doc, chunk) appears once; nothing lost,
    // nothing re-emitted across the restart
    assert(got.count() == got.select("doc_id", "chunk_idx").distinct().count())
    val perDoc = got.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 5 toks -> starts 0,3 = 2 chunks; 2 toks -> 1; 7 toks -> starts 0,3,6 = 3
    assert(perDoc == Map(1L -> 2L, 2L -> 1L, 3L -> 3L), perDoc)
  }

  test("TextChunk applies to a stream unchanged (batch/stream unification)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // the exact batch operator, applied to an unbounded DataFrame: a
    // narrow generator transform is streamable with append semantics
    val query = graft.operators.TextChunk
      .transform(ms.toDF().toDF("doc_id", "text"), "doc_id", "text", 4, 3)
      .writeStream.outputMode("append").format("memory").queryName("chunks")
      .start()

    try {
      ms.addData((1L, "a b c d e f g"))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("chunks")
      .orderBy("chunk_idx")
      .collect().map(r => (r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("chunk_tokens"), r.getAs[String]("chunk_text")))
    // identical to the batch semantics: starts 0,3,6; last window short
    assert(got.toSeq == Seq((0L, 4L, "a b c d"), (1L, 4L, "d e f g"), (2L, 1L, "g")))
  }

  test("CountMin.build applies to a stream unchanged (linear sketches are streaming-native)") {
    implicit val ctx = spark.sqlContext
    val p = graft.operators.CountMin.Params(depth = 2, width = 32)
    val ms = MemoryStream[Long]
    // the exact batch operator: counters are a running groupBy sum, so
    // update-mode streaming maintains the sketch incrementally — the
    // linearity the batch spec pins is what makes this correct
    val query = graft.operators.CountMin
      .build(ms.toDF().toDF("k"), "k", p)
      .writeStream.outputMode("complete").format("memory").queryName("cms")
      .start()

    try {
      ms.addData(1L, 1L, 2L)
      query.processAllAvailable()
      ms.addData(1L, 3L)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("cms")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.CountMin
      .build(Seq(1L, 1L, 2L, 1L, 3L).toDF("k"), "k", p)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, "streamed counters must equal the batch sketch")
  }

  test("time-decayed counts apply to a stream unchanged (integer-shift weights are streaming-native)") {
    implicit val ctx = spark.sqlContext
    // q_decayed_counts' aggregation: weights are per-row integer
    // shifts from a FIXED reference date (never max(ts), which a
    // stream cannot know), so the score is a running groupBy sum —
    // update/complete-mode streaming maintains it incrementally
    def decayed(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("event_type",
        "least(7, greatest(0, datediff(DATE'2024-02-01', " +
          "to_date(timestamp_micros(ts)))) div 4) AS h")
      .selectExpr("event_type", "shiftleft(1L, 7 - h) AS wgt")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.sum("wgt").as("score_int"))
    val day = 86400L * 1000000L
    val jan1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val rows = Seq((jan1, "view"), (jan1 + 20 * day, "view"),
      (jan1 + 29 * day, "click"), (jan1 + 2 * day, "view"))
    val ms = MemoryStream[(Long, String)]
    val query = decayed(ms.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode("complete").format("memory").queryName("decayed")
      .start()
    try {
      ms.addData(rows.take(2): _*)
      query.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("decayed")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = decayed(rows.toDF("ts", "event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // recency genuinely outranks raw count: ONE day-old click (2^7)
    // beats THREE stale views (1 + 32 + 1)
    assert(batch("click") == 128L && batch("view") == 34L)
  }

  test("stateful ops run unchanged on the RocksDB state store (the disk-backed-state knob)") {
    // SCALE.md prescribes RocksDBStateStoreProvider once per-executor
    // state exceeds heap; prove the documented knob actually carries
    // our stateful operators — same results, disk-backed state
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(String, Double)]
      val query = graft.streaming.StreamingOps
        .statefulTopK(ms.toDS(), k = 2)
        .writeStream.outputMode("update").format("memory")
        .queryName("rocks_topk").start()
      try {
        ms.addData(("a", 1.0), ("a", 5.0), ("a", 3.0))
        query.processAllAvailable()
        ms.addData(("a", 4.0), ("b", 9.0))
        query.processAllAvailable()
      } finally query.stop()
      val rows = spark.table("rocks_topk").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      // last batch emitted a's refreshed top-2 and b's singleton
      assert(rows.filter(_._1 == "a").takeRight(2).toSet ==
        Set(("a", 5.0), ("a", 4.0)), s"got ${rows.toSeq}")
      assert(rows.filter(_._1 == "b").toSet == Set(("b", 9.0)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streamingIncrementalDedup: the index grows, re-sends and near-copies bounce") {
    implicit val ctx = spark.sqlContext
    import graft.operators.IncrementalDedup
    def doc(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
    }
    val initial = IncrementalDedup.fitIndex(
      Seq((1L, doc(1))).toDF("doc_id", "text"), "doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val admitted = mutable.Map[Long, Set[Long]]()
    val query = StreamingOps.streamingIncrementalDedup(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
        initial, minAgree = 45) { (survivors, batchId) =>
      admitted.synchronized {
        admitted(batchId) = survivors.collect().map(_.getLong(0)).toSet
      }
    }.start()
    try {
      // batch 0: fresh doc 10 admitted; doc 11 = exact copy of the
      // pre-indexed doc 1 -> bounced
      ms.addData((10L, doc(10)), (11L, doc(1)))
      query.processAllAvailable()
      // batch 1: exact re-send of 10 (admitted LAST batch -> index
      // must have grown) and a near-copy of it -> both bounced;
      // fresh doc 12 admitted
      val near10 = doc(10).split(" ").zipWithIndex
        .map { case (w, i) => if (i % 40 == 3) "CHANGED" else w }.mkString(" ")
      ms.addData((20L, doc(10)), (21L, near10), (12L, doc(12)))
      query.processAllAvailable()
    } finally query.stop()
    assert(admitted(0L) == Set(10L), s"batch 0: ${admitted.toMap}")
    assert(admitted(1L) == Set(12L), s"batch 1: ${admitted.toMap}")
  }

  test("streamingIntervalJoin: lookback window, key isolation, " +
      "cross-batch matching") {
    implicit val ctx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val lms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamingOps.streamingIntervalJoin(
      lms.toDF().toDF("k", "p_ts", "pid"),
      rms.toDF().toDF("k", "c_ts", "cid"),
      keyCol = "k", leftTs = "p_ts", rightTs = "c_ts",
      lookbackUs = 10L * 60 * 1000000, // 10 minutes
      watermarkDelay = "1 hour")
    val q = joined.select("pid", "cid").writeStream
      .outputMode("append").format("memory")
      .queryName("ssj_spec").start()
    try {
      // batch 1: clicks only — nothing can match yet
      rms.addData((1L, ts(0), 100L), (1L, ts(55), 101L), (2L, ts(58), 200L))
      q.processAllAvailable()
      assert(spark.table("ssj_spec").count() == 0)
      // batch 2: purchases arrive LATER than their clicks (cross-batch):
      // k=1 @60 matches click 101 (5 min back) but not 100 (60 min) and
      // not k=2's 200 (key isolation); k=3 @60 matches nothing
      lms.addData((1L, ts(60), 1000L), (3L, ts(60), 3000L))
      q.processAllAvailable()
      val got = spark.table("ssj_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1000L, 101L)), got)
      // batch 3: a right row arriving after its purchase still matches
      // (inner-join emission is arrival-order independent)
      rms.addData((3L, ts(52), 300L))
      q.processAllAvailable()
      val got2 = spark.table("ssj_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 == Set((1000L, 101L), (3000L, 300L)), got2)
    } finally q.stop()
  }

  test("statefulTopKTws: cross-batch heap merge on the state-v2 API " +
      "(transformWithState, RocksDB store)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(String, (Double, Long))]
      val q = StreamingOps.statefulTopKTws(ms.toDS(), k = 2).toDF()
        .select(col("_1").as("t"), col("_2._1").as("v"), col("_2._2").as("id"))
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_topk_spec").start()
      try {
        ms.addData(("a", (1.0, 10L)), ("a", (5.0, 11L)), ("b", (2.0, 20L)))
        q.processAllAvailable()
        // batch 2 must merge against batch 1's persisted heap: 3.0
        // displaces 1.0 for key a; 9.0 joins b's heap
        ms.addData(("a", (3.0, 12L)), ("b", (9.0, 21L)))
        q.processAllAvailable()
        val fin = spark.table("tws_topk_spec")
          .select("t", "v", "id").distinct().collect()
          .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
          .groupBy(_._1).map { case (t, rows) =>
            t -> rows.map(r => (r._2, r._3)).sorted(
              Ordering[(Double, Long)].reverse).take(2).toSet
          }
        assert(fin("a") == Set((5.0, 11L), (3.0, 12L)), fin)
        assert(fin("b") == Set((9.0, 21L), (2.0, 20L)), fin)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streamingIntervalJoin left_outer: matches emit eagerly, " +
      "unmatched lefts flush only when the watermark passes them") {
    implicit val ctx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val lms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamingOps.streamingIntervalJoin(
      lms.toDF().toDF("k", "p_ts", "pid"),
      rms.toDF().toDF("k", "c_ts", "cid"),
      keyCol = "k", leftTs = "p_ts", rightTs = "c_ts",
      lookbackUs = 10L * 60 * 1000000,
      watermarkDelay = "5 minutes", joinType = "left_outer")
    val q = joined.select("pid", "cid").writeStream
      .outputMode("append").format("memory")
      .queryName("ssloj_spec").start()
    def rows() = spark.table("ssloj_spec").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    try {
      // k=1 purchase has a click 5 min back (matches); k=2 has none
      rms.addData((1L, ts(55), 101L))
      lms.addData((1L, ts(60), 1000L), (2L, ts(60), 2000L))
      q.processAllAvailable()
      // the match emits eagerly; the unmatched k=2 purchase must NOT
      // emit yet — watermark (60-5=55) has not passed p_ts=60
      assert(rows() == Set((1000L, 101L)), rows())
      // far-future rows push both watermarks past 60: the engine can
      // now prove no click for k=2 can arrive, so the outer row flushes
      // (distinct keys so the sentinels cannot match each other; the
      // left sentinel itself flushes as an outer row once seen past)
      lms.addData((8L, ts(1000), 9000L))
      rms.addData((9L, ts(1000), 9001L))
      q.processAllAvailable()
      assert(rows() == Set((1000L, 101L), (2000L, -1L)), rows())
    } finally q.stop()
  }

  test("streamingIntervalJoin refuses overlapping non-key column names") {
    implicit val ctx = spark.sqlContext
    val lms = MemoryStream[(Long, java.sql.Timestamp)]
    val rms = MemoryStream[(Long, java.sql.Timestamp)]
    val e = intercept[IllegalArgumentException] {
      StreamingOps.streamingIntervalJoin(
        lms.toDF().toDF("k", "ts"), rms.toDF().toDF("k", "ts"),
        "k", "ts", "ts", 1000000L, "1 hour")
    }
    assert(e.getMessage.contains("disjoint"))
  }
}
