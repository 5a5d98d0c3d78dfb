package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CdcMergeSpec extends SparkSuite {
  import spark.implicits._

  private def row(k: Long, status: String, v: Long, version: Long, op: String) =
    (k, status, v, version, op)
  private def df(rows: (Long, String, Long, Long, String)*): DataFrame =
    rows.toDF("k", "status", "total", "version", "op")
  private def setOf(d: DataFrame): Set[(Long, String, Long)] =
    d.select("k", "status", "total").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private val base = df(
    row(1, "OPEN", 100, 0, "U"),
    row(2, "OPEN", 200, 0, "U"),
    row(3, "OPEN", 300, 0, "U"),
    row(4, "OPEN", 400, 0, "U"))

  test("upsert, insert, delete resolve latest-wins; untouched rows pass through") {
    val day1 = df(
      row(2, "SHIPPED", 222, 1, "U"), // update
      row(5, "NEW", 555, 1, "U"),     // insert (not in base)
      row(3, "", 0, 1, "D"))          // delete
    val out = CdcMerge.merge(base, day1, Seq("k"))
    assert(setOf(out) == Set(
      (1L, "OPEN", 100L), (2L, "SHIPPED", 222L),
      (4L, "OPEN", 400L), (5L, "NEW", 555L)))
    // closure: output schema == input schema, survivors are op='U'
    assert(out.columns.toSeq == base.columns.toSeq)
    assert(out.where(col("op") === "D").count() == 0)
  }

  test("chained daily merges == one latest-wins compaction over everything") {
    val day1 = df(row(2, "SHIPPED", 222, 1, "U"), row(3, "", 0, 1, "D"))
    val day2 = df(
      row(2, "DELIVERED", 223, 2, "U"), // second update of the same key
      row(3, "REOPENED", 333, 2, "U"),  // resurrection after delete
      row(1, "", 0, 2, "D"))            // late delete
    val chained = CdcMerge.merge(
      CdcMerge.merge(base, day1, Seq("k")), day2, Seq("k"))
    val oneShot = CdcMerge.merge(base, day1.unionByName(day2), Seq("k"))
    assert(setOf(chained) == setOf(oneShot))
    assert(setOf(chained) == Set(
      (2L, "DELIVERED", 223L), (3L, "REOPENED", 333L), (4L, "OPEN", 400L)))
  }

  test("replaying the same changelog is idempotent (at-least-once delivery)") {
    val day1 = df(row(2, "SHIPPED", 222, 1, "U"), row(3, "", 0, 1, "D"))
    val once = CdcMerge.merge(base, day1, Seq("k"))
    val twice = CdcMerge.merge(once, day1, Seq("k"))
    assert(setOf(twice) == setOf(once))
    // the replayed delete must not resurrect, the replayed upsert must
    // not duplicate
    assert(twice.groupBy("k").count().where(col("count") > 1).count() == 0)
  }

  test("a same-version upsert/delete pair resolves to the delete") {
    val conflicted = df(row(2, "RACED", 999, 1, "U"), row(2, "", 0, 1, "D"))
    val out = CdcMerge.merge(base, conflicted, Seq("k"))
    assert(setOf(out) == Set(
      (1L, "OPEN", 100L), (3L, "OPEN", 300L), (4L, "OPEN", 400L)))
  }

  test("persisted lifecycle: save -> load -> merge day2 matches the in-memory chain") {
    val path = tempDir("graft_cdc").toString
    val day1 = df(row(2, "SHIPPED", 222, 1, "U"), row(3, "", 0, 1, "D"))
    val day2 = df(row(3, "REOPENED", 333, 2, "U"))
    CdcMerge.save(CdcMerge.merge(base, day1, Seq("k")), s"$path/base")
    val resumed = CdcMerge.merge(
      CdcMerge.load(spark, s"$path/base"), day2, Seq("k"))
    val inMemory = CdcMerge.merge(
      CdcMerge.merge(base, day1, Seq("k")), day2, Seq("k"))
    assert(setOf(resumed) == setOf(inMemory))
  }

  test("the untouched base never reaches the latest-wins window") {
    // structural scale contract: the window's input is bounded by the
    // changelog (touched base rows + changes); untouched base rows
    // bypass via the anti join. With a 1-row changelog against a
    // 4-row base, the window must read <= 2 rows.
    val day1 = df(row(2, "SHIPPED", 222, 1, "U"))
    val out = CdcMerge.merge(base, day1, Seq("k"))
    out.collect()
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: allNodes(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        s +: allNodes(s.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val windows = allNodes(out.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the latest-wins window")
    val windowInput = windows.map(w =>
      allNodes(w.child).iterator
        .flatMap(_.metrics.get("numOutputRows").map(_.value))
        .nextOption().getOrElse(Long.MaxValue)).min
    assert(windowInput <= 2,
      s"window read $windowInput rows — the untouched base leaked in")
  }
}
