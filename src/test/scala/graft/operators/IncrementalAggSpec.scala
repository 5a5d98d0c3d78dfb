package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  private val rows = Seq(
    ("a", 10L), ("a", 20L), ("a", -5L),
    ("b", 100L), ("b", 300L),
    ("c", 7L))

  private def full = IncrementalAgg.partial(
    rows.toDF("g", "v"), Seq("g"), "v")

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("merge of split partials equals the single-pass aggregate") {
    val (left, right) = rows.splitAt(3)
    val merged = IncrementalAgg.merge(
      Seq(left, right).map(b => IncrementalAgg.partial(b.toDF("g", "v"), Seq("g"), "v")),
      Seq("g"))
    assert(asMap(merged) == asMap(full))
  }

  test("merge is order- and batching-insensitive (associativity)") {
    val batches = rows.grouped(2)
      .map(b => IncrementalAgg.partial(b.toDF("g", "v"), Seq("g"), "v"))
      .toSeq
    assert(asMap(IncrementalAgg.merge(batches, Seq("g"))) ==
      asMap(IncrementalAgg.merge(batches.reverse, Seq("g"))))
    // nested re-merge: merge(merge(b0,b1), b2) == merge(b0,b1,b2)
    val nested = IncrementalAgg.merge(
      Seq(IncrementalAgg.merge(batches.take(2), Seq("g")), batches(2)), Seq("g"))
    assert(asMap(nested) == asMap(full))
  }

  test("a group absent from one batch merges correctly") {
    val b1 = IncrementalAgg.partial(Seq(("a", 1L)).toDF("g", "v"), Seq("g"), "v")
    val b2 = IncrementalAgg.partial(Seq(("b", 2L)).toDF("g", "v"), Seq("g"), "v")
    val m = asMap(IncrementalAgg.merge(Seq(b1, b2), Seq("g")))
    assert(m == Map("a" -> (1L, 1L, 1L, 1L), "b" -> (1L, 2L, 2L, 2L)))
  }

  test("state save/load round-trips bit-equal and merges with a new batch") {
    val dir = tempDir("incagg").toString
    val (hist, batch) = rows.splitAt(4)
    val state = IncrementalAgg.partial(hist.toDF("g", "v"), Seq("g"), "v")
    IncrementalAgg.save(state, s"$dir/state")
    val loaded = IncrementalAgg.load(spark, s"$dir/state")
    assert(asMap(loaded) == asMap(state))
    val updated = IncrementalAgg.merge(
      Seq(loaded, IncrementalAgg.partial(batch.toDF("g", "v"), Seq("g"), "v")),
      Seq("g"))
    assert(asMap(updated) == asMap(full))
  }

  test("finish derives avg from exact components") {
    val f = IncrementalAgg.finish(full)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(f("a") == 25.0 / 3.0 && f("b") == 200.0 && f("c") == 7.0)
  }

  test("missing state columns refuse loudly") {
    intercept[IllegalArgumentException] {
      IncrementalAgg.merge(Seq(rows.toDF("g", "v")), Seq("g"))
    }
  }
}
