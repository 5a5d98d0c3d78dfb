package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every bucket-cap site reports through one [[BucketCapEvent]]: the
  * four drop sites count their over-cap buckets on the caller's own
  * action (no job of their own), the two split sites and the exhausted
  * re-split report the count that chose their plan, and SemDedup
  * reports flat assignment above k = 64.
  */
class BucketCapSpec extends SparkSuite {
  import spark.implicits._

  private val P = MinHashLSH.Params()

  private def mkDoc(seed: Int, words: Int = 60): String = {
    val rnd = new scala.util.Random(seed)
    (1 to words).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
  }

  private val boiler = mkDoc(5)

  /** 12 identical documents and 3 distinct ones. */
  private val floodDocs = ((1L to 12L).map(_ -> boiler) ++
    Seq(20L -> mkDoc(1), 21L -> mkDoc(2), 22L -> mkDoc(3)))
    .toDF("doc_id", "text")

  /** Index of 30 identical documents: each of the 16 bands is one
    * bucket of 30.
    */
  private def floodIndex: DataFrame = IncrementalDedup.fitIndex(
    (1L to 30L).map(_ -> boiler).toDF("doc_id", "text"), "doc_id", "text", P)

  private def batch: DataFrame = Seq(100L -> mkDoc(9), 101L -> boiler.replace(
    boiler.split(" ")(3), "x")).toDF("doc_id", "text")

  private def vectors: DataFrame = ((1L to 6L).map(_ -> Array.fill(64)(1.0f)) ++
    Seq(7L -> Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
    .toDF("vec_id", "embedding")

  /** Each drop site built at `cap`, with its op name and the number of
    * its buckets over the default caps below.
    */
  private def dropSites(cap: Long): Seq[(String, Long, () => DataFrame)] = Seq(
    // 4 16-bit bands, each one bucket of the 12 identical documents
    ("SimHash.pairs", 4L, () => SimHash.pairs(floodDocs, "doc_id", "text",
      maxHamming = 3, maxBucket = Some(cap))),
    ("Multimodal.phashPairs", 4L, () => Multimodal.phashPairs(
      Multimodal.asMediaTable(floodDocs), "doc_id", "payload",
      maxBucket = Some(cap))),
    ("IncrementalDedup.filterNew", 16L, () => IncrementalDedup.filterNew(
      batch, "doc_id", "text", floodIndex, minAgree = 40, P,
      maxBucket = Some(cap))),
    ("IncrementalDedup.compact", 16L, () => IncrementalDedup.compact(
      floodIndex, IncrementalDedup.fitIndex(batch, "doc_id", "text", P),
      "doc_id", minAgree = 40, P, maxBucket = Some(cap))),
    // 4 hyperplane tables, each one bucket of the 6 identical vectors
    ("RandomHyperplaneLSH.nearDupPairs", 4L, () =>
      RandomHyperplaneLSH.nearDupPairs(vectors, threshold = 0.5,
        maxBucket = Some(cap))))

  private def capEvents(body: => Any): Seq[BucketCapEvent] =
    eventsDuring[BucketCapEvent](body)

  test("a drop site reports its over-cap bucket count once per action") {
    for ((op, over, build) <- dropSites(cap = 5L)) {
      val capped = build()
      assert(capEvents(capped.count()) == Seq(BucketCapEvent(op, "drop", over, 5L)),
        op)
      assert(capEvents(capped.collect()) == Seq(BucketCapEvent(op, "drop", over, 5L)),
        s"$op: a second action reports again")
    }
  }

  test("building a capped frame at a drop site runs no Spark job") {
    for ((op, _, build) <- dropSites(cap = 5L))
      assert(jobsDuring(build()) == 0, op)
  }

  test("no drop event when no bucket exceeds the cap") {
    for ((op, _, build) <- dropSites(cap = 100L)) {
      val capped = build()
      assert(capEvents(capped.count()).isEmpty, op)
    }
  }

  test("two capped calls unioned into one plan both run and both report") {
    def pairs = SimHash.pairs(floodDocs, "doc_id", "text", maxHamming = 3,
      maxBucket = Some(5L))
    val both = pairs.union(pairs)
    assert(capEvents(assert(both.count() == 0L)) ==
      Seq.fill(2)(BucketCapEvent("SimHash.pairs", "drop", 4L, 5L)))
  }

  test("split sites report their hot-bucket count once, when built") {
    // every one of the 16 bands is one bucket of the 12 identical docs
    assert(capEvents(MinHashLSH.candidatePairs(floodDocs, "doc_id", "text",
        P, maxBucket = Some(5L)).count()) ==
      Seq(BucketCapEvent("MinHashLSH.candidatePairs", "split", 16L, 5L)))
    // 4 identical x-axis vectors make the one cell over cap 2
    val dup = Seq(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f), 3L -> Seq(0f, 0f, 1f),
      6L -> Seq(1f, 0f, 0f), 7L -> Seq(1f, 0f, 0f), 8L -> Seq(1f, 0f, 0f))
      .toDF("vec_id", "embedding")
    val p = SemDedup.Params(k = 3, iterations = 2, trainFraction = 1.0,
      tau = 0.95)
    assert(capEvents(SemDedup.survivors(dup, p = p.copy(maxCluster = Some(2L)))
        .count()) == Seq(BucketCapEvent("SemDedup", "split", 1L, 2L)))
    assert(capEvents(SemDedup.survivors(dup, p = p.copy(maxCluster = Some(4L)))
      .count()).isEmpty)
    assert(capEvents(MinHashLSH.candidatePairs(floodDocs, "doc_id", "text",
      P, maxBucket = Some(100L)).count()).isEmpty)
  }

  test("a re-split that runs out of depth reports the sub-buckets still over") {
    // identical salts can never separate: one group of 100 stays whole
    val rows = spark.range(100).select(col("id"), lit(7L).as("salt"))
    assert(capEvents(HotSplit.subSplit(rows, Seq.empty, col("salt"), 10L,
        "BucketCapSpec").count()) ==
      Seq(BucketCapEvent("BucketCapSpec", "unsplit", 1L, 10L)))
    assert(capEvents(HotSplit.subSplit(rows, Seq.empty, col("id"), 10L,
      "BucketCapSpec").count()).isEmpty)
  }

  test("SemDedup reports flat assignment above k = 64") {
    val vs = (1L to 8L).map(i => i -> Seq(i.toFloat, 1f, 0f))
      .toDF("vec_id", "embedding")
    def run(k: Int) = capEvents(SemDedup.survivors(vs,
      p = SemDedup.Params(k = k, iterations = 1, trainFraction = 1.0)).count())
    assert(run(65) == Seq(BucketCapEvent("SemDedup.survivors", "flat", 65L, 64L)))
    assert(run(64).isEmpty)
  }
}
