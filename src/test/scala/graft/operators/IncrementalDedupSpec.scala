package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  private val P = MinHashLSH.Params()

  // corpus: two long distinct docs + one short (no signature possible)
  private def mkDoc(seed: Int, words: Int = 60): String = {
    val rnd = new scala.util.Random(seed)
    (1 to words).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
  }

  private val oldDocs = Seq(
    (1L, mkDoc(1)), (2L, mkDoc(2)), (3L, "tiny doc")
  ).toDF("doc_id", "text")

  test("exact re-ingest is rejected; fresh docs survive") {
    val idx = IncrementalDedup.fitIndex(oldDocs, "doc_id", "text", P)
    val batch = Seq(
      (10L, mkDoc(1)),   // byte-identical to doc 1
      (11L, mkDoc(99)),  // fresh
      (12L, "tiny doc")  // byte-identical short doc (exact check only)
    ).toDF("doc_id", "text")
    val out = IncrementalDedup.filterNew(batch, "doc_id", "text", idx, minAgree = 45, P)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L))
  }

  test("near-duplicate of an indexed doc is rejected via signature agreement") {
    val base = mkDoc(7, words = 80)
    // perturb lightly: change 2 of 80 words (~6 of 78 shingles ->
    // Jaccard ~0.86 -> expected agreement ~55/64)
    val words = base.split(" ")
    val nearCopy = words.zipWithIndex
      .map { case (w, i) => if (i % 40 == 3) "CHANGED" + i else w }.mkString(" ")
    val idx = IncrementalDedup.fitIndex(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", P)
    val batch = Seq((20L, nearCopy), (21L, mkDoc(1234))).toDF("doc_id", "text")
    val out = IncrementalDedup.filterNew(batch, "doc_id", "text", idx, minAgree = 40, P)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(21L), s"near copy must be rejected, got $out")
  }

  test("fit -> save -> load -> filter equals fit -> filter bit-exactly") {
    val idx = IncrementalDedup.fitIndex(oldDocs, "doc_id", "text", P)
    val dir = tempDir("graft_incidx").toString
    IncrementalDedup.save(idx, dir)
    val loaded = IncrementalDedup.load(spark, dir)
    val batch = Seq((10L, mkDoc(1)), (11L, mkDoc(99))).toDF("doc_id", "text")
    val a = IncrementalDedup.filterNew(batch, "doc_id", "text", idx, 45, P)
      .orderBy("doc_id").collect().toSeq
    val b = IncrementalDedup.filterNew(batch, "doc_id", "text", loaded, 45, P)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("compact: primary survives whole; secondary exact/near dups drop, " +
      "fresh secondary rows survive; compaction is idempotent") {
    val base = mkDoc(7, words = 80)
    val words = base.split(" ")
    val nearCopy = words.zipWithIndex
      .map { case (w, i) => if (i % 40 == 3) "CHANGED" + i else w }.mkString(" ")
    val primary = IncrementalDedup.fitIndex(
      Seq((1L, base), (2L, mkDoc(2)), (3L, "tiny doc")).toDF("doc_id", "text"),
      "doc_id", "text", P)
    val secondary = IncrementalDedup.fitIndex(Seq(
        (10L, base),       // exact twin of primary 1
        (11L, nearCopy),   // near twin of primary 1
        (12L, "tiny doc"), // exact twin of the short (NULL-sig) doc
        (13L, mkDoc(99))   // fresh
      ).toDF("doc_id", "text"), "doc_id", "text", P)
    val merged = IncrementalDedup.compact(primary, secondary, "doc_id",
      minAgree = 40, P)
    assert(merged.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 13L))
    // survivors keep their index payload verbatim: re-compacting the
    // merged index against the same secondary changes nothing
    val again = IncrementalDedup.compact(merged, secondary, "doc_id",
      minAgree = 40, P)
    assert(again.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 13L))
  }

  test("appended survivors are rejected on the next ingest of the same batch") {
    val idx = IncrementalDedup.fitIndex(oldDocs, "doc_id", "text", P)
    val batch = Seq((11L, mkDoc(99))).toDF("doc_id", "text")
    val survivors = IncrementalDedup.filterNew(batch, "doc_id", "text", idx, 45, P)
    val grown = IncrementalDedup.appended(idx,
      IncrementalDedup.fitIndex(survivors, "doc_id", "text", P))
    val again = IncrementalDedup.filterNew(
      batch.select((col("doc_id") + 100).as("doc_id"), col("text")),
      "doc_id", "text", grown, 45, P)
    assert(again.count() == 0)
  }

  test("replay scrub: a redelivered batch is not rejected by its own fingerprints") {
    // simulate a failed first attempt: the batch's fingerprints were
    // already appended to the index before the delivery crashed
    val batch = Seq((10L, mkDoc(99)), (11L, mkDoc(7))).toDF("doc_id", "text")
    val idx = IncrementalDedup.fitIndex(oldDocs, "doc_id", "text", P)
    val polluted = IncrementalDedup.appended(idx,
      IncrementalDedup.fitIndex(batch, "doc_id", "text", P))
    // naive re-filter against the polluted index self-rejects everything
    assert(IncrementalDedup.filterNew(batch, "doc_id", "text",
      polluted, 45, P).count() == 0)
    // the streaming loop's scrub (anti-join on the batch's own ids)
    // restores the first-attempt admission decision exactly
    val scrubbed = polluted.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
    val replayed = IncrementalDedup.filterNew(batch, "doc_id", "text",
      scrubbed, 45, P).orderBy("doc_id").collect().toSeq
    val firstTime = IncrementalDedup.filterNew(batch, "doc_id", "text",
      idx, 45, P).orderBy("doc_id").collect().toSeq
    assert(replayed == firstTime && replayed.nonEmpty)
  }

  test("index-side bucket cap admits hidden near-dups loudly (documented loss)") {
    // corpus of 30 identical docs floods every band bucket
    val boiler = mkDoc(5)
    val corpus = (1L to 30L).map(i => (i, boiler)).toDF("doc_id", "text")
    val idx = IncrementalDedup.fitIndex(corpus, "doc_id", "text", P)
    // batch doc NEAR the boilerplate (not byte-identical -> exact check misses)
    val nearBoiler = boiler.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 3) "x" else w }.mkString(" ")
    val batch = Seq((100L, nearBoiler)).toDF("doc_id", "text")
    val capped = IncrementalDedup.filterNew(batch, "doc_id", "text", idx,
      minAgree = 40, P, maxBucket = Some(5L))
    assert(capped.count() == 1) // admitted BECAUSE the bucket was dropped
    val uncapped = IncrementalDedup.filterNew(batch, "doc_id", "text", idx,
      minAgree = 40, P)
    assert(uncapped.count() == 0)
  }
}
