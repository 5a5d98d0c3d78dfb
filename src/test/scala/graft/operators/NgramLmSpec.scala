package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Bigram-LM surprisal semantics on hand-computable corpora: the
  * quantized-bits arithmetic, OOV smoothing, and the DSIR contrast
  * direction (in-domain docs must out-rank out-of-domain ones).
  */
class NgramLmSpec extends SparkSuite {
  import spark.implicits._

  test("bits are floor-log2 of the exact smoothed odds") {
    // corpus "a b", "a b", "a c": V = 3 (a, b, c); contexts c(a) = 3;
    // bigrams c(a,b) = 2, c(a,c) = 1.
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("id", "text")
    val m = NgramLm.fit(corpus, "text")
    assert(m.vocab === 3L)
    // score "a b": den = 3 + 3 = 6, num = 2 + 1 = 3 -> 6 div 3 = 2,
    // bits = 1. score "a c": num = 2 -> 6 div 2 = 3, bits = 1.
    // score "a z" (OOV bigram, seen context): num = 1 -> 6, bits = 2.
    // score "z a" (unseen context): den = 0 + 3, num = 1 -> 3, bits = 1.
    val docs = Seq((10L, "a b"), (11L, "a c"), (12L, "a z"), (13L, "z a"))
      .toDF("doc_id", "text")
    val got = NgramLm.score(docs, "doc_id", "text", m)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "oov_bigrams", "total_bits")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((10L, 1L, 0L, 1L), (11L, 1L, 0L, 1L),
      (12L, 1L, 1L, 2L), (13L, 1L, 1L, 1L)))
  }

  test("docs with fewer than two tokens drop out of the score") {
    val corpus = Seq((1L, "a b c")).toDF("id", "text")
    val m = NgramLm.fit(corpus, "text")
    val docs = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val ids = NgramLm.score(docs, "doc_id", "text", m)
      .select("doc_id").as[Long].collect().toSeq
    assert(ids === Seq(2L))
  }

  test("contrast direction: target-like docs score lower target bits") {
    // target domain repeats "x y" patterns; the off-domain doc uses
    // bigrams the target LM never saw, so its target-model surprisal
    // must be strictly higher at equal length.
    val target = (1L to 20L).map(i => (i, "x y x y x y")).toDF("id", "text")
    val m = NgramLm.fit(target, "text")
    val docs = Seq((100L, "x y x y x y"), (200L, "p q p q p q"))
      .toDF("doc_id", "text")
    val bits = NgramLm.score(docs, "doc_id", "text", m)
      .select("doc_id", "total_bits").as[(Long, Long)].collect().toMap
    assert(bits(100L) < bits(200L))
  }

  test("save/load round trip scores bit-equal to the fitted model") {
    val corpus = (1L to 30L).map(i => (i, s"w${i % 4} w${i % 6} w${i % 3}"))
      .toDF("doc_id", "text")
    val m = NgramLm.fit(corpus, "text")
    val path = tempDir("graft_lm_model").toString
    NgramLm.save(m, path)
    val m2 = NgramLm.load(spark, path)
    assert(m2.vocab === m.vocab)
    val a = NgramLm.score(corpus, "doc_id", "text", m)
      .orderBy("doc_id").collect().toSeq
    val b = NgramLm.score(corpus, "doc_id", "text", m2)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("scoreAll equals per-model score() joined per doc, bit for bit") {
    // the fused one-pass contrastive scorer must be indistinguishable
    // from scoring twice and joining on doc_id — same doc set (>= 2
    // tokens), same n_bigrams, same per-model total bits
    val docs = (1L to 40L).map(i =>
        (i, if (i % 3 == 0) "en" else "de",
          s"w${i % 5} w${i % 7} w${i % 4} w${i % 3}"))
      .toDF("doc_id", "lang", "text")
    val tgt = NgramLm.fit(docs.where(col("lang") === "en"), "text")
    val src = NgramLm.fit(docs, "text")
    val fused = NgramLm.scoreAll(docs, "doc_id", "text",
        Seq("tgt" -> tgt, "src" -> src), carry = Seq("lang"))
      .select("doc_id", "lang", "n_bigrams", "tgt_bits", "src_bits")
      .orderBy("doc_id").collect().toSeq
    val ts = NgramLm.score(docs, "doc_id", "text", tgt, carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("total_bits").as("tgt_bits"))
    val ss = NgramLm.score(docs, "doc_id", "text", src)
      .select(col("doc_id"), col("total_bits").as("src_bits"))
    val twoPass = ts.join(ss, Seq("doc_id"))
      .select("doc_id", "lang", "n_bigrams", "tgt_bits", "src_bits")
      .orderBy("doc_id").collect().toSeq
    assert(fused === twoPass)
    // the shared-explode composition (fitFromBigrams + scoreAllBigrams
    // over ONE docBigrams relation — the sample_lm_contrast shape)
    // must also be bit-identical to the two-pass form
    val db = NgramLm.docBigrams(docs, "text", Seq("doc_id", "lang"))
      .localCheckpoint(eager = false)
    val tgt2 = NgramLm.fitFromBigrams(db.where(col("lang") === "en"),
      NgramLm.vocabOf(docs.where(col("lang") === "en"), "text"))
    val src2 = NgramLm.fitFromBigrams(db, NgramLm.vocabOf(docs, "text"))
    assert(tgt2.vocab === tgt.vocab && src2.vocab === src.vocab)
    val shared = NgramLm.scoreAllBigrams(db, Seq("doc_id", "lang"),
        Seq("tgt" -> tgt2, "src" -> src2))
      .select("doc_id", "lang", "n_bigrams", "tgt_bits", "src_bits")
      .orderBy("doc_id").collect().toSeq
    assert(shared === twoPass)
  }

  test("scoreAll refuses a malformed or duplicate model name up front") {
    val corpus = Seq((1L, "a b")).toDF("doc_id", "text")
    val m = NgramLm.fit(corpus, "text")
    val bad = intercept[IllegalArgumentException](
      NgramLm.scoreAll(corpus, "doc_id", "text", Seq("tgt bits" -> m)))
    assert(bad.getMessage.contains("'tgt bits' is not an identifier"))
    val dup = intercept[IllegalArgumentException](
      NgramLm.scoreAll(corpus, "doc_id", "text", Seq("tgt" -> m, "tgt" -> m)))
    assert(dup.getMessage.contains("must be distinct: tgt, tgt"))
  }

  test("score partial-aggregates map-side (accumulation-order free)") {
    // same doc content split across partitions must fold identically
    // regardless of partitioning — repartition and compare
    val corpus = (1L to 50L).map(i => (i, s"t${i % 7} t${i % 5} t${i % 3}"))
      .toDF("id", "text")
    val m = NgramLm.fit(corpus, "text")
    val a = NgramLm.score(corpus.toDF("doc_id", "text"), "doc_id", "text", m)
      .orderBy("doc_id").collect().toSeq
    val b = NgramLm.score(corpus.toDF("doc_id", "text").repartition(7),
      "doc_id", "text", m).orderBy("doc_id").collect().toSeq
    assert(a === b)
  }
}
