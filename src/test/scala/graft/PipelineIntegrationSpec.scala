package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** End-to-end integration of the training-data assembly line — the
  * composition a real corpus build runs, proven to hold together:
  *
  *   documents → quality gate → exact dedup → near-dup keep-one →
  *   chunk → shard → pack → partitioned parquet write
  *
  * Asserts monotone row accounting at every stage, determinism of the
  * final artifact against a repartitioned rerun, and that the written
  * layout is the shard-partitioned form a trainer would consume.
  */
class PipelineIntegrationSpec extends SparkSuite {

  private lazy val docs =
    spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  private def buildCorpus(input: org.apache.spark.sql.DataFrame) = {
    // 1. quality gate: Gopher-ish token-count band (cheap projection)
    val quality = input
      .where(size(split(col("text"), " ")).between(5, 1000))
    // 2. exact dedup: first doc per content hash survives (payload kept)
    val exact = ExactDedup.dropDuplicateContent(quality, "doc_id", "text")
    // 3. near-dup: one representative per MinHash cluster
    val unique = NearDupClusters.dropNearDuplicates(exact, "doc_id", "text",
      threshold = 0.5)
    // 4-6. chunk, shard, pack
    val chunks = TextChunk.transform(unique, "doc_id", "text", 64, 48)
      .withColumn("shard", pmod(Sampling.hashValue(col("doc_id")), lit(4L)))
    TextPack.pack(chunks, "shard", Seq("doc_id", "chunk_idx"),
      "chunk_tokens", binTokens = 256L)
  }

  test("stages compose with monotone row accounting") {
    val n0 = docs.count()
    val quality = docs.where(size(split(col("text"), " ")).between(5, 1000))
    val n1 = quality.count()
    val exact = ExactDedup.dropDuplicateContent(quality, "doc_id", "text")
    val n2 = exact.count()
    val unique = NearDupClusters.dropNearDuplicates(exact, "doc_id", "text", 0.5)
    val n3 = unique.count()
    assert(n1 <= n0 && n2 <= n1 && n3 <= n2, s"$n0 -> $n1 -> $n2 -> $n3")
    assert(n3 > 0)
    val packed = buildCorpus(docs)
    // every surviving doc contributes at least one chunk; no chunk is
    // orphaned from a dropped doc
    assert(packed.select("doc_id").distinct().count() == n3)
  }

  test("final artifact is deterministic under input repartitioning") {
    val a = buildCorpus(docs).collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = buildCorpus(docs.repartition(17)).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b)
  }

  /** The round-7 assembly line: rule gate → bloom decontamination →
    * exact dedup → SEMANTIC dedup (embedding clusters) → chunk/pack.
    * The composition a modern LLM corpus build actually runs — each
    * stage drops rows for a different reason (quality, contamination,
    * byte-identity, meaning-identity) and the accounting must stay
    * monotone with no orphans.
    */
  private def buildCorpusV2(input: org.apache.spark.sql.DataFrame,
                            emb: org.apache.spark.sql.DataFrame) = {
    // 1. rule gate (two of the text_quality_gate conjuncts)
    val nw = size(split(col("text"), " ")).cast("long")
    val gated = input.where(nw.between(25, 80) &&
      functions.TextFunctions.distinctTokenCount(col("text")) * 2 >= nw)
    // 2. bloom decontamination against the held-out split
    val f = gated.select(col("doc_id"), col("text"),
      functions.TextFunctions.fingerprint(col("text")).as("fp"),
      (pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 80)
        .as("is_train"))
    val bits = Bloom.bitset(f.where(!col("is_train")), "fp")
    val train = f.where(col("is_train"))
    val clean = train.join(
      Bloom.mightContain(train, "doc_id", "fp", bits).where(col("bloom_hit")),
      Seq("doc_id"), "left_anti")
    // 3. byte-identity dedup
    val exact = ExactDedup.dropDuplicateContent(
      clean.select("doc_id", "text"), "doc_id", "text")
    // 4. meaning-identity dedup: survivors of the embedding clusters;
    // docs without an embedding row pass through (can't be judged)
    val sem = SemDedup.survivors(
      emb.join(exact.select(col("doc_id").as("vec_id")), Seq("vec_id")),
      p = SemDedup.Params(k = 4, iterations = 2, tau = 0.45))
    val dropped = emb.select(col("vec_id").as("doc_id"))
      .join(sem.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val unique = exact.join(dropped, Seq("doc_id"), "left_anti")
    // 5-6. chunk + pack
    val chunks = TextChunk.transform(unique, "doc_id", "text", 64, 48)
      .withColumn("shard", pmod(Sampling.hashValue(col("doc_id")), lit(4L)))
    TextPack.pack(chunks, "shard", Seq("doc_id", "chunk_idx"),
      "chunk_tokens", binTokens = 256L)
  }

  test("round-7 assembly line: gate -> decontam -> dedup x2 -> pack holds together") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val packed = buildCorpusV2(docs, emb)
    val survivors = packed.select("doc_id").distinct().count()
    assert(survivors > 0 && survivors < docs.count(),
      s"every stage must bite: $survivors of ${docs.count()}")
    // deterministic under repartitioning — the retry/topology contract
    val a = packed.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = buildCorpusV2(docs.repartition(13), emb.repartition(7))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b)
  }

  test("shard-partitioned write produces one directory per shard, reread intact") {
    val out = tempDir("graft_corpus").toString
    val packed = buildCorpus(docs)
      .select("shard", "bin", "bin_offset", "doc_id", "chunk_idx",
        "chunk_tokens", "chunk_text")
    packed.write.partitionBy("shard").mode("overwrite").parquet(out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    val back = spark.read.parquet(out)
    assert(back.count() == packed.count())
    // partition pruning: reading one shard scans only its directory
    val one = back.where(col("shard") === 2)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(one.count() ==
      packed.where(col("shard") === 2).count())
  }

  test("two-day incremental ingest: day-2 admission composes with the gate and pack") {
    // day 1: gate + one-shot dedup builds the corpus AND its
    // fingerprint index (persisted, as an ingest job would)
    val day1 = docs.where(col("doc_id") < 250)
    val day1Corpus = NearDupClusters.dropNearDuplicates(
      ExactDedup.dropDuplicateContent(
        day1.where(size(split(col("text"), " ")).between(5, 1000)),
        "doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    val idxPath = tempDir("graft_day1idx").toString
    IncrementalDedup.save(
      IncrementalDedup.fitIndex(day1Corpus, "doc_id", "text"), idxPath)

    // day 2: a batch containing genuinely new docs AND re-sends of
    // day-1 content under new ids — admission must keep the former
    // and bounce the latter WITHOUT rereading day-1 text
    val fresh = docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
    val resend = day1Corpus.limit(20)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val day2 = fresh.select("doc_id", "text").unionByName(resend)
      .where(size(split(col("text"), " ")).between(5, 1000))
    val idx = IncrementalDedup.load(spark, idxPath)
    val admitted = IncrementalDedup.filterNew(day2, "doc_id", "text",
      idx, minAgree = 45)
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(_ < 500000L), s"re-sent day-1 content admitted: $ids")
    assert(ids.nonEmpty, "day-2 fresh docs must survive")

    // the admitted batch flows into the same chunk->shard->pack tail
    val chunks = TextChunk.transform(admitted, "doc_id", "text", 64, 48)
      .withColumn("shard", pmod(Sampling.hashValue(col("doc_id")), lit(4L)))
    val packed = TextPack.pack(chunks, "shard", Seq("doc_id", "chunk_idx"),
      "chunk_tokens", binTokens = 256L)
    assert(packed.select("doc_id").distinct().count() == ids.size)
  }
}
