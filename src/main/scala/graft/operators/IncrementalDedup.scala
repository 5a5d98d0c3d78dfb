package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental deduplication of a NEW batch against an EXISTING
  * corpus via a persisted fingerprint index — the daily-ingest shape
  * of a growing training corpus: the old corpus is represented by
  * (exact content hash, MinHash signature) rows ONLY, so admitting a
  * batch never rescans old text. Complements [[ExactDedup]] /
  * [[MinHashLSH]] (whole-corpus, one-shot) and [[Bloom]]-based
  * decontamination (approximate membership, no near-dup notion).
  *
  * A batch document is rejected when it is
  *  - an EXACT duplicate: its content hash appears in the index; or
  *  - a NEAR duplicate: it collides with an indexed signature on at
  *    least one LSH band AND at least `minAgree` of the
  *    `p.numHashes` signature components agree. Signature agreement
  *    is the standard unbiased Jaccard estimate (Broder 1997) —
  *    the only estimate available incrementally, because the index
  *    deliberately does not retain text or shingle sets. The
  *    threshold is an integer match count, so the decision is exact
  *    arithmetic on both engines (no double compare).
  *
  * Scale shape: fingerprinting the batch is one codegen projection;
  * the exact check is a hash-only semi-join; near-dup candidates
  * come from the shared raw-tuple band equi-join
  * ([[MinHashLSH.bandKeys]]) between batch and index — never a scan
  * of the corpus product — and agreement is evaluated per candidate
  * only. Index rows are ~(8 + 8·numHashes) bytes per document
  * (~0.5 KB at the default 64 hashes), independent of document size.
  *
  * Index lifecycle: [[fitIndex]] → [[save]] / [[load]] → [[filterNew]]
  * → [[appended]] (admit the survivors' fingerprints) → save. A
  * fit→save→load→filter round trip is pinned bit-equal to
  * fit→filter in IncrementalDedupSpec.
  */
object IncrementalDedup {

  /** Fingerprint index of a corpus: one row per document,
    * (idCol, xh BIGINT, sig ARRAY<BIGINT>); `sig` is NULL for
    * documents shorter than `p.shingleSize` tokens (they participate
    * in the exact check only).
    */
  def fitIndex(docs: DataFrame, idCol: String, textCol: String,
               p: MinHashLSH.Params = MinHashLSH.Params()): DataFrame =
    // ONE projection — hash and conditional signature together (the
    // condition mirrors MinHashLSH.signatures' short-doc filter); a
    // hash-scan joined back to a signature-scan would cost an extra
    // pass plus an id shuffle on every index build and admission
    docs.select(col(idCol), xxhash64(col(textCol)).as("xh"),
      when(size(split(col(textCol), " ")) >= p.shingleSize,
        graft.expressions.MinHashSignature(
          col(textCol), p.shingleSize, p.numHashes, p.seed))
        .as("sig"))

  def save(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The grown index after admitting `survivors`' fingerprints. */
  def appended(index: DataFrame, survivorIndex: DataFrame): DataFrame =
    index.unionByName(survivorIndex)

  /** Merge two fingerprint indexes built from different corpus
    * splits: `primary` survives whole; `secondary` rows that are
    * exact (same content hash) or near (band collision + >= minAgree
    * signature components) duplicates of a PRIMARY row are dropped.
    * The compaction shape of a sharded ingest — two crawls indexed
    * independently, merged without ever touching document text: the
    * decision runs entirely on the ~0.5 KB/doc fingerprints, so
    * compacting two billion-doc indexes moves gigabytes, not the
    * corpus. (Secondary-vs-secondary duplicates are NOT resolved
    * here — each input is assumed internally deduplicated by its own
    * admission path; this mirrors [[filterNew]]'s batch contract.)
    *
    * Same candidate discipline as [[filterNew]]: exact check is a
    * hash-only semi-join, near-dup candidates come from the band
    * equi-join with the `maxBucket` cap on the primary side (a `drop`
    * [[BucketCapEvent]]: near-dups hiding in dropped buckets are KEPT).
    */
  def compact(primary: DataFrame, secondary: DataFrame, idCol: String,
              minAgree: Int, p: MinHashLSH.Params = MinHashLSH.Params(),
              maxBucket: Option[Long] = None): DataFrame = {
    require(minAgree >= 1 && minAgree <= p.numHashes,
      s"minAgree must be in 1..${p.numHashes}, got $minAgree")
    // read by the exact join, the band join, and the agreement join
    val sec = secondary.localCheckpoint(eager = false)
    val exactDup = sec
      .join(primary.select(col("xh")).distinct(), Seq("xh"), "left_semi")
      .select(col(idCol))
    val pBands = {
      val banded = MinHashLSH.bandKeys(
        primary.where(col("sig").isNotNull).select(col(idCol), col("sig")),
        idCol, p)
      maxBucket.fold(banded)(HotSplit.dropOversized(banded,
        Seq("band", "key"), _, "IncrementalDedup.compact"))
    }
    val sBands = MinHashLSH.bandKeys(
      sec.where(col("sig").isNotNull).select(col(idCol), col("sig")), idCol, p)
    val cands = sBands.as("l").join(pBands.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col(s"l.$idCol").as("sid"), col(s"r.$idCol").as("pid"))
      .distinct()
    val agreeMatches = size(filter(
      zip_with(col("ss"), col("sp"), (x, y) => x === y), b => b))
    val nearDup = cands
      .join(sec.select(col(idCol).as("sid"), col("sig").as("ss")), Seq("sid"))
      .join(primary.select(col(idCol).as("pid"), col("sig").as("sp")), Seq("pid"))
      .where(agreeMatches >= minAgree)
      .select(col("sid").as(idCol))
    val survivors = sec.join(
      exactDup.unionByName(nearDup).distinct(), Seq(idCol), "left_anti")
    primary.unionByName(survivors)
  }

  /** Batch rows that are neither exact nor near duplicates of the
    * indexed corpus (within-batch duplicates are NOT resolved here —
    * that is [[ExactDedup]] / [[MinHashLSH]]'s one-shot job).
    *
    * @param minAgree integer agreement threshold out of
    *   `p.numHashes` signature components (e.g. 45/64 ≈ Jaccard 0.7)
    * @param maxBucket per-band-bucket cap on the INDEX side (SCALE.md
    *   cliff #2 — boilerplate mega-clusters in the corpus flood a band
    *   bucket; batch-side buckets are batch-bounded): near-dups hiding
    *   in dropped buckets are ADMITTED, reported as a `drop`
    *   [[BucketCapEvent]]
    */
  def filterNew(batch: DataFrame, idCol: String, textCol: String,
                index: DataFrame, minAgree: Int,
                p: MinHashLSH.Params = MinHashLSH.Params(),
                maxBucket: Option[Long] = None): DataFrame = {
    require(minAgree >= 1 && minAgree <= p.numHashes,
      s"minAgree must be in 1..${p.numHashes}, got $minAgree")
    val bIdx = fitIndex(batch, idCol, textCol, p)
      .localCheckpoint(eager = false) // read by exact + band + agreement
    val exactDup = bIdx
      .join(index.select(col("xh")).distinct(), Seq("xh"), "left_semi")
      .select(col(idCol))
    val iBands = {
      val banded = MinHashLSH.bandKeys(
        index.where(col("sig").isNotNull).select(col(idCol), col("sig")),
        idCol, p)
      maxBucket.fold(banded)(HotSplit.dropOversized(banded,
        Seq("band", "key"), _, "IncrementalDedup.filterNew"))
    }
    val bBands = MinHashLSH.bandKeys(
      bIdx.where(col("sig").isNotNull).select(col(idCol), col("sig")), idCol, p)
    val cands = bBands.as("l").join(iBands.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col(s"l.$idCol").as("bid"), col(s"r.$idCol").as("oid"))
      .distinct()
    val agreeMatches = size(filter(
      zip_with(col("sb"), col("so"), (x, y) => x === y), b => b))
    val nearDup = cands
      .join(bIdx.select(col(idCol).as("bid"), col("sig").as("sb")), Seq("bid"))
      .join(index.select(col(idCol).as("oid"), col("sig").as("so")), Seq("oid"))
      .where(agreeMatches >= minAgree)
      .select(col("bid").as(idCol))
    batch.join(exactDup.unionByName(nearDup).distinct(), Seq(idCol), "left_anti")
  }
}
