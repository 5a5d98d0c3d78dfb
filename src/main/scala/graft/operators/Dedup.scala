package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline.
  *
  * Scale posture: every variant is one-shuffle-per-stage and never
  * groups full document text —
  *  - exact dedup groups on a 64-bit content hash, so only (hash, id)
  *    pairs cross the shuffle, not document bodies;
  *  - MinHash signatures are a single codegen'd projection per row
  *    ([[graft.expressions.MinHashSignature]]) — no explode, NO
  *    shuffle;
  *  - LSH banding turns the quadratic all-pairs problem into
  *    equi-joins on (band, key), which Spark executes as hash joins.
  */
object ExactDedup {

  /** One row per distinct content: representative id (min) + copy count.
    * Grouping key is a content hash so the shuffle moves a fixed-width
    * key per row instead of the payload.
    *
    * @param wideHash hash width escape hatch for the collision cliff:
    *   false (default) keys on xxhash64 — 8 shuffle bytes, collision
    *   probability ~n^2/2^64, negligible below ~10^9 distinct docs;
    *   true keys on md5 (16 raw bytes via unhex, ~n^2/2^128) — the
    *   right setting for a 100 TB corpus, whose document count is
    *   exactly where the 64-bit birthday bound starts to bite.
    */
  def representatives(df: DataFrame, idCol: String, contentCol: String,
                      wideHash: Boolean = false): DataFrame = {
    val key = if (wideHash) unhex(md5(col(contentCol).cast("binary")))
      else xxhash64(col(contentCol))
    df.groupBy(key.as("__graft_h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__graft_h")
  }

  /** Input minus duplicate rows (keeps the min-id row per content). */
  def dropDuplicateContent(df: DataFrame, idCol: String, contentCol: String,
                           wideHash: Boolean = false): DataFrame = {
    val reps = representatives(df, idCol, contentCol, wideHash).select(idCol)
    df.join(reps, Seq(idCol), "left_semi")
  }
}

/** MinHash + banded LSH near-duplicate detection over word-shingle
  * sets, with exact Jaccard verification of the LSH candidates.
  *
  * Algorithm: Broder, "On the resemblance and containment of
  * documents" (1997) for MinHash resemblance estimation; banding
  * analysis per Leskovec/Rajaraman/Ullman, "Mining of Massive
  * Datasets" ch. 3 (b bands of r rows → collision prob 1-(1-j^r)^b).
  */
object MinHashLSH {

  final case class Params(
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      seed: Long = 42L
  ) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  // Permutation hashing h_i(x) = (a_i x + b_i) mod 2^31-1 lives in
  // TextHashing.minhashSignature; values stay within long range
  // (a_i, x < 2^31 → product < 2^62).

  /** Distinct shingle-hash array per document — one codegen'd
    * single-pass kernel per row (see
    * [[graft.expressions.WordShingleHashes]]), no per-shingle string
    * materialization.
    */
  private def shingleHashArray(textCol: String, p: Params) =
    array_distinct(graft.expressions.WordShingleHashes(col(textCol), p.shingleSize))

  /** MinHash signature: one row per id with an array<bigint> `sig`
    * column of k running mins, computed entirely inside the projection
    * by [[graft.expressions.MinHashSignature]] — no explode, no
    * k-way-min aggregation, NO SHUFFLE. Documents with fewer than
    * `shingleSize` tokens are dropped (empty shingle set — they would
    * otherwise share a degenerate all-P signature and band together).
    */
  def signatures(df: DataFrame, idCol: String, textCol: String, p: Params = Params()): DataFrame =
    df.where(size(split(col(textCol), " ")) >= p.shingleSize)
      .select(col(idCol),
        graft.expressions.MinHashSignature(
          col(textCol), p.shingleSize, p.numHashes, p.seed).as("sig"))

  /** LSH candidate pairs (a < b): ids whose signatures collide on at
    * least one band. Equi-join on (band index, band key).
    *
    * The band key is the raw rowsPerBand-tuple of signature values
    * (a struct, hash-partitionable like any other key), not a 64-bit
    * hash of it: exact banding costs rowsPerBand x 8 bytes of shuffle
    * key width instead of 8, but candidate pairs are then EXACTLY the
    * pairs agreeing on a band — no hash-collision false positives —
    * and the banding is portable SQL (see the dedup_minhash oracle,
    * which replays it verbatim in DuckDB).
    */
  /** @param maxBucket optional per-bucket candidate bound (SCALE.md
    *   known cliff #2): a pathological corpus where huge sets of
    *   documents share a band signature (boilerplate-dominated crawls)
    *   makes candidate pairs quadratic in bucket size. Buckets holding
    *   more than `maxBucket` ids are SPLIT, not dropped:
    *    - rows with IDENTICAL full signatures are connected by a
    *      min-id STAR (linear edges; transitive closure recovers the
    *      clique, and a boilerplate flood is exactly this case —
    *      enumerating its n²/2 true pairs is the blowup the cap
    *      exists to prevent);
    *    - one representative per distinct signature then self-joins
    *      within `ceil(reps/cap)` fingerprint sub-buckets (expected
    *      sub-bucket size ≈ cap, so hot-bucket work is ~reps·cap,
    *      linear in the bucket).
    *   Residual recall loss is only for DISTINCT-signature pairs that
    *   land in different sub-buckets AND agree on no other band; the
    *   split posts a `split` [[BucketCapEvent]] with the hot-bucket
    *   count. Default None preserves exact banding semantics (and
    *   exact pair enumeration).
    */
  def candidatePairs(df: DataFrame, idCol: String, textCol: String, p: Params = Params(),
                     maxBucket: Option[Long] = None): DataFrame = {
    val banded = bandKeys(signatures(df, idCol, textCol, p), idCol, p,
      withSigFp = maxBucket.isDefined)
    def selfJoin(rows: DataFrame, keys: Seq[String], id: String): DataFrame =
      rows.as("l").join(rows.as("r"),
          keys.map(k => col(s"l.$k") === col(s"r.$k"))
            .reduce(_ && _) && col(s"l.$id") < col(s"r.$id"))
        .select(col(s"l.$id").as("a"), col(s"r.$id").as("b"))
    HotSplit.hot(banded, Seq("band", "key"), maxBucket,
        "MinHashLSH.candidatePairs") match {
      case None =>
        selfJoin(banded, Seq("band", "key"), idCol).distinct()
      case Some((cap, oversized)) =>
        val cold = banded
          .join(oversized.select("band", "key"), Seq("band", "key"), "left_anti")
        val coldPairs = selfJoin(cold, Seq("band", "key"), idCol)
        val hot = banded.join(oversized.select("band", "key"), Seq("band", "key"))
        // star edges inside identical-signature groups: min id is the hub
        val hubs = hot.groupBy("band", "key", "sigfp")
          .agg(min(col(idCol)).as("hub"))
          .localCheckpoint(eager = false) // read by the star join + rep pairs
        val starPairs = hot.join(hubs, Seq("band", "key", "sigfp"))
          .where(col(idCol) =!= col("hub"))
          .select(col("hub").as("a"), col(idCol).as("b"))
        // one representative per distinct signature, sub-bucketed so
        // each sub-bucket self-join stays ~cap wide — RECURSIVELY: a
        // skewed first-level draw re-splits with a depth-salted hash
        // instead of re-creating the quadratic join one level down
        val reps = HotSplit.subSplit(hubs, Seq("band", "key"),
          col("sigfp"), cap, "MinHashLSH.candidatePairs")
        val repPairs = selfJoin(reps, Seq("band", "key", "__sub"), "hub")
        coldPairs.union(starPairs).union(repPairs).distinct()
    }
  }

  /** Exploded (id, band, key) rows from a signature frame — the raw
    * rowsPerBand-tuple band keys described on [[candidatePairs]],
    * shared by the self-join there and the batch-vs-index join in
    * [[IncrementalDedup]]. localCheckpoint'd: every caller reads the
    * banding at least twice.
    */
  private[operators] def bandKeys(sig: DataFrame, idCol: String,
                                  p: Params,
                                  withSigFp: Boolean = false): DataFrame = {
    val bandStructs = (0 until p.bands).map { b =>
      val rowCols = (0 until p.rowsPerBand)
        .map(r => element_at(col("sig"), b * p.rowsPerBand + r + 1))
      struct(lit(b).as("band"),
        struct(rowCols.zipWithIndex.map { case (c, i) => c.as(s"r$i") }: _*).as("key"))
    }
    // sigfp (opt-in): 8-byte fingerprint of the FULL signature,
    // carried so the hot-bucket split in [[candidatePairs]] can keep
    // identical documents together (identical text => identical
    // signature => identical fingerprint) while spreading distinct
    // signatures across sub-buckets. Opt-in because the column rides
    // the localCheckpoint (pruning cannot reach below it) and costs
    // ~50% on the uncapped path, which never reads it.
    val head =
      if (withSigFp) Seq(col(idCol), xxhash64(col("sig")).as("sigfp"))
      else Seq(col(idCol))
    val headNames =
      if (withSigFp) Seq(col(idCol), col("sigfp")) else Seq(col(idCol))
    sig.select(head :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(headNames ++
        Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
      .localCheckpoint(eager = false)
  }

  /** Candidates verified with exact Jaccard over distinct shingle-hash
    * sets (hash collisions within a document pair are negligible at
    * 2^31 space and bounded doc length). Shingle arrays are bounded per
    * document, so `array_intersect` per candidate pair is O(doc
    * length) — no second explode needed. Returns (a, b, inter, uni,
    * jaccard) for pairs with jaccard >= `threshold`.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double, p: Params = Params(),
                     maxBucket: Option[Long] = None): DataFrame = {
    // Both the candidate self-join and the two verification joins read
    // these frames twice; localCheckpoint materializes each kernel
    // output once instead of re-running the per-row hashing 4x.
    val shingled = df.select(col(idCol), shingleHashArray(textCol, p).as("sh"))
      .localCheckpoint(eager = false)
    val cands = candidatePairs(df, idCol, textCol, p, maxBucket)
    cands
      .join(shingled.select(col(idCol).as("a"), col("sh").as("sha")), Seq("a"))
      .join(shingled.select(col(idCol).as("b"), col("sh").as("shb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(array_union(col("sha"), col("shb"))).cast("long").as("uni"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
  }
}

/** 64-bit SimHash near-duplicate fingerprinting over word tokens.
  *
  * Algorithm: Charikar, "Similarity estimation techniques from
  * rounding algorithms" (STOC 2002); the band-join hamming search
  * follows Manku/Jain/Sarma, "Detecting near-duplicates for web
  * crawling" (WWW 2007).
  */
object SimHash {

  /** SimHash of a text column: per-token FNV-1a 64-bit hashes vote per
    * bit; bit i of the result set when the vote is positive. One
    * codegen'd single-pass kernel per row
    * ([[graft.expressions.SimHash64]]).
    */
  def simhash(c: Column): Column = graft.expressions.SimHash64(c)

  /** Near-duplicate pairs by Hamming distance <= maxHamming, found via
    * 4x16-bit band LSH (a pair within Hamming 3 of 64 bits must agree
    * exactly on at least one 16-bit band) then verified with
    * bit_count(xor). Band join is an equi-join — no all-pairs scan.
    *
    * @param maxBucket optional per-bucket candidate cap (SCALE.md known
    *   cliff #2), same contract as [[MinHashLSH.candidatePairs]]: a
    *   boilerplate-heavy corpus where mega-clusters of documents share
    *   a 16-bit band makes the band self-join quadratic in bucket
    *   size. With a cap, buckets holding more than `maxBucket` ids are
    *   EXCLUDED from the self-join — their pairs are lost, and the
    *   recall loss is explicit: the action that runs the pairs posts a
    *   `drop` [[BucketCapEvent]] with the dropped-bucket count. Default
    *   None preserves exact band semantics.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int,
            maxBucket: Option[Long] = None): DataFrame = {
    val hashed = df.select(col(idCol), simhash(col(textCol)).as("sh"))
    HammingBands.pairs64(hashed, idCol, "sh", maxHamming, maxBucket,
      caller = "SimHash.pairs")
  }
}

/** The 4x16-bit hamming-band LSH self-join over ANY 64-bit hash
  * column — the candidate machinery shared by [[SimHash.pairs]]
  * (text near-dup) and [[graft.operators.Multimodal]]'s perceptual
  * dHash pairing (media near-dup): a pair within Hamming 3 of 64
  * bits must agree exactly on at least one 16-bit band (pigeonhole),
  * so candidates come from band equi-joins, never an all-pairs scan.
  */
object HammingBands {

  /** Near-duplicate id pairs (a, b, hamming) with hamming <=
    * `maxHamming`, from `hashed(idCol, hashCol: BIGINT)`.
    * `maxBucket` is the per-bucket candidate cap (SCALE.md cliff #2)
    * with [[SimHash.pairs]]' drop contract, reported under `caller`.
    */
  def pairs64(hashed: DataFrame, idCol: String, hashCol: String,
              maxHamming: Int, maxBucket: Option[Long] = None,
              caller: String = "HammingBands.pairs64"): DataFrame = {
    // 4 bands of 16 bits are exhaustive only up to hamming 3 (a pair
    // differing in >= 4 bits can spread one flip into every band);
    // beyond that the band join silently loses recall, so refuse.
    require(maxHamming <= 3,
      s"4x16-bit band LSH is only exhaustive for maxHamming <= 3, got $maxHamming")
    val banded = hashed.select(col(idCol), col(hashCol).as("sh"))
      .select(col(idCol), col("sh"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("key"))): _*))
          .as("bk"))
      .select(col(idCol), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))
      .localCheckpoint(eager = false) // read by both sides of the self-join
    val capped = maxBucket.fold(banded)(
      HotSplit.dropOversized(banded, Seq("band", "key"), _, caller))
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
