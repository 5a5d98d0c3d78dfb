package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators as declared queries: dedup (exact,
  * MinHash+LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force + LSH ANN), text analysis (stats, fingerprint,
  * lang-ID), and multimodal plumbing. Oracles are declared wherever the
  * computation is expressible in portable SQL; hash-heavy ops
  * (xxhash64-based) get the driver's rows-only check, and their
  * determinism is covered by ScalaTest specs instead.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private val stops = Seq("the", "and", "of", "is", "in", "a")

  /** Generated DuckDB oracle for ann_lsh_topk. The hyperplanes are
    * seed-derived, data-independent plan constants
    * ([[RandomHyperplaneLSH.planes]]), so the oracle inlines the exact
    * same doubles as SQL literals (shortest-repr `Double.toString`
    * round-trips bit-exactly through DuckDB's parser) and recomputes
    * the identical sign-bit buckets: both engines fold the dot product
    * left-to-right over float-widened-to-double elements, so the sign,
    * hence the bucket, hence the candidate set, is equal — making even
    * the "approximate" path exactly checkable.
    */
  /** `v AS (...), b AS (...)` CTEs shared by the two LSH oracles:
    * per-vector double-cast embeddings and the per-table sign-bit
    * buckets with the hyperplane doubles inlined.
    */
  private def lshBucketsCte: String = {
    val p = RandomHyperplaneLSH.Params()
    val tableSelects = RandomHyperplaneLSH.planes(p).zipWithIndex.map { case (ps, t) =>
      val bucket = ps.zipWithIndex.map { case (plane, b) =>
        val planeLit = plane.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(e, $planeLit) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucket AS bucket FROM v"
    }.mkString(" UNION ALL ")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      b AS ($tableSelects)"""
  }

  private def lshTopKOracle: String =
    s"""WITH $lshBucketsCte,
      cand AS (
        SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
        FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      scored AS (
        SELECT cand.qid, cand.nid,
          row_number() OVER (PARTITION BY cand.qid ORDER BY
            list_cosine_similarity(qe.e, ce.e) DESC, cand.nid) AS rn
        FROM cand JOIN v qe ON qe.vec_id = cand.qid
                  JOIN v ce ON ce.vec_id = cand.nid)
      SELECT qid, nid, CAST(rn AS BIGINT) AS nn_rank FROM scored WHERE rn <= 5"""

  /** Generated DuckDB oracle for ann_lsh_multiprobe: the corpus-side
    * buckets are the shared [[lshBucketsCte]]; the query side adds, per
    * table, the 2 margin-ranked single-bit-flip probes
    * ([[RandomHyperplaneLSH.probeBuckets]]) — expressible because both
    * engines compute bit-identical left-to-right dot products, so the
    * |margin| ORDERING (ties by bit index) matches exactly, not just
    * the signs.
    */
  private def lshMultiProbeOracle: String = {
    val p = RandomHyperplaneLSH.Params()
    val extra = 2
    val powList = (0 until p.planesPerTable).map(b => 1L << b).mkString("[", ", ", "]")
    val perTable = RandomHyperplaneLSH.planes(p).zipWithIndex.map { case (ps, t) =>
      val absList = ps.map(plane =>
        s"abs(list_inner_product(e, ${plane.mkString("[", ", ", "]")}))")
        .mkString("[", ", ", "]")
      s"""qr$t AS (SELECT vec_id, bit FROM (
          SELECT vec_id, m, bit,
            row_number() OVER (PARTITION BY vec_id ORDER BY m, bit) AS rn
          FROM (SELECT vec_id, unnest($absList) AS m,
                unnest(range(0, ${p.planesPerTable})) AS bit
                FROM v WHERE vec_id < 10))
        WHERE rn <= $extra)"""
    }
    val flipSelects = (0 until p.tables).map { t =>
      s"""SELECT b.vec_id, b.tbl, xor(b.bucket, ($powList)[qr$t.bit + 1]) AS bucket
        FROM b JOIN qr$t ON b.vec_id = qr$t.vec_id AND b.tbl = $t"""
    }
    s"""WITH $lshBucketsCte,
      ${perTable.mkString(", ")},
      qp AS (
        SELECT vec_id, tbl, bucket FROM b WHERE vec_id < 10
        UNION ALL ${flipSelects.mkString(" UNION ALL ")}),
      cand AS (SELECT DISTINCT qp.vec_id AS qid, c.vec_id AS nid
        FROM qp JOIN b c ON qp.tbl = c.tbl AND qp.bucket = c.bucket
        WHERE c.vec_id <> qp.vec_id),
      scored AS (SELECT cand.qid, cand.nid,
          row_number() OVER (PARTITION BY cand.qid ORDER BY
            list_cosine_similarity(qe.e, ce.e) DESC, cand.nid) AS rn
        FROM cand JOIN v qe ON qe.vec_id = cand.qid
                  JOIN v ce ON ce.vec_id = cand.nid)
      SELECT qid, nid, CAST(rn AS BIGINT) AS nn_rank FROM scored WHERE rn <= 5"""
  }

  /** Generated DuckDB oracle for neardup_embedding_lsh: same inlined
    * hyperplane buckets, pair candidates instead of query candidates,
    * exact cosine verify at the same threshold, same top-50 ordering.
    */
  private def lshNearDupOracle: String =
    s"""WITH $lshBucketsCte,
      cand AS (
        SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
        FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
          AND l.vec_id < r.vec_id),
      scored AS (
        SELECT cand.a, cand.b,
          list_cosine_similarity(va.e, vb.e) AS cos
        FROM cand JOIN v va ON va.vec_id = cand.a
                  JOIN v vb ON vb.vec_id = cand.b)
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (ORDER BY cos DESC, a, b) AS rn
        FROM scored WHERE cos >= 0.2)
      WHERE rn <= 50"""

  // ---- wrapping 64-bit hash arithmetic in DuckDB SQL ----
  //
  // Spark-side MinHash/SimHash kernels are built on FNV-1a 64-bit,
  // whose per-step multiply WRAPS mod 2^64 — not directly expressible
  // in DuckDB (BIGINT multiply errors on overflow). But the FNV prime
  // is only 41 bits, so (h_unsigned * prime) < 2^105 fits HUGEINT
  // (int128): emulate the wrap with explicit `% 2^64`, and convert
  // unsigned<->signed with single-reference `(x + 2^63) % 2^64 - 2^63`
  // shifts so nested folds stay linear in SQL size. This is what turns
  // the previously rows-only minhash/simhash queries into exact
  // hash-checked oracles.

  private val U64 = "18446744073709551616"  // 2^64
  private val S63 = "9223372036854775808"   // 2^63
  /** FNV-1a offset basis 0xcbf29ce484222325 as a signed BIGINT. */
  private val FnvInit = "CAST(-3750763034362895579 AS BIGINT)"

  /** signed64((unsigned64(x) * FNV_PRIME) mod 2^64); references `x`
    * exactly once, so folding it N deep stays O(N) SQL text.
    * unsigned64(x) adds 2^64 unconditionally — congruent mod 2^64 and
    * keeps the HUGEINT product under 2^106.
    */
  private def fnvStep(x: String): String =
    s"CAST((((CAST($x AS HUGEINT) + $U64) * 1099511628211) % $U64 + $S63) % $U64 - $S63 AS BIGINT)"

  /** FNV-1a 64-bit over the ASCII bytes of string expression `w` —
    * the exact arithmetic of TextHashing.fnv1a (the corpus is pure
    * ASCII, so ascii(char) == byte).
    */
  private def fnvSql(w: String): String =
    s"list_reduce(list_prepend($FnvInit, " +
      s"list_transform(range(1, length($w) + 1), i -> CAST(ascii($w[i]) AS BIGINT))), " +
      s"(h, b) -> ${fnvStep("xor(h, b)")})"

  private val ivfParams = IvfAnn.Params(k = 16, iterations = 3, nprobe = 3)

  /** Prebuilt indexes for the `*_search` queries, [[PerFixture]]
    * artifacts: each is fitted, SAVED to its path and LOADED back, so
    * the persistence API runs end-to-end under the oracle gate and
    * every search reads the loaded (parquet-backed) index. At 100 TB
    * this fit-once/search-many split is the only affordable shape for a
    * served ANN index.
    */
  private def ivfIndexFor(s: SparkSession, dir: String): IvfAnn.Index =
    PerFixture("ivf", dir) { path =>
      IvfAnn.save(
        IvfAnn.fitIndex(t(s, dir, "embeddings"), "vec_id", "embedding", ivfParams),
        path)
      IvfAnn.load(s, path)
    }
  /** metaCols variant for filtered search: the label rides the index
    * rows, so `ann_ivf_filtered` searches a prebuilt index too.
    */
  private def ivfMetaIndexFor(s: SparkSession, dir: String): IvfAnn.Index =
    PerFixture("ivfmeta", dir) { path =>
      IvfAnn.save(
        IvfAnn.fitIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
          ivfParams, metaCols = Seq("label")),
        path)
      IvfAnn.load(s, path)
    }
  private def sq8IndexFor(s: SparkSession, dir: String): ScalarQuant.Index =
    PerFixture("sq8", dir) { path =>
      ScalarQuant.save(
        ScalarQuant.fitIndex(t(s, dir, "embeddings"), "vec_id", "embedding"),
        path)
      ScalarQuant.load(s, path)
    }
  private def ivfPqIndexFor(s: SparkSession, dir: String): IvfPqAnn.Index =
    PerFixture("ivfpq", dir) { path =>
      IvfPqAnn.save(
        IvfPqAnn.fitIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
          ivfPqParams),
        path)
      IvfPqAnn.load(s, path)
    }
  private def pqIndexFor(s: SparkSession, dir: String): PqAnn.Index =
    PerFixture("pq", dir) { path =>
      PqAnn.save(
        PqAnn.fitIndex(t(s, dir, "embeddings"), "vec_id", "embedding", pqParams),
        path)
      PqAnn.load(s, path)
    }
  private def semModelFor(s: SparkSession, dir: String): SemDedup.Model =
    PerFixture("semdedup", dir) { path =>
      SemDedup.save(SemDedup.fitModel(
        t(s, dir, "embeddings"), "vec_id", "embedding", semDedup2Params), s, path)
      SemDedup.load(s, path)
    }

  /** CMS probe keys: eight live part keys + two absent ones (exact
    * count 0 — any non-zero estimate is pure collision overestimate).
    */
  private val cmsKeys: Seq[Long] =
    (1L to 8L) ++ Seq(9999991L, 123456789L)

  private val bloomParams = Bloom.Params(bits = 8192, hashes = 3, seed = 7L)

  /** Static DuckDB oracle for dedup_bloom_decontam: replays the
    * fingerprint fold, the 80/20 split gate, bloom build (distinct
    * probed positions of the test side), membership (all `hashes`
    * probes present), and the exact semi-join flag — pure integer
    * arithmetic end to end.
    */
  private def bloomDecontamOracle: String = {
    val fp = """list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(text[i]) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1000000007)"""
    val posList = Bloom.posSql("fp", bloomParams).mkString("[", ", ", "]")
    s"""WITH f AS (SELECT doc_id, $fp AS fp,
          ((doc_id % 1000003) * 2654435761) % 100 < 80 AS is_train
        FROM documents),
      test AS (SELECT fp FROM f WHERE NOT is_train),
      bits AS (SELECT DISTINCT unnest($posList) AS pos FROM test),
      train AS (SELECT doc_id, fp FROM f WHERE is_train),
      probe AS (SELECT doc_id, unnest($posList) AS pos FROM train),
      hits AS (SELECT doc_id, count(*) AS nhit
        FROM probe JOIN bits USING (pos) GROUP BY doc_id)
    SELECT t.doc_id,
      coalesce(h.nhit, 0) = ${bloomParams.hashes} AS bloom_hit,
      EXISTS (SELECT 1 FROM test WHERE test.fp = t.fp) AS exact_hit
    FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id"""
  }

  private val funnelSemParams = SemDedup.Params(k = 8, iterations = 2,
    tau = 0.45)

  /** The composed v2 assembly line (rule gate → split → bloom
    * decontam → exact dedup), shared between the declared
    * pipeline_funnel_counts query and its oracle generator — the
    * generator must train the semantic stage's centroids on the
    * IDENTICAL intermediate the query feeds it.
    */
  private def funnelStages(s: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    val docs = t(s, dir, "documents")
    val nw = size(split(col("text"), " ")).cast("long")
    val gated = docs.where(nw.between(25, 80) &&
      TF.distinctTokenCount(col("text")) * 2 >= nw)
    val f = gated.select(col("doc_id"), col("text"),
      TF.fingerprint(col("text")).as("fp"),
      (pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 80)
        .as("is_train"))
      // every downstream stage (bloom bitset, train split, decontam,
      // exact dedup) AND four of the six stage-count branches re-read
      // this gate+fingerprint projection; one within-run
      // materialization replaces the per-branch re-scan of documents
      // (guide §2.4 — same cut as the funnel tail below)
      .localCheckpoint(eager = false)
    val bits = Bloom.bitset(f.where(!col("is_train")), "fp", bloomParams)
    val train = f.where(col("is_train"))
    val clean = train.join(
      Bloom.mightContain(train, "doc_id", "fp", bits, bloomParams)
        .where(col("bloom_hit")),
      Seq("doc_id"), "left_anti")
    val exact = ExactDedup.dropDuplicateContent(
      clean.select("doc_id", "text"), "doc_id", "text")
      // six stage-count branches + the semantic stage all read the
      // funnel's tail; one materialization stops the per-branch
      // re-evaluation of the whole upstream (gate+bloom+dedup) chain
      .localCheckpoint(eager = false)
    val semInput = t(s, dir, "embeddings")
      .join(exact.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    // the gate stage's row set IS f's (the fingerprint projection is
    // 1:1), so its count branch reads the materialization, not a
    // fourth documents scan
    Map("input" -> docs, "gate" -> f, "train" -> train,
      "decontam" -> clean, "exact" -> exact, "semInput" -> semInput)
  }

  /** Generated oracle for pipeline_funnel_counts: the ENTIRE composed
    * pipeline replayed in DuckDB — gate rules, split, bloom build +
    * membership (mirroring the deduped-probe count contract), min-id
    * exact dedup, and the semantic stage with centroids trained on
    * the replicated intermediate and inlined.
    */
  private def pipelineFunnelOracle(s: SparkSession, dir: String): String = {
    val (centroids, _) = SemDedup.model(
      funnelStages(s, dir)("semInput"), "vec_id", "embedding", funnelSemParams)
    val k = centroids.length
    val fp = """list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(text[i]) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1000000007)"""
    val posList = Bloom.posSql("fp", bloomParams).mkString("[", ", ", "]")
    val scoreDefs = centroids.zipWithIndex.map { case (c, i) =>
      val lit = c.mkString("[", ", ", "]")
      val off = c.map(x => x * x).sum / 2.0
      s"list_inner_product(e, $lit) - ($off) AS s$i"
    }.mkString(", ")
    s"""WITH g AS (SELECT doc_id, text FROM documents
        WHERE len(string_split(text, ' ')) BETWEEN 25 AND 80
          AND len(list_distinct(string_split(text, ' '))) * 2
            >= len(string_split(text, ' '))),
      f AS (SELECT doc_id, text, $fp AS fp,
          ((doc_id % 1000003) * 2654435761) % 100 < 80 AS is_train FROM g),
      test AS (SELECT fp FROM f WHERE NOT is_train),
      bits AS (SELECT DISTINCT unnest($posList) AS pos FROM test),
      train AS (SELECT doc_id, text, fp FROM f WHERE is_train),
      probe AS (SELECT DISTINCT doc_id, unnest($posList) AS pos FROM train),
      bloomhit AS (SELECT probe.doc_id FROM probe
        LEFT JOIN bits ON bits.pos = probe.pos
        GROUP BY probe.doc_id HAVING count(bits.pos) = count(*)),
      clean AS (SELECT train.doc_id, train.text FROM train
        LEFT JOIN bloomhit ON bloomhit.doc_id = train.doc_id
        WHERE bloomhit.doc_id IS NULL),
      ex AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY text),
      semin AS (SELECT v.vec_id, v.e FROM
          (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) v
        JOIN ex ON ex.doc_id = v.vec_id),
      sc AS (SELECT vec_id, e, $scoreDefs FROM semin),
      a AS (SELECT vec_id, e, ${argmaxLadder(i => s"s$i", 0 until k)} AS cell
        FROM sc),
      drp AS (SELECT DISTINCT x.vec_id FROM a x JOIN a y
        ON x.cell = y.cell AND y.vec_id < x.vec_id
        AND list_cosine_similarity(x.e, y.e) >= ${funnelSemParams.tau}e0),
      fin AS (SELECT ex.doc_id FROM ex
        LEFT JOIN drp ON drp.vec_id = ex.doc_id WHERE drp.vec_id IS NULL)
    SELECT '0_input' AS stage, (SELECT count(*) FROM documents) AS rows_out
    UNION ALL SELECT '1_gate', (SELECT count(*) FROM g)
    UNION ALL SELECT '2_train', (SELECT count(*) FROM train)
    UNION ALL SELECT '3_decontam', (SELECT count(*) FROM clean)
    UNION ALL SELECT '4_exact', (SELECT count(*) FROM ex)
    UNION ALL SELECT '5_semantic', (SELECT count(*) FROM fin)"""
  }

  /** BM25 query terms (present at every sf) + the corpus stats, a
    * [[PerFixture]] artifact — the fit-once/score-many split that makes
    * corpus statistics an index-lifetime cost, like ANN centroids.
    */
  private val bm25Terms = Seq("hash", "join", "scan")
  private def bm25StatsFor(s: SparkSession, dir: String): Bm25.Stats =
    PerFixture("bm25", dir)(_ =>
      Bm25.fitStats(t(s, dir, "documents"), "text", bm25Terms))

  /** Generated DuckDB oracle for hybrid_rrf: the BM25 top-20 replay
    * ([[Bm25.oracleSql]], idf/avgdl inlined) and the exact-cosine
    * top-20 replay (the ann_brute_topk template pinned to query vector
    * 7) are fused with `1e0 / (60 + rank)` terms — each term is ONE
    * double division over exact integers, summed in the same
    * (lexical, dense) order as the Spark side, so even the fused
    * double scores hash-match.
    */
  private def hybridOracle(s: SparkSession, dir: String): String = {
    val bmSql = Bm25.oracleSql("documents", "doc_id", "text", bm25Terms,
      bm25StatsFor(s, dir), 20)
    s"""WITH bm AS (SELECT doc_id, rank AS rank_a FROM ($bmSql)),
      cs AS (SELECT nid AS doc_id, CAST(rn AS BIGINT) AS rank_b FROM (
          SELECT c.vec_id AS nid, row_number() OVER (ORDER BY
              list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id = 7 AND c.vec_id <> q.vec_id)
        WHERE rn <= 20),
      f AS (SELECT coalesce(bm.doc_id, cs.doc_id) AS doc_id, rank_a, rank_b,
          coalesce(1e0 / (60 + rank_a), 0e0) +
            coalesce(1e0 / (60 + rank_b), 0e0) AS rrf_score
        FROM bm FULL OUTER JOIN cs ON bm.doc_id = cs.doc_id),
      top AS (SELECT * FROM f ORDER BY rrf_score DESC, doc_id LIMIT 15)
    SELECT doc_id, rank_a, rank_b, rrf_score,
      CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
        AS rank
    FROM top"""
  }

  // tau calibrated against the fixture corpus: nearest pairwise cosine
  // to 0.45 is >= 1e-4 away at sf0.01 AND sf0.1, while cross-engine
  // cosine evaluation differs by ~1e-15 relative — no boundary flips.
  // maxCluster=2000 is deliberately above every cell size, and the
  // oracle does NOT model the cap: a cell ever exceeding it would
  // hash-mismatch, machine-checking that the cap is a no-op here.
  private val semDedupParams = SemDedup.Params(k = 16, iterations = 3,
    trainFraction = 0.25, tau = 0.45, maxCluster = Some(2000L))

  /** Generated DuckDB oracle for dedup_semantic: inlines the
    * deterministically-trained k-means centroids (the
    * [[ivfTopKOracle]] template), replays ties-high cell assignment,
    * then drops every vector with a smaller-id same-cell vector at
    * cosine >= tau.
    */
  private def semDedupOracle(s: SparkSession, dir: String): String = {
    val centroids = IvfAnn.fitCentroids(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      IvfAnn.Params(k = semDedupParams.k,
        iterations = semDedupParams.iterations,
        trainFraction = semDedupParams.trainFraction))
    val k = centroids.length
    val scoreDefs = centroids.zipWithIndex.map { case (c, i) =>
      val lit = c.mkString("[", ", ", "]")
      val off = c.map(x => x * x).sum / 2.0
      s"list_inner_product(e, $lit) - ($off) AS s$i"
    }.mkString(", ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sc AS (SELECT vec_id, e, $scoreDefs FROM v),
      a AS (SELECT vec_id, e, ${argmaxLadder(i => s"s$i", 0 until k)} AS cell FROM sc),
      drp AS (SELECT DISTINCT x.vec_id FROM a x JOIN a y
        ON x.cell = y.cell AND y.vec_id < x.vec_id
        AND list_cosine_similarity(x.e, y.e) >= ${semDedupParams.tau}e0)
    SELECT a.vec_id, a.cell FROM a LEFT JOIN drp ON drp.vec_id = a.vec_id
    WHERE drp.vec_id IS NULL"""
  }

  /** Argmax-by-descending-CASE-ladder over candidate ids (ascending),
    * ties to the HIGHEST id — the SQL mirror of Spark's array_max
    * over (score, idx) structs.
    */
  private def argmaxLadder(score: Int => String, ids: Seq[Int]): String = {
    val sorted = ids.sorted
    if (sorted.size == 1) sorted.head.toString
    else {
      val arms = (sorted.size - 1 to 1 by -1).map { t =>
        val others = sorted.take(t).map(score)
        val rhs = if (others.size == 1) others.head
          else s"greatest(${others.mkString(", ")})"
        s"WHEN ${score(sorted(t))} >= $rhs THEN ${sorted(t)}"
      }.mkString(" ")
      s"CASE $arms ELSE ${sorted.head} END"
    }
  }

  private val semDedup2Params = semDedupParams.copy(twoLevel = true)

  /** Generated oracle for the two-level dedup_semantic path: the two-level
    * assignment replayed exactly — super scores + ties-high super
    * ladder, then per-super member ladders over the SAME inlined
    * centroids and driver-computed grouping, then the unchanged
    * in-cell threshold dedup.
    */
  private def semDedup2Oracle(s: SparkSession, dir: String): String = {
    val (centroids, gOpt) = SemDedup.model(
      t(s, dir, "embeddings"), "vec_id", "embedding", semDedup2Params)
    val g = gOpt.get
    def scoreDef(c: Array[Double], name: String): String = {
      val lit = c.mkString("[", ", ", "]")
      val off = c.map(x => x * x).sum / 2.0
      s"list_inner_product(e, $lit) - ($off) AS $name"
    }
    val superDefs = g.superCentroids.zipWithIndex
      .map { case (c, j) => scoreDef(c, s"u$j") }.mkString(", ")
    val superLadder = argmaxLadder(i => s"u$i", g.superCentroids.indices)
    val cellDefs = centroids.zipWithIndex
      .map { case (c, i) => scoreDef(c, s"s$i") }.mkString(", ")
    val cellCase = g.members.zipWithIndex.map { case (mem, j) =>
      s"WHEN $j THEN ${argmaxLadder(i => s"s$i", mem.toIndexedSeq)}"
    }.mkString(" ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      su AS (SELECT vec_id, e, $superDefs FROM v),
      sa AS (SELECT vec_id, e, $superLadder AS sup FROM su),
      sc AS (SELECT vec_id, e, sup, $cellDefs FROM sa),
      a AS (SELECT vec_id, e, CASE sup $cellCase END AS cell FROM sc),
      drp AS (SELECT DISTINCT x.vec_id FROM a x JOIN a y
        ON x.cell = y.cell AND y.vec_id < x.vec_id
        AND list_cosine_similarity(x.e, y.e) >= ${semDedup2Params.tau}e0)
    SELECT a.vec_id, a.cell FROM a LEFT JOIN drp ON drp.vec_id = a.vec_id
    WHERE drp.vec_id IS NULL"""
  }

  /** Generated DuckDB oracle for dedup_minhash: replays the ENTIRE
    * MinHash+LSH pipeline — FNV-1a token hashes ([[fnvSql]]), 3-gram
    * shingle hashes reduced into [0, 2^31-1), 64 permutation mins with
    * the seed-derived (a_i, b_i) constants inlined
    * (TextHashing.minhashPerms — a_i, x < 2^31 so products stay in
    * BIGINT), 16x4 banding on the raw signature tuples (exactly the
    * operator's band key since candidatePairs joins on the tuples, not
    * a hash of them), then exact Jaccard verification over distinct
    * shingle sets. Every step is integer arithmetic both engines fix
    * identically, so even this "approximate" operator hash-matches.
    */
  /** Shared CTE block replaying MinHash+LSH candidate generation and
    * exact-Jaccard verification in DuckDB: FNV-1a token hashes, n-gram
    * shingle hashes in [0, 2^31-1), the 64 permutation mins with
    * seed-derived constants inlined, raw-tuple banding, candidate
    * self-join, and per-pair (inter, uni). Used by both the
    * dedup_minhash and dedup_clusters oracles.
    */
  /** Static oracle for dedup_substring_spans: replays the 8-token
    * shingle hashing (FNV-1a token hashes folded per window, reduced
    * into [0, 2^31-1) — the exact TextHashing.shingleHashes
    * arithmetic), zips positions via parallel unnest, and counts
    * corpus-wide repeated shingles per document.
    */
  private def substringSpansOracle: String = {
    val k = 8
    val folded = (0 until k).foldLeft(FnvInit) { (acc, t) =>
      val idx = if (t == 0) "j" else s"j + $t"
      fnvStep(s"xor($acc, th[$idx])")
    }
    val shingle = s"(($folded % 2147483647) + 2147483647) % 2147483647"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= $k),
      tt AS (SELECT doc_id, list_transform(toks, w -> ${fnvSql("w")}) AS th FROM d),
      sgl AS (SELECT doc_id,
          list_transform(range(1, len(th) - ${k - 2}), j -> $shingle) AS sh
        FROM tt),
      sp AS (SELECT doc_id, unnest(range(0, len(sh))) AS pos, unnest(sh) AS h
        FROM sgl),
      rep AS (SELECT h FROM sp GROUP BY h HAVING count(*) > 1),
      dup AS (SELECT doc_id, count(*) AS n_dup FROM sp JOIN rep USING (h)
        GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*) AS n_shingles FROM sp GROUP BY doc_id)
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
      CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_shingles
    FROM tot LEFT JOIN dup USING (doc_id)"""
  }

  /** Generated oracle for dedup_ngram_decontam: the same window-hash
    * replay as [[substringSpansOracle]], but per-doc DISTINCT window
    * hashes split by the deterministic train/test gate, with the
    * train side counted against the test side's hash set.
    */
  private def ngramDecontamOracle(k: Int): String = {
    val folded = (0 until k).foldLeft(FnvInit) { (acc, t) =>
      val idx = if (t == 0) "j" else s"j + $t"
      fnvStep(s"xor($acc, th[$idx])")
    }
    val shingle = s"(($folded % 2147483647) + 2147483647) % 2147483647"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
          ((doc_id % 1000003) * 2654435761) % 100 < 80 AS is_train
        FROM documents WHERE len(string_split(text, ' ')) >= $k),
      tt AS (SELECT doc_id, is_train,
          list_transform(toks, w -> ${fnvSql("w")}) AS th FROM d),
      sgl AS (SELECT doc_id, is_train,
          list_distinct(list_transform(range(1, len(th) - ${k - 2}),
            j -> $shingle)) AS sh
        FROM tt),
      sp AS (SELECT doc_id, is_train, unnest(sh) AS h FROM sgl),
      te AS (SELECT DISTINCT h FROM sp WHERE NOT is_train)
    SELECT doc_id, count(*) AS n_shared
    FROM sp JOIN te USING (h) WHERE is_train
    GROUP BY doc_id"""
  }

  /** Generated oracle for dedup_winnow: n-token shingle hashes as in
    * [[substringSpansOracle]], winnowed to per-window minima (window
    * w over consecutive shingles, elementwise `least` — no slicing
    * semantics to diverge), distinct per doc, then corpus-shared
    * prints counted per doc.
    */
  private def winnowOracle(n: Int, w: Int): String = {
    val folded = (0 until n).foldLeft(FnvInit) { (acc, t) =>
      val idx = if (t == 0) "j" else s"j + $t"
      fnvStep(s"xor($acc, th[$idx])")
    }
    val shingle = s"(($folded % 2147483647) + 2147483647) % 2147483647"
    val winMin = (0 until w).map(t => if (t == 0) "sh[i]" else s"sh[i + $t]")
      .mkString("least(", ", ", ")")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= ${n + w - 1}),
      tt AS (SELECT doc_id, list_transform(toks, w -> ${fnvSql("w")}) AS th FROM d),
      sgl AS (SELECT doc_id,
          list_transform(range(1, len(th) - ${n - 2}), j -> $shingle) AS sh
        FROM tt),
      win AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(sh) - ${w - 2}),
            i -> $winMin)) AS ps
        FROM sgl),
      sp AS (SELECT doc_id, unnest(ps) AS p FROM win),
      rep AS (SELECT p FROM sp GROUP BY p HAVING count(*) > 1),
      shr AS (SELECT doc_id, count(*) AS n_shared FROM sp JOIN rep USING (p)
        GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*) AS n_prints FROM sp GROUP BY doc_id)
    SELECT doc_id, CAST(n_prints AS BIGINT) AS n_prints,
      CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared
    FROM tot LEFT JOIN shr USING (doc_id)"""
  }

  /** The shared MinHash replay prefix — CTEs d/tt/sgl (token + shingle
    * hashes), sg (the m0..m63 signature columns) and bk (raw-tuple
    * band keys) — generated ONCE for every oracle that replays
    * [[MinHashLSH]] signatures (dedup_minhash / clusters / keep_best /
    * cross_split / dedup_incremental), so the FNV fold, permutation
    * constants and band layout cannot desynchronize between them.
    */
  private def minhashSigCtes(materializeSg: Boolean = false,
                             source: String = "documents"): String = {
    val p = MinHashLSH.Params()
    val perms = graft.expressions.TextHashing.minhashPerms(p.seed, p.numHashes)
    // fold n token hashes into one shingle hash: h = (h xor t) * prime
    val shingleExpr = {
      val folded = (0 until p.shingleSize).foldLeft(FnvInit) { (acc, k) =>
        val idx = if (k == 0) "j" else s"j + $k"
        fnvStep(s"xor($acc, th[$idx])")
      }
      s"(($folded % 2147483647) + 2147483647) % 2147483647"
    }
    val minDefs = (0 until p.numHashes).map { i =>
      s"list_aggregate(list_transform(sh, x -> (${perms(2 * i)} * x + ${perms(2 * i + 1)}) % 2147483647), 'min') AS m$i"
    }.mkString(", ")
    val bandLists = (0 until p.bands).map { b =>
      (0 until p.rowsPerBand).map(r => s"m${b * p.rowsPerBand + r}").mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    val sgMat = if (materializeSg) " MATERIALIZED" else ""
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $source
          WHERE len(string_split(text, ' ')) >= ${p.shingleSize}),
      tt AS (SELECT doc_id, list_transform(toks, w -> ${fnvSql("w")}) AS th FROM d),
      sgl AS (SELECT doc_id,
          list_transform(range(1, len(th) - ${p.shingleSize - 2}), j -> $shingleExpr) AS sh
        FROM tt),
      sg AS$sgMat (SELECT doc_id, $minDefs FROM sgl),
      bk AS (SELECT doc_id, unnest(range(0, ${p.bands})) AS band,
             unnest($bandLists) AS key FROM sg)"""
  }

  private def minhashVerCtes: String =
    s"""${minhashSigCtes()},
      cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
          AND l.doc_id < r.doc_id),
      ds AS (SELECT doc_id, list_distinct(sh) AS s FROM sgl),
      ver AS (SELECT cand.a, cand.b,
          CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter,
          CAST(len(list_distinct(list_concat(x.s, y.s))) AS BIGINT) AS uni
        FROM cand JOIN ds x ON x.doc_id = cand.a
                  JOIN ds y ON y.doc_id = cand.b)"""

  private def minhashOracle: String =
    s"""WITH $minhashVerCtes
      SELECT a, b, inter, uni, jaccard FROM (
        SELECT a, b, inter, uni, CAST(inter AS DOUBLE) / uni AS jaccard,
          row_number() OVER (ORDER BY CAST(inter AS DOUBLE) / uni DESC, a, b) AS rn
        FROM ver) WHERE rn <= 20"""

  /** Identical boilerplate used by dedup_minhash_split's planted flood
    * (must carry >= shingleSize tokens).
    */
  private val splitBoiler: String =
    "subscribe to our newsletter for daily updates all rights reserved"
  private val splitCap = 50L
  private val splitFlood = 100L

  /** Oracle for dedup_minhash_split: replays the HOT-BUCKET SPLIT
    * semantics of [[MinHashLSH.candidatePairs]] under `maxBucket` —
    * cold buckets self-join exactly; hot buckets contribute min-id
    * STAR edges per identical-full-signature group. The planted flood
    * is `splitFlood` IDENTICAL docs (one signature per hot bucket), so
    * representative sub-bucket pairs are empty BY CONSTRUCTION and the
    * whole split output is replayable without Spark's xxhash64; if a
    * real bucket ever exceeded the cap with >1 distinct signature,
    * Spark would emit rep pairs the oracle does not — a loud hash
    * mismatch, not silent drift. The m-columns form the full-signature
    * grouping key (`lsig`).
    */
  private def minhashSplitOracle: String = {
    val p = MinHashLSH.Params()
    val lsig = (0 until p.numHashes).map(i => s"m$i").mkString("[", ", ", "]")
    s"""WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT 1000000 + i AS doc_id, '$splitBoiler' AS text
        FROM range($splitFlood) t(i)),
      ${minhashSigCtes(materializeSg = true, source = "corpus")},
      sizes AS (SELECT band, key, count(*) AS n FROM bk GROUP BY 1, 2),
      cold AS (SELECT l.doc_id AS a, r.doc_id AS b
        FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
          AND l.doc_id < r.doc_id
        JOIN sizes s ON l.band = s.band AND l.key = s.key
        WHERE s.n <= $splitCap),
      hotsig AS (SELECT bk.doc_id, bk.band, bk.key, $lsig AS lsig
        FROM bk JOIN sizes s ON bk.band = s.band AND bk.key = s.key
          JOIN sg ON bk.doc_id = sg.doc_id
        WHERE s.n > $splitCap),
      hub AS (SELECT band, key, lsig, min(doc_id) AS hub
        FROM hotsig GROUP BY 1, 2, 3),
      star AS (SELECT h2.hub AS a, h.doc_id AS b
        FROM hotsig h JOIN hub h2
          ON h.band = h2.band AND h.key = h2.key AND h.lsig = h2.lsig
        WHERE h.doc_id <> h2.hub),
      allp AS (SELECT DISTINCT a, b FROM
        (SELECT a, b FROM cold UNION ALL SELECT a, b FROM star))
      SELECT count(*) AS n_pairs,
        CAST(sum(CASE WHEN b >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flood_edges,
        CAST(sum(a) AS BIGINT) AS sum_a, CAST(sum(b) AS BIGINT) AS sum_b
      FROM allp"""
  }

  /** Oracle for dedup_incremental: replays the fingerprint-index
    * admission decision — signatures + raw-tuple banding exactly as
    * [[minhashVerCtes]], split into corpus/batch by the
    * multiplicative-hash gate, candidates from the batch-vs-corpus
    * band join, near-dup when >= `minAgree` of the signature
    * components agree (the incremental Jaccard estimate — the index
    * keeps no text), exact-dup by content equality (the operator's
    * xxhash64 membership, collision-free at fixture scale).
    */
  private def incrementalDedupOracle(oldPct: Int, minAgree: Int): String = {
    val p = MinHashLSH.Params()
    val agreeSum = (0 until p.numHashes)
      .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    def isOld(ref: String) =
      s"(((($ref) % 1000003) * 2654435761) % 100 < $oldPct)"
    s"""WITH ${minhashSigCtes(materializeSg = true)},
      cand AS (SELECT DISTINCT l.doc_id AS bid, r.doc_id AS oid
        FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
        WHERE NOT ${isOld("l.doc_id")} AND ${isOld("r.doc_id")}),
      near AS (SELECT DISTINCT cand.bid FROM cand
        JOIN sg l ON l.doc_id = cand.bid
        JOIN sg r ON r.doc_id = cand.oid
        WHERE $agreeSum >= $minAgree),
      exa AS (SELECT DISTINCT b.doc_id AS bid FROM documents b
        JOIN documents o ON o.text = b.text
        WHERE NOT ${isOld("b.doc_id")} AND ${isOld("o.doc_id")})
    SELECT doc_id, lang, n_chars FROM documents
    WHERE NOT ${isOld("doc_id")}
      AND doc_id NOT IN (SELECT bid FROM near)
      AND doc_id NOT IN (SELECT bid FROM exa)"""
  }

  /** Oracle for dedup_index_compact: replays the two-index merge —
    * the same signature/banding/agreement machinery as
    * [[incrementalDedupOracle]], but the decision set is "which
    * SECONDARY-split doc survives against the PRIMARY split", and
    * every primary doc survives unconditionally.
    */
  private def indexCompactOracle(primaryPct: Int, minAgree: Int): String = {
    val p = MinHashLSH.Params()
    val agreeSum = (0 until p.numHashes)
      .map(i => s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    def isPri(ref: String) =
      s"(((($ref) % 1000003) * 2654435761) % 100 < $primaryPct)"
    s"""WITH ${minhashSigCtes(materializeSg = true)},
      cand AS (SELECT DISTINCT l.doc_id AS sid, r.doc_id AS pid
        FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
        WHERE NOT ${isPri("l.doc_id")} AND ${isPri("r.doc_id")}),
      near AS (SELECT DISTINCT cand.sid FROM cand
        JOIN sg l ON l.doc_id = cand.sid
        JOIN sg r ON r.doc_id = cand.pid
        WHERE $agreeSum >= $minAgree),
      exa AS (SELECT DISTINCT b.doc_id AS sid FROM documents b
        JOIN documents o ON o.text = b.text
        WHERE NOT ${isPri("b.doc_id")} AND ${isPri("o.doc_id")})
    SELECT doc_id,
        CASE WHEN ${isPri("doc_id")} THEN 'primary' ELSE 'secondary' END
          AS origin
      FROM documents
      WHERE ${isPri("doc_id")}
        OR (doc_id NOT IN (SELECT sid FROM near)
          AND doc_id NOT IN (SELECT sid FROM exa))"""
  }

  /** MinHash edges (jaccard >= 0.8) closed into connected components
    * via a recursive CTE — `comp(node, cluster)`. Shared by the
    * dedup_clusters and dedup_keep_best oracles.
    */
  private def clusterCtes: String =
    s"""$minhashVerCtes,
      edges AS (SELECT a, b FROM ver WHERE CAST(inter AS DOUBLE) / uni >= 0.8),
      adj AS (SELECT a AS u, b AS v FROM edges
              UNION SELECT b AS u, a AS v FROM edges),
      reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, adj.v FROM reach JOIN adj ON adj.u = reach.r),
      comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)"""

  /** Generated DuckDB oracle for dedup_clusters: verified MinHash
    * near-dup edges (jaccard >= 0.8, same CTEs as dedup_minhash) →
    * recursive-CTE connected components → keep each component's min
    * id. With the LSH pipeline DuckDB-expressible, the clustering
    * operator's SCALE path (MinHash edges) is exactly checkable — not
    * just the word-Jaccard proxy of dedup_clusters_exact.
    */
  private def clustersOracle: String =
    s"""WITH RECURSIVE $clusterCtes
      SELECT doc.doc_id, doc.n_chars FROM documents doc
      JOIN comp ON comp.node = doc.doc_id
      WHERE comp.node = comp.cluster"""

  /** Generated DuckDB oracle for dedup_keep_best: same components,
    * but the survivor per cluster is the highest-quality doc
    * (n_chars DESC, doc_id ASC) instead of the min id.
    */
  private def keepBestOracle: String =
    s"""WITH RECURSIVE $clusterCtes
      SELECT doc_id, n_chars FROM (
        SELECT d.doc_id, d.n_chars,
          row_number() OVER (PARTITION BY comp.cluster
            ORDER BY d.n_chars DESC, d.doc_id) AS rn
        FROM documents d JOIN comp ON comp.node = d.doc_id)
      WHERE rn = 1"""

  /** Generated DuckDB oracle for dedup_simhash: FNV-1a per token
    * (same [[fnvSql]] arithmetic), then 64 per-bit +1/-1 vote sums over
    * the token multiset and a bit-reassembly through HUGEINT (bit 63
    * would overflow signed BIGINT). Matches TextHashing.simhash64
    * bit-for-bit.
    */
  /** CTE block computing `sh(doc_id, simhash)` for docs matching
    * `pred` — shared by the projection and band-pair simhash oracles.
    */
  private def simhashCtes(pred: String): String = {
    val voteDefs = (0 until 64).map { b =>
      s"sum(CASE WHEN (uh // ${BigInt(1) << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(", ")
    val bitSum = (0 until 64).map { b =>
      s"(CASE WHEN v$b > 0 THEN CAST(${BigInt(1) << b} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
    }.mkString(" + ")
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE $pred),
      h AS (SELECT doc_id, ${fnvSql("w")} AS th FROM t),
      u AS (SELECT doc_id, CASE WHEN th < 0 THEN CAST(th AS HUGEINT) + $U64
                                ELSE CAST(th AS HUGEINT) END AS uh FROM h),
      v AS (SELECT doc_id, $voteDefs FROM u GROUP BY doc_id),
      sh AS (SELECT doc_id,
        CAST((($bitSum) + $S63) % $U64 - $S63 AS BIGINT) AS simhash FROM v)"""
  }

  private def simhashOracle: String =
    s"""WITH ${simhashCtes("doc_id < 200")}
      SELECT doc_id, simhash FROM sh"""

  /** Generated DuckDB oracle for dedup_simhash_pairs: the simhash CTEs
    * plus the 4x16-bit band equi-join (bit slices extracted through the
    * unsigned HUGEINT representation) and the bit_count(xor) hamming
    * verify — DuckDB's bit_count/xor are two's-complement 64-bit,
    * matching Spark's exactly (probed: bit_count(-1) = 64).
    */
  private def simhashPairsOracle: String = {
    val keys = (0 until 4).map(t =>
      s"CAST((us // ${BigInt(1) << (16 * t)}) % 65536 AS BIGINT)").mkString("[", ", ", "]")
    s"""WITH ${simhashCtes("doc_id < 500")},
      us AS (SELECT doc_id, simhash,
          CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + $U64
               ELSE CAST(simhash AS HUGEINT) END AS us FROM sh),
      bk AS (SELECT doc_id, simhash, unnest(range(0, 4)) AS band,
             unnest($keys) AS key FROM us),
      pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
          CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
        FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
          AND l.doc_id < r.doc_id)
      SELECT a, b, hamming FROM pairs WHERE hamming <= 3"""
  }

  /** Generated DuckDB oracle for ann_ivf_topk — the data-dependent
    * sibling of [[lshTopKOracle]]: k-means training is exactly
    * deterministic ([[IvfAnn.fitCentroids]] accumulates cell sums as
    * fixed-point DECIMAL, so centroids are independent of shuffle merge
    * order), which makes the trained centroids inlinable SQL literals.
    * The oracle then replays the identical index/probe/rank pipeline:
    *  - cell assignment = argmax of (dot(v,c_i) - |c_i|^2/2), ties to
    *    the HIGHEST cell (Spark's array_max over struct(score, cell) is
    *    lexicographic) — the CASE ladder checks cells high-to-low;
    *  - probes = top-nprobe cells by (score DESC, cell ASC) (Spark's
    *    array_sort over struct(-score, cell));
    *  - candidates = cell equi-join, self-match excluded, ranked by
    *    (cosine DESC, nid ASC).
    * The |c_i|^2/2 offsets are computed once in Scala and inlined, so
    * both engines subtract the identical double.
    */
  private def ivfTopKOracle(s: SparkSession, dir: String): String =
    ivfOracleImpl(s, dir, labelFiltered = false)

  /** [[ivfTopKOracle]] with the label-equality candidate filter
    * threaded through — the ann_ivf_filtered oracle.
    */
  private def ivfFilteredOracle(s: SparkSession, dir: String): String =
    ivfOracleImpl(s, dir, labelFiltered = true)

  private def ivfOracleImpl(s: SparkSession, dir: String,
                            labelFiltered: Boolean): String = {
    val centroids = IvfAnn.fitCentroids(
      t(s, dir, "embeddings"), "vec_id", "embedding", ivfParams)
    val k = centroids.length
    val scoreDefs = centroids.zipWithIndex.map { case (c, i) =>
      val lit = c.mkString("[", ", ", "]")
      val off = c.map(x => x * x).sum / 2.0
      s"list_inner_product(e, $lit) - ($off) AS s$i"
    }.mkString(", ")
    val sList = (0 until k).map(i => s"s$i").mkString(", ")
    // the filtered variant threads the label through every CTE and
    // applies the equality INSIDE the candidate join (single-stage
    // filter, matching IvfAnn.searchTopK's candidateFilter)
    val lab = if (labelFiltered) ", label" else ""
    val labQ = if (labelFiltered) ", label AS qlabel" else ""
    val labPr = if (labelFiltered) ", qlabel" else ""
    val labCond = if (labelFiltered) " AND a.label = pr.qlabel" else ""
    s"""WITH v AS (SELECT vec_id$lab, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sc AS (SELECT vec_id$lab, e, $scoreDefs FROM v),
      a AS (SELECT vec_id$lab, e, ${argmaxLadder(i => s"s$i", 0 until k)} AS cell FROM sc),
      pr AS (SELECT qid$labPr, cell FROM (
          SELECT vec_id AS qid$labQ, c AS cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
          FROM (SELECT vec_id$lab, unnest([$sList]) AS s, unnest(range(0, $k)) AS c
                FROM sc WHERE vec_id < 10)) WHERE rn <= ${ivfParams.nprobe}),
      cand AS (SELECT pr.qid, a.vec_id AS nid FROM pr JOIN a ON a.cell = pr.cell
               WHERE a.vec_id <> pr.qid$labCond),
      scored AS (SELECT cand.qid, cand.nid,
          row_number() OVER (PARTITION BY cand.qid ORDER BY
            list_cosine_similarity(qe.e, ce.e) DESC, cand.nid) AS rn
        FROM cand JOIN v qe ON qe.vec_id = cand.qid
                  JOIN v ce ON ce.vec_id = cand.nid)
      SELECT qid, nid, CAST(rn AS BIGINT) AS nn_rank FROM scored WHERE rn <= 5"""
  }

  private val pqParams = PqAnn.Params(m = 8, ksub = 16, iterations = 3)

  /** Generated DuckDB oracle for pq_ann_topk — the PQ sibling of
    * [[ivfTopKOracle]]: training is exactly deterministic (same
    * fixed-point DECIMAL machinery), so the m x ksub x dsub codebooks
    * inline as SQL literals. The oracle replays normalization
    * (x / sqrt(ip(e,e)) — bit-identical in both engines), per-subspace
    * encoding (argmax CASE ladders, ties to the highest cell like
    * Spark's array_max), and ADC scoring (per-subspace CASE selecting
    * the coded centroid's inner product with the query subvector,
    * summed left-to-right in the same order as the Spark reduce).
    */
  private def pqTopKOracle(s: SparkSession, dir: String): String = {
    val cbs = PqAnn.fitCodebooks(t(s, dir, "embeddings"), "vec_id", "embedding", pqParams)
    val m = cbs.length
    val ksub = cbs(0).length
    val dsub = cbs(0)(0).length
    val sliceDefs = (0 until m).map { sub =>
      s"list_transform(range(1, ${dsub + 1}), i -> en[${sub * dsub} + i]) AS x$sub"
    }.mkString(", ")
    val scoreDefs = (for (sub <- 0 until m; c <- 0 until ksub) yield {
      val cb = cbs(sub)(c)
      val off = cb.map(x => x * x).sum / 2.0
      s"list_inner_product(x$sub, ${cb.mkString("[", ", ", "]")}) - ($off) AS s${sub}_$c"
    }).mkString(", ")
    val cellDefs = (0 until m).map { sub =>
      s"${argmaxLadder(c => s"s${sub}_$c", 0 until ksub)} AS c$sub"
    }.mkString(", ")
    val adc = (0 until m).map { sub =>
      val arms = (0 until ksub).map { c =>
        s"WHEN ${c} THEN list_inner_product(q.x$sub, ${cbs(sub)(c).mkString("[", ", ", "]")})"
      }.mkString(" ")
      s"(CASE e.c$sub $arms END)"
    }.mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id,
        list_transform(e, x -> x / sqrt(list_inner_product(e, e))) AS en FROM v),
      sl AS (SELECT vec_id, $sliceDefs FROM n),
      sc AS (SELECT vec_id, $scoreDefs FROM sl),
      e AS (SELECT vec_id, $cellDefs FROM sc),
      scored AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ($adc) DESC, e.vec_id) AS rn
        FROM (SELECT * FROM sl WHERE vec_id < 10) q
        JOIN e ON e.vec_id <> q.vec_id)
      SELECT qid, nid, CAST(rn AS BIGINT) AS nn_rank FROM scored WHERE rn <= 5"""
  }

  // 2 Lloyd iterations for both trainers: measured recall@5 0.40 vs
  // 0.34 at 3 iterations on this corpus (non-monotone in iteration
  // count), at ~1 s less fixed training cost per run
  private val ivfPqParams = IvfPqAnn.Params(coarseK = 16, coarseIterations = 2,
    nprobe = 3, pq = PqAnn.Params(m = 8, ksub = 16, iterations = 2))

  /** Generated DuckDB oracle for ivfpq_ann_topk — the composition of
    * the [[ivfTopKOracle]] and [[pqTopKOracle]] templates: both
    * deterministically-trained codebooks (coarse cells + residual PQ)
    * inline as literals; the oracle replays normalization, coarse
    * assignment (ties high), residual computation via nested-literal
    * subscripting, residual encoding ladders, probe selection
    * (score DESC, cell ASC), and the dot(q, cell) + ADC(residual)
    * score with the same left-to-right term order as the Spark side.
    */
  private def ivfPqTopKOracle(s: SparkSession, dir: String): String = {
    val (coarse, rescb) =
      IvfPqAnn.fit(t(s, dir, "embeddings"), "vec_id", "embedding", ivfPqParams)
    val ck = coarse.length
    val m = rescb.length
    val ksub = rescb(0).length
    val dsub = rescb(0)(0).length
    val dim = m * dsub
    val coarseNested = coarse.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

    val coarseScoreDefs = coarse.zipWithIndex.map { case (c, i) =>
      val off = c.map(x => x * x).sum / 2.0
      s"list_inner_product(en, ${c.mkString("[", ", ", "]")}) - ($off) AS s$i"
    }.mkString(", ")
    val coarseCase = argmaxLadder(i => s"s$i", 0 until ck)
    val sList = (0 until ck).map(i => s"s$i").mkString(", ")

    val resSliceDefs = (0 until m).map { sub =>
      s"list_transform(range(1, ${dsub + 1}), " +
        s"i -> en[${sub * dsub} + i] - ($coarseNested)[cell + 1][${sub * dsub} + i]) AS x$sub"
    }.mkString(", ")
    val resScoreDefs = (for (sub <- 0 until m; c <- 0 until ksub) yield {
      val cb = rescb(sub)(c)
      val off = cb.map(x => x * x).sum / 2.0
      s"list_inner_product(x$sub, ${cb.mkString("[", ", ", "]")}) - ($off) AS r${sub}_$c"
    }).mkString(", ")
    val resCellDefs = (0 until m).map { sub =>
      s"${argmaxLadder(c => s"r${sub}_$c", 0 until ksub)} AS c$sub"
    }.mkString(", ")

    val qSliceDefs = (0 until m).map { sub =>
      s"list_transform(range(1, ${dsub + 1}), i -> en[${sub * dsub} + i]) AS qx$sub"
    }.mkString(", ")
    val coarseTerm = {
      val arms = (0 until ck).map { i =>
        s"WHEN $i THEN list_inner_product(q.en, ${coarse(i).mkString("[", ", ", "]")})"
      }.mkString(" ")
      s"(CASE pr.cell $arms END)"
    }
    val adcTerms = (0 until m).map { sub =>
      val arms = (0 until ksub).map { c =>
        s"WHEN $c THEN list_inner_product(q.qx$sub, ${rescb(sub)(c).mkString("[", ", ", "]")})"
      }.mkString(" ")
      s"(CASE e.c$sub $arms END)"
    }.mkString(" + ")

    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      n AS (SELECT vec_id,
        list_transform(e, x -> x / sqrt(list_inner_product(e, e))) AS en FROM v),
      csc AS (SELECT vec_id, en, $coarseScoreDefs FROM n),
      ca AS (SELECT vec_id, en, $coarseCase AS cell FROM csc),
      rsl AS (SELECT vec_id, cell, $resSliceDefs FROM ca),
      rsc AS (SELECT vec_id, cell, $resScoreDefs FROM rsl),
      e AS (SELECT vec_id, cell, $resCellDefs FROM rsc),
      q AS (SELECT vec_id, en, $qSliceDefs FROM n WHERE vec_id < 10),
      pr AS (SELECT qid, cell FROM (
          SELECT vec_id AS qid, c AS cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY sv DESC, c ASC) AS rn
          FROM (SELECT vec_id, unnest([$sList]) AS sv, unnest(range(0, $ck)) AS c
                FROM csc WHERE vec_id < 10)) WHERE rn <= ${ivfPqParams.nprobe}),
      scored AS (SELECT pr.qid, e.vec_id AS nid,
          row_number() OVER (PARTITION BY pr.qid ORDER BY
            ($coarseTerm + ($adcTerms)) DESC, e.vec_id) AS rn
        FROM pr JOIN e ON e.cell = pr.cell
                JOIN q ON q.vec_id = pr.qid
        WHERE e.vec_id <> pr.qid)
      SELECT qid, nid, CAST(rn AS BIGINT) AS nn_rank FROM scored WHERE rn <= 5"""
  }

  val all: Seq[QueryDef] = Seq(

    // ---- deduplication ----

    QueryDef("dedup_exact",
      (s, dir) => ExactDedup.representatives(t(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY text""")),

    // Paragraph-grain exact dedup (C4 repeated-line removal at a fixed
    // 15-word grain): each distinct chunk survives once corpus-wide,
    // first occurrence by (doc_id, idx) wins, texts are rebuilt from
    // the surviving chunks. The oracle ranks by the chunk STRING —
    // the Spark plan ranks by a 64-bit chunk hash and never shuffles
    // text (ChunkDedup scaladoc); equal output certifies the hash plan.
    QueryDef("dedup_paragraph",
      (s, dir) => ChunkDedup.cleanDocs(
        t(s, dir, "documents"), "doc_id", "text", chunkWords = 15),
      Some("""WITH chunked AS (
          SELECT doc_id,
            [{'i': i, 'p': array_to_string(w[(i*15+1):(i*15+15)], ' ')}
               FOR i IN range(CAST(ceil(len(w)/15.0) AS BIGINT))] AS chunks
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        paras AS (
          SELECT doc_id, u.z.i AS idx, u.z.p AS p
          FROM chunked, unnest(chunks) u(z)),
        kept AS (
          SELECT doc_id, idx, p,
            row_number() OVER (PARTITION BY p ORDER BY doc_id, idx) AS rn
          FROM paras)
        SELECT doc_id,
          string_agg(CASE WHEN rn=1 THEN p END, ' ' ORDER BY idx) AS clean_text,
          CAST(count(*) FILTER (WHERE rn=1) AS BIGINT) AS kept_chunks,
          CAST(count(*) AS BIGINT) AS total_chunks
        FROM kept GROUP BY doc_id""")),

    QueryDef("dedup_minhash",
      // top LSH candidate pairs by verified exact Jaccard; threshold 0
      // keeps the ranking interesting on a corpus with no planted dups.
      // The oracle replays the full MinHash+LSH pipeline in DuckDB
      // (HUGEINT-emulated wrapping FNV-1a, inlined permutation
      // constants, raw-tuple banding) — see minhashOracle
      (s, dir) => MinHashLSH.nearDuplicates(
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.0)
        .orderBy(col("jaccard").desc, col("a"), col("b")).limit(20),
      Some(minhashOracle)),

    QueryDef("dedup_minhash_split",
      // the HOT-BUCKET SPLIT path itself under the oracle gate: a
      // planted flood of identical boilerplate (100 docs, every band
      // bucket far over the 50-id cap) beside 300 real docs. The
      // split must (a) keep the real docs' cold buckets EXACT, and
      // (b) connect the flood by min-id star edges instead of
      // dropping it. Output is a one-row checksum (pair count, flood
      // edge count, id sums) so the whole pair SET is hash-pinned;
      // the DuckDB oracle replays cold join + per-signature star
      // (see minhashSplitOracle for why rep sub-bucket pairs are
      // provably empty here)
      (s, dir) => {
        val real = t(s, dir, "documents").where(col("doc_id") < 300)
          .select(col("doc_id"), col("text"))
        val flood = s.range(splitFlood)
          .select((col("id") + 1000000L).as("doc_id"),
            lit(splitBoiler).as("text"))
        MinHashLSH.candidatePairs(real.union(flood), "doc_id", "text",
            MinHashLSH.Params(), maxBucket = Some(splitCap))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("b") >= 1000000L, 1L).otherwise(0L))
              .as("n_flood_edges"),
            sum(col("a")).as("sum_a"), sum(col("b")).as("sum_b"))
      },
      Some(minhashSplitOracle)),

    QueryDef("dedup_simhash",
      (s, dir) => t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), SimHash.simhash(col("text")).as("simhash")),
      Some(simhashOracle)),

    QueryDef("dedup_simhash_pairs",
      // the simhash BAND JOIN under an oracle (the projection query
      // above only checks the hashes): near-dup pairs at hamming <= 3,
      // found via the 4x16-bit band equi-join the operator guarantees
      // exhaustive in that radius
      (s, dir) => SimHash.pairs(
        t(s, dir, "documents").where(col("doc_id") < 500),
        "doc_id", "text", maxHamming = 3),
      Some(simhashPairsOracle)),

    QueryDef("dedup_clusters",
      // near-dup pairs -> connected components -> one kept row per
      // cluster; output is the surviving doc ids. Exact oracle since
      // round 4: the MinHash edge set is replayed in DuckDB and closed
      // with a recursive CTE (see clustersOracle)
      (s, dir) => NearDupClusters.dropNearDuplicates(
          t(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
        .select("doc_id", "n_chars"),
      Some(clustersOracle)),

    QueryDef("dedup_clusters_exact",
      // the clustering operator under an exact DuckDB oracle: edges are
      // exact word-Jaccard >= 0.8 pairs (SQL-expressible, unlike the
      // MinHash edges of dedup_clusters), components verified against a
      // recursive-CTE closure. Proves the label-propagation operator
      // itself, not just its determinism. 250 docs (was 100 in r3) —
      // iteration DEPTH does not grow with doc count here because the
      // corpus's planted clusters have diameter ~1; the O(log diameter)
      // claim is pinned separately on a 200-node chain in
      // NearDupClustersSpec, where propagation provably runs >2 rounds
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 250)
        val pairs = WordJaccard.pairStats(docs, "doc_id", "text", maxDocFreq = 1000L)
          .where(col("inter").cast("double") / col("uni") >= 0.8)
          .select("a", "b")
        NearDupClusters.representatives(docs.select("doc_id"), pairs, "doc_id")
      },
      Some("""WITH RECURSIVE
          s AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < 250),
          c AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
          i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
                FROM s x JOIN s y ON x.w = y.w AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
          edges AS (
            SELECT i.a, i.b FROM i
            JOIN c ca ON ca.doc_id = i.a JOIN c cb ON cb.doc_id = i.b
            WHERE CAST(i.inter AS DOUBLE) / (ca.n + cb.n - i.inter) >= 0.8),
          adj AS (SELECT a AS u, b AS v FROM edges
                  UNION SELECT b AS u, a AS v FROM edges),
          reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents WHERE doc_id < 250
            UNION
            SELECT reach.node, adj.v FROM reach JOIN adj ON adj.u = reach.r)
        SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node""")),

    QueryDef("dedup_keep_best",
      // quality-aware canonicalization: per near-dup cluster keep the
      // HIGHEST-quality doc (n_chars DESC, ties by lowest id) rather
      // than the min id — the survivor-selection real pipelines want
      // (dedup_clusters proves the min-id form; this proves ranked
      // representative selection over the same components)
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = MinHashLSH.nearDuplicates(docs, "doc_id", "text", threshold = 0.8)
          .select("a", "b")
        val reps = NearDupClusters.representatives(docs.select("doc_id"), pairs, "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id").asc)
        docs.join(reps, Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("doc_id", "n_chars")
      },
      Some(keepBestOracle)),

    QueryDef("dedup_word_jaccard",
      // exact pairwise Jaccard counts over distinct word sets — the
      // n-gram-Jaccard oracle case (integer outputs, no division).
      // maxDocFreq = 1000 structurally bounds the hot-token join blowup
      // while staying above this 100-doc subset's maximum possible df,
      // so the capped result is bit-identical to the uncapped oracle
      (s, dir) => WordJaccard.pairStats(
        t(s, dir, "documents").where(col("doc_id") < 100),
        "doc_id", "text", maxDocFreq = 1000L),
      Some("""WITH s AS (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id < 100),
        c AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
        i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
          FROM s x JOIN s y ON x.w = y.w AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT i.a, i.b, i.inter, ca.n + cb.n - i.inter AS uni
        FROM i JOIN c ca ON ca.doc_id = i.a JOIN c cb ON cb.doc_id = i.b""")),

    // Sorted-neighborhood (merge/purge) near-dup: the third blocking
    // family next to MinHash bands and prefix filtering — O(n*window)
    // candidates from rank adjacency in text sort order, exact
    // integer Jaccard verify at tau >= 1/2. The oracle replays the
    // global rank with a plain row_number window; the Spark side gets
    // the SAME ranks from the range-sharded PrefixSum (no single-task
    // sort) — equal pair sets certify the distributed rank.
    QueryDef("dedup_sorted_neighborhood",
      (s, dir) => SortedNeighborhood.nearDupPairs(
        t(s, dir, "documents"), "doc_id", "text", window = 4),
      Some("""WITH r AS (
          SELECT doc_id, text,
            row_number() OVER (ORDER BY text, doc_id) AS rnk
          FROM documents),
        cand AS (
          SELECT a.doc_id AS a, b.doc_id AS b,
            list_distinct(string_split(a.text, ' ')) AS ta,
            list_distinct(string_split(b.text, ' ')) AS tb
          FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 4),
        j AS (
          SELECT CASE WHEN a < b THEN a ELSE b END AS a,
                 CASE WHEN a < b THEN b ELSE a END AS b,
            CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
            CAST(len(ta) + len(tb) - len(list_intersect(ta, tb)) AS BIGINT) AS uni
          FROM cand)
        SELECT a, b, inter, uni FROM j WHERE inter * 2 >= uni""")),

    QueryDef("neardup_embedding",
      // embedding-cosine near-dup, exact baseline: top-20 most similar
      // pairs via the GUARDED all-pairs operator (refuses inputs above
      // its maxVectors bound, so the quadratic path is structurally
      // unreachable at scale); the 100 TB path is
      // neardup_embedding_lsh below
      (s, dir) => Similarity.bruteForcePairsTopK(
          t(s, dir, "embeddings").where(col("vec_id") < 300), k = 20)
        .select("a", "b"),
      Some("""SELECT a, b FROM (
          SELECT x.vec_id AS a, y.vec_id AS b,
            row_number() OVER (ORDER BY list_cosine_similarity(
              CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])) DESC,
              x.vec_id, y.vec_id) AS rn
          FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
          WHERE x.vec_id < 300 AND y.vec_id < 300)
        WHERE rn <= 20""")),

    QueryDef("neardup_embedding_lsh",
      // embedding-cosine near-dup, scale path: random-hyperplane LSH
      // bucket candidates (equi-join, never all-pairs) + exact cosine
      // verify. The buckets are seed-derived constants, so even this
      // path has an exact generated oracle (see lshNearDupOracle);
      // pair recall vs the exact baseline is additionally asserted in
      // RecallSpec. Threshold 0.2 on a corpus whose max pairwise
      // cosine is ~0.5 keeps the verify stage selective
      (s, dir) => RandomHyperplaneLSH.nearDupPairs(
          t(s, dir, "embeddings"), threshold = 0.2)
        .orderBy(col("cos").desc, col("a"), col("b")).limit(50)
        .select("a", "b"),
      Some(lshNearDupOracle)),

    QueryDef("dedup_semantic",
      // SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings
      // (deterministic Lloyd training shared with IvfAnn), generate
      // pairs only WITHIN a cell (equi-join — never all-pairs), keep
      // the min-id survivor of every cosine>=tau group. The paraphrase
      // dedup pass that token-based MinHash/SimHash can't do.
      // The FLAGSHIP path routes cell assignment through the two-level
      // coarse quantizer — O(sqrt(k)·d) per row instead of O(k·d), the
      // scale-safe default once k is sized to the corpus; assignment
      // is approximate at super-cell boundaries but exactly
      // deterministic, so the oracle replays it (super ladder +
      // per-super member ladders) bit-for-bit
      (s, dir) => SemDedup.survivors(
        t(s, dir, "embeddings"), "vec_id", "embedding", semDedup2Params),
      None,
      oracleGen = Some(semDedup2Oracle _)),

    QueryDef("dedup_semantic_flat",
      // BASELINE-ONLY flat assignment (every row scores all k cells,
      // O(n·k·d)): kept under the oracle gate as the exactness
      // reference the two-level path is judged against — NOT the path
      // to run at scale (SemDedup.survivors warns loudly past k=64).
      // Oracle inlines the trained centroids and replays flat
      // assignment + the in-cell threshold exactly
      (s, dir) => SemDedup.survivors(
        t(s, dir, "embeddings"), "vec_id", "embedding", semDedupParams),
      None,
      oracleGen = Some(semDedupOracle _)),

    QueryDef("dedup_semantic_search",
      // the AMORTIZED SemDeDup path: the prebuilt centroid model
      // (semModelFor), then dedup against the
      // parquet-backed model with NO in-query training — the frozen-
      // model posture that dedups every new corpus drop against the
      // same cells. Same oracle as dedup_semantic (identical params ⇒
      // identical deterministic centroids ⇒ identical survivors), so
      // fit→save→load→dedup is proven bit-equal to fit→dedup under
      // the driver's hash gate.
      (s, dir) => SemDedup.survivorsWithModel(
        t(s, dir, "embeddings"), "vec_id", "embedding", semDedup2Params,
        semModelFor(s, dir)),
      None,
      oracleGen = Some(semDedup2Oracle _)),

    // ---- similarity search (ANN) ----

    QueryDef("ann_brute_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e, k = 5)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      Some("""SELECT qid, nid, CAST(rn AS BIGINT) AS nn_rank FROM (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(
                CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                c.vec_id) AS rn
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        WHERE rn <= 5""")),

    // Int8 scalar quantization (SQ8): brute-force shape, 4x fewer
    // bytes — the first compression rung before PQ/IVF-PQ. Scores are
    // sums of exact sub-2^53 integers, so the double cosine is
    // bit-identical across engines and the oracle is fully static.
    QueryDef("embed_sq8_topk",
      (s, dir) => ScalarQuant.topKByQuantizedCosine(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 7, k = 20),
      Some("""WITH s AS (
          SELECT max(abs(CAST(u.x AS DOUBLE))) AS m
          FROM (SELECT unnest(embedding) AS x FROM embeddings) u),
        qz AS (
          SELECT e.vec_id,
            list_transform(e.embedding,
              x -> floor(CAST(x AS DOUBLE) * 127.0 / s.m + 0.5)) AS qv
          FROM embeddings e, s)
        SELECT c.vec_id,
          list_dot_product(c.qv, q.qv) /
            (sqrt(list_dot_product(c.qv, c.qv)) *
             sqrt(list_dot_product(q.qv, q.qv))) AS qcos
        FROM qz c, qz q
        WHERE q.vec_id = 7 AND c.vec_id <> 7
          AND list_dot_product(c.qv, c.qv) > 0
          AND list_dot_product(q.qv, q.qv) > 0
        ORDER BY qcos DESC, c.vec_id LIMIT 20""")),

    // Amortized SQ8: search the PERSISTED int8 index (array<tinyint>
    // parquet + the scale scalar — the actual 4x storage form); no
    // corpus fit, no float vectors read. Shares embed_sq8_topk's
    // static oracle: levels round-trip byte->double exactly, so
    // fit->save->load->search must hash-match fit->search.
    QueryDef("embed_sq8_search",
      (s, dir) => {
        val q = t(s, dir, "embeddings").where(col("vec_id") === 7)
        ScalarQuant.searchTopK(q, sq8IndexFor(s, dir), k = 20)
          .select(col("nid").as("vec_id"), col("qcos"))
      },
      Some("""WITH s AS (
          SELECT max(abs(CAST(u.x AS DOUBLE))) AS m
          FROM (SELECT unnest(embedding) AS x FROM embeddings) u),
        qz AS (
          SELECT e.vec_id,
            list_transform(e.embedding,
              x -> floor(CAST(x AS DOUBLE) * 127.0 / s.m + 0.5)) AS qv
          FROM embeddings e, s)
        SELECT c.vec_id,
          list_dot_product(c.qv, q.qv) /
            (sqrt(list_dot_product(c.qv, c.qv)) *
             sqrt(list_dot_product(q.qv, q.qv))) AS qcos
        FROM qz c, qz q
        WHERE q.vec_id = 7 AND c.vec_id <> 7
          AND list_dot_product(c.qv, c.qv) > 0
          AND list_dot_product(q.qv, q.qv) > 0
        ORDER BY qcos DESC, c.vec_id LIMIT 20""")),

    QueryDef("ann_lsh_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        RandomHyperplaneLSH.topK(e.where(col("vec_id") < 10), e, k = 5)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      Some(lshTopKOracle)),

    QueryDef("ann_lsh_multiprobe",
      // margin-ranked multi-probe LSH: +2 least-confident bit flips per
      // table on the QUERY side only — recall rises (RecallSpec:
      // 0.20 -> >=0.3 on this corpus) with zero corpus-side reindexing
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        RandomHyperplaneLSH.topK(e.where(col("vec_id") < 10), e, k = 5,
            extraProbes = 2)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      Some(lshMultiProbeOracle)),

    QueryDef("ivfpq_ann_topk",
      // the full Jegou IVF-ADC composition: probe 3/16 coarse cells,
      // score candidates by dot(q, cell centroid) + ADC over
      // product-quantized RESIDUAL codes — at scale the probe join
      // touches ~nprobe/k of the corpus and each touched row is a
      // 4-byte code, not a 256-byte embedding
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        IvfPqAnn.topK(e.where(col("vec_id") < 10), e, k = 5, p = ivfPqParams)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(ivfPqTopKOracle _)),

    QueryDef("pq_ann_topk",
      // product-quantized ANN: the corpus side is scanned as packed
      // 4-bit-per-subspace codes (~64x smaller than the float
      // embeddings — the 100 TB memory story), scored by asymmetric
      // distance against exact queries; codebook training is exactly
      // deterministic, so the oracle inlines the trained codebooks
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        PqAnn.topK(e.where(col("vec_id") < 10), e, k = 5, p = pqParams)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(pqTopKOracle _)),

    QueryDef("ann_ivf_topk",
      // IVF: deterministic k-means cells, probe 3/16 of the corpus;
      // the oracle is GENERATED per sfDir (inlined trained centroids —
      // see ivfTopKOracle), so even this approximate path is checked
      // rows+schema+hash exact
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        IvfAnn.topK(e.where(col("vec_id") < 10), e, k = 5, p = ivfParams)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(ivfTopKOracle _)),

    QueryDef("ann_ivf_filtered",
      // FILTERED vector search ("nearest neighbors with the same
      // label/tenant/language"): the label-equality predicate applies
      // INSIDE the probe join — single-stage filtering, not a
      // post-filter of an unfiltered top-k that silently under-fills
      // k when neighbors fail the predicate. Metadata rides the
      // index (fitIndex metaCols) so filtering costs no extra join;
      // same deterministic training as ann_ivf_topk, so the oracle
      // inlines identical centroids and threads the label through
      // the replay. The index is prebuilt (ivfMetaIndexFor) — the
      // amortized serving shape, same as ann_ivf_search.
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val idx = ivfMetaIndexFor(s, dir)
        IvfAnn.searchTopK(e.where(col("vec_id") < 10), idx, k = 5,
            nprobe = ivfParams.nprobe, queryMetaCols = Seq("label"),
            candidateFilter = Some(col("label") === col("q_label")))
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(ivfFilteredOracle _)),

    QueryDef("ann_ivf_search",
      // the AMORTIZED IVF path: the prebuilt index (ivfIndexFor),
      // then search the parquet-backed index — no
      // in-query training. Same oracle as ann_ivf_topk (identical
      // params ⇒ identical deterministic centroids ⇒ identical
      // search results), so fit→save→load→search is proven bit-equal
      // to fit→search under the driver's hash gate.
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        IvfAnn.searchTopK(e.where(col("vec_id") < 10), ivfIndexFor(s, dir),
            k = 5, nprobe = ivfParams.nprobe)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(ivfTopKOracle _)),

    QueryDef("ivfpq_ann_search",
      // amortized IVF-PQ: search a persisted (nid, cell, 4-byte code)
      // index — the 100 TB serving shape where the two k-means fits
      // are per-index-lifetime cost, not per-query. Oracle shared with
      // ivfpq_ann_topk for the same determinism reason as
      // ann_ivf_search.
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        IvfPqAnn.searchTopK(e.where(col("vec_id") < 10), ivfPqIndexFor(s, dir),
            k = 5, nprobe = ivfPqParams.nprobe)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(ivfPqTopKOracle _)),

    QueryDef("pq_ann_search",
      // amortized flat-PQ: one scan of a persisted (nid, 4-byte code)
      // index, no training and no encoding in the query — with
      // ann_ivf_search and ivfpq_ann_search this completes the
      // fit-once/search-many proof for all three quantized ANN
      // variants. Oracle shared with pq_ann_topk (identical params ⇒
      // identical deterministic codebooks ⇒ identical search).
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        PqAnn.searchTopK(e.where(col("vec_id") < 10), pqIndexFor(s, dir), k = 5)
          .select(col("qid"), col("nid"), col("rank").as("nn_rank"))
      },
      None,
      oracleGen = Some(pqTopKOracle _)),

    // ---- text analysis ----

    QueryDef("text_stats",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.distinctTokenCount(col("text")).as("n_distinct"),
        TF.charCountNoSpaces(col("text")).as("n_chars_nospace"),
        TF.stopwordCount(col("text"), stops).as("n_stopwords"),
        TF.regexTokenCount(col("text")).as("n_regex_tokens"),
        (TF.tokenCount(col("text")).between(20, 500) &&
          TF.stopwordCount(col("text"), stops) * 20 >= TF.tokenCount(col("text")))
          .as("is_quality")),
      Some("""SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
          CAST(len(list_filter(string_split(text, ' '),
            w -> w IN ('the','and','of','is','in','a'))) AS BIGINT) AS n_stopwords,
          CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
            AS BIGINT) AS n_regex_tokens,
          (len(string_split(text, ' ')) BETWEEN 20 AND 500)
            AND (len(list_filter(string_split(text, ' '),
              w -> w IN ('the','and','of','is','in','a'))) * 20
              >= len(string_split(text, ' '))) AS is_quality
        FROM documents""")),

    QueryDef("text_quality_gate",
      // Gopher-style composite quality FILTER (Rae et al. 2021,
      // arXiv:2112.11446 §A1.1 rules, thresholds calibrated to the
      // fixture corpus) with per-rule attribution — the gate a
      // pipeline applies before training, where knowing WHY a doc was
      // dropped matters as much as dropping it. Ratio thresholds are
      // CROSS-MULTIPLIED integer comparisons (4*nw <= nc, ns*20 >= nw
      // ...), never double divisions — the gate decision is exact in
      // any engine and under any evaluation order. One projection-only
      // scan, fully codegen'd
      (s, dir) => {
        val nw = TF.tokenCount(col("text"))
        val nc = TF.charCountNoSpaces(col("text"))
        val nd = TF.distinctTokenCount(col("text"))
        val ns = TF.stopwordCount(col("text"), stops)
        val mw = array_max(transform(split(col("text"), " "), w => length(w)))
          .cast("long")
        val rLen = nw.between(25, 80)
        val rWordLen = (nw * 4 <= nc) && (nc <= nw * 5)
        val rMaxWord = mw <= 7L
        val rStop = ns * 20 >= nw
        val rDistinct = nd * 2 >= nw
        t(s, dir, "documents").select(
          col("doc_id"),
          rLen.as("r_len"), rWordLen.as("r_word_len"),
          rMaxWord.as("r_max_word"), rStop.as("r_stop"),
          rDistinct.as("r_distinct"),
          (rLen && rWordLen && rMaxWord && rStop && rDistinct).as("passes"))
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
            CAST(length(replace(text, ' ', '')) AS BIGINT) AS nc,
            CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ('the','and','of','is','in','a'))) AS BIGINT) AS ns,
            CAST(list_max(list_transform(string_split(text, ' '),
              w -> length(w))) AS BIGINT) AS mw
          FROM documents)
        SELECT doc_id,
          nw BETWEEN 25 AND 80 AS r_len,
          (nw * 4 <= nc) AND (nc <= nw * 5) AS r_word_len,
          mw <= 7 AS r_max_word,
          ns * 20 >= nw AS r_stop,
          nd * 2 >= nw AS r_distinct,
          (nw BETWEEN 25 AND 80) AND (nw * 4 <= nc) AND (nc <= nw * 5)
            AND mw <= 7 AND ns * 20 >= nw AND nd * 2 >= nw AS passes
        FROM d""")),

    QueryDef("dedup_substring_spans",
      // repeated-substring signal (Lee et al. 2022, "Deduplicating
      // Training Data Makes Language Models Better", arXiv:2107.06499
      // — re-derived here as window-hash matching, not suffix arrays):
      // per document, how many of its 8-token windows occur elsewhere
      // in the corpus (or again in the same document). One codegen'd
      // shingle projection (no string materialization per window),
      // one hash-only shuffle for the repeated-hash table, hash
      // equi-joins after — token text never leaves its scan partition
      (s, dir) => {
        // the (doc, pos, h) explode feeds three consumers; it is
        // deliberately RECOMPUTED per consumer — measured 0.64 s vs
        // 1.1+ s with a localCheckpoint at sf0.1, because the explode
        // is a cheap codegen projection while checkpointing serializes
        // every exploded row. Checkpoint only if the upstream scan
        // becomes the dominant cost (e.g. remote storage)
        val sh = t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(graft.expressions.WordShingleHashes(col("text"), 8))
              .as(Seq("pos", "h")))
        val rep = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
          .where(col("cnt") > 1).select("h")
        val dup = sh.join(rep, "h")
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
          .join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup_shingles"))
      },
      Some(substringSpansOracle)),

    QueryDef("text_rarity",
      // CCNet-style lexicon-frequency signal: per-document mean corpus
      // document-frequency of its tokens — very low means garbled /
      // exotic vocabulary, very high means boilerplate. Two shuffles
      // (df agg + doc re-agg); the df table is vocabulary-sized, so at
      // corpus scale the token join is the standard broadcast-if-small
      // / shuffle-if-not decision AQE already makes. All counts are
      // exact integers; avg_df is one correctly-rounded double
      // division of exact integers
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val dfTab = toks.groupBy("tok")
          .agg(countDistinct(col("doc_id")).as("df"))
        toks.join(dfTab, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("df")).as("sum_df"),
            (sum(col("df")).cast("double") / count(lit(1))).as("avg_df"))
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          d AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok)
        SELECT doc_id, count(*) AS n_tokens,
          CAST(sum(df) AS BIGINT) AS sum_df,
          CAST(sum(df) AS DOUBLE) / count(*) AS avg_df
        FROM tk JOIN d USING (tok) GROUP BY doc_id""")),

    QueryDef("text_redact",
      // the PII-scrub shape: regex masking as a pure codegen'd
      // projection (no shuffle, no UDF). The events.props JSON is the
      // corpus stand-in with digit runs to mask; the pattern is kept
      // to the regex subset Java and RE2 interpret identically, and
      // DuckDB needs the explicit 'g' flag to match Spark's
      // replace-all semantics
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "#").as("redacted"),
          (length(col("props")) - length(regexp_replace(col("props"), "[0-9]", "")))
            .cast("long").as("n_masked_chars")),
      Some("""SELECT event_id,
          regexp_replace(props, '[0-9]+', '#', 'g') AS redacted,
          CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
            AS BIGINT) AS n_masked_chars
        FROM events""")),

    QueryDef("text_fingerprint",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), TF.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(text) + 1),
                i -> CAST(ascii(text[i]) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1000000007) AS fp
        FROM documents""")),

    QueryDef("text_langid",
      // NOTE: the synthetic corpus draws every language's text from
      // the same English-ish vocabulary (verified at data-probe time),
      // so predictions are near-constant "en" here — the op is
      // exercised structurally; TextFunctionsSpec covers real
      // multilingual discrimination on constructed sentences
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), col("lang"), TF.langId(col("text")).as("predicted")),
      // argmax of per-language marker counts; the CASE ladder encodes
      // the same tie-break as the Spark struct-max (earliest language
      // in TextFunctions.langMarkers wins ties), zero hits -> 'und'
      Some("""WITH m AS (
          SELECT doc_id, lang,
            len(list_filter(string_split(text, ' '),
              w -> w IN ('the','and','of','is','in','a'))) AS s_en,
            len(list_filter(string_split(text, ' '),
              w -> w IN ('el','la','los','de','que','y'))) AS s_es,
            len(list_filter(string_split(text, ' '),
              w -> w IN ('le','les','et','des','un','une'))) AS s_fr,
            len(list_filter(string_split(text, ' '),
              w -> w IN ('der','die','das','und','ist'))) AS s_de,
            len(list_filter(string_split(text, ' '),
              w -> w IN ('的','是','在','了'))) AS s_zh
          FROM documents)
        SELECT doc_id, lang,
          CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) <= 0 THEN 'und'
               WHEN s_en >= greatest(s_es, s_fr, s_de, s_zh) THEN 'en'
               WHEN s_es >= greatest(s_fr, s_de, s_zh) THEN 'es'
               WHEN s_fr >= greatest(s_de, s_zh) THEN 'fr'
               WHEN s_de >= s_zh THEN 'de'
               ELSE 'zh' END AS predicted
        FROM m""")),

    QueryDef("text_top_terms",
      // per-document distinctive-term extraction: the 3 rarest distinct
      // tokens by corpus document frequency (ties by token) — the
      // integer-exact core of TF-IDF keyword extraction. One explode +
      // one df aggregation + one windowed rank; no floats, no logs
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 200)
        val tok = docs.select(col("doc_id"),
          explode(array_distinct(TF.tokens(col("text")))).as("w"))
        val dfreq = tok.groupBy("w").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df").asc, col("w").asc)
        tok.join(dfreq, Seq("w"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("doc_id"), col("w").as("term"), col("df"),
            col("rn").cast("long").as("rank"))
      },
      Some("""WITH s AS (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id < 200),
        d AS (SELECT w, count(*) AS df FROM s GROUP BY w)
        SELECT doc_id, w AS term, df, CAST(rn AS BIGINT) AS rank FROM (
          SELECT s.doc_id, s.w, d.df,
            row_number() OVER (PARTITION BY s.doc_id
              ORDER BY d.df, s.w) AS rn
          FROM s JOIN d USING (w))
        WHERE rn <= 3""")),

    QueryDef("text_zipf_octaves",
      // corpus power-law diagnostics: the vocabulary bucketed by
      // frequency-rank OCTAVE (terms ranked 1, 2-3, 4-7, 8-15, ...),
      // with term count, total token mass, and the mass ratio to the
      // next octave — for a Zipf law with exponent s the ratio is
      // ~2^(1-s) per octave, so the column IS the exponent profile
      // without a single per-row log (the PMI discipline: exact
      // integer sums, one IEEE division at the end). The octave
      // index itself is integer arithmetic — length(bin(rank)) - 1 —
      // never a floating log2 that could round differently across
      // engines. Rank is a DISTRIBUTED prefix count (PrefixSum range
      // shards; ordering (-count, term) is the required non-null
      // total order), not a single-task global window: the
      // vocabulary-sized rank stage survives a 100x corpus, where
      // Heaps' law grows the vocabulary sublinearly but far past one
      // task's memory
      (s, dir) => {
        val counts = t(s, dir, "documents")
          .select(explode(TF.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .select(col("tok"), col("c"),
            (-col("c")).as("negc"), lit(1L).as("one"))
        val ranked = PrefixSum.cumulative(counts, Seq("negc", "tok"), "one")
        // checkpoint: per feeds BOTH join sides (itself + the shifted
        // copy) — share-the-scan over a <= 64-row relation (octaves of
        // a 2^64 rank space), NOT a correctness cut; without it each
        // side replans the whole ranked pipeline
        val per = ranked
          .select(col("c"),
            (length(bin(col("cum"))) - 1).cast("long").as("octave"))
          .groupBy("octave")
          .agg(count(lit(1)).as("n_terms"), sum("c").as("tot_freq"))
          .localCheckpoint(eager = false)
        val nxt = per.select((col("octave") - 1).as("octave"),
          col("tot_freq").as("next_freq"))
        per.join(nxt, Seq("octave"), "left")
          .select(col("octave"), col("n_terms"), col("tot_freq"),
            (col("tot_freq").cast("double") / col("next_freq"))
              .as("decay_ratio"))
      },
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents),
          cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
          rk AS (SELECT c, row_number()
              OVER (ORDER BY c DESC, tok ASC) AS rank FROM cnt),
          oct AS (SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS octave, c
            FROM rk),
          per AS (SELECT octave, CAST(count(*) AS BIGINT) AS n_terms,
              CAST(sum(c) AS BIGINT) AS tot_freq
            FROM oct GROUP BY octave)
        SELECT p.octave, p.n_terms, p.tot_freq,
            CAST(p.tot_freq AS DOUBLE) / nx.tot_freq AS decay_ratio
          FROM per p LEFT JOIN per nx ON nx.octave = p.octave + 1""")),

    QueryDef("text_lm_surprisal",
      // CCNet-style LM quality scoring: fit a bigram LM on the
      // trusted target slice (lang = 'en'), score EVERY document by
      // quantized surprisal — in-domain docs score low, out-of-domain
      // high, and a pipeline keeps the low tail. The score is integer
      // bits (floor-log2 of the exact add-one-smoothed odds via
      // `length(bin(den div num))`), never a libm `ln` whose last ulp
      // differs across engines; mean_bits is the single IEEE division
      // of exact integers. Scale shape: model tables are
      // vocabulary-sized (AQE-broadcast here, (token,count)-pair
      // shuffles at 100 TB); the corpus passes once as narrow
      // (id, w1, w2) rows and rolls up with map-side partials
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = NgramLm.fit(docs.where(col("lang") === "en"), "text")
        NgramLm.score(docs, "doc_id", "text", model, carry = Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_bigrams"),
            col("oov_bigrams"), col("total_bits"), NgramLm.meanBits)
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents),
          tgt AS (SELECT t FROM sp WHERE lang = 'en'),
          tb AS (SELECT string_split(bg, ' ')[1] AS w1,
              string_split(bg, ' ')[2] AS w2
            FROM (SELECT unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
              FROM tgt WHERE len(t) >= 2)),
          big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM tb GROUP BY 1, 2),
          uni AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
            FROM big GROUP BY 1),
          v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
            FROM (SELECT unnest(t) AS tok FROM tgt)),
          db AS (SELECT doc_id, lang, string_split(bg, ' ')[1] AS w1,
              string_split(bg, ' ')[2] AS w2
            FROM (SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
              FROM sp WHERE len(t) >= 2)),
          sc AS (SELECT d.doc_id, d.lang,
              CASE WHEN b.c12 IS NULL THEN 1 ELSE 0 END AS oovf,
              CAST(length(bin((COALESCE(u.c1, 0) + v.vocab)
                // (COALESCE(b.c12, 0) + 1))) - 1 AS BIGINT) AS bits
            FROM db d LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
              LEFT JOIN uni u ON d.w1 = u.w1
              CROSS JOIN v)
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
            CAST(sum(oovf) AS BIGINT) AS oov_bigrams,
            CAST(sum(bits) AS BIGINT) AS total_bits,
            CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
          FROM sc GROUP BY doc_id, lang""")),

    QueryDef("sample_lm_contrast",
      // DSIR-shaped contrastive data selection: importance weight =
      // log p_target(doc) − log p_source(doc), realized as
      // source-model surprisal bits minus target-model surprisal bits
      // (target LM fit on lang = 'en', source LM on the whole
      // corpus). The top slice by weight is the "looks most like the
      // target relative to the generic pool" selection a pretraining
      // mix draws. EVERY output column is an exact integer — the
      // weight never leaves the quantized-bits domain — so the top-50
      // cut (tie-broken by doc_id) is bit-stable across engines. Scale
      // shape: two vocabulary-sized models scored in one corpus pass
      // each, joined per doc_id; TakeOrderedAndProject ends the plan
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // ONE corpus bigram explode (checkpointed) feeds BOTH models'
        // counts and the fused two-model scoring pass — the old shape
        // exploded the full corpus four times per run (src fit, src
        // vocab, and one scoring pass per model). Counts, per-bigram
        // bits, the per-doc rollup, and the top-50 cut are all
        // bit-identical to the two-pass score()+join form (NgramLmSpec
        // pins both the fused scorer and the shared-explode fit).
        val db = NgramLm.docBigrams(docs, "text", Seq("doc_id", "lang"))
          .localCheckpoint(eager = false)
        val tgt = NgramLm.fitFromBigrams(db.where(col("lang") === "en"),
          NgramLm.vocabOf(docs.where(col("lang") === "en"), "text"))
        val src = NgramLm.fitFromBigrams(db,
          NgramLm.vocabOf(docs, "text"))
        NgramLm.scoreAllBigrams(db, Seq("doc_id", "lang"),
            Seq("tgt" -> tgt, "src" -> src))
          .select(col("doc_id"), col("lang"), col("n_bigrams"),
            (col("src_bits") - col("tgt_bits")).as("weight_bits"))
          .orderBy(col("weight_bits").desc, col("doc_id").asc)
          .limit(50)
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents),
          db AS (SELECT doc_id, lang, string_split(bg, ' ')[1] AS w1,
              string_split(bg, ' ')[2] AS w2
            FROM (SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
              FROM sp WHERE len(t) >= 2)),
          tbig AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM db WHERE lang = 'en' GROUP BY 1, 2),
          tuni AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
            FROM tbig GROUP BY 1),
          tv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
            FROM (SELECT unnest(t) AS tok FROM sp WHERE lang = 'en')),
          sbig AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM db GROUP BY 1, 2),
          suni AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
            FROM sbig GROUP BY 1),
          sv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
            FROM (SELECT unnest(t) AS tok FROM sp)),
          sc AS (SELECT d.doc_id, d.lang,
              CAST(length(bin((COALESCE(tu.c1, 0) + tv.vocab)
                // (COALESCE(tb.c12, 0) + 1))) - 1 AS BIGINT) AS tbits,
              CAST(length(bin((COALESCE(su.c1, 0) + sv.vocab)
                // (COALESCE(sb.c12, 0) + 1))) - 1 AS BIGINT) AS sbits
            FROM db d
              LEFT JOIN tbig tb ON d.w1 = tb.w1 AND d.w2 = tb.w2
              LEFT JOIN tuni tu ON d.w1 = tu.w1
              LEFT JOIN sbig sb ON d.w1 = sb.w1 AND d.w2 = sb.w2
              LEFT JOIN suni su ON d.w1 = su.w1
              CROSS JOIN tv CROSS JOIN sv),
          agg AS (SELECT doc_id, lang,
              CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(sum(sbits) - sum(tbits) AS BIGINT) AS weight_bits
            FROM sc GROUP BY doc_id, lang)
        SELECT doc_id, lang, n_bigrams, weight_bits FROM (
          SELECT *, row_number()
              OVER (ORDER BY weight_bits DESC, doc_id ASC) AS rn
            FROM agg) WHERE rn <= 50""")),

    QueryDef("text_bm25",
      // Okapi BM25 keyword retrieval: top 25 documents for a fixed
      // 3-term query, scored in ONE projection-only corpus scan (tf
      // via the codegen'd token_count kernel — no explode, no token
      // array, no shuffle) ending in TakeOrderedAndProject. Corpus
      // stats (N, avgdl, df/idf per term) are fitted once per corpus
      // and inlined as literals into both engines' expressions, so
      // even the double scores hash-match (fixed-order IEEE
      // arithmetic; Double.toString round-trips through DuckDB's
      // parser bit-exactly)
      (s, dir) => Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
        bm25Terms, bm25StatsFor(s, dir), k = 25),
      None,
      oracleGen = Some((s, dir) => Bm25.oracleSql("documents", "doc_id",
        "text", bm25Terms, bm25StatsFor(s, dir), k = 25))),

    QueryDef("hybrid_rrf",
      // hybrid retrieval: reciprocal-rank fusion of the lexical (BM25
      // top-20) and dense (exact-cosine top-20 for query vector 7)
      // lists — the standard RAG retrieval composition. Fusion joins
      // two k-row lists (broadcast, O(k)); the corpus-scale work
      // happened in the upstream retrievers. Integer ranks + one
      // division per term keep even the fused double scores exact
      (s, dir) => {
        val bm = Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          bm25Terms, bm25StatsFor(s, dir), k = 20)
        val e = t(s, dir, "embeddings")
        val cos = Similarity.bruteForceTopK(e.where(col("vec_id") === 7), e, k = 20)
          .select(col("nid").as("doc_id"), col("rank"))
        HybridRetrieval.rrf2(bm.select(col("doc_id"), col("rank")), cos,
          "doc_id", "rank", topK = 15)
          .select(col("doc_id"), col("rank_a"), col("rank_b"),
            col("rrf_score"), col("rank"))
      },
      None,
      oracleGen = Some(hybridOracle _)),

    QueryDef("q_cms_freq",
      // Count-Min sketch frequency estimates — the sketch category's
      // hash-EXACT row (HLL++ stays rows-only): CMS is a linear
      // sketch, so its counters are merge-order independent by
      // algebra and the whole build+probe replays in DuckDB integer
      // arithmetic. Probes include two absent keys (exact 0) to show
      // the one-sided error; exact counts joined alongside
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val est = CountMin.estimate(CountMin.build(li, "l_partkey"), cmsKeys)
        // exact side filters to the probe keys BEFORE aggregating — an
        // In-filter pushed to the scan, not a full-key-space group-by
        val exact = li.where(col("l_partkey").isin(cmsKeys: _*))
          .groupBy(col("l_partkey").as("key"))
          .agg(count(lit(1)).as("exact_cnt"))
        est.join(exact, Seq("key"), "left")
          .select(col("key"), col("cm_est"),
            coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
      },
      Some(s"""WITH ex AS (SELECT l_partkey AS key, count(*) AS exact_cnt
            FROM lineitem GROUP BY 1)
        SELECT est.key, est.cm_est,
          CAST(coalesce(ex.exact_cnt, 0) AS BIGINT) AS exact_cnt
        FROM (${CountMin.oracleSql("lineitem", "l_partkey", cmsKeys)}) est
        LEFT JOIN ex ON ex.key = est.key""")),

    QueryDef("q_cms_merge",
      // incremental sketch build: two shard sketches (orderkey
      // parity) MERGED, probed for the same keys. The oracle is the
      // WHOLE-CORPUS replay — the hash-match IS the linearity proof
      // (merged shards == one pass), which is what lets a partitioned
      // corpus build its frequency sketch day by day
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        def shard(par: Int) = CountMin.build(
          li.where(pmod(col("l_orderkey"), lit(2)) === par), "l_partkey")
        CountMin.estimate(CountMin.merge(Seq(shard(0), shard(1))), cmsKeys)
      },
      Some(CountMin.oracleSql("lineitem", "l_partkey", cmsKeys))),

    QueryDef("q_cms_heavy_hitters",
      // bounded-memory heavy hitters, the frequent-items shape: the
      // CMS's one-sided error makes `cm_est >= N/50` a deterministic
      // SUPERSET of the true >=2%-frequency keys, so only candidates
      // pay for exact verification — at 100 TB the sketch (depth*width
      // counters) replaces a full-cardinality group-by for candidate
      // generation, and the probe is distributed (estimateAll — no
      // driver key list). Skew is planted deterministically (the
      // user_id tail collapses to one mega-key); thresholds are
      // in-plan scalar aggregates, never literals that drift with SF
      (s, dir) => {
        val keyed = t(s, dir, "events").select(
          when(col("user_id") < 10, col("user_id"))
            .otherwise(lit(9999L)).cast("long").as("hh_key"))
        val sk = CountMin.build(keyed, "hh_key")
        val est = CountMin.estimateAll(sk, keyed.distinct(), "hh_key")
        val exact = keyed.groupBy("hh_key").agg(count(lit(1)).as("exact_cnt"))
        val tot = keyed.agg(count(lit(1)).as("n_total"))
        est.join(exact, "hh_key").crossJoin(broadcast(tot))
          .select(col("hh_key"), col("exact_cnt"), col("cm_est"),
            (col("cm_est") * 50 >= col("n_total")).as("is_heavy_candidate"),
            (col("exact_cnt") * 50 >= col("n_total")).as("is_true_heavy"))
      },
      Some(s"""WITH k AS (SELECT CASE WHEN user_id < 10 THEN user_id
            ELSE 9999 END AS hh_key FROM events),
        ${CountMin.oracleAllKeysSql("k", "hh_key")},
        tot AS (SELECT count(*) AS n_total FROM k),
        ex AS (SELECT hh_key, count(*) AS exact_cnt FROM k GROUP BY 1)
      SELECT __est.__k AS hh_key, ex.exact_cnt, __est.cm_est,
        __est.cm_est * 50 >= tot.n_total AS is_heavy_candidate,
        ex.exact_cnt * 50 >= tot.n_total AS is_true_heavy
      FROM __est JOIN ex ON ex.hh_key = __est.__k CROSS JOIN tot""")),

    QueryDef("q_sketch_distinct",
      // HLL++ sketch per language — merge-order-independent, so the
      // result is deterministic under any partitioning. The estimate
      // itself is estimator-internal (DuckDB's HLL differs), so the
      // hash-exact surface is (exact distinct, estimate-within-bound
      // BOOLEAN): rsd=0.02 against a 5% pinned bound — the oracle
      // asserts TRUE, so an estimator drift past the bound flips the
      // flag and fails the hash. Exact counterpart is q_distinct_agg
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(approx_count_distinct(col("text"), 0.02).as("approx_docs"),
          countDistinct(col("text")).as("exact_docs"))
        .select(col("lang"), col("exact_docs"),
          (abs(col("approx_docs") - col("exact_docs"))
            <= col("exact_docs") * lit(0.05)).as("approx_within_bound")),
      Some("""SELECT lang, count(DISTINCT text) AS exact_docs,
          true AS approx_within_bound
        FROM documents GROUP BY lang""")),

    QueryDef("q_sketch_union",
      // MERGEABLE sketch rollup — the 100 TB distinct-count pattern:
      // one Datasketches HLL sketch per (year, month) shard of the
      // order stream, then the yearly distinct-customer count comes
      // from UNIONING the 12 shard sketches — the raw keys are never
      // re-scanned or re-shuffled at rollup time, so a daily 100 TB
      // ingest keeps per-partition sketches (KB each) and any ad-hoc
      // rollup (week/month/year/all-time) is a union over sketch
      // blobs. Gate shape follows q_sketch_distinct: the estimate is
      // estimator-internal, the hash-exact surface is (exact distinct,
      // estimate-within-5%-bound BOOLEAN) with lgK=14 (~0.8% rse);
      // raw estimates are golden-pinned in GoldenValuesSpec
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          col("o_custkey"))
        val monthly = o.groupBy("yr", "mo")
          .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"))
        val yearly = monthly.groupBy("yr")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
            .as("approx_cust"))
        val exact = o.groupBy("yr")
          .agg(countDistinct(col("o_custkey")).as("exact_cust"))
        exact.join(yearly, "yr")
          .select(col("yr"), col("exact_cust"),
            (abs(col("approx_cust") - col("exact_cust"))
              <= col("exact_cust") * lit(0.05)).as("approx_within_bound"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          count(DISTINCT o_custkey) AS exact_cust,
          true AS approx_within_bound
        FROM orders GROUP BY 1""")),

    QueryDef("q_kmv_intersect_gate",
      // KMV bottom-k sketch SET INTERSECTION — the op HLL merge can't
      // do (q_sketch_union unions losslessly; intersection via
      // inclusion–exclusion compounds error per term). Two overlapping
      // customer activity windows are sketched independently (k=256
      // smallest distinct hashes each — the archived-sketch shape: at
      // 100 TB each day's key stream folds to a <=k-value blob and any
      // later A∩B never rescans raw keys); the intersection estimate
      // comes from the pooled sketch's union sample (KmvSketch.scala).
      // Gate follows the q_sketch_distinct convention: the estimate is
      // estimator-internal, the DECLARED surface is the exact anchors
      // plus estimate-within-bound BOOLEAN — bound 0.15×|A∪B| vs the
      // estimator's ~1/sqrt(k)≈6% one-sigma error of the union, so the
      // flag is deterministically TRUE unless the estimator drifts.
      // The exact columns are the oracle anchor, not the production
      // path — production keeps only the sketches
      (s, dir) => {
        val o = t(s, dir, "orders")
        def keys(lo: String, hi: String) = o
          .where(col("o_orderdate").between(lo, hi))
          .select(col("o_custkey"))
        val a = keys("1996-01-01", "1996-12-31")
        val b = keys("1996-07-01", "1997-06-30")
        val k = 256
        val (_, estInter) = KmvSketch.intersectEstimate(
          KmvSketch.sketch(a, col("o_custkey"), k),
          KmvSketch.sketch(b, col("o_custkey"), k), k)
        val ad = a.distinct()
        val bd = b.distinct()
        val exactA = ad.count()
        val exactB = bd.count()
        val exactI = ad.intersect(bd).count()
        val exactU = exactA + exactB - exactI
        val inBound = math.abs(estInter - exactI) <= 0.15 * exactU
        val s2 = s
        import s2.implicits._
        Seq((exactA, exactB, exactI, exactU, inBound)).toDF(
          "exact_a", "exact_b", "exact_inter", "exact_union",
          "kmv_in_bound")
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'),
        b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1997-06-30'),
        i AS (SELECT count(*) AS n
          FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
      SELECT (SELECT count(*) FROM a) AS exact_a,
        (SELECT count(*) FROM b) AS exact_b,
        i.n AS exact_inter,
        (SELECT count(*) FROM a) + (SELECT count(*) FROM b) - i.n
          AS exact_union,
        true AS kmv_in_bound
      FROM i""")),

    // Per-class embedding centroids + per-dimension dispersion — the
    // labeled-dataset diagnostic (nearest-class-mean baseline, class
    // imbalance / collapsed-class audit). Same quantized-DECIMAL
    // exactness contract as q_embed_covariance; output stays
    // per-(label, dim) so no cross-dim double summation order exists.
    QueryDef("q_label_centroids",
      (s, dir) => {
        val st = EmbedStats.labelDimStats(t(s, dir, "embeddings"), "label")
        st.select(col("label"), col("i"),
          EmbedStats.meanCol(col("sx"), col("n")).as("mean_x"),
          EmbedStats.varCol(col("sxx"), col("sx"), col("n")).as("var_x"))
      },
      Some("""WITH e AS (
          SELECT label, u.z.i AS i, CAST(u.z.x AS DOUBLE) AS x
          FROM (SELECT label,
              [{'i': i, 'x': embedding[i+1]} FOR i IN range(len(embedding))] AS zz
            FROM embeddings), unnest(zz) u(z)),
        st AS (
          SELECT label, i,
            sum(CAST(floor(x*16777216.0+0.5) AS DECIMAL(38,0))) AS sx,
            sum(CAST(floor(x*x*16777216.0+0.5) AS DECIMAL(38,0))) AS sxx,
            count(*) AS n
          FROM e GROUP BY label, i)
        SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS i,
          CAST(sx AS DOUBLE)/16777216.0/n AS mean_x,
          CAST(sxx AS DOUBLE)/16777216.0/n
            - (CAST(sx AS DOUBLE)/16777216.0/n)
              * (CAST(sx AS DOUBLE)/16777216.0/n) AS var_x
        FROM st""")),

    QueryDef("q_embed_covariance",
      // distributed covariance over the embedding space — the PCA /
      // whitening prelude of embedding pipelines (redundant-dimension
      // audit before SemDedup-style clustering): top-10 most-coupled
      // dimension pairs by |cov|. One scan; each row fans out to its
      // d(d-1)/2 upper-triangle products via two generators, partial
      // aggregation folds them per partition, and the exchange moves
      // only (#partitions × d²) sum rows (EmbedStats.scala — the PqAnn
      // training-sums shape). Hash-exact across engines because every
      // product of float-widened doubles is EXACT, quantized to an
      // integer and summed in DECIMAL (order-independent), and the
      // final double formula is stated identically on both sides
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val dims = EmbedStats.dimSums(emb)
        EmbedStats.pairSums(emb)
          .join(broadcast(dims.select(col("i"), col("sx").as("sxi"),
            col("n").as("ni"))), Seq("i"))
          .join(broadcast(dims.select(col("i").as("j"), col("sx").as("sxj"),
            col("n").as("nj"))), Seq("j"))
          .select(col("i"), col("j"),
            EmbedStats.covCol(col("sxy"), col("n"), col("sxi"), col("ni"),
              col("sxj"), col("nj")).as("cov"))
          .orderBy(abs(col("cov")).desc, col("i"), col("j"))
          .limit(10)
      },
      Some("""WITH e AS (SELECT vec_id,
            CAST(unnest(embedding) AS DOUBLE) AS x,
            CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS i
          FROM embeddings),
        p AS (SELECT a.i AS i, b.i AS j,
            sum(CAST(floor(a.x * b.x * 16777216.0 + 0.5) AS HUGEINT)) AS sxy,
            count(*) AS n
          FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i > a.i
          GROUP BY 1, 2),
        m AS (SELECT i, sum(CAST(floor(x * 16777216.0 + 0.5) AS HUGEINT))
            AS sx, count(*) AS n1 FROM e GROUP BY 1)
      SELECT p.i, p.j,
        CAST(p.sxy AS DOUBLE) / 16777216.0 / p.n
          - (CAST(ma.sx AS DOUBLE) / 16777216.0 / ma.n1)
            * (CAST(mb.sx AS DOUBLE) / 16777216.0 / mb.n1) AS cov
      FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
      ORDER BY abs(cov) DESC, p.i, p.j LIMIT 10""")),

    QueryDef("q_embed_pca_gate",
      // leading principal component by POWER ITERATION on the
      // driver-side d×d covariance (collected as d² aggregated sums —
      // the bounded ANN-training collect, never corpus rows; the
      // distributed cost is the same one-scan pair-sum aggregation as
      // q_embed_covariance). The eigenpair itself is
      // floating-point-iterative and so estimator-internal; the
      // DECLARED surface is the q_sketch_distinct gate convention:
      // dimensionality plus two mathematical invariants the solve must
      // satisfy — the relative residual ‖Av−λv‖/λ within tolerance
      // (convergence) and λ₁ ≥ max_i var_i (Rayleigh bound: for a
      // symmetric matrix the top eigenvalue dominates every diagonal
      // entry). A broken covariance or a non-converged solve flips a
      // flag and fails the oracle hash
      (s, dir) => {
        val a = EmbedStats.covMatrix(t(s, dir, "embeddings"))
        val (lambda, v) = EmbedStats.topEigen(a)
        val res = EmbedStats.residual(a, lambda, v)
        val maxVar = (0 until a.length).map(i => a(i)(i)).max
        val s2 = s
        import s2.implicits._
        Seq((a.length.toLong, res <= 1e-6, lambda >= maxVar - 1e-9))
          .toDF("d", "residual_ok", "eig_dominates_var")
      },
      Some("""SELECT CAST(max(len(embedding)) AS BIGINT) AS d,
        true AS residual_ok, true AS eig_dominates_var
      FROM embeddings""")),

    QueryDef("dedup_bloom_decontam",
      // decontamination via bloom broadcast: build the filter over the
      // TEST split's fingerprints (bounded: <= bits positions), gate
      // the TRAIN split by scan-side membership — no shuffle of the
      // train corpus, unlike the exact semi-join it approximates. The
      // exact flag is joined alongside: exact_hit implies bloom_hit
      // (no false negatives — pinned in BloomSpec), bloom-only hits
      // are the documented FP cost. Integer-exact in both engines
      (s, dir) => {
        val f = t(s, dir, "documents").select(
          col("doc_id"), TF.fingerprint(col("text")).as("fp"),
          (pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 80)
            .as("is_train"))
        val test = f.where(!col("is_train"))
        val train = f.where(col("is_train"))
        val bits = Bloom.bitset(test, "fp", bloomParams)
        val exact = train
          .join(test.select("fp").distinct(), Seq("fp"), "left_semi")
          .select(col("doc_id"), lit(true).as("exact_hit"))
        Bloom.mightContain(train, "doc_id", "fp", bits, bloomParams)
          .join(exact, Seq("doc_id"), "left")
          .select(col("doc_id"), col("bloom_hit"),
            coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
      },
      Some(bloomDecontamOracle)),

    QueryDef("pipeline_funnel_counts",
      // the COMPOSED corpus-build pipeline under the oracle gate:
      // rule gate -> deterministic split -> bloom decontamination ->
      // exact dedup -> semantic dedup, reported as per-stage survivor
      // counts. Each stage drops rows for a different reason
      // (quality, contamination, byte-identity, meaning-identity);
      // the oracle replays the ENTIRE composition in DuckDB — the
      // proof that the stages compose exactly, not just individually
      (s, dir) => {
        val st = funnelStages(s, dir)
        val sem = SemDedup.survivors(st("semInput"), p = funnelSemParams)
        val dropped = t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"))
          .join(sem.select(col("vec_id").as("doc_id")), Seq("doc_id"),
            "left_anti")
        // docs without an embedding row pass through (cannot be judged)
        val fin = st("exact").join(dropped, Seq("doc_id"), "left_anti")
        def cnt(stage: String, df: DataFrame) =
          df.agg(lit(stage).as("stage"), count(lit(1)).as("rows_out"))
        cnt("0_input", st("input"))
          .union(cnt("1_gate", st("gate")))
          .union(cnt("2_train", st("train")))
          .union(cnt("3_decontam", st("decontam")))
          .union(cnt("4_exact", st("exact")))
          .union(cnt("5_semantic", fin))
      },
      None,
      oracleGen = Some(pipelineFunnelOracle _)),

    QueryDef("dedup_cross_split",
      // train/test DECONTAMINATION: near-duplicate pairs (same MinHash
      // pipeline + exact-Jaccard verify, >= 0.8) that STRADDLE the
      // deterministic 80/20 split — exactly the documents a pipeline
      // must drop from train to avoid test leakage. Composes the dedup
      // and split operators; oracle reuses the minhash CTEs plus the
      // multiplicative-hash split predicate
      (s, dir) => {
        val splitHash =
          pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 80
        val split = t(s, dir, "documents")
          .select(col("doc_id"), splitHash.as("is_train"))
        MinHashLSH.nearDuplicates(
            t(s, dir, "documents"), "doc_id", "text", threshold = 0.8)
          .select("a", "b", "inter", "uni")
          .join(split.select(col("doc_id").as("a"), col("is_train").as("a_train")), Seq("a"))
          .join(split.select(col("doc_id").as("b"), col("is_train").as("b_train")), Seq("b"))
          .where(col("a_train") =!= col("b_train"))
          .select("a", "b", "inter", "uni", "a_train")
      },
      Some(s"""WITH $minhashVerCtes,
        sp AS (SELECT doc_id, ((doc_id % 1000003) * 2654435761) % 100 < 80 AS is_train
               FROM documents)
        SELECT v.a, v.b, v.inter, v.uni, sa.is_train AS a_train
        FROM ver v
        JOIN sp sa ON sa.doc_id = v.a JOIN sp sb ON sb.doc_id = v.b
        WHERE CAST(v.inter AS DOUBLE) / v.uni >= 0.8
          AND sa.is_train <> sb.is_train""")),

    QueryDef("text_bigrams",
      // corpus-level bigram statistics (contamination/quality analysis
      // staple): top-20 bigrams by document frequency, ties by bigram.
      // One projection + explode + count — no joins
      (s, dir) => {
        // split ONCE into a column, then build bigrams over it — a
        // lambda over split(text) inline re-evaluates the split per
        // element (O(len^2) per doc; measured 2.4 s vs 0.3 s at sf0.1)
        val bigrams = expr(
          "transform(sequence(0, size(t) - 2), " +
            "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))")
        t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .where(size(col("t")) >= 2)
          .select(col("doc_id"), explode(array_distinct(bigrams)).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("bigram").asc).limit(20)
      },
      Some("""WITH b AS (
          SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, len(string_split(text, ' '))),
              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
          FROM documents WHERE len(string_split(text, ' ')) >= 2)
        SELECT bigram, df FROM (
          SELECT bigram, count(*) AS df,
            row_number() OVER (ORDER BY count(*) DESC, bigram) AS rn
          FROM b GROUP BY bigram) WHERE rn <= 20""")),

    QueryDef("text_repetition",
      // Gopher-style internal-repetition signal: fraction of word
      // bigrams that are repeats within the document. Integer counts
      // exact on both sides; the fraction is one correctly-rounded
      // double division of exact integers
      (s, dir) => {
        val bigrams = expr(
          "transform(sequence(0, size(t) - 2), " +
            "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))")
        t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .where(size(col("t")) >= 2)
          .select(col("doc_id"),
            size(bigrams).cast("long").as("n_bigrams"),
            size(array_distinct(bigrams)).cast("long").as("n_distinct_bigrams"))
          .withColumn("dup_frac",
            (col("n_bigrams") - col("n_distinct_bigrams")).cast("double") /
              col("n_bigrams"))
      },
      Some("""WITH b AS (
          SELECT doc_id,
            list_transform(range(1, len(string_split(text, ' '))),
              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) AS bg
          FROM documents WHERE len(string_split(text, ' ')) >= 2)
        SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
          CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams,
          CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_frac
        FROM b""")),

    // ---- deterministic sampling / splits ----

    QueryDef("sample_train_split",
      // reproducible 80/20 split via multiplicative (Knuth) hashing of
      // the id — pure integer arithmetic, identical on any engine, and
      // stable under data re-partitioning (never rand()-based, which
      // would be nondeterministic across retries at scale). The id is
      // reduced mod 1e6+3 BEFORE multiplying so the product stays
      // under 2^63 for any BIGINT id — no silent Spark wraparound, no
      // DuckDB overflow error
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          (pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 80)
            .as("is_train")),
      Some("""SELECT doc_id, ((doc_id % 1000003) * 2654435761) % 100 < 80 AS is_train
        FROM documents""")),

    QueryDef("sample_stratified",
      // stratified deterministic sample: 20 docs per language, chosen
      // by smallest multiplicative hash (uniform within stratum);
      // same overflow-safe reduction as sample_train_split
      (s, dir) => {
        val h = pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(1000000007L))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
        t(s, dir, "documents")
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= 20)
          .select("doc_id", "lang")
      },
      Some("""SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
            row_number() OVER (PARTITION BY lang
              ORDER BY ((doc_id % 1000003) * 2654435761) % 1000000007, doc_id) AS rn
          FROM documents) WHERE rn <= 20""")),

    QueryDef("sample_weighted_mix",
      // training-corpus COMPOSITION: per-domain (language) sampling
      // rates — the "wikipedia at 0.9x, web-crawl at 0.125x" mixing
      // step that sets a training run's data diet. Same deterministic
      // multiplicative-hash gate as sample_train_split, thresholded
      // per domain: reproducible, retry-stable, and re-weightable
      // without reshuffling (changing a rate only moves the threshold,
      // so smaller samples nest inside larger ones — a rate decrease
      // never ADDS rows, which makes mix experiments monotone)
      (s, dir) => {
        val rates = Seq("en" -> 900000L, "zh" -> 500000L, "es" -> 250000L,
          "de" -> 125000L, "fr" -> 750000L)
        val thr = rates.foldRight(lit(0L)) { case ((l, r), acc) =>
          when(col("lang") === l, lit(r)).otherwise(acc)
        }
        t(s, dir, "documents")
          .where(Sampling.hashValue(col("doc_id")) < thr)
          .select(col("doc_id"), col("lang"))
      },
      Some("""SELECT doc_id, lang FROM documents
        WHERE ((doc_id % 1000003) * 2654435761) % 1000000 <
          CASE lang WHEN 'en' THEN 900000 WHEN 'zh' THEN 500000
            WHEN 'es' THEN 250000 WHEN 'de' THEN 125000
            WHEN 'fr' THEN 750000 ELSE 0 END""")),

    QueryDef("sample_temperature_mix",
      // temperature-FLATTENED corpus composition — the multilingual
      // alpha-sampling step (mT5/XLM-R convention, alpha = 0.5):
      // per-language acceptance rate proportional to 1/sqrt(n_lang),
      // normalized so the SMALLEST language keeps every row, which
      // makes kept counts proportional to sqrt(n_lang) — high-resource
      // languages are down-sampled, low-resource ones preserved.
      // Unlike sample_weighted_mix's hand-set rates, the thresholds
      // here are COMPUTED IN-PLAN from the observed language counts
      // (never literals that drift with SF): two |langs|-row
      // aggregates broadcast back onto the scan, so the corpus itself
      // is never shuffled — at 100 TB this is one pass + two tiny
      // broadcasts. Exactness: sqrt is IEEE-correctly-rounded in both
      // engines and the expression keeps one multiply, one divide and
      // one floor in the same order, so the integer thresholds (and
      // therefore the kept set) agree bit-for-bit with the oracle.
      // Same multiplicative-hash gate as the rest of the sampling
      // family: reproducible, retry-stable, and monotone (raising the
      // temperature only moves thresholds, so cooler mixes nest
      // inside hotter ones).
      (s, dir) => {
        val d = t(s, dir, "documents")
        // the |langs|-row count relation feeds BOTH the min and the
        // thresholds; one materialization keeps the corpus at ONE
        // pruned lang-column pass instead of re-aggregating per branch
        // (the pipeline_funnel_counts convention)
        val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
          .localCheckpoint(eager = false)
        val nMin = counts.agg(min("n_lang").as("n_min"))
        val thr = counts.crossJoin(broadcast(nMin))
          .select(col("lang"),
            floor(lit(1000000.0) * sqrt(col("n_min").cast("double"))
              / sqrt(col("n_lang").cast("double"))).cast("long").as("thr"))
        d.join(broadcast(thr), "lang")
          .where(Sampling.hashValue(col("doc_id")) < col("thr"))
          .select(col("doc_id"), col("lang"))
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents
            GROUP BY 1),
          m AS (SELECT min(n_lang) AS n_min FROM c),
          thr AS (SELECT lang,
              CAST(floor(1000000.0 * sqrt(n_min) / sqrt(n_lang)) AS BIGINT)
                AS thr
            FROM c CROSS JOIN m)
        SELECT d.doc_id, d.lang FROM documents d
        JOIN thr ON d.lang = thr.lang
        WHERE ((doc_id % 1000003) * 2654435761) % 1000000 < thr.thr""")),

    QueryDef("sample_shard_shuffle",
      // deterministic sharded corpus shuffle (the pre-training "shuffle
      // then write N shard files" step): shard by id hash, order within
      // shard by (hash, id) — parallel per shard, reproducible per
      // epoch; see Sampling.shardShuffle for the scale argument
      (s, dir) => Sampling.shardShuffle(t(s, dir, "documents"), "doc_id", 8),
      Some("""WITH h AS (SELECT doc_id,
            ((doc_id % 1000003) * 2654435761) % 1000000 AS h FROM documents)
        SELECT doc_id, h % 8 AS shard,
          CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
            AS BIGINT) AS pos
        FROM h""")),

    QueryDef("text_head_tail_truncate",
      // context-budget truncation, the keep-the-edges policy: docs over
      // 64 tokens keep their first and last 32 joined by a <TRUNC>
      // marker (openings and closings carry disproportionate signal;
      // the middle is what a budget drops). ONE codegen'd projection —
      // no shuffle, no UDF; exact string arithmetic both engines
      // replay verbatim
      (s, dir) => {
        val toks = split(col("text"), " ")
        t(s, dir, "documents").select(
          col("doc_id"), size(toks).cast("long").as("n_tokens"),
          when(size(toks) <= 64, col("text"))
            .otherwise(concat_ws(" ", concat(slice(toks, 1, 32),
              array(lit("<TRUNC>")), slice(toks, -32, 32))))
            .as("text_trunc"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk, text
            FROM documents)
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
          CASE WHEN len(tk) <= 64 THEN text
               ELSE array_to_string(
                 tk[1:32] || ['<TRUNC>'] || tk[len(tk)-31:len(tk)], ' ')
          END AS text_trunc
        FROM d""")),

    QueryDef("text_chunks",
      // overlapping 64-token windows advanced by 48 (16-token overlap)
      // — the LLM-pipeline chunking step; narrow generator transform,
      // no shuffle (TextChunk.transform)
      (s, dir) => TextChunk.transform(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 64, stride = 48),
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
          st AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start
            FROM tk)
        SELECT doc_id,
          CAST(start // 48 AS BIGINT) AS chunk_idx,
          CAST(least(64, len(toks) - start) AS BIGINT) AS chunk_tokens,
          array_to_string(list_slice(toks, start + 1, start + 64), ' ')
            AS chunk_text
        FROM st""")),

    QueryDef("text_pack",
      // chunk → shard → pack: the full sequence-assembly line of a
      // training pipeline. Greedy contiguous-fill into 256-token bins
      // per 4-way hash shard; all window arithmetic is exact LONGs,
      // so the oracle replays it verbatim
      (s, dir) => {
        val chunks = TextChunk.transform(
            t(s, dir, "documents"), "doc_id", "text", chunkSize = 64, stride = 48)
          .withColumn("shard", pmod(Sampling.hashValue(col("doc_id")), lit(4L)))
        TextPack.pack(chunks, "shard", Seq("doc_id", "chunk_idx"),
            "chunk_tokens", binTokens = 256L)
          .select(col("doc_id"), col("chunk_idx"), col("shard"),
            col("bin"), col("bin_offset"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
          st AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start
            FROM tk),
          ch AS (SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
              CAST(least(64, len(toks) - start) AS BIGINT) AS chunk_tokens
            FROM st),
          sh AS (SELECT *, CAST(((doc_id % 1000003) * 2654435761) % 1000000 % 4
              AS BIGINT) AS shard FROM ch),
          cm AS (SELECT *, sum(chunk_tokens) OVER (PARTITION BY shard
              ORDER BY doc_id, chunk_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - chunk_tokens AS before FROM sh)
        SELECT doc_id, chunk_idx, shard,
          CAST(before // 256 AS BIGINT) AS bin,
          CAST(before % 256 AS BIGINT) AS bin_offset
        FROM cm""")),

    // ---- multimodal plumbing ----

    QueryDef("mm_features",
      (s, dir) => Multimodal.asMediaTable(t(s, dir, "documents"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast(LongType).as("n_bytes"),
          col("fmt")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          'txt' AS fmt FROM documents""")),

    QueryDef("mm_frames",
      // byte-exact frame sampling: every 4th 32-byte block of the
      // payload (video-frame-extraction shape on opaque binary). The
      // sampled bytes are emitted hex-encoded: raw BINARY output cannot
      // be canonicalized by the driver's pandas compare (bytearray is
      // unhashable), and hex is the byte-exact portable encoding
      (s, dir) => Multimodal.frameSample(
          Multimodal.asMediaTable(t(s, dir, "documents").where(col("doc_id") < 50)),
          frameBytes = 32, stride = 4)
        .select(col("doc_id"), col("frame_idx"), hex(col("frame")).as("frame")),
      // DuckDB 1.0 cannot slice BLOBs; the corpus is pure ASCII, so
      // slicing the string and encoding the slice is byte-identical
      Some("""WITH f AS (
          SELECT doc_id, text,
            unnest(range(0, (octet_length(encode(text)) - 1) // 128 + 1)) AS i
          FROM documents WHERE doc_id < 50)
        SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
          hex(encode(substring(text, CAST(i * 128 + 1 AS INT), 32))) AS frame
        FROM f
        WHERE length(substring(text, CAST(i * 128 + 1 AS INT), 32)) > 0""")),

    QueryDef("mm_resize",
      // integer-factor downscale on the opaque payload (every 4th
      // byte), hex-encoded for the portable compare; the ASCII corpus
      // makes DuckDB's string subscripting byte-identical
      (s, dir) => Multimodal.resample(
          Multimodal.asMediaTable(t(s, dir, "documents").where(col("doc_id") < 200)),
          stride = 4)
        .select(col("doc_id"), hex(col("resized")).as("resized"),
          col("resized_bytes")),
      Some("""SELECT doc_id,
          hex(encode(array_to_string(
            list_transform(range(1, length(text) + 1, 4), i -> text[i]), ''))) AS resized,
          CAST((length(text) + 3) // 4 AS BIGINT) AS resized_bytes
        FROM documents WHERE doc_id < 200""")),

    QueryDef("mm_decode",
      // partition-batched stub decode (typed Dataset path); width and
      // height are computed Ints -> cast to BIGINT on both sides for
      // the driver compare
      (s, dir) => Multimodal.extractFeatures(s,
          Multimodal.asMediaTable(t(s, dir, "documents").where(col("doc_id") < 100)))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("fmt"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("checksum")),
      // the stub codec is a deterministic byte fold (crc = polynomial
      // rolling hash over utf-8 payload bytes, same arithmetic as the
      // text_fingerprint oracle on this ASCII corpus) plus integer
      // width/height derivations — fully SQL-expressible
      Some("""WITH c AS (
          SELECT doc_id,
            CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(text) + 1),
                  i -> CAST(ascii(text[i]) AS BIGINT))),
              (a, b) -> (a * 31 + b) % 1000000007) AS crc
          FROM documents WHERE doc_id < 100)
        SELECT doc_id, n_bytes, 'txt' AS fmt,
          CAST(64 + crc % 577 AS BIGINT) AS width,
          CAST(64 + (crc // 577) % 433 AS BIGINT) AS height,
          crc AS checksum
        FROM c""")),

    QueryDef("mm_phash_pairs",
      // perceptual near-dup detection on opaque media payloads: the
      // image-dedup shape exact hashing misses. Fixture plants the
      // canonical case — every 10th document re-issued with a
      // same-length in-place overlay (the watermark/timestamp-stamp
      // scenario) — and the codegen'd dHash (adjacent-cell gradient
      // signs, graft.expressions.DiffHash64) localizes the edit to
      // the touched cells, so planted pairs land within hamming 3
      // while unrelated docs rarely even share a band (measured: 41
      // band candidates corpus-wide at sf0.01, 26 close pairs).
      // Candidates come from the shared 4x16-bit hamming-band
      // equi-join (HammingBands.pairs64 — same machinery as SimHash
      // text dedup), never an all-pairs scan. The oracle replays the
      // whole construction — per-byte cell sums, cross-multiplied
      // gradient bits (HUGEINT shifts for the unsigned-64 emulation),
      // banding, hamming — on DuckDB's view of the ASCII payloads
      (s, dir) => {
        val src = t(s, dir, "documents").where(length(col("text")) >= 256)
          .select(col("doc_id"), col("text"))
        val overlaid = src.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(substring(col("text"), 1, 100), lit("WATERMARK-OVERLAY!"),
              expr("substring(text, 119)")).as("text"))
        Multimodal.phashPairs(
          Multimodal.asMediaTable(src.unionByName(overlaid)),
          "doc_id", "payload")
      },
      Some("""WITH src AS (SELECT doc_id, text FROM documents
            WHERE length(text) >= 256),
          media AS (SELECT doc_id, text FROM src
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id,
              substr(text, 1, 100) || 'WATERMARK-OVERLAY!' ||
                substr(text, 119) AS text
            FROM src WHERE doc_id % 10 = 0),
          d AS (SELECT doc_id, text, length(text) AS len FROM media),
          u AS (SELECT doc_id, len,
              unnest(list_transform(range(1, len + 1),
                i -> CAST(ascii(text[i]) AS BIGINT))) AS b,
              unnest(range(0, len)) AS i FROM d),
          cs AS (SELECT doc_id, (i * 65) // len AS cell,
              sum(b) AS s, count(*) AS n
            FROM u GROUP BY 1, 2),
          ph AS (SELECT lo.doc_id AS doc_id,
              sum(CASE WHEN lo.s * hi.n > hi.s * lo.n
                THEN CAST(1 AS HUGEINT) << lo.cell ELSE 0 END) AS hu
            FROM cs lo JOIN cs hi
              ON hi.doc_id = lo.doc_id AND hi.cell = lo.cell + 1
            GROUP BY 1),
          bands AS (SELECT doc_id, hu, unnest([0, 1, 2, 3]) AS band,
              unnest([(hu >> 0) & 65535, (hu >> 16) & 65535,
                      (hu >> 32) & 65535, (hu >> 48) & 65535]) AS key
            FROM ph),
          cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
              l.hu AS ha, r.hu AS hb
            FROM bands l JOIN bands r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
        SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3""")),

    QueryDef("sample_bottomk",
      // exactly-k deterministic sample (eval-set selection): the 200
      // docs whose id hashes smallest. Plans as TakeOrderedAndProject
      // — every task forwards <= k rows, no corpus sort/shuffle — and
      // the selection is mergeable across shards, nested across k,
      // and identical across retries and engines (hash of the id
      // VALUE only; the scale-safe `ORDER BY rand() LIMIT k`)
      (s, dir) => Sampling.bottomK(t(s, dir, "documents"), "doc_id", 200),
      Some("""SELECT doc_id,
          ((doc_id % 1000003) * 2654435761) % 1000000 AS h
        FROM documents ORDER BY h, doc_id LIMIT 200""")),

    QueryDef("text_pmi",
      // collocation mining: top-30 bigrams by pointwise mutual
      // information over the corpus. All counts are exact integers;
      // the PMI ordinate drops the log (monotone) and is computed as
      // ONE IEEE division of exact sub-2^53 integer products
      // (c12*N / (c1*c2)) — the hybrid_rrf trick — so even the double
      // scores hash-match. minCount >= 5 is the standard PMI
      // low-frequency guard (a 1-count pair has maximal PMI noise).
      // Scale shape: two explode+count aggregations (bigram table,
      // unigram table) + vocabulary-sized joins AQE broadcasts when
      // small; no per-doc state, no quadratic path
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(split(col("text"), " ").as("t"))
        val pairs = toks.where(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), " +
              "i -> struct(element_at(t, i + 1) AS w1, element_at(t, i + 2) AS w2))"))
            .as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val uni = toks.select(explode(col("t")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = big.agg(sum("c12").as("nb"))
        big.where(col("c12") >= 5)
          .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
          .join(uni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
            ((col("c12") * col("nb")).cast("double") / (col("c1") * col("c2")))
              .as("pmi_ratio"))
          .orderBy(col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
          .limit(30)
      },
      Some("""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
          bg AS (SELECT unnest(list_transform(range(1, len(t)),
              i -> [t[i], t[i + 1]])) AS b
            FROM tk WHERE len(t) >= 2),
          big AS (SELECT b[1] AS w1, b[2] AS w2, count(*) AS c12
            FROM bg GROUP BY 1, 2),
          uc AS (SELECT unnest(t) AS tok FROM tk),
          uni AS (SELECT tok, count(*) AS c FROM uc GROUP BY tok),
          tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM big),
          r AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
              CAST(c12 * tot.nb AS DOUBLE) / (u1.c * u2.c) AS pmi_ratio
            FROM big CROSS JOIN tot
            JOIN uni u1 ON u1.tok = big.w1
            JOIN uni u2 ON u2.tok = big.w2
            WHERE c12 >= 5),
          rr AS (SELECT *, row_number() OVER (
              ORDER BY pmi_ratio DESC, w1, w2) AS rn FROM r)
        SELECT w1, w2, c12, c1, c2, pmi_ratio FROM rr WHERE rn <= 30""")),

    QueryDef("dedup_incremental",
      // INCREMENTAL ingest against a fingerprint index: the corpus
      // (60% hash split) is represented only by (content hash,
      // MinHash signature) rows — no text retained — and the batch
      // (the other 40%) is admitted unless it exact-matches an
      // indexed hash or collides on an LSH band with >= 45/64
      // signature components agreeing (the incremental Jaccard
      // estimate, Broder 1997). The daily-corpus-growth shape:
      // admitting N new docs touches the index, never the old text.
      // Oracle replays signatures, banding, the band join and the
      // integer agreement count (incrementalDedupOracle)
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val isOld =
          pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 60
        val idx = IncrementalDedup.fitIndex(
          docs.where(isOld), "doc_id", "text")
        IncrementalDedup.filterNew(docs.where(!isOld), "doc_id", "text",
            idx, minAgree = 45)
          .select(col("doc_id"), col("lang"), col("n_chars"))
      },
      Some(incrementalDedupOracle(oldPct = 60, minAgree = 45))),

    QueryDef("dedup_index_compact",
      // fingerprint-index COMPACTION: two corpus splits indexed
      // independently (the sharded-crawl shape), merged into one
      // index without touching document text — the primary split
      // survives whole, a secondary doc is dropped when it
      // exact-matches a primary content hash or agrees on >= 45/64
      // signature components with a band-collision candidate. The
      // decision runs on ~0.5 KB/doc fingerprints only, so
      // compacting two billion-doc indexes moves the index, never
      // the corpus (IncrementalDedup.compact — filterNew's admission
      // arithmetic applied index-vs-index). Output is the surviving
      // id set with its split of origin; the index payload (xh, sig)
      // is hash-typed and certified by IncrementalDedupSpec instead
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val isPri =
          pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 50
        val ia = IncrementalDedup.fitIndex(docs.where(isPri), "doc_id", "text")
        val ib = IncrementalDedup.fitIndex(docs.where(!isPri), "doc_id", "text")
        IncrementalDedup.compact(ia, ib, "doc_id", minAgree = 45)
          .select(col("doc_id"),
            when(isPri, "primary").otherwise("secondary").as("origin"))
      },
      Some(indexCompactOracle(primaryPct = 50, minAgree = 45))),

    QueryDef("dedup_ngram_decontam",
      // GPT-3-style exact n-gram decontamination (Brown 2020 appx C;
      // re-derived as window-hash matching): train-split docs sharing
      // any 8-token window with the test split, with the count of
      // DISTINCT shared windows per contaminated doc. Unlike
      // dedup_cross_split (MinHash near-dup straddle) this is the
      // EXACT-overlap form: one codegen'd shingle projection per
      // side, hash-only equi-join against the test side's distinct
      // window-hash set — token text never leaves its scan partition,
      // and there is no signature tuning to miss a verbatim overlap
      (s, dir) => {
        val f = t(s, dir, "documents").select(col("doc_id"),
          (pmod(pmod(col("doc_id"), lit(1000003L)) * 2654435761L, lit(100)) < 80)
            .as("is_train"),
          array_distinct(graft.expressions.WordShingleHashes(col("text"), 8))
            .as("hs"))
        val sh = f.select(col("doc_id"), col("is_train"),
          explode(col("hs")).as("h"))
        val testH = sh.where(!col("is_train")).select("h").distinct()
        sh.where(col("is_train")).join(testH, "h")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      },
      Some(ngramDecontamOracle(8))),

    QueryDef("sample_group_bottomk",
      // exact-count stratified sampling: exactly min(50, |lang|) docs
      // per language by smallest id hash — the per-group form of
      // sample_bottomk (vs sample_stratified's Bernoulli gate, which
      // only approximates the per-stratum count). rank<=k plans as
      // WindowGroupLimit: each map task forwards at most k rows per
      // language before the exchange
      (s, dir) => Sampling.groupBottomK(t(s, dir, "documents"),
        "lang", "doc_id", 50),
      Some("""SELECT lang, doc_id, h FROM (
          SELECT lang, doc_id,
            ((doc_id % 1000003) * 2654435761) % 1000000 AS h,
            row_number() OVER (PARTITION BY lang
              ORDER BY ((doc_id % 1000003) * 2654435761) % 1000000, doc_id) AS rn
          FROM documents) WHERE rn <= 50""")),

    QueryDef("dedup_winnow",
      // winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
      // 2003 — the MOSS technique): per window of 4 consecutive
      // 5-token shingle hashes keep only the MINIMUM, giving a
      // ~2/(w+1)-density fingerprint set that still GUARANTEES any
      // shared run of >= n+w-1 = 8 tokens produces a shared print.
      // The pipeline value vs dedup_substring_spans (all windows):
      // the shuffled/joined print table shrinks ~3x while detection
      // granularity stays 8 tokens. Window minima are elementwise
      // `least` over the codegen'd shingle array — one projection,
      // no extra shuffle vs the spans query
      (s, dir) => Winnow.sharedStats(t(s, dir, "documents"),
        "doc_id", "text", n = 5, w = 4),
      Some(winnowOracle(5, 4))),

    QueryDef("dedup_prefix_jaccard",
      // LOSSLESS set-similarity self-join (Bayardo 2007 prefix
      // filter): every pair at distinct-token Jaccard >= 4/5, found
      // by equi-joining only each doc's RAREST tokens (prefix length
      // n - ceil(4n/5) + 1) and verifying candidates exactly — no
      // all-pairs product, no recall loss (vs dedup_word_jaccard's
      // df cap, which drops hot tokens explicitly). tau = 4/5 selects
      // true near-duplicates on this shared-vocabulary corpus (1/2
      // matches a third of all pairs — measured 92k rows at sf0.01).
      // Pure integer arithmetic end to end (ceil by integer division,
      // threshold cross-multiplied), replayed identically in DuckDB.
      // Gated to 500 docs BY DESIGN (the dedup_clusters_exact
      // precedent): this corpus carries ~300-doc near-identical
      // cliques, so the TRUE pair set is quadratic in clique size
      // (~3M pairs ungated at sf0.1) — a pipeline materializes
      // survivors via NearDupClusters, not all clique pairs; the
      // gated query is the oracle-exact proof of the operator
      (s, dir) => SetSimJoin.pairs(
        t(s, dir, "documents").where(col("doc_id") < 500),
        "doc_id", "text", tauNum = 4, tauDen = 5),
      Some(SetSimJoin.oracleSql(
        "(SELECT * FROM documents WHERE doc_id < 500)", "doc_id", "text",
        tauNum = 4, tauDen = 5))),

    QueryDef("text_sparse_topk",
      // sparse (lexical) doc-to-doc retrieval via the INVERTED-INDEX
      // join shape — the complement of text_bm25's projection-only
      // scan: score(q, d) = sum over shared tokens of tf_q * tf_d,
      // pure integer dot product of term-frequency vectors (no
      // doubles, no fold-order sensitivity), top-5 per query with id
      // tiebreak. The posting join touches only the QUERY docs'
      // tokens; partial-agg'd per-pair sums + WindowGroupLimit rank.
      // At corpus-as-queries scale this becomes the all-pairs sparse
      // product — then prefix-filter (SetSimJoin) or BM25 scan-side
      // scoring are the bounded alternatives
      (s, dir) => {
        val tf = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val qtf = tf.where(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("tok"), col("tf").as("qtf"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("score").desc, col("doc_id").asc)
        tf.join(qtf, "tok")
          .where(col("doc_id") =!= col("qid"))
          .groupBy("qid", "doc_id")
          .agg(sum(col("tf") * col("qtf")).as("score"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5)
          .select(col("qid"), col("doc_id").as("nid"), col("score"), col("rank"))
      },
      Some("""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) GROUP BY 1, 2),
          q AS (SELECT doc_id AS qid, tok, tf AS qtf FROM tf WHERE doc_id < 5),
          sc AS (SELECT q.qid, tf.doc_id AS nid,
              CAST(sum(tf.tf * q.qtf) AS BIGINT) AS score
            FROM tf JOIN q USING (tok) WHERE tf.doc_id <> q.qid
            GROUP BY 1, 2),
          r AS (SELECT qid, nid, score, row_number() OVER (
              PARTITION BY qid ORDER BY score DESC, nid) AS rank
            FROM sc)
        SELECT qid, nid, score, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 5"""))
  )
}
