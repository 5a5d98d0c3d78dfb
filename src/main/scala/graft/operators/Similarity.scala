package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`).
  *
  * Two strategies:
  *  - [[bruteForceTopK]] — exact cosine top-k. The query set is
  *    broadcast, so the corpus is scanned once, partition-parallel,
  *    with no shuffle of corpus rows; the only shuffle is the
  *    per-query top-k (WindowGroupLimit bounds it to k rows per query
  *    per partition). This is the correct baseline when |queries| is
  *    small — even at 100 TB corpus it is one scan.
  *  - [[RandomHyperplaneLSH.topK]] — sign-random-projection LSH: each
  *    vector maps to one bucket per hash table; candidates are bucket
  *    equi-joins. Scales to large query sets because the corpus-side
  *    cost is |corpus| x tables bucket rows, and scoring touches only
  *    colliding pairs.
  */
object Similarity {

  /** Exact top-k neighbors by cosine for each query vector.
    * Output: (qid, nid, rank, cosine). Self-matches excluded; ties
    * broken by neighbor id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        VectorFunctions.cosine(col("qv"), col("nv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Exact top-k most-similar PAIRS (a < b) by cosine over a vector
    * set — the all-pairs O(n^2) theta-join, kept as the correctness
    * baseline for near-dup detection. Guarded: refuses inputs larger
    * than `maxVectors` so the quadratic path cannot be reached by
    * accident at scale; the scale-safe equivalent is
    * [[RandomHyperplaneLSH.nearDupPairs]] (bucketed candidates, no
    * all-pairs expansion).
    */
  def bruteForcePairsTopK(vectors: DataFrame, k: Int,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          maxVectors: Long = 2000L): DataFrame = {
    // The size guard is an eager count on the RAW plan (cheap aggregate,
    // no row materialization — safe even when the guard is about to
    // refuse an oversized input); only the validated, bounded input is
    // then localCheckpoint'd so both join sides reuse one
    // materialization instead of re-evaluating the upstream plan twice.
    val raw = vectors.select(col(idCol), col(vecCol))
    val n = raw.count()
    require(n <= maxVectors,
      s"all-pairs cosine is O(n^2): got $n vectors > guard $maxVectors; " +
        "use RandomHyperplaneLSH.nearDupPairs for large inputs")
    val v = raw.localCheckpoint(eager = false)
    v.as("x").join(broadcast(v.as("y")), col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        VectorFunctions.cosine(col(s"x.$vecCol"), col(s"y.$vecCol")).as("cos"))
      .orderBy(col("cos").desc, col("a"), col("b")).limit(k)
  }
}

/** Sign-random-projection (random hyperplane) LSH for cosine
  * similarity (Charikar, STOC 2002: P[collision] = 1 - theta/pi per
  * plane). Hyperplanes are generated from a fixed seed, so bucketing
  * is deterministic across runs and cluster topologies.
  */
object RandomHyperplaneLSH {

  final case class Params(
      tables: Int = 4,
      planesPerTable: Int = 6,
      dim: Int = 64,
      seed: Long = 42L
  )

  /** Gaussian hyperplanes as literal arrays — constant-folded by
    * Catalyst, shipped once in the plan, never shuffled. Public so the
    * DuckDB oracles can inline the identical constants into SQL (the
    * planes are seed-derived, data-independent metadata).
    */
  def planes(p: Params): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(p.seed)
    Seq.fill(p.tables)(Seq.fill(p.planesPerTable)(
      Array.fill(p.dim)(rnd.nextGaussian())))
  }

  /** (id, table, bucket) — one bucket per table per vector; bucket =
    * packed sign bits of the plane dot products.
    */
  def buckets(df: DataFrame, idCol: String, vecCol: String, p: Params = Params()): DataFrame = {
    val v = col(vecCol)
    val tableStructs = planes(p).zipWithIndex.map { case (ps, t) =>
      val bucket = ps.zipWithIndex.map { case (plane, b) =>
        // typedLit: ONE ArrayType literal per plane, not a CreateArray
        // of dim child literals — same constant post-folding, but the
        // analyzer/optimizer walk a tables x planes x dim node tree on
        // EVERY run, and that driver time dominated the LSH rows
        val planeLit = typedLit(plane.toSeq)
        when(VectorFunctions.dot(v, planeLit) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table"), bucket.as("bucket"))
    }
    df.select(col(idCol), explode(array(tableStructs: _*)).as("tb"))
      .select(col(idCol), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** Multi-probe buckets for the QUERY side: per table, the base
    * bucket plus `extraProbes` single-bit-flip probes chosen by
    * MARGIN — the flipped bits are those whose hyperplane dot product
    * is closest to zero, i.e. where the sign decision was least
    * confident and the true neighbors most likely live one flip away
    * (Lv et al., "Multi-probe LSH", VLDB 2007, adapted to sign-random
    * projections). Recall rises without more tables or any corpus-side
    * reindexing: the corpus keeps exactly one bucket row per table,
    * only the (small) query side fans out 1+extraProbes rows per
    * table — the right trade at 100 TB, where corpus-side index size
    * dominates.
    */
  def probeBuckets(df: DataFrame, idCol: String, vecCol: String,
                   p: Params = Params(), extraProbes: Int): DataFrame = {
    require(extraProbes >= 0 && extraProbes <= p.planesPerTable,
      s"extraProbes must be in [0, ${p.planesPerTable}], got $extraProbes")
    if (extraProbes == 0) return buckets(df, idCol, vecCol, p)
    val v = col(vecCol)
    // Two-layer projection, deliberately: layer 1 computes each
    // plane dot EXACTLY ONCE into per-table arrays; layer 2 derives
    // base bucket, margin ranking, and flips from cheap element_at
    // references. Inlining the dots into every consumer (the old
    // shape) tripled a literal-heavy tree of tables x planes x dim
    // nodes and cost ~8 s of DRIVER planning/codegen per run at the
    // default params — 7 tasks, 2.8 s of task time, 13 CPU-s on the
    // driver. CollapseProject keeps the layers apart because merging
    // would duplicate non-cheap expressions.
    val dotCols = planes(p).zipWithIndex.map { case (ps, t) =>
      array(ps.map(plane =>
        VectorFunctions.dot(v, typedLit(plane.toSeq))): _*)
        .as(s"__dots_$t")
    }
    val withDots = df.select(col(idCol) +: dotCols: _*)
    val powers = array((0 until p.planesPerTable).map(b => lit(1L << b)): _*)
    val tableStructs = (0 until p.tables).flatMap { t =>
      val dots = (0 until p.planesPerTable).map(b =>
        element_at(col(s"__dots_$t"), b + 1))
      val base = dots.zipWithIndex.map { case (d, b) =>
        when(d >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      // bits ranked by |dot| ascending (ties by bit index): the least
      // confident sign decisions first
      val ranked = array_sort(array(dots.zipWithIndex.map { case (d, b) =>
        struct(abs(d).as("m"), lit(b).as("b"))
      }: _*))
      val flips = (0 until extraProbes).map { i =>
        base.bitwiseXOR(
          element_at(powers, element_at(ranked, i + 1).getField("b") + 1))
      }
      (base +: flips).map(bkt => struct(lit(t).as("table"), bkt.as("bucket")))
    }
    withDots.select(col(idCol), explode(array(tableStructs: _*)).as("tb"))
      .select(col(idCol), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** Approximate top-k by cosine: candidates = bucket collisions in any
    * table, scored exactly, ranked per query. Output (qid, nid, rank).
    *
    * @param extraProbes per-table single-bit-flip probes added on the
    *   query side ([[probeBuckets]]); 0 = classic single-probe LSH
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           p: Params = Params(), extraProbes: Int = 0): DataFrame = {
    val qb = probeBuckets(queries, idCol, vecCol, p, extraProbes)
      .withColumnRenamed(idCol, "qid")
    val cb = buckets(corpus, idCol, vecCol, p).withColumnRenamed(idCol, "nid")
    val cands = qb.join(cb, Seq("table", "bucket"))
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    cands.join(broadcast(q), Seq("qid")).join(c, Seq("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.VectorFunctions.cosine(col("qv"), col("nv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank")
  }

  /** Scale-safe embedding near-duplicate pairs: candidates are bucket
    * collisions (equi-join, never all-pairs), verified with exact
    * cosine >= `threshold`. Output (a, b, cos) with a < b, distinct.
    * This is the 100 TB path for embedding near-dup — corpus-side cost
    * is |corpus| x tables bucket rows; scoring touches only colliding
    * pairs. Recall is the per-pair LSH collision probability
    * (1 - (1 - (1 - theta/pi)^planes)^tables), asserted numerically in
    * RecallSpec against the brute-force baseline.
    */
  def nearDupPairs(df: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   p: Params = Params(),
                   maxBucket: Option[Long] = None): DataFrame = {
    // optional per-bucket cap (SCALE.md cliff #2, SimHash.pairs' drop
    // contract): bounded recall loss instead of a quadratic candidate
    // blowup on degenerate corpora (near-constant embeddings)
    val raw = buckets(df, idCol, vecCol, p)
    val b = maxBucket.fold(raw)(HotSplit.dropOversized(
      raw.localCheckpoint(eager = false), Seq("table", "bucket"), _,
      "RandomHyperplaneLSH.nearDupPairs"))
    val cands = b.as("l").join(b.as("r"),
        col("l.table") === col("r.table") && col("l.bucket") === col("r.bucket") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("a"), col(s"r.$idCol").as("b"))
      .distinct()
    val v = df.select(col(idCol), col(vecCol))
    cands
      .join(v.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
      .join(v.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        VectorFunctions.cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
