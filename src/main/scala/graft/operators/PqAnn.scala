package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product-quantized approximate nearest neighbor — the memory half of
  * Jegou/Douze/Schmid, "Product quantization for nearest neighbor
  * search" (TPAMI 2011): each L2-normalized vector is split into `m`
  * subvectors, each subvector is replaced by the id of its nearest
  * per-subspace centroid, and the whole vector becomes an m-byte code.
  * With m=8 subspaces of 16 centroids the 64-float (256 B) embedding
  * compresses to one packed 32-bit code inside a LONG — a ~64x smaller
  * corpus representation, which at 100 TB is the difference between
  * scanning embeddings and scanning codes.
  *
  * Search is asymmetric distance computation (ADC): the query stays
  * exact; a candidate's score is the sum over subspaces of
  * dot(query subvector, centroid selected by the candidate's code).
  * Vectors are normalized up front, so the inner product IS cosine and
  * recall is measured against the exact cosine baseline (RecallSpec).
  *
  * Scale shape:
  *  - training: `iterations` passes over a deterministic hash-SAMPLE
  *    of the corpus ([[Params.trainFraction]]), all m subspaces AT ONCE
  *    (one explode + one (sub, cell, pos)-keyed partial-aggregated
  *    shuffle per pass — not m separate k-means jobs); codebooks are
  *    m x ksub x dsub doubles of driver-side metadata shipped as plan
  *    literals.
  *  - encoding: one projection per corpus row (m CASE-free argmaxes of
  *    ksub dim-dsub codegen'd dots), emitting the packed code.
  *  - search: broadcast the (small) query set; the corpus-side scan
  *    reads only (id, code) — the compressed representation — and the
  *    per-candidate score is m literal-codebook lookups + dim-dsub
  *    dots.
  *
  * Determinism: identical machinery to [[IvfAnn]] — init = subvectors
  * of the ksub lowest-id vectors, cell sums accumulate fixed-point
  * DECIMAL(38,0) (exact + commutative), so codebooks are bit-identical
  * under any partitioning; that is what licenses the codebook-inlined
  * DuckDB oracle for pq_ann_topk.
  */
object PqAnn {

  /** @param m subspaces; dim must be divisible by m
    * @param ksub centroids per subspace (<= 16 so the packed code fits
    *   4 bits per subspace)
    * @param trainFraction fraction of the corpus used for codebook
    *   training, selected by the deterministic [[Sampling.hashGate]]
    *   (FAISS-style practice: train the quantizer on a bounded sample,
    *   encode the full corpus — at 100 TB, Lloyd passes over every
    *   vector are the dominant index-build cost and add nothing).
    *   Falls back to the full corpus below ~64 training points per
    *   centroid, the same floor as [[IvfAnn.Params.trainFraction]].
    */
  /** @param maxTrainPerCentroid hard CAP on training points per
    *   subspace centroid — with the 64-point floor this brackets the
    *   Lloyd training set in [64*ksub, 256*ksub] points regardless of
    *   corpus size (the [[IvfAnn.Params.maxTrainPerCentroid]]
    *   argument; measured flat in SCALEPROBE.md), so codebook
    *   training is a per-index-lifetime fixed cost at any corpus
    *   scale. Binds only above ~cap/trainFraction corpus rows, so
    *   test-SF corpora train identically with or without it.
    */
  final case class Params(m: Int = 8, ksub: Int = 16, iterations: Int = 3,
                          trainFraction: Double = 0.25,
                          maxTrainPerCentroid: Int = 256) {
    require(m >= 1 && ksub >= 2 && ksub <= 16,
      s"need 1 <= m and 2 <= ksub <= 16 (4-bit packed codes), got m=$m ksub=$ksub")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    require(maxTrainPerCentroid >= 64,
      s"maxTrainPerCentroid must be >= the 64-point floor, got $maxTrainPerCentroid")
  }

  /** v / |v| as a double array column; null-safe only for nonzero
    * norms (degenerate zero vectors are a data error for cosine ANN).
    * Public so [[IvfPqAnn]] normalizes with the identical arithmetic.
    */
  def normalizedCol(vecCol: Column): Column = {
    val v = VectorFunctions.toDoubleArray(vecCol)
    val n = sqrt(VectorFunctions.dot(v, v))
    transform(v, x => x / n)
  }
  private def normalized(vecCol: Column): Column = normalizedCol(vecCol)

  private def subvec(vn: Column, sub: Int, dsub: Int): Column =
    slice(vn, sub * dsub + 1, dsub)

  /** argmax_c (dot(x, c) - |c|^2/2) over the subspace codebook — ties
    * to the HIGHEST cell, mirrored by the oracle's high-to-low CASE
    * ladder. [[graft.expressions.CentroidArgmax]] (codebook as a plan
    * reference object, loop codegen) — the literal-unrolled
    * array_max(struct…) fold this replaces rebuilt a 1000+-node tree
    * per Lloyd iteration and generated JIT-hostile huge methods
    * (BASELINE.md round-11: the chronic ANN-trainer flakiness).
    */
  private def argmaxCell(x: Column, codebook: Array[Array[Double]]): Column =
    graft.expressions.CentroidArgmax(x, codebook)

  /** Per-subspace k-means codebooks, all subspaces trained together:
    * each Lloyd pass is ONE job over (id, sub, subvector) rows with a
    * (sub, cell, pos)-keyed exact-decimal sum — m x ksub x dsub
    * driver-side doubles out.
    */
  def fitCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                   p: Params = Params()): Array[Array[Array[Double]]] =
    fitCodebooksOn(
      corpus.select(col(idCol).as("id"), normalized(col(vecCol)).as("vn")), p)

  /** As [[fitCodebooks]] over an ALREADY-PREPARED (id, vn) frame —
    * vn a double-array column, NOT re-normalized here. This is the
    * entry point [[IvfPqAnn]] uses to train on coarse-cell RESIDUALS.
    *
    * @param dimHint vector dimensionality when the caller already
    *   knows it — skips the one-row probe job
    */
  def fitCodebooksOn(prepared: DataFrame, p: Params = Params(),
                     dimHint: Option[Int] = None): Array[Array[Array[Double]]] = {
    val dim = dimHint.getOrElse(prepared.select(size(col("vn"))).head().getInt(0))
    require(dim % p.m == 0, s"dim $dim not divisible by m=${p.m}")
    val dsub = dim / p.m

    // training only (encoding covers the full corpus); the tiny-corpus
    // fallback keeps the sf0.01 oracle corpora unsampled
    val base = IvfAnn.trainingSample(prepared.select(col("id"), col("vn")),
      p.trainFraction, p.ksub, p.maxTrainPerCentroid, rowsPerPoint = p.m)
    // init: subvectors of the ksub lowest-id vectors, per subspace
    val initRows = base.orderBy(col("id")).limit(p.ksub)
      .collect().map(_.getSeq[Double](1).toArray)
    var codebooks = Array.tabulate(p.m) { s =>
      initRows.map(v => v.slice(s * dsub, s * dsub + dsub))
    }

    val subRows = base.select(col("id"),
        explode(array((0 until p.m).map { s =>
          struct(lit(s).as("sub"), subvec(col("vn"), s, dsub).as("x"))
        }: _*)).as("sx"))
      .select(col("id"), col("sx.sub").as("sub"), col("sx.x").as("x"))
      .localCheckpoint(eager = false)

    val Scale = (1L << 30).toDouble
    for (_ <- 1 to p.iterations) {
      // per-subspace cell assignment: the sub column selects which
      // codebook's argmax applies
      val cellExpr = (0 until p.m).foldLeft(lit(-1): Column) { (acc, s) =>
        when(col("sub") === s, argmaxCell(col("x"), codebooks(s))).otherwise(acc)
      }
      val sums = subRows.withColumn("cell", cellExpr)
        .select(col("sub"), col("cell"), posexplode(col("x")).as(Seq("pos", "xv")))
        .groupBy("sub", "cell", "pos")
        .agg(sum(floor(col("xv") * Scale + 0.5).cast(DecimalType(38, 0))).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val acc = Array.fill(p.m, p.ksub)(new Array[java.math.BigDecimal](dsub))
      val cnt = Array.fill(p.m)(new Array[Long](p.ksub))
      sums.foreach { r =>
        val s = r.getAs[Int]("sub"); val c = r.getAs[Int]("cell")
        acc(s)(c)(r.getAs[Int]("pos")) = r.getAs[java.math.BigDecimal]("sx")
        cnt(s)(c) = r.getAs[Long]("n")
      }
      codebooks = codebooks.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (old, c) =>
          if (cnt(s)(c) == 0) old
          else acc(s)(c).map(_.doubleValue / Scale / cnt(s)(c))
        }
      }
    }
    codebooks
  }

  /** Packed 4-bit-per-subspace PQ code of a (double-array) vector
    * column as a LONG expression (subspace s occupies bits
    * [4s, 4s+4)).
    */
  def packedCode(vn: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (cb, s) =>
      argmaxCell(subvec(vn, s, dsub), cb).cast("long") * (1L << (4 * s))
    }.reduce(_ + _)
  }

  /** (idCol, code) — the packed PQ code per corpus row. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol), packedCode(normalized(col(vecCol)), codebooks).as("code"))

  /** ADC score of a packed `code` column against an exact query-vector
    * column: sum over subspaces of dot(query subvector, the centroid
    * the code names) — left-to-right over subspaces (the oracle mirrors
    * the order).
    */
  def adcScore(qn: Column, code: Column,
               codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (cb, s) =>
      val cell = shiftright(code, 4 * s).bitwiseAND(lit(15L)).cast("int")
      VectorFunctions.dot(
        subvec(qn, s, dsub),
        element_at(typedLit(cb.map(_.toSeq).toSeq), cell + 1))
    }.reduce(_ + _)
  }

  /** A fitted PQ index: driver-side codebooks + the coded corpus as
    * (nid, code) — the ~64x-compressed representation. Fit once
    * ([[fitIndex]]), persist ([[save]]/[[load]]), search many
    * ([[searchTopK]]).
    */
  final case class Index(codebooks: Array[Array[Array[Double]]], coded: DataFrame)

  /** Trains codebooks and encodes every corpus row. */
  def fitIndex(corpus: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding", p: Params = Params()): Index = {
    val codebooks = fitCodebooks(corpus, idCol, vecCol, p)
    Index(codebooks, encode(corpus, idCol, vecCol, codebooks)
      .select(col(idCol).as("nid"), col("code")))
  }

  /** Persists the index as plain parquet: `path/corpus` = (nid, code),
    * `path/meta` = one row holding the m x ksub x dsub codebook tensor.
    * Parquet round-trips doubles bit-exactly, so a loaded index
    * searches bit-identically to the fitted one (pinned in PqAnnSpec).
    */
  def save(idx: Index, path: String): Unit = {
    val spark = idx.coded.sparkSession
    import spark.implicits._
    idx.coded.write.mode("overwrite").parquet(s"$path/corpus")
    Seq(Tuple1(idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)).toDF("codebooks")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val codebooks = spark.read.parquet(s"$path/meta").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]](0)
      .map(_.map(_.toArray).toArray).toArray
    Index(codebooks, spark.read.parquet(s"$path/corpus"))
  }

  /** Approximate top-k by ADC cosine against a prebuilt index — no
    * training, no encoding: one scan of the packed codes against the
    * broadcast exact queries. Output (qid, nid, rank), rank by
    * (adc score DESC, nid ASC).
    */
  def searchTopK(queries: DataFrame, idx: Index, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), normalized(col(vecCol)).as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc, col("nid").asc)
    idx.coded.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        adcScore(col("qn"), col("code"), idx.codebooks).as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank")
  }

  /** Approximate top-k by ADC cosine: queries exact (broadcast), the
    * corpus represented ONLY by its codes. Trains in-line; callers
    * with a reusable corpus should [[fitIndex]] + [[save]] once and
    * [[searchTopK]] against the loaded index instead.
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           p: Params = Params()): DataFrame =
    searchTopK(queries, fitIndex(corpus, idCol, vecCol, p), k, idCol, vecCol)
}

/** The full IVF-ADC pipeline of Jegou/Douze/Schmid (TPAMI 2011): a
  * coarse quantizer (deterministic k-means, [[IvfAnn.fitCentroids]])
  * partitions the corpus into Voronoi cells; each vector's RESIDUAL
  * against its cell centroid is product-quantized ([[PqAnn]]); search
  * probes `nprobe` cells and scores candidates by
  * dot(q, cell centroid) + ADC(q, residual code) — the exact
  * decomposition dot(q, c + r) = dot(q, c) + dot(q, r), with r
  * approximated by its codebook entry.
  *
  * Scale shape — this is THE quantized-ANN architecture for 100 TB:
  *  - index = (id, cell, 4-byte code): the probe join reads ~nprobe/k
  *    of the corpus AND each touched row is ~64x smaller than its
  *    float embedding;
  *  - training = the two deterministic k-means fits, BOTH over bounded
  *    hash-samples (coarse via [[IvfAnn.Params.trainFraction]],
  *    residual PQ via [[PqAnn.Params.trainFraction]] — one job per
  *    pass across all subspaces); both codebooks ship as plan
  *    literals;
  *  - residuals are never materialized at search time — scoring is
  *    codebook lookups against the exact broadcast query.
  *
  * Determinism: both trainers use the exact fixed-point DECIMAL sums,
  * so (coarse, residual) codebooks — and hence the oracle-inlined
  * literals — are bit-identical under any partitioning.
  */
object IvfPqAnn {

  final case class Params(coarseK: Int = 16, coarseIterations: Int = 3,
                          nprobe: Int = 3, pq: PqAnn.Params = PqAnn.Params())

  /** Trains coarse + residual codebooks AND returns the
    * cell-assigned normalized corpus, so [[topK]] shares ONE
    * normalization pass and one checkpointed materialization between
    * training, residual encoding, and search indexing (a second full
    * corpus pass would be pure waste at 100 TB).
    */
  private def fitOn(corpus: DataFrame, idCol: String, vecCol: String, p: Params):
      (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val base = corpus.select(col(idCol).as("id"),
        PqAnn.normalizedCol(col(vecCol)).as("vn"))
      .localCheckpoint(eager = false)
    val coarse = IvfAnn.fitCentroids(base, "id", "vn",
      IvfAnn.Params(k = p.coarseK, iterations = p.coarseIterations,
        nprobe = p.nprobe))
    // (id, vn, __graft_cell), materialized once: read by residual
    // codebook training AND by the final index encode
    val indexedBase = IvfAnn.index(base, "vn", coarse)
      .localCheckpoint(eager = false)
    val residuals = indexedBase
      .select(col("id"),
        zip_with(col("vn"),
          element_at(typedLit(coarse.map(_.toSeq).toSeq), col("__graft_cell") + 1),
          (a, b) => a - b).as("vn"))
    (coarse, PqAnn.fitCodebooksOn(residuals, p.pq,
      dimHint = Some(coarse(0).length)), indexedBase)
  }

  /** (coarse centroids, residual PQ codebooks), both trained on the
    * L2-normalized corpus.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String, p: Params):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (coarse, rescb, _) = fitOn(corpus, idCol, vecCol, p)
    (coarse, rescb)
  }

  /** A fitted IVF-PQ index: coarse centroids + residual codebooks
    * (driver-side) + the indexed corpus as (nid, cell, code). Fit once
    * ([[fitIndex]]), persist ([[save]]/[[load]]), search many
    * ([[searchTopK]]).
    */
  final case class Index(coarse: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         indexed: DataFrame)

  /** Trains both codebooks and residual-encodes every corpus row —
    * index = (nid, coarse cell, packed residual code), derived from
    * the SAME materialization training used (no second
    * normalize/assign pass over the corpus).
    */
  def fitIndex(corpus: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding", p: Params = Params()): Index = {
    val (coarse, rescb, indexedBase) = fitOn(corpus, idCol, vecCol, p)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    Index(coarse, rescb, indexedBase
      .select(col("id").as("nid"), col("__graft_cell").as("cell"),
        PqAnn.packedCode(
          zip_with(col("vn"),
            element_at(coarseLit, col("__graft_cell") + 1),
            (a, b) => a - b), rescb).as("code")))
  }

  /** Persists the index as plain parquet: `path/corpus` = (nid, cell,
    * code), `path/meta` = one row holding both codebook tensors —
    * bit-exact round-trip (pinned in PqAnnSpec).
    */
  def save(idx: Index, path: String): Unit = {
    val spark = idx.indexed.sparkSession
    import spark.implicits._
    idx.indexed.write.mode("overwrite").parquet(s"$path/corpus")
    Seq((idx.coarse.map(_.toSeq).toSeq,
        idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("coarse", "codebooks")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val row = spark.read.parquet(s"$path/meta").head()
    val coarse = row.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("coarse")
      .map(_.toArray).toArray
    val codebooks = row
      .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[Double]]]]("codebooks")
      .map(_.map(_.toArray).toArray).toArray
    Index(coarse, codebooks, spark.read.parquet(s"$path/corpus"))
  }

  /** Approximate top-k by probed-cell ADC cosine against a prebuilt
    * index — the amortized path: no training, no residual encoding;
    * the probe equi-join touches ~nprobe/coarseK of the corpus, each
    * row a 4-byte code. Output (qid, nid, rank), rank by
    * (score DESC, nid ASC).
    */
  def searchTopK(queries: DataFrame, idx: Index, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 nprobe: Int = 3): DataFrame = {
    val coarseLit = typedLit(idx.coarse.map(_.toSeq).toSeq)
    // query probes: top-nprobe cells by (score DESC, cell ASC) — the
    // same tie-breaks as IvfAnn.topK
    val qn = PqAnn.normalizedCol(col(vecCol))
    val probesSorted = array_sort(array(idx.coarse.toIndexedSeq.zipWithIndex.map {
      case (c, i) =>
        val score = VectorFunctions.dot(qn, typedLit(c.toSeq)) -
          lit(c.map(x => x * x).sum / 2.0)
        struct((-score).as("negscore"), lit(i).as("cell"))
    }: _*))
    val qProbes = queries
      .select(col(idCol).as("qid"), qn.as("qn"),
        slice(probesSorted, 1, nprobe).as("probes"))
      .select(col("qid"), col("qn"), explode(col("probes")).as("probe"))
      .select(col("qid"), col("qn"), col("probe.cell").as("cell"))

    val score =
      VectorFunctions.dot(col("qn"), element_at(coarseLit, col("cell") + 1)) +
        PqAnn.adcScore(col("qn"), col("code"), idx.codebooks)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    idx.indexed.join(broadcast(qProbes), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), score.as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank")
  }

  /** Approximate top-k by probed-cell ADC cosine. Output
    * (qid, nid, rank), rank by (score DESC, nid ASC). Trains in-line;
    * callers with a reusable corpus should [[fitIndex]] + [[save]]
    * once and [[searchTopK]] against the loaded index instead.
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           p: Params = Params()): DataFrame =
    searchTopK(queries, fitIndex(corpus, idCol, vecCol, p), k,
      idCol, vecCol, p.nprobe)
}
