package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** IVF (inverted-file) approximate nearest neighbor search: the
  * corpus is clustered into `k` Voronoi cells (Lloyd's k-means over
  * DataFrames), each vector indexed under its nearest centroid, and a
  * query probes only its `nprobe` nearest cells — the coarse-quantizer
  * half of Jegou/Douze/Schmid, "Product quantization for nearest
  * neighbor search" (TPAMI 2011), without the PQ residual codes.
  *
  * Scale shape:
  *  - training: `iterations` passes over a deterministic hash-SAMPLE
  *    of the corpus (`Params.trainFraction`, materialized once), not
  *    the corpus itself (cell assignment is k codegen'd
  *    [[VectorFunctions.dot]] calls per row) plus a (cell, dim)-keyed
  *    partial-aggregated shuffle of k x dim sums. Centroids are
  *    driver-side metadata (k x dim doubles) and are shipped to
  *    executors as plan literals — never shuffled.
  *  - indexing: one scan, adds a cell id per row.
  *  - search: candidates = equi-join on cell id, so scoring touches
  *    ~(nprobe/k) of the corpus per query instead of all of it —
  *    the 100 TB path where brute force stops being an option.
  *
  * Determinism: centroid init = the k lowest-id vectors; Lloyd cell
  * sums are EXACT (per-element fixed-point quantization at 2^-30 summed
  * as DECIMAL(38,0) — exact, commutative arithmetic), so centroids are
  * bit-identical under any partitioning, shuffle merge order, or
  * cluster topology; no RNG anywhere. That exactness is what lets the
  * ann_ivf_topk oracle inline the trained centroids as SQL literals
  * (same template as the LSH hyperplane oracles).
  */
object IvfAnn {

  /** @param trainFraction fraction of the corpus used for k-means
    *   training, selected by a deterministic multiplicative hash of the
    *   id (same machinery as the sample_train_split query — stable
    *   under re-partitioning and retries). Centroid quality needs a
    *   representative sample, not the full corpus: at 100 TB, training
    *   on every vector for every Lloyd iteration is the dominant cost
    *   and adds nothing. Falls back to the full corpus when the sample
    *   is below ~64 training points per centroid (tiny inputs).
    */
  /** @param maxTrainPerCentroid hard CAP on training points per
    *   centroid (FAISS-style practice caps the k-means training set at
    *   a few hundred points per centroid — more adds nothing to
    *   centroid quality). Together with the 64-per-centroid floor this
    *   brackets the training set in [64k, 256k] points REGARDLESS of
    *   corpus size, which is what makes index training a
    *   corpus-independent, per-index-lifetime fixed cost at 100 TB
    *   (measured as the flat fit curve in SCALEPROBE.md). The cap
    *   binds only above ~maxTrainPerCentroid*k/trainFraction corpus
    *   rows, so test-SF corpora train identically with or without it.
    */
  final case class Params(k: Int = 16, iterations: Int = 5, nprobe: Int = 3,
                          trainFraction: Double = 0.25,
                          maxTrainPerCentroid: Int = 256) {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    require(maxTrainPerCentroid >= 64,
      s"maxTrainPerCentroid must be >= the 64-point floor, got $maxTrainPerCentroid")
  }

  /** Task count every Lloyd iteration runs at: ~[[trainRowsPerPartition]]
    * sample rows per task, capped at min(cores, 32), NEVER the corpus's
    * input-split count (one mostly empty task per corpus split per
    * iteration is jitter at test SF and a full fan-in at 100 TB; pinned
    * by IvfAnnSpec's marginal-task budget). Centroids are exact decimal
    * sums, so this changes scheduling only, never a result bit.
    */
  private[operators] val trainRowsPerPartition = 8192L
  private[operators] def trainPartitions(
      spark: org.apache.spark.sql.SparkSession, sampleRows: Long): Int = {
    val envCap = math.max(1, math.min(32, spark.sparkContext.defaultParallelism))
    val byRows = math.ceil(sampleRows.toDouble / trainRowsPerPartition).toInt
    math.max(1, math.min(envCap, byRows))
  }

  /** The k-means training sample of `all` (`id` + vectors), shared by
    * [[fitCentroids]] and [[PqAnn.fitCodebooksOn]]: the deterministic
    * `fraction` hash-sample bracketed between ~64 points per centroid
    * (the IVF training floor; tiny corpora train on everything) and
    * `maxTrainPerCentroid`, so a fit at fixed k costs the same at any
    * corpus size. The cap gate is a SUBSET of the fraction gate
    * (hashGate is monotone), so capping never reshuffles membership.
    * One cheap count job per fit; the sample is pinned onto
    * [[trainPartitions]] for its Lloyd rows (`rowsPerPoint` per point:
    * PQ explodes each into m subvectors) and checkpointed lazily.
    */
  private[operators] def trainingSample(all: DataFrame, fraction: Double,
                                        k: Int, maxTrainPerCentroid: Int,
                                        rowsPerPoint: Int): DataFrame = {
    val sampled =
      if (fraction >= 1.0) all
      else all.where(Sampling.hashGate(col("id"), fraction))
    val n = sampled.count()
    val capRows = maxTrainPerCentroid.toLong * k
    val tiny = !(sampled eq all) && n < 64L * k
    val chosen =
      if (tiny) all
      else if (n > capRows) {
        val f0 = if (sampled eq all) 1.0 else fraction
        all.where(Sampling.hashGate(col("id"), f0 * capRows.toDouble / n))
      } else sampled
    // rows the chosen frame will actually hold: the capped gate lands
    // ~capRows; the tiny-corpus fallback to `all` is ~n/fraction (n
    // was the fraction's yield)
    val chosenRows =
      if (tiny) math.ceil(n / fraction).toLong else math.min(n, capRows)
    chosen.repartition(trainPartitions(all.sparkSession,
        chosenRows * rowsPerPoint))
      .localCheckpoint(eager = false) // one materialization, reused per iteration
  }

  /** score of assigning vector v to centroid c under L2:
    * argmin |v-c|^2 = argmax (v.c - |c|^2/2); |v|^2 is constant per row.
    */
  private def cellScore(vec: Column, centroid: Array[Double]): Column =
    // typedLit: one ArrayType literal, not dim child literals — the k
    // probe-side scores otherwise put k x dim nodes through the
    // analyzer/optimizer on every run (driver time, guide §7.3)
    VectorFunctions.dot(vec, typedLit(centroid.toSeq)) -
      lit(centroid.map(x => x * x).sum / 2.0)

  /** Ties to the highest cell; compact loop codegen over the
    * plan-constant centroid table (see CentroidArgmaxExpr — the
    * literal-unrolled fold it replaces was the ANN trainers' chronic
    * driver-time flakiness).
    */
  private def argmaxCell(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.expressions.CentroidArgmax(vec, centroids)

  /** Lloyd's k-means over a deterministic hash-sample of the corpus;
    * returns k centroids (driver-side metadata).
    *
    * Training cost: one bounded [[trainingSample]] + `iterations`
    * passes over the SAMPLE — not the full corpus — plus a (cell,
    * dim)-keyed partial-aggregated shuffle of k x dim sums per pass.
    */
  def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   p: Params = Params()): Array[Array[Double]] = {
    val all = corpus.select(col(idCol).as("id"),
      VectorFunctions.toDoubleArray(col(vecCol)).as("v"))
    val vecs = trainingSample(all, p.trainFraction, p.k,
      p.maxTrainPerCentroid, rowsPerPoint = 1)
    var centroids = vecs.orderBy(col("id")).limit(p.k)
      .collect().map(_.getSeq[Double](1).toArray)
    val dim = centroids.head.length
    // Cell sums accumulate fixed-point longs (floor(x * 2^30 + 0.5)) as
    // DECIMAL(38,0): exact, commutative arithmetic, so the sum — and
    // hence every centroid — is independent of shuffle merge order.
    // A shuffled sum(double) would be only de-facto deterministic
    // (IEEE addition is not associative), which both breaks the oracle
    // and could flip borderline cell assignments across topologies.
    // The 2^-30 quantization is ~2^6 below the float-24 input mantissa
    // step, so centroid quality is unaffected.
    val Scale = (1L << 30).toDouble
    for (_ <- 1 to p.iterations) {
      val assigned = vecs.withColumn("cell", argmaxCell(col("v"), centroids))
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("x") * Scale + 0.5).cast(DecimalType(38, 0))).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val acc = Array.fill(p.k)(new Array[java.math.BigDecimal](dim))
      val cnt = new Array[Long](p.k)
      sums.foreach { r =>
        val cell = r.getAs[Int]("cell")
        acc(cell)(r.getAs[Int]("pos")) = r.getAs[java.math.BigDecimal]("sx")
        cnt(cell) = r.getAs[Long]("n")
      }
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        if (cnt(i) == 0) old // empty cell keeps its centroid
        else acc(i).map(_.doubleValue / Scale / cnt(i))
      }
    }
    centroids
  }

  /** Corpus with an IVF cell id column attached (one scan). */
  def index(corpus: DataFrame, vecCol: String,
            centroids: Array[Array[Double]]): DataFrame =
    corpus.withColumn("__graft_cell",
      argmaxCell(VectorFunctions.toDoubleArray(col(vecCol)), centroids))

  /** A fitted IVF index: driver-side centroids + the cell-assigned
    * corpus as (nid, nv, cell). Fit once ([[fitIndex]]), persist
    * ([[save]]/[[load]]), search many ([[searchTopK]]) — at 100 TB the
    * k-means training and the corpus assignment scan are per-INDEX
    * costs that must not be re-paid per query batch.
    */
  final case class Index(centroids: Array[Array[Double]], indexed: DataFrame)

  /** Trains centroids and assigns every corpus row to its cell.
    * `metaCols` are carried into the indexed corpus verbatim (label /
    * tenant / language columns for FILTERED search — see
    * [[searchTopK]]'s `candidateFilter`).
    */
  def fitIndex(corpus: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding", p: Params = Params(),
               metaCols: Seq[String] = Nil): Index = {
    val centroids = fitCentroids(corpus, idCol, vecCol, p)
    Index(centroids, index(corpus, vecCol, centroids)
      .select((Seq(col(idCol).as("nid"), col(vecCol).as("nv"),
        col("__graft_cell").as("cell")) ++ metaCols.map(col)): _*))
  }

  /** Persists the index as plain parquet: `path/corpus` = (nid, nv,
    * cell), `path/meta` = one row holding the centroid matrix. Parquet
    * round-trips doubles and the raw vector column bit-exactly (no
    * text re-parse), so a loaded index searches bit-identically to the
    * fitted one (pinned in IvfAnnSpec).
    */
  def save(idx: Index, path: String): Unit = {
    val spark = idx.indexed.sparkSession
    import spark.implicits._
    idx.indexed.write.mode("overwrite").parquet(s"$path/corpus")
    Seq(Tuple1(idx.centroids.map(_.toSeq).toSeq)).toDF("centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val centroids = spark.read.parquet(s"$path/meta").head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      .map(_.toArray).toArray
    Index(centroids, spark.read.parquet(s"$path/corpus"))
  }

  /** Approximate top-k by cosine against a prebuilt index, probing
    * `nprobe` cells per query — the amortized path: no training, no
    * corpus assignment, just the probe equi-join. Output
    * (qid, nid, rank), deterministic (neighbor-id tiebreak).
    */
  def searchTopK(queries: DataFrame, idx: Index, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 nprobe: Int = 3,
                 queryMetaCols: Seq[String] = Nil,
                 candidateFilter: Option[Column] = None): DataFrame = {
    // nprobe nearest cells per query: sort (negScore, cell) ascending
    val qv = VectorFunctions.toDoubleArray(col(vecCol))
    val scored = array_sort(array(idx.centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct((-cellScore(qv, c)).as("negscore"), lit(i).as("cell"))
    }: _*))
    // query-side metadata travels prefixed (q_label, …) so a
    // candidateFilter can reference both sides unambiguously, e.g.
    // col("label") === col("q_label") — the single-stage FILTERED
    // vector search: the predicate applies inside the probe join
    // (before scoring), not as a post-filter that silently returns
    // fewer than k survivors of an unfiltered top-k
    val qMeta = queryMetaCols.map(m => col(m).as(s"q_$m"))
    val qProbes = queries
      .select((Seq(col(idCol).as("qid"), col(vecCol).as("qv"),
        slice(scored, 1, nprobe).as("probes")) ++ qMeta): _*)
      .withColumn("probe", explode(col("probes")))
      .withColumn("cell", col("probe.cell"))
      .drop("probes", "probe")

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    idx.indexed.join(broadcast(qProbes), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .where(candidateFilter.getOrElse(lit(true)))
      .select(col("qid"), col("nid"),
        VectorFunctions.cosine(col("qv"), col("nv")).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank")
  }

  /** Approximate top-k by cosine, probing nprobe cells per query.
    * Output (qid, nid, rank) — rank over the probed candidates,
    * deterministic (neighbor-id tiebreak). Trains in-line; callers
    * with a reusable corpus should [[fitIndex]] + [[save]] once and
    * [[searchTopK]] against the loaded index instead.
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           p: Params = Params()): DataFrame =
    searchTopK(queries, fitIndex(corpus, idCol, vecCol, p), k,
      idCol, vecCol, p.nprobe)
}
