package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication over an embedding column — the SemDeDup
  * recipe (Abbas/Tirumala/Simig/Ganguli/Morcos, "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * arXiv:2303.09540): k-means-cluster the embeddings, compare pairs
  * only WITHIN a cluster, and keep one representative from every
  * group of vectors more similar than a cosine threshold. Catches
  * paraphrases and re-renderings that exact/MinHash dedup misses
  * because no tokens overlap.
  *
  * Scale shape — this is the reason SemDeDup clusters first:
  *  - clustering reuses [[IvfAnn.fitCentroids]] (deterministic Lloyd
  *    iterations over a hash-sample; centroids are driver metadata);
  *  - the pair search is an equi-join on the cell id, never an
  *    all-pairs product — with k sized ~N/1000 the per-cell work is
  *    bounded, exactly the posture of the LSH band joins;
  *  - the cell assignment is computed once and localCheckpoint'd,
  *    since both sides of the self-join and the survivor anti-join
  *    read it;
  *  - `maxCluster` bounds degenerate cells (a boilerplate-heavy
  *    corpus can collapse into one giant cluster): oversized cells
  *    are SPLIT into fingerprint sub-cells (identical vectors still
  *    meet and dedup; only distinct near-dup pairs straddling
  *    sub-cells are kept — bounded residual recall loss, reported as
  *    a `split` [[BucketCapEvent]]), the same split-not-drop contract
  *    as MinHashLSH's `maxBucket`.
  *
  * Determinism: centroid training is exactly deterministic (fixed-
  * point DECIMAL sums — see IvfAnn), assignment ties break to the
  * highest cell (array_max on (score, cell) structs), and the keep
  * rule is min-id-wins, so the survivor set is a pure function of the
  * data. That lets the dedup_semantic oracle inline the trained
  * centroids and replay cluster assignment + the in-cell cosine
  * threshold in DuckDB exactly.
  */
object SemDedup {

  /** @param tau cosine threshold at/above which two same-cell vectors
    *   are duplicates. Calibrate per corpus: embedding models differ
    *   in cosine concentration (the paper sweeps 0.95-0.999 for CLIP;
    *   the synthetic fixture corpus needs far lower — its max pairwise
    *   cosine is ~0.5).
    * @param maxCluster cell size above which pair generation splits
    *   the cell into ceil(n/maxCluster) fingerprint sub-cells (see
    *   droppedIds); None = no bound, exact in-cell semantics.
    * @param twoLevel use the [[TwoLevelQuantizer]] for cell
    *   assignment: O(sqrt(k)·d) per row instead of O(k·d) — the
    *   measured fix for flat assignment's superlinearity once k is
    *   sized to the corpus (SCALEPROBE.md). Assignment is approximate
    *   at super-cell boundaries; the dedup contract (min-id survivor
    *   per cosine>=tau in-cell group) is unchanged and stays exactly
    *   deterministic, so the two-level path has its own exact oracle.
    * @param superK super-cell count (default ceil(sqrt(k))).
    */
  final case class Params(k: Int = 16, iterations: Int = 3,
                          trainFraction: Double = 0.25,
                          tau: Double = 0.35,
                          maxCluster: Option[Long] = None,
                          twoLevel: Boolean = false,
                          superK: Int = 0) {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    def superKOrDefault: Int =
      if (superK > 0) superK else math.ceil(math.sqrt(k.toDouble)).toInt
  }

  /** A fitted semantic-dedup model: the trained centroids plus (two-
    * level path) their super-cell grouping — driver-side metadata only
    * (k x dim doubles), [[save]]/[[load]]-able so the k-means fit is a
    * per-model-lifetime cost: freeze the model once, then dedup every
    * new corpus drop against the same frozen cells (the IvfAnn.Index
    * posture — training never re-paid per run).
    */
  final case class Model(centroids: Array[Array[Double]],
                         grouping: Option[TwoLevelQuantizer.Grouping])

  /** The trained centroids + (for the two-level path) their grouping —
    * exposed so the oracle generator inlines the identical constants.
    */
  def model(corpus: DataFrame, idCol: String, vecCol: String, p: Params)
      : (Array[Array[Double]], Option[TwoLevelQuantizer.Grouping]) = {
    val centroids = IvfAnn.fitCentroids(corpus, idCol, vecCol,
      IvfAnn.Params(k = p.k, iterations = p.iterations,
        trainFraction = p.trainFraction))
    // clamp to the ACTUAL centroid count: fitCentroids returns
    // min(k, corpus size) centroids on tiny corpora, and superK must
    // not exceed it
    val grouping =
      if (p.twoLevel) Some(TwoLevelQuantizer.group(centroids,
        math.min(p.superKOrDefault, centroids.length)))
      else None
    (centroids, grouping)
  }

  def fitModel(corpus: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding", p: Params = Params()): Model = {
    val (centroids, grouping) = model(corpus, idCol, vecCol, p)
    Model(centroids, grouping)
  }

  /** Persists the model as one parquet row. Parquet round-trips
    * doubles bit-exactly (no text re-parse), so a loaded model assigns
    * — and therefore dedups — bit-identically to the fitted one
    * (pinned in SemDedupSpec).
    */
  def save(m: Model, spark: org.apache.spark.sql.SparkSession,
           path: String): Unit = {
    import spark.implicits._
    Seq((m.centroids.map(_.toSeq).toSeq,
        m.grouping.map(_.superCentroids.map(_.toSeq).toSeq),
        m.grouping.map(_.members.map(_.toSeq).toSeq)))
      .toDF("centroids", "super_centroids", "members")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val r = spark.read.parquet(s"$path/meta").head()
    def mat(i: Int): Array[Array[Double]] =
      r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](i)
        .map(_.toArray).toArray
    val grouping =
      if (r.isNullAt(1)) None
      else Some(TwoLevelQuantizer.Grouping(mat(1),
        r.getAs[scala.collection.Seq[scala.collection.Seq[Int]]](2)
          .map(_.toArray).toArray))
    Model(mat(0), grouping)
  }

  /** Cell-assigned corpus: (id, v DOUBLE[], cell). */
  private def assign(corpus: DataFrame, idCol: String, vecCol: String,
                     m: Model): DataFrame = {
    val Model(centroids, grouping) = m
    val assigned = grouping match {
      case None =>
        IvfAnn.index(corpus, vecCol, centroids)
          .select(col(idCol).as("id"),
            VectorFunctions.toDoubleArray(col(vecCol)).as("v"),
            col("__graft_cell").as("cell"))
      case Some(g) =>
        corpus
          .select(col(idCol).as("id"),
            VectorFunctions.toDoubleArray(col(vecCol)).as("v"))
          .withColumn("__super", TwoLevelQuantizer.superExpr(col("v"), g))
          .withColumn("cell",
            TwoLevelQuantizer.cellExpr(col("v"), centroids, g, col("__super")))
          .select("id", "v", "cell")
    }
    assigned.localCheckpoint(eager = false) // read 3x: joins + anti-join
  }

  /** Ids dropped as semantic duplicates: any vector with a SMALLER-id
    * same-cell vector at cosine >= tau loses (min-id canonical
    * survivor, the same rule as ExactDedup/NearDupClusters).
    */
  private def droppedIds(assigned: DataFrame, p: Params): DataFrame = {
    // over-cap cells are SPLIT into fingerprint sub-cells, not skipped:
    // bitwise-identical embeddings share a fingerprint, so exact
    // duplicates always meet; distinct-but-close vectors may land in
    // different sub-cells (bounded residual recall loss). Sub-cell
    // count ceil(n/cap) keeps each pair join ~cap wide, so hot-cell
    // work is ~n·cap — linear in the cell.
    def pairsOn(rows: DataFrame, keys: Seq[String]): DataFrame =
      rows.as("a").join(rows.as("b"),
          keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
            col("b.id") < col("a.id"))
        .where(VectorFunctions.cosine(col("a.v"), col("b.v")) >= p.tau)
        .select(col("a.id").as("id"))
        .distinct()
    HotSplit.hot(assigned, Seq("cell"), p.maxCluster, "SemDedup") match {
      // healthy corpus: keep the EXACT in-cell plan (and its
      // broadcastable pair join) — the split machinery only engages
      // when a hot cell actually exists
      case None => pairsOn(assigned, Seq("cell"))
      case Some((cap, oversized)) =>
        val cold = assigned
          .join(broadcast(oversized.select("cell")), Seq("cell"), "left_anti")
        val coldDropped = pairsOn(cold, Seq("cell"))
        val hot = assigned
          .join(broadcast(oversized.select("cell")), Seq("cell"))
          .withColumn("__fp", xxhash64(col("v")))
          .localCheckpoint(eager = false) // hubs + the star join read it
        val hubs = hot.groupBy("cell", "__fp")
          .agg(min(col("id")).as("id"), first(col("v")).as("v"))
          .localCheckpoint(eager = false) // star join + rep split read it
        // min-id star: each identical-fingerprint member checks ONE
        // pair (itself vs its hub) — linear in the flood; the cosine
        // guard keeps admission bit-identical to the exact in-cell
        // join (fingerprint equality means identical vector bytes,
        // barring a 2^-64 collision the guard then rejects)
        val starDropped = hot
          .join(hubs.select(col("cell"), col("__fp"),
            col("id").as("__hub"), col("v").as("__hubv")),
            Seq("cell", "__fp"))
          .where(col("id") =!= col("__hub") &&
            VectorFunctions.cosine(col("v"), col("__hubv")) >= p.tau)
          .select(col("id"))
        val reps = HotSplit.subSplit(hubs, Seq("cell"), col("__fp"), cap,
          "SemDedup")
        val repDropped = pairsOn(reps, Seq("cell", "__sub"))
        coldDropped.union(starDropped).union(repDropped).distinct()
    }
  }

  /** Surviving rows after semantic dedup: (idCol, cell), one row per
    * input vector that is not a semantic duplicate of a smaller-id
    * same-cell vector. Fits the model in-line; callers with a frozen
    * corpus model should [[fitModel]] + [[save]] once and run
    * [[survivorsWithModel]] against the loaded model instead.
    */
  def survivors(corpus: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding",
                p: Params = Params()): DataFrame = {
    // flat assignment is superlinear once k is sized to the corpus
    if (!p.twoLevel && p.k > 64) HotSplit.report(corpus.sparkSession,
      BucketCapEvent("SemDedup.survivors", "flat", p.k, 64))
    survivorsWithModel(corpus, idCol, vecCol, p,
      fitModel(corpus, idCol, vecCol, p))
  }

  /** [[survivors]] against a prebuilt (typically [[load]]ed) model —
    * no training; the dedup contract and determinism are unchanged.
    */
  def survivorsWithModel(corpus: DataFrame, idCol: String, vecCol: String,
                         p: Params, m: Model): DataFrame = {
    val assigned = assign(corpus, idCol, vecCol, m)
    assigned.join(droppedIds(assigned, p), Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }
}
