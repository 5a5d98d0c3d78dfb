package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class IvfAnnSpec extends SparkSuite {

  private lazy val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")

  test("k-means converges to k centroids of the right dimension, deterministically") {
    val p = IvfAnn.Params(k = 8, iterations = 3)
    val c1 = IvfAnn.fitCentroids(emb, "vec_id", "embedding", p)
    val c2 = IvfAnn.fitCentroids(emb, "vec_id", "embedding", p)
    assert(c1.length == 8 && c1.forall(_.length == 64))
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("index assigns every corpus vector to a valid cell") {
    val p = IvfAnn.Params(k = 8, iterations = 2)
    val centroids = IvfAnn.fitCentroids(emb, "vec_id", "embedding", p)
    val cells = IvfAnn.index(emb, "embedding", centroids)
      .select("__graft_cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 8))
    assert(IvfAnn.index(emb, "embedding", centroids).count() == emb.count())
  }

  test("IVF top-k is well-formed and mostly agrees with brute force at high nprobe") {
    val queries = emb.where(col("vec_id") < 5)
    val p = IvfAnn.Params(k = 8, iterations = 3, nprobe = 8) // probe ALL cells
    val ivf = IvfAnn.topK(queries, emb, k = 5, p = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select(col("qid"), col("nid"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probing every cell = exact search; must equal brute force
    assert(ivf == brute)
  }

  test("sampled training path: deterministic, and probe-all stays exact") {
    // 3000 synthetic vectors, k=4 -> training floor 256 < sample ~750,
    // so the hash-sampled branch (not the tiny-corpus fallback) runs
    val rnd = new scala.util.Random(11)
    import spark.implicits._
    val big = (0 until 3000).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val p = IvfAnn.Params(k = 4, iterations = 2, nprobe = 4, trainFraction = 0.25)
    val c1 = IvfAnn.fitCentroids(big, "vec_id", "embedding", p)
    val c2 = IvfAnn.fitCentroids(big, "vec_id", "embedding", p)
    assert(c1.length == 4 && c1.forall(_.length == 16))
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // probing every cell is exact search no matter how centroids were
    // trained — the sampled path must preserve that invariant
    val queries = big.where(col("vec_id") < 3)
    val ivf = IvfAnn.topK(queries, big, k = 3, p = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, big, k = 3)
      .select(col("qid"), col("nid"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute)
  }

  test("Lloyd iterations run on a pinned task count — marginal tasks " +
      "vs corpus partitioning come only from the one-time sample pass") {
    // the training sample is BOUNDED, so only the count + the
    // repartition map side may scale with the corpus's split count;
    // every Lloyd iteration must run at IvfAnn.trainPartitions — the
    // de-jitter (and 100 TB fan-in) contract. Measured the
    // IterativeShuffleSpec way: total scheduler tasks at two corpus
    // partitionings; an iteration leaking the corpus partitioning
    // adds ~(2 + iterations) x delta instead of ~2 x delta.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    def fitTasks(parts: Int): Int = {
      val df = rows.toDF("vec_id", "embedding").repartition(parts)
      val tasks = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
          tasks.addAndGet(s.stageInfo.numTasks); ()
        }
      }
      def settle(): Int = {
        var prev = -1
        var cur = tasks.get
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = tasks.get }
        cur
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val s0 = settle()
        IvfAnn.fitCentroids(df, "vec_id", "embedding",
          IvfAnn.Params(k = 4, iterations = 5, trainFraction = 1.0))
        settle() - s0
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val delta = fitTasks(37) - fitTasks(5)
    assert(delta <= 3 * (37 - 5),
      s"per-iteration stages must not scale with corpus partitioning " +
        s"(marginal tasks $delta > ${3 * (37 - 5)})")
  }

  test("fitCentroids is bit-identical under different input partitionings") {
    // the round-4 determinism claim at its root: cell sums accumulate
    // exact fixed-point DECIMAL, so shuffle merge order — which DOES
    // change with partitioning — cannot perturb any centroid bit. This
    // is also what licenses the centroid-inlined ann_ivf_topk oracle
    val p = IvfAnn.Params(k = 8, iterations = 3)
    def fit(parts: Int): Seq[Seq[Double]] =
      IvfAnn.fitCentroids(emb.repartition(parts), "vec_id", "embedding", p)
        .map(_.toSeq).toSeq
    val a = fit(1)
    val b = fit(13)
    assert(a == b, "centroids must be bit-identical across partitionings")
  }

  test("fit -> save -> load -> search equals fit -> search bit-exactly") {
    val p = IvfAnn.Params(k = 8, iterations = 3, nprobe = 3)
    val idx = IvfAnn.fitIndex(emb, "vec_id", "embedding", p)
    val dir = tempDir("graft_ivf_idx").toString
    IvfAnn.save(idx, dir)
    val loaded = IvfAnn.load(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq,
      "centroids must round-trip parquet bit-exactly")
    val queries = emb.where(col("vec_id") < 5)
    def run(i: IvfAnn.Index) =
      IvfAnn.searchTopK(queries, i, k = 5, nprobe = p.nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = IvfAnn.topK(queries, emb, k = 5, p = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(idx) == direct, "searchTopK(fitIndex) must equal topK")
    assert(run(loaded) == direct, "a loaded index must search identically")
  }

  test("filtered search: every neighbor shares the query's label, inside the probe join") {
    val p = IvfAnn.Params(k = 8, iterations = 3, nprobe = 3)
    val idx = IvfAnn.fitIndex(emb, "vec_id", "embedding", p,
      metaCols = Seq("label"))
    val queries = emb.where(col("vec_id") < 10)
    val out = IvfAnn.searchTopK(queries, idx, k = 5, nprobe = p.nprobe,
        queryMetaCols = Seq("label"),
        candidateFilter = Some(col("label") === col("q_label")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (q, n, _) =>
      assert(labelOf(q) == labelOf(n), s"neighbor $n crossed label of query $q")
    }
    // the filter genuinely changes the ranking vs unfiltered search
    val unfiltered = IvfAnn.searchTopK(queries,
        IvfAnn.fitIndex(emb, "vec_id", "embedding", p), k = 5,
        nprobe = p.nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(t => (t._1, t._2)).toSet != unfiltered)
  }

  test("IVF with nprobe < k prunes the candidate set but stays valid") {
    val queries = emb.where(col("vec_id") < 5)
    val p = IvfAnn.Params(k = 8, iterations = 3, nprobe = 2)
    val out = IvfAnn.topK(queries, emb, k = 5, p = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._3).sorted.toSeq
      assert(ranks == (1L to ranks.size.toLong))
      assert(rows.forall { case (q, n, _) => q != n })
    }
  }
}
