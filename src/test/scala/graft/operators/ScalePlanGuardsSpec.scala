package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Structural scale guards: every operator documented as a 100 TB path
  * must plan WITHOUT a quadratic join shape — no BroadcastNestedLoopJoin,
  * no CartesianProduct — so a code change that silently reintroduces an
  * all-pairs expansion fails here, not on a cluster. (The intentionally
  * quadratic exact baselines — bruteForceTopK / bruteForcePairsTopK —
  * are size-guarded and excluded by design.)
  */
class ScalePlanGuardsSpec extends SparkSuite {

  private lazy val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")
  private lazy val docs = graft.Tables(spark, sf("sf0.001"), "documents")

  /** Builds `df` and counts it with a QueryExecutionListener attached,
    * then fails if ANY plan executed meanwhile has a quadratic join.
    * An operator that cuts lineage shows only a scan of its last cut in
    * the final `executedPlan`; each lazy localCheckpoint reports its
    * round's plan to the listener when it is called, so the guard sees
    * every round production runs. `iterative` also requires a join
    * among the captured plans, so a round guard cannot pass vacuously.
    */
  private def assertNoQuadraticJoin(df: => DataFrame, label: String,
                                    iterative: Boolean = false): Unit = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val frame = df
      frame.count()
      // the frame's own plan too: it is checked even if no event arrives
      plans.add(frame.queryExecution.executedPlan.toString)
      // listener events are async: settle-poll until the count is stable
      var prev = -1
      while (plans.size != prev) { Thread.sleep(200); prev = plans.size }
    } finally spark.listenerManager.unregister(listener)
    val all = plans.asScala.toSeq
    all.find(p => p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
      .foreach(p => fail(s"$label plans a quadratic join:\n$p"))
    if (iterative)
      assert(all.exists(_.contains("Join")),
        s"$label: no captured plan joins, the guard is vacuous:\n${all.mkString("\n")}")
  }

  test("LSH near-dup pairs: bucket equi-joins only") {
    assertNoQuadraticJoin(
      RandomHyperplaneLSH.nearDupPairs(emb, threshold = 0.2), "nearDupPairs")
  }

  test("LSH ANN top-k: bucket equi-joins only") {
    assertNoQuadraticJoin(
      RandomHyperplaneLSH.topK(emb.where(col("vec_id") < 5), emb, k = 5), "lsh topK")
  }

  test("IVF ANN top-k: cell equi-join only") {
    val p = IvfAnn.Params(k = 4, iterations = 1, nprobe = 2)
    assertNoQuadraticJoin(
      IvfAnn.topK(emb.where(col("vec_id") < 5), emb, k = 5, p = p), "ivf topK")
  }

  test("MinHash candidate pairs: band equi-join only") {
    assertNoQuadraticJoin(
      MinHashLSH.candidatePairs(docs, "doc_id", "text"), "minhash candidates")
  }

  test("MinHash verified near-duplicates: equi-joins only") {
    assertNoQuadraticJoin(
      MinHashLSH.nearDuplicates(docs, "doc_id", "text", threshold = 0.5), "minhash nearDuplicates")
  }

  test("SimHash pairs: 16-bit band equi-join only") {
    assertNoQuadraticJoin(
      SimHash.pairs(docs, "doc_id", "text", maxHamming = 3), "simhash pairs")
  }

  test("word-Jaccard pair stats: token-posting equi-join only") {
    assertNoQuadraticJoin(
      WordJaccard.pairStats(docs.where(col("doc_id") < 100), "doc_id", "text"), "wordJaccard")
  }

  test("as-of join: union+window, no range explosion") {
    val events = graft.Tables(spark, sf("sf0.001"), "events")
    val quotes = events.select(col("user_id"), col("ts"), col("value"))
    val trades = events.select(col("user_id"), col("ts").as("t_ts"))
    assertNoQuadraticJoin(
      AsOfJoin.lastPrior(trades, quotes, Seq("user_id"), "t_ts", "ts",
        "value", "asof_value"), "asOfJoin")
  }

  test("PQ/IVF/IVF-PQ loaded-index search: equi-joins only, no training") {
    val queries = emb.where(col("vec_id") < 5)
    // a short dir name: the coded-scan check below finds this path in a
    // plan string Spark abbreviates past 100 characters
    val tmp = tempDir("idx").toString
    val ivfP = IvfAnn.Params(k = 4, iterations = 1, nprobe = 2)
    IvfAnn.save(IvfAnn.fitIndex(emb, "vec_id", "embedding", ivfP), s"$tmp/ivf")
    assertNoQuadraticJoin(
      IvfAnn.searchTopK(queries, IvfAnn.load(spark, s"$tmp/ivf"), k = 5,
        nprobe = ivfP.nprobe), "ivf searchTopK")
    val pqP = PqAnn.Params(m = 4, ksub = 4, iterations = 1)
    PqAnn.save(PqAnn.fitIndex(emb, "vec_id", "embedding", pqP), s"$tmp/pq")
    // flat PQ scores every code against the broadcast queries — the
    // non-equi theta join over 4-byte codes is the DESIGNED ADC scan
    // (IVF-PQ is the cell-pruned variant); assert the corpus side is
    // the coded parquet scan, not a re-encoding
    val pqPlan = PqAnn.searchTopK(queries, PqAnn.load(spark, s"$tmp/pq"), k = 5)
      .queryExecution.executedPlan.toString
    assert(pqPlan.contains(s"$tmp/pq/corpus"), s"expected coded scan:\n$pqPlan")
    val ivfPqP = IvfPqAnn.Params(coarseK = 4, coarseIterations = 1, nprobe = 2,
      pq = PqAnn.Params(m = 4, ksub = 4, iterations = 1))
    IvfPqAnn.save(IvfPqAnn.fitIndex(emb, "vec_id", "embedding", ivfPqP),
      s"$tmp/ivfpq")
    assertNoQuadraticJoin(
      IvfPqAnn.searchTopK(queries, IvfPqAnn.load(spark, s"$tmp/ivfpq"), k = 5,
        nprobe = ivfPqP.nprobe), "ivfpq searchTopK")
  }

  test("SemDedup survivors: in-cell equi-join only") {
    val p = SemDedup.Params(k = 4, iterations = 1, tau = 0.4)
    assertNoQuadraticJoin(SemDedup.survivors(emb, p = p), "semDedup")
  }

  test("PageRank iteration: key equi-joins only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assertNoQuadraticJoin(
      PageRank.ranks(edges, "src", "dst", PageRank.Params(iterations = 2)),
      "pageRank", iterative = true)
  }

  test("perceptual dHash pairs: 16-bit band equi-join only") {
    assertNoQuadraticJoin(
      Multimodal.phashPairs(Multimodal.asMediaTable(docs), "doc_id", "payload"),
      "phashPairs")
  }

  test("triangle counting: wedge + closure equi-joins only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("u", "v")
    assertNoQuadraticJoin(Triangles.perNode(edges, "u", "v"), "triangles")
  }

  test("incremental dedup admission: hash semi-join + band equi-join only") {
    val idx = IncrementalDedup.fitIndex(docs.where(col("doc_id") < 100),
      "doc_id", "text")
    assertNoQuadraticJoin(
      IncrementalDedup.filterNew(docs.where(col("doc_id") >= 100),
        "doc_id", "text", idx, minAgree = 45),
      "incremental dedup")
  }

  test("k-core peel: degree agg + semi-join rounds only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("u", "v")
    assertNoQuadraticJoin(KCore.core(edges, "u", "v", k = 2, rounds = 2), "kcore",
      iterative = true)
  }

  test("spatial radius join: 3x3 cell equi-join only") {
    import spark.implicits._
    val pts = Seq((1L, 5L, 5L), (2L, 8L, 8L)).toDF("id", "x", "y")
    assertNoQuadraticJoin(
      SpatialJoin.radiusJoin(pts, "id", pts.toDF("id", "x", "y"), "id",
        "x", "y", r = 4L),
      "spatial radius join")
  }

  test("label propagation: adjacency-label equi-join rounds only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("u", "v")
    assertNoQuadraticJoin(
      LabelPropagation.communities(edges, "u", "v", rounds = 2), "lpa",
      iterative = true)
  }

  test("BFS frontier expansion: src equi-join + anti-join rounds only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assertNoQuadraticJoin(
      Bfs.distances(edges, "src", "dst", Seq(1L), maxHops = 3), "bfs",
      iterative = true)
  }

  test("SSSP relaxation: src equi-join + min-agg rounds only") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 4L)).toDF("src", "dst", "w")
    assertNoQuadraticJoin(
      Sssp.costs(edges, "src", "dst", "w", Seq(1L), rounds = 3), "sssp",
      iterative = true)
  }

  test("transitive closure: far-vs-pairs equi-join rounds only") {
    import spark.implicits._
    val chain = (1L until 10L).map(k => (k + 1, k)).toDF("n", "p")
    assertNoQuadraticJoin(
      TransitiveClosure.ancestors(chain, "n", "p", doublingRounds = 3),
      "transitive closure", iterative = true)
  }

  test("near-dup clusters: neighbor-min + label-of-label equi-join rounds only") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    assertNoQuadraticJoin(
      NearDupClusters.representatives(nodes, pairs, "id"),
      "near-dup clusters", iterative = true)
  }

  test("incremental agg merge: union + partial-agg only (no join at all)") {
    import spark.implicits._
    val b = Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
    val merged = IncrementalAgg.merge(
      Seq(IncrementalAgg.partial(b, Seq("g"), "v"),
        IncrementalAgg.partial(b, Seq("g"), "v")), Seq("g"))
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"state merge should not join:\n$plan")
    assertNoQuadraticJoin(merged, "incremental agg merge")
  }
}
