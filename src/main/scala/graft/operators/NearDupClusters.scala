package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph, by iterative
  * minimum-label propagation: every node repeatedly adopts the
  * smallest id reachable through its edges until fixpoint. The result
  * assigns each document a cluster representative (the min id of its
  * component) — the piece that turns pairwise near-dup detection into
  * an actual dedup decision ("keep one per cluster").
  *
  * Scale shape: each iteration is one join + one groupBy-min on the
  * edge list (both partial-aggregated equi-shuffles); iterations are
  * bounded by the component diameter, which for near-dup graphs is
  * tiny (dup clusters are cliques or near-cliques from LSH banding).
  * Each iteration's result is cut ([[Graph.cut]]) to truncate the
  * lineage. This is label propagation, not a hand-rolled
  * driver loop: per-iteration work is fully distributed.
  */
object NearDupClusters {

  /** @param nodes  one column `idCol` — the universe of documents
    * @param pairs  two columns (a, b) — undirected near-dup edges
    * @return (idCol, cluster) — cluster = min id of the component;
    *         singletons map to themselves
    */
  def representatives(nodes: DataFrame, pairs: DataFrame, idCol: String,
                      maxIterations: Int = 10): DataFrame =
    representativesWithIterations(nodes, pairs, idCol, maxIterations)._1

  /** As [[representatives]], also returning how many propagation
    * iterations ran (including the final fixpoint-confirming one) —
    * observable so tests can pin the O(log diameter) convergence
    * claim on long chains, not just on the clique-shaped clusters
    * real near-dup graphs produce.
    */
  def representativesWithIterations(nodes: DataFrame, pairs: DataFrame, idCol: String,
                                    maxIterations: Int = 10): (DataFrame, Int) = {
    // undirected edge list, both directions, pinned on the neighbor
    // join key. Lazy cuts throughout the loop: every per-iteration frame
    // is consumed by the labelSum probe right after it is built, so the
    // probe's one aggregate job materializes the checkpoint blocks too
    // — one job per iteration instead of an eager-materialize job PLUS
    // the probe (guide §1.2; blocks are reused by the next round's
    // joins exactly as with eager cuts)
    val edges = Graph.pinned(pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct(), "b")

    // labels: start as self
    var labels = Graph.cut(
      nodes.select(col(idCol).as("id"), col(idCol).as("label")))

    var converged = false
    var iter = 0
    // Convergence probe: labels are monotonically non-increasing (each
    // update takes a `least`), so the label sum strictly decreases
    // until fixpoint and sum-equality <=> no label changed. One
    // exact-decimal agg job per iteration instead of a self-join.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)
    var prevSum = labelSum(labels)
    while (!converged && iter < maxIterations) {
      // candidate = min(own label, neighbors' labels, label's own label).
      // The last term is pointer-doubling (shortcutting): label chains
      // halve every iteration, so convergence is O(log diameter), not
      // O(diameter) — 10 iterations cover components of diameter ~1000.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "b").withColumnRenamed("label", "nlabel"), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("nlabel")).as("nmin"))
      // id is unique in `labels`, so this is a plain key remap L -> label(L)
      val labelOfLabel = labels.select(col("id").as("label"), col("label").as("llabel"))
      // materialized by labelSum below
      val next = Graph.cut(labels
        .join(neighborMin, Seq("id"), "left_outer")
        .join(labelOfLabel, Seq("label"), "left_outer")
        .select(col("id"),
          least(col("label"),
            coalesce(col("nmin"), col("label")),
            coalesce(col("llabel"), col("label"))).as("label")))
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    // A silent exit here would leave inconsistent labels and let
    // near-duplicates survive dedup — fail loudly instead. Pointer
    // doubling covers diameter ~2^maxIterations, so hitting this means
    // something is pathological, not just "a bit more data".
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIterations iterations; " +
        "raise maxIterations (coverage doubles per iteration)")
    (labels.select(col("id").as(idCol), col("label").as("cluster")), iter)
  }

  /** End-to-end near-dup dedup: MinHash+LSH pairs above `threshold` →
    * components → one representative row per cluster (min id kept).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double,
                         p: MinHashLSH.Params = MinHashLSH.Params()): DataFrame = {
    val pairs = MinHashLSH.nearDuplicates(df, idCol, textCol, threshold, p)
      .select("a", "b")
    val reps = representatives(df.select(idCol), pairs, idCol)
    df.join(reps, Seq(idCol))
      .where(col(idCol) === col("cluster"))
      .drop("cluster")
  }
}
