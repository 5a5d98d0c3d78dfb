package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: exact minimum-hop distance from
  * a seed set over a directed edge list, bounded at `maxHops` rounds.
  * The crawl/lineage primitive ("everything within k links of the
  * trusted set", "tables reachable from this root in k joins") that
  * complements PageRank's proximity *scores* with exact *distances*.
  *
  * Shape (the cluster-scale iteration discipline, shared with
  * [[PageRank]]): the edge list is deduplicated, hash-partitioned on
  * `src` and lineage-cut ONCE before the loop, so every round's
  * frontier expansion finds the big side already partitioned on the
  * join key and only the (shrinking) frontier moves. Each round is
  * frontier ⨝ edges → distinct neighbors, minus the already-reached
  * set (left anti) — pure set semantics, so the result is
  * deterministic under any partitioning and any engine replays it
  * exactly. Per-round state is one (node, dist) row per reached node:
  * memory is O(reached), never O(edges × rounds).
  *
  * At 100 TB the per-round cost is one shuffle of the frontier (the
  * reached set joins broadcast once frontiers shrink below the AQE
  * threshold); `maxHops` bounds total work, and the unreached tail is
  * simply absent from the output rather than carried as ∞ rows.
  *
  * Reference scope: the reference (CDAP TopN, SURVEY §0) has no graph
  * surface; this extends the engine's graph family
  * (PageRank/Triangles/KCore/LabelPropagation).
  */
object Bfs {

  /** (node BIGINT, dist BIGINT) for every node whose minimum hop
    * count from `seeds` is ≤ `maxHops` (seeds themselves at dist 0).
    * Nodes not reachable within the budget are absent.
    */
  def distances(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "BFS needs at least one seed")
    require(maxHops >= 1 && maxHops <= 16,
      s"maxHops must be in [1, 16], got $maxHops — each hop is a " +
        "shuffle round; unbounded expansion belongs in a driver loop " +
        "with its own convergence check")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Graph.pinned(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct(), "src")
    // distinct: a duplicated seed must not emit duplicate dist-0 rows
    // (reached is never re-grouped, so dupes here would survive to
    // the output)
    var reached = seeds.distinct.toDF("node")
      .select(col("node").cast("long").as("node"), lit(0L).as("dist"))
    var frontier = reached
    for (k <- 1 to maxHops) {
      // the frontier feeds BOTH next round's expansion join and the
      // reached union — cut so it computes once, and lineage stays
      // one round deep instead of maxHops-deep
      val next = Graph.cut(e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node"))
        .distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("dist")))
      reached = reached.union(next)
      frontier = next
    }
    reached
  }

  /** DuckDB CTE body replaying [[distances]] exactly: assumes a CTE
    * `e(src, dst)` (already deduplicated or not — dist is a MIN, so
    * duplicate edges cannot change it) and emits `f0..f$maxHops`
    * frontier CTEs plus a final `bfs(node, dist)`. Pure set algebra —
    * bit-exact against the Spark plan.
    */
  def oracleSqlBody(seeds: Seq[Long], maxHops: Int): String = {
    // distinct mirrors distances(): a duplicated seed must not yield
    // two (seed, 0) rows on the oracle side either
    val seedRows = seeds.distinct.map(s => s"($s)").mkString(", ")
    val f0 =
      s"""f0 AS (SELECT CAST(s AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
         |    FROM (VALUES $seedRows) t(s))""".stripMargin
    val rounds = (1 to maxHops).map { k =>
      val prevReached = (0 until k).map(i => s"SELECT node FROM f$i")
        .mkString(" UNION ALL ")
      s"""f$k AS (SELECT DISTINCT e.dst AS node, CAST($k AS BIGINT) AS dist
         |    FROM e JOIN f${k - 1} ON e.src = f${k - 1}.node
         |    WHERE e.dst NOT IN ($prevReached))""".stripMargin
    }
    val union = (0 to maxHops).map(i => s"SELECT node, dist FROM f$i")
      .mkString(" UNION ALL ")
    (f0 +: rounds).mkString(",\n  ") + s",\n  bfs AS ($union)"
  }
}
