package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan /
  * Albert / Kumara 2007) — the near-linear-time middle ground between
  * connected components ([[NearDupClusters]]: everything reachable is
  * one cluster) and modularity optimization (global objective, poor
  * distributed fit): every node starts as its own label and
  * repeatedly adopts the most frequent label among its neighbors,
  * ties broken toward the SMALLEST label. Dense regions agree on a
  * label quickly; sparse bridges don't carry enough votes to merge
  * neighborhoods.
  *
  * Runs a FIXED number of synchronous rounds (the PageRank / KCore
  * operational contract: predictable cost, retry-stable, oracle-
  * unrollable). Synchronous LPA can oscillate on bipartite-ish
  * structure rather than converge — a documented property of the
  * algorithm (Raghavan §3); a fixed budget makes the result exactly
  * deterministic regardless, and the vote (count, then min label) is
  * pure integer/set arithmetic, so any engine replays it
  * bit-for-bit.
  *
  * Scale shape per round: one equi-join of the (undirected,
  * both-direction) adjacency against current labels — both sides
  * hash-partitioned on the node key, consecutive rounds reuse the
  * exchange — and two partial-aggregated shuffles ((node, label)
  * vote counts, then per-node argmax as a max-of-struct aggregate,
  * NOT a window: map-side combine keeps hot nodes cheap). Labels
  * are cut per round ([[Graph.cut]]).
  */
object LabelPropagation {

  /** (node, community) after `rounds` synchronous votes over the
    * undirected graph `edges(uCol, vCol)` (loops/parallels dropped);
    * community = the final label (a node id, min-tiebroken).
    */
  def communities(edges: DataFrame, uCol: String, vCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Graph.undirected(edges, uCol, vCol)
    // every round's vote join finds the adjacency in place on nbr
    val adj = Graph.pinned(e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr"))), "nbr")
    var labels = Graph.cut(adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lab")))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.select(col("node").as("nbr"), col("lab")), Seq("nbr"))
        .groupBy("node", "lab").agg(count(lit(1)).as("c"))
      // argmax by (count DESC, label ASC) as max(struct(c, -lab)) —
      // a partial-aggregable max, no per-node window
      labels = Graph.cut(votes
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lab")))
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** The identical fixed rounds as DuckDB CTEs over an edge CTE
    * named `e` (u, v — canonical, distinct, loop-free); callers
    * prepend `WITH e AS (...)` and read `lb$rounds (node, lab)`.
    * MATERIALIZED per round — same inlining-blowup guard as
    * [[KCore.oracleSqlBody]].
    */
  def oracleSqlBody(rounds: Int): String = {
    val rs = (0 until rounds).map { r =>
      s"""v${r + 1} AS MATERIALIZED (SELECT a.node AS node, l.lab AS lab, count(*) AS c
          FROM adj a JOIN lb$r l ON l.node = a.nbr
          GROUP BY 1, 2),
        lb${r + 1} AS MATERIALIZED (SELECT node, lab FROM (
            SELECT node, lab, row_number() OVER (
              PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
            FROM v${r + 1}) x${r + 1}
          WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v AS node, u AS nbr FROM e),
      lb0 AS (SELECT DISTINCT node, node AS lab FROM adj),
      $rs"""
  }
}
