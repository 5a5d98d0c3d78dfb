package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by fixed-round peeling — the graph-curation
  * primitive between degree filtering (one round) and full community
  * detection: the k-core is the maximal subgraph where every node
  * keeps >= k neighbors INSIDE the subgraph (Seidman 1983, "Network
  * structure and minimum degree"), the standard dense-region /
  * spam-farm / boilerplate-hub extractor on link graphs.
  *
  * Peeling (repeatedly delete nodes of degree < k) is run for a FIXED
  * number of rounds rather than to a convergence test — the same
  * operational choice as [[PageRank]]: predictable cost, retry-stable
  * output, and an oracle that can unroll the identical rounds as SQL
  * CTEs. Peeling is monotone (each round only removes), so once the
  * cascade settles every further round is a no-op and the fixed-round
  * result EQUALS the true k-core; if the budget stops mid-cascade the
  * result is still the deterministic R-round peel on any engine and
  * any partitioning (set semantics — no arithmetic at all). Size the
  * budget with [[converged]] where the extra pass is affordable.
  *
  * Scale shape per round: one degree aggregation (partial-agg'd
  * (node, count) pairs — map-side combined) and two semi-joins of the
  * edge list against the survivor set, all hash-partitioned
  * equi-joins; lineage cut per round ([[Graph.cut]]). Edges and
  * survivors only shrink, so per-round cost is non-increasing —
  * unlike iterative rank propagation, the working set peels away.
  */
object KCore {

  /** Nodes of the k-core of the undirected graph `edges(uCol, vCol)`
    * (parallel edges / self-loops dropped) after `rounds` peeling
    * rounds. Output: (node, core_deg BIGINT) — the node's degree
    * within the surviving subgraph, core_deg >= k.
    */
  def core(edges: DataFrame, uCol: String, vCol: String,
           k: Int, rounds: Int): DataFrame =
    coreOf(peeledEdges(edges, uCol, vCol, k, rounds), k)

  /** True when one more peeling round would remove nothing — i.e. the
    * R-round result already IS the k-core. Costs R+1 peel rounds: it
    * rebuilds the R-round edge set from `edges` (nothing is shared
    * with an earlier [[core]] call), peels once more and counts both
    * sets; driver-side state is two counts.
    *
    * The fixpoint test compares EDGE counts, not surviving-node
    * counts: peeling is monotone (edges only ever removed), so edge-
    * count equality certifies the whole edge set — and with it both
    * the node set and every core_deg. Node counts can tie while the
    * edge set is still shrinking (a node can lose edges without
    * dropping below k), which would certify a false convergence with
    * over-reported core_deg.
    */
  def converged(edges: DataFrame, uCol: String, vCol: String,
                k: Int, rounds: Int): Boolean = {
    val eR = peeledEdges(edges, uCol, vCol, k, rounds)
    val eNext = peelRound(eR, k)
    eNext.count() == eR.count()
  }

  /** The edge set surviving `rounds` peel applications (canonicalized,
    * lineage cut per round).
    */
  private def peeledEdges(edges: DataFrame, uCol: String, vCol: String,
                          k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = Graph.cut(Graph.undirected(edges, uCol, vCol))
    for (_ <- 1 to rounds) e = peelRound(e, k)
    e
  }

  private def peelRound(e: DataFrame, k: Int): DataFrame = {
    // read by both semi-joins
    val keep = Graph.cut(degrees(e).where(col("d") >= k).select("node"))
    // both semi-joins broadcast the IDENTICAL `keep` subtree (the
    // rename lives in the join condition, not above the exchange), so
    // the planner's ReusedExchange builds the survivor broadcast once
    // per round instead of once per endpoint — half the per-round
    // broadcast-build jobs, byte-identical survivors (KCoreSpec)
    Graph.cut(e.join(keep, col("u") === col("node"), "left_semi")
      .join(keep, col("v") === col("node"), "left_semi")
      .select("u", "v"))
  }

  private def coreOf(e: DataFrame, k: Int): DataFrame =
    degrees(e).where(col("d") >= k)
      .select(col("node"), col("d").cast("long").as("core_deg"))

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** The identical fixed-round peel as unrolled DuckDB CTEs over an
    * edge CTE named `e0` with columns (u, v) — canonical u < v,
    * distinct, loop-free; callers prepend `WITH e0 AS (...)` and
    * append a final SELECT over `dfin` (node, d). Kept beside the
    * operator so the two constructions evolve together.
    *
    * Every per-round CTE is `AS MATERIALIZED`: each round references
    * the previous one three times (degrees + both survivor joins), so
    * letting the optimizer inline the chain re-expands the base scan
    * ~3^rounds times — at 8 rounds that exhausts file handles before
    * it exhausts patience. Materialization is exactly the operator's
    * per-round lineage cut, mirrored on the oracle side.
    */
  def oracleSqlBody(k: Int, rounds: Int): String = {
    val rs = (0 until rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, count(*) AS d FROM
          (SELECT u AS node FROM e$r UNION ALL SELECT v FROM e$r) x$r
          GROUP BY 1),
        k$r AS MATERIALIZED (SELECT node FROM d$r WHERE d >= $k),
        e${r + 1} AS MATERIALIZED (SELECT e$r.u AS u, e$r.v AS v FROM e$r
          JOIN k$r ka ON ka.node = e$r.u
          JOIN k$r kb ON kb.node = e$r.v)"""
    }.mkString(",\n      ")
    s"""$rs,
      dfin AS (SELECT node, d FROM (
          SELECT node, count(*) AS d FROM
            (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds) xf
          GROUP BY 1)
        WHERE d >= $k)"""
  }
}
