package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source (or multi-source) shortest paths over non-negatively
  * weighted edges by bounded-round Bellman-Ford relaxation — the
  * weighted complement of [[Bfs]]: BFS certifies hop distance, SSSP
  * certifies cheapest cost (latency routing, cheapest-join-path,
  * weighted influence radius).
  *
  * `rounds` bounds relaxation depth exactly like BFS's maxHops: after
  * R rounds every returned cost is the true shortest-path cost among
  * paths of ≤ R edges (with non-negative integer weights the
  * fixpoint is reached once R ≥ the longest shortest path's hop
  * count; relaxation is monotone non-increasing, so extra rounds are
  * no-ops — same operational contract as [[KCore]]'s fixed-round
  * peel). Costs are exact BIGINT sums — no floating point anywhere,
  * so any engine replays the rounds bit-identically.
  *
  * Scale shape per round: one equi-join of the current distance
  * relation (one row per settled node) against the once-partitioned
  * edge list, then a partial-agg'd min per destination — the same
  * edges-stay-put / small-relation-moves discipline as
  * [[PageRank]]/[[Bfs]]. State is O(reached nodes); the unreached
  * tail is absent rather than carried as +inf rows.
  */
object Sssp {

  /** (node BIGINT, cost BIGINT) — minimum path cost from any seed to
    * every node reachable within `rounds` edges (seeds at cost 0).
    * `weightCol` must be a non-negative integral column; negative
    * weights are refused loudly in-plan (a negative-cycle graph has
    * no shortest path, and silently wrong costs are worse than a
    * task error).
    */
  def costs(edges: DataFrame, srcCol: String, dstCol: String,
            weightCol: String, seeds: Seq[Long], rounds: Int): DataFrame = {
    require(seeds.nonEmpty, "SSSP needs at least one seed")
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16], got $rounds — each round is a " +
        "shuffle; size the budget to the graph's hop diameter")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Graph.pinned(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      // parallel edges: only the cheapest can ever matter
      .groupBy("src", "dst")
      .agg(min(when(col("w") < 0,
        raise_error(concat(lit("negative edge weight: "),
          col("w").cast("string"))))
        .otherwise(col("w"))).as("w")), "src")
    var dist = seeds.toDF("node")
      .select(col("node").cast("long").as("node"), lit(0L).as("cost"))
    for (_ <- 1 to rounds) {
      val relaxed = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("cost") + col("w")).as("cost"))
      // each round's result feeds the next join AND the next union —
      // cut so it computes once and lineage stays one round deep
      dist = Graph.cut(dist.union(relaxed)
        .groupBy("node").agg(min("cost").as("cost")))
    }
    dist
  }

  /** DuckDB CTE body replaying [[costs]] exactly: assumes a CTE
    * `e(src, dst, w)` (parallel edges allowed — min absorbs them) and
    * emits `d0..d$rounds` plus a final `sssp(node, cost)`. Integer
    * min-plus algebra — bit-exact against the Spark rounds.
    */
  def oracleSqlBody(seeds: Seq[Long], rounds: Int): String = {
    val seedRows = seeds.map(s => s"($s)").mkString(", ")
    val d0 =
      s"""d0 AS (SELECT CAST(s AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost
         |    FROM (VALUES $seedRows) t(s))""".stripMargin
    val rs = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (SELECT node, min(cost) AS cost FROM (
         |    SELECT node, cost FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d${k - 1}.cost + e.w AS cost
         |      FROM e JOIN d${k - 1} ON e.src = d${k - 1}.node) u$k
         |    GROUP BY node)""".stripMargin
    }
    (d0 +: rs).mkString(",\n  ") +
      s",\n  sssp AS (SELECT node, cost FROM d$rounds)"
  }
}
