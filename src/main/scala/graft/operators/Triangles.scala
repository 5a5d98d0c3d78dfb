package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact per-node triangle counting + local clustering coefficient
  * over an undirected edge table — the graph-density signal next to
  * [[PageRank]]'s authority signal (community tightness, spam-farm
  * detection, link-graph curation for crawl pipelines).
  *
  * Algorithm: degree-ordered wedge counting ("compact-forward",
  * Latapy 2008; the MR-friendly formulation is Suri/Vassilvitskii,
  * WWW 2011). Each undirected edge is ORIENTED from its
  * (degree, id)-smaller endpoint to the larger; wedges are generated
  * only at the apex (the ≺-smallest node of the triangle) and only
  * with ≺-ordered far endpoints, so every triangle is found exactly
  * once, as pure equi-joins:
  *
  *   wedges  = ord ⋈ ord on the shared source (apex)
  *   closed  = wedges ⋈ ord on the far pair (a, b)
  *
  * Scale shape: the wedge join's fan-out is Σ outdeg², and degree
  * orientation bounds every oriented out-degree by O(√m) — the
  * classic m^{3/2} worst case — while on real (skewed) graphs the
  * hubs, which would explode a naive adjacency join, become wedge
  * SINKS (every edge points INTO the highest-degree node), so hot
  * keys do the least work. No cartesian/BNL shape anywhere
  * (asserted in ScalePlanGuardsSpec); all three joins are
  * hash-partitioned equi-joins that AQE can re-plan.
  *
  * The clustering coefficient 2·T / (d·(d−1)) is ONE IEEE division
  * of exact BIGINT products (the same determinism recipe as
  * text_pmi) — no fold-order sensitivity, so results hash-match
  * across engines and partitionings bit-for-bit.
  */
object Triangles {

  /** Per-node triangle participation over `edges(uCol, vCol)`
    * (undirected; parallel edges and self-loops dropped). Output:
    * (node, tri BIGINT, deg BIGINT, clustering DOUBLE) — one row per
    * node incident to at least one surviving edge; `clustering` is
    * 0.0 for degree-1 nodes (no possible wedge).
    */
  def perNode(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    // read by deg + both ends of ord
    val e = Graph.cut(Graph.undirected(edges, uCol, vCol))
    // read by ord (twice) + final join
    val deg = Graph.cut(e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d")))
    // orient each edge from the (degree, id)-smaller endpoint; carry
    // the far endpoint's degree so wedge generation can ≺-order the
    // far pair without another degree join
    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // read by e1, e2 and the closure join
    val ord = Graph.cut(e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(lower, col("u")).otherwise(col("v")).as("s"),
        when(lower, col("v")).otherwise(col("u")).as("t"),
        when(lower, col("dv")).otherwise(col("du")).as("dt")))
    val e1 = ord.select(col("s"), col("t").as("a"), col("dt").as("da"))
    val e2 = ord.select(col("s"), col("t").as("b"), col("dt").as("db"))
    val wedges = e1.join(e2, "s")
      .where(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
    val closed = wedges
      .join(ord.select(col("s").as("a"), col("t").as("b")), Seq("a", "b"))
      .select(col("s").as("n0"), col("a").as("n1"), col("b").as("n2"))
    val perNodeTri = closed
      .select(explode(array(col("n0"), col("n1"), col("n2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNodeTri, Seq("node"), "left")
      .select(
        col("node"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        col("d").cast("long").as("deg"),
        when(col("d") >= 2,
          (coalesce(col("tri"), lit(0L)) * 2).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** The same construction as DuckDB SQL over an edge CTE named `e`
    * with columns (u, v) — canonical u < v, distinct, loop-free;
    * callers prepend `WITH e AS (...)`. Kept beside the operator so
    * the two constructions evolve together.
    */
  def oracleSqlBody: String =
    """deg AS (SELECT node, count(*) AS d FROM
        (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) ends
        GROUP BY 1),
      ord AS (SELECT
          CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
               THEN e.u ELSE e.v END AS s,
          CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
               THEN e.v ELSE e.u END AS t,
          CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
               THEN dv.d ELSE du.d END AS dt
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
      w AS (SELECT e1.s AS s, e1.t AS a, e2.t AS b
        FROM ord e1 JOIN ord e2 ON e1.s = e2.s
        WHERE e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t)),
      tri AS (SELECT w.s AS n0, w.a AS n1, w.b AS n2
        FROM w JOIN ord o ON o.s = w.a AND o.t = w.b),
      pn AS (SELECT node, count(*) AS tri FROM
        (SELECT n0 AS node FROM tri UNION ALL SELECT n1 FROM tri
         UNION ALL SELECT n2 FROM tri) corners
        GROUP BY 1),
      res AS (SELECT deg.node AS node,
          CAST(coalesce(pn.tri, 0) AS BIGINT) AS tri,
          CAST(deg.d AS BIGINT) AS deg,
          CASE WHEN deg.d >= 2 THEN
            CAST(2 * coalesce(pn.tri, 0) AS DOUBLE) /
              CAST(deg.d * (deg.d - 1) AS DOUBLE)
          ELSE 0.0 END AS clustering
        FROM deg LEFT JOIN pn ON pn.node = deg.node)"""
}
