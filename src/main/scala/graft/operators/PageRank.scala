package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge table — the link-graph signal
  * a training-data pipeline needs for crawl prioritization and
  * document weighting (domain authority), and the one relational
  * category (graphs) absent from both the reference surface and the
  * engine until now (SURVEY §2.2). Classic damped formulation
  * (Page/Brin/Motwani/Winograd 1999), run for a FIXED number of
  * iterations rather than to a convergence test: at 100 TB a
  * deterministic iteration budget is an operational requirement
  * (predictable cost, retry-stable output), and in practice rank
  * ordering stabilizes within a handful of rounds.
  *
  * Arithmetic is scaled-integer fixed point: ranks are BIGINTs in
  * units of 1/scale, and every step is integer floor division and
  * integer sums — exact, commutative, associative. The result is
  * therefore bit-identical under any partitioning, shuffle merge
  * order, AQE re-plan, or task retry (the same design rationale as
  * IvfAnn's DECIMAL(38,0) cell sums: a shuffled sum(double) is only
  * de-facto deterministic), and replayable in another engine — the
  * graph_pagerank oracle unrolls the same iterations in DuckDB
  * integer arithmetic and hash-matches exactly.
  *
  * Scale shape: per iteration, ONE equi-join (edges ⋈ ranks on src —
  * both sides hash-partitioned on the same key, so consecutive
  * iterations reuse the exchange) and one partial-aggregated shuffle
  * (contributions grouped by dst). Nothing driver-side except the
  * node count (one long). Lineage is cut every 4th iteration, never
  * after the last ([[Graph.cut]]).
  *
  * Semantics notes (documented contract, both engines implement it
  * identically):
  *  - dangling nodes (no out-edges) leak their mass instead of
  *    redistributing it — ranks still total < scale and ordering is
  *    unaffected for connected graphs; redistribution would add a
  *    per-iteration global sum for no ranking benefit here;
  *  - floor division drops up to (outdeg-1)/scale of a node's mass
  *    per iteration — quantization ~1e-12, far below rank gaps;
  *  - parallel edges are collapsed (DISTINCT) before degrees are
  *    computed, so the graph is simple by construction.
  */
object PageRank {

  /** @param iterations fixed Jacobi iteration count
    * @param dampNum/@param dampDen damping factor as an exact rational
    *   (85/100 = the standard 0.85) — kept integral so base and
    *   contribution terms stay in integer arithmetic
    * @param scale fixed-point denominator: ranks are longs in units of
    *   1/scale. 1e12 leaves 6 decimal digits of headroom below
    *   Long.MaxValue for the dampNum multiply even on a single
    *   all-incoming supernode.
    */
  final case class Params(iterations: Int = 3,
                          dampNum: Long = 85, dampDen: Long = 100,
                          scale: Long = 1000000000000L) {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
  }

  /** Ranks after `p.iterations` rounds over the directed edge set
    * `edges(srcCol, dstCol)`. Output: (node BIGINT, rank BIGINT) —
    * rank in units of 1/p.scale, one row per distinct node (source or
    * destination of any edge).
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            p: Params = Params()): DataFrame =
    ranksImpl(edges, srcCol, dstCol, p, seeds = Nil)

  /** PERSONALIZED PageRank (Page et al. 1999 §6; the random surfer
    * restarts only at `seeds`): the teleport mass lands exclusively
    * on the seed set, so ranks measure proximity/authority RELATIVE
    * to the seeds — the crawl-curation primitive (score pages by
    * trusted-domain proximity) rather than global popularity. Same
    * scaled-integer arithmetic, same per-iteration shape; seeds are a
    * bounded literal list (driver metadata, inlined into the plan and
    * the oracle identically).
    */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: Seq[Long], p: Params = Params()): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    require(seeds.distinct.size == seeds.size, "duplicate seed nodes")
    ranksImpl(edges, srcCol, dstCol, p, seeds)
  }

  private def ranksImpl(edges: DataFrame, srcCol: String, dstCol: String,
                        p: Params, seeds: Seq[Long]): DataFrame = {
    val e = Graph.cut(edges // feeds nodes, outdeg AND the join
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = Graph.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct())
    // out-degree is attached to the edge list ONCE, outside the loop
    val ed = Graph.pinned(
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"), "src")
    // one long of driver metadata — never data
    val n = nodes.count()
    require(n > 0, "PageRank over an empty edge set")
    // uniform mode: teleport mass spreads over all n nodes;
    // personalized mode: over the seed set only
    val nBase = if (seeds.isEmpty) n else seeds.size.toLong
    val base = (p.scale * (p.dampDen - p.dampNum) / p.dampDen) / nBase
    def baseCol: org.apache.spark.sql.Column =
      if (seeds.isEmpty) lit(base)
      else when(col("node").isin(seeds: _*), lit(base)).otherwise(lit(0L))
    var ranks = nodes.withColumn("rank",
      if (seeds.isEmpty) lit(p.scale / nBase)
      else when(col("node").isin(seeds: _*), lit(p.scale / nBase))
        .otherwise(lit(0L)))
    for (i <- 1 to p.iterations) {
      val contrib = ed
        .join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (baseCol +
            expr(s"(${p.dampNum}L * coalesce(s, 0L)) div ${p.dampDen}L"))
            .as("rank"))
      // lineage cut every few rounds, not every round: a 3-deep
      // join+agg chain plans fine in one job, and skipping the
      // intermediate materialization keeps consecutive iterations
      // inside one codegen'd stage pipeline
      if (i % 4 == 0 && i < p.iterations)
        ranks = Graph.cut(ranks)
    }
    ranks
  }

  /** DuckDB replay of [[ranks]] for the oracle gate: the same
    * iterations unrolled as chained CTEs in integer arithmetic.
    * DuckDB `//` floors and Spark `div` truncates, but every operand
    * here is non-negative, where the two agree; DuckDB's sum(BIGINT)
    * widens to HUGEINT, so each round's rank is cast back to BIGINT.
    */
  def oracleSql(edgesCte: String, p: Params = Params(),
                seeds: Seq[Long] = Nil): String = {
    val uniform = seeds.isEmpty
    val baseRaw =
      if (uniform)
        s"((${p.scale} * ${p.dampDen - p.dampNum} // ${p.dampDen}) // n)"
      else {
        val b = (p.scale * (p.dampDen - p.dampNum) / p.dampDen) / seeds.size
        s"(CASE WHEN nodes.node IN (${seeds.mkString(", ")}) THEN $b ELSE 0 END)"
      }
    val init =
      if (uniform) s"CAST(${p.scale} // n AS BIGINT)"
      else s"CAST(CASE WHEN node IN (${seeds.mkString(", ")}) " +
        s"THEN ${p.scale / seeds.size} ELSE 0 END AS BIGINT)"
    val iters = (1 to p.iterations).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""i$i AS (SELECT e.dst AS node, sum($prev.rank // deg.deg) AS s
        FROM e JOIN $prev ON e.src = $prev.node JOIN deg ON deg.src = e.src
        GROUP BY e.dst),
      r$i AS (SELECT nodes.node,
          CAST($baseRaw + (${p.dampNum} * coalesce(i$i.s, 0)) // ${p.dampDen} AS BIGINT) AS rank
        FROM nodes CROSS JOIN p LEFT JOIN i$i ON i$i.node = nodes.node)"""
    }.mkString(",\n      ")
    s"""WITH $edgesCte,
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      p AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, $init AS rank
             FROM nodes CROSS JOIN p),
      $iters"""
  }
}
