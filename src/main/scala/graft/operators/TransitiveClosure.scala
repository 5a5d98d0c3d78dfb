package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ancestor closure of a FOREST (each node has at most one parent) by
  * path doubling: every (node, ancestor, depth) pair within a bounded
  * chain length, in O(log depth) join rounds instead of the O(depth)
  * rounds of naive parent-chasing. The hierarchy primitive (BOM
  * explosion, org chains, file trees, category taxonomies) that
  * complements the engine's graph family: [[Bfs]] walks an arbitrary
  * edge set breadth-first from seeds, this one materializes the full
  * ancestor relation of a tree-shaped edge set for everyone.
  *
  * Round r holds every pair of depth ≤ 2^r. The step joins only the
  * pairs at EXACTLY the current horizon h against the pairs at depth
  * ≤ h: a pair of depth d ∈ (h, 2h] decomposes UNIQUELY as "h steps
  * to the midpoint, then d−h", so each new pair is produced exactly
  * once and the union needs NO distinct — one equi-join per round is
  * the whole shuffle bill, and the relation never exceeds its output
  * size Σ_nodes depth(node). (Joining the full relation against
  * itself — the textbook formulation — produces every pair once per
  * midpoint, an O(depth)-way duplication that then needs a dedup
  * shuffle; the exact-horizon split eliminates both.)
  *
  * At 100 TB: rounds are log₂ of the deepest chain (a depth-10⁶
  * pathological chain needs 20 rounds), each round shuffles only the
  * pair relation, and per-round lineage cuts keep replans and task
  * retries one round deep (the [[Bfs]]/[[PageRank]] iteration
  * discipline). Output size is the inherent Σdepth bound — the same
  * rows a recursive CTE would emit.
  *
  * Determinism: pure set semantics over exact integers — any
  * partitioning and any engine (e.g. a SQL WITH RECURSIVE replay
  * capped at the same horizon) produces the identical row set.
  *
  * Reference scope: the reference (CDAP TopN, SURVEY §0) has no
  * recursive-query surface; SQL engines ship this as WITH RECURSIVE,
  * which Spark lacks natively — this operator is the Spark-first
  * re-expression.
  */
object TransitiveClosure {

  /** (node BIGINT, anc BIGINT, depth BIGINT) for every proper
    * ancestor within 2^doublingRounds steps (parents at depth 1).
    * Self-loop edges (a root encoded as its own parent) are dropped:
    * a root has no proper ancestor, and a kept self-loop would both
    * break the forest invariant and pump spurious depths.
    *
    * `validateForest = true` spends one aggregation up front to fail
    * loudly when some node has two distinct parents — on a non-forest
    * the unique-decomposition argument breaks and depths silently
    * multiply. Off by default: production hierarchies come out of
    * key-constrained tables where the invariant holds by
    * construction.
    */
  def ancestors(edges: DataFrame, nodeCol: String, parentCol: String,
                doublingRounds: Int,
                validateForest: Boolean = false): DataFrame = {
    require(doublingRounds >= 1 && doublingRounds <= 8,
      s"doublingRounds must be in [1, 8] (horizon 2^8 = 256 deep), " +
        s"got $doublingRounds — each round is a join round; hierarchies " +
        "deeper than 256 belong in a driver loop with a convergence check")
    // distinct: a duplicated edge row would double every pair it
    // participates in (union-without-distinct is only exact over a set)
    val base = edges
      .select(col(nodeCol).cast("long").as("node"),
        col(parentCol).cast("long").as("anc"))
      .where(col("node") =!= col("anc"))
      .distinct()
    if (validateForest) {
      val multi = base.groupBy("node")
        .agg(count(lit(1)).as("__p")).where(col("__p") > 1L)
      val bad = multi.select("node").limit(3).collect().map(_.getLong(0))
      require(bad.isEmpty,
        s"not a forest: node(s) ${bad.mkString(", ")} have multiple " +
          "parents — path doubling over a DAG multiplies depths; " +
          "resolve to one parent per node first")
    }
    var pairs = Graph.cut(base.withColumn("depth", lit(1L)))
    var horizon = 1L
    for (_ <- 1 to doublingRounds) {
      // exact-horizon split: `far` ⨝ `pairs` yields each depth-(h, 2h]
      // pair exactly once (unique decomposition), so no distinct
      val far = pairs.where(col("depth") === horizon)
        .select(col("node"), col("anc").as("mid"))
      val jumped = far.join(
          pairs.select(col("node").as("mid"), col("anc"),
            (col("depth") + horizon).as("depth")),
          "mid")
        .select(col("node"), col("anc"), col("depth"))
      pairs = Graph.cut(pairs.union(jumped))
      horizon *= 2L
    }
    pairs
  }
}
