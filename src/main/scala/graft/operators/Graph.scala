package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shape the graph operators share ([[Bfs]], [[Sssp]], [[KCore]],
  * [[PageRank]], [[LabelPropagation]], [[NearDupClusters]],
  * [[TransitiveClosure]], [[Triangles]]): one lineage-cut policy, one
  * partition-once rule for the relation every round rereads, and one
  * canonical undirected edge form. Each operator keeps its own loop and
  * cut cadence; only these three decisions live here.
  */
private[operators] object Graph {

  /** The family's lineage cut: a lazy local checkpoint. The first
    * action that reads the frame materializes its blocks, later reads
    * scan them, and each round's plan stays one round deep instead of
    * re-planning every earlier round (and recomputing them on task
    * retry). Multi-hour jobs would swap in `checkpoint` on a reliable
    * store.
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** `df` hash-partitioned ONCE on the per-round join key `key`, then
    * cut. A checkpointed Dataset keeps its partitioning, so every
    * round's join finds this big side already partitioned on the key
    * and only the small per-round relation moves; without it the big
    * side re-shuffles every round. Partitioning changes scheduling,
    * never results.
    */
  def pinned(df: DataFrame, key: String): DataFrame =
    cut(df.repartition(col(key)))

  /** `edges(uCol, vCol)` as a canonical undirected simple graph (u, v):
    * u < v, self-loops and parallel edges dropped. The oracle CTEs of
    * [[KCore]], [[LabelPropagation]] and [[Triangles]] assume this form.
    */
  def undirected(edges: DataFrame, uCol: String, vCol: String): DataFrame =
    edges
      .select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
}
