package graft

import graft.operators.{GroupedTopN, TopNConfig}
import graft.queries.{LakeQueries, PipelineQueries, RelationalQueries, StreamingQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def allQueryDefs =
    RelationalQueries.all ++ PipelineQueries.all ++ StreamingQueries.all ++
      LakeQueries.all

  /** The one session posture of the driver mains and the test suites:
    * `local[cores]` with as many shuffle partitions, UTC session time,
    * no UI, and [[GraftSparkExtensions]] active (graft SQL functions,
    * the optimizer rules and the lake's analysis rule), exactly as a
    * spark-submit user would run. Callers add their own settings
    * before `getOrCreate()`.
    */
  def session(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Top-3 customers per nation by account balance, with nation names —
    * grouped top-N (WindowGroupLimit) over a broadcast join.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val joined = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select("n_name", "c_custkey", "c_name", "c_acctbal")
    GroupedTopN.transform(
      TopNConfig("c_acctbal", 3), Seq("n_name"), Seq("c_custkey"))(joined)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueryDefs.map(q => q.name -> q.build).toMap

  /** The SMOKE subset: one capability-representative query per
    * SURVEY §2 category / operator family (~45 of the full registry).
    * Tooling only — `graft.Verify <sf> <out> smoke` and
    * `SPARK_GRAFT_ONLY=smoke graft.Bench` expand it, so an
    * intermediate close can certify a round's delta cheaply; the
    * final-close contract is still the FULL registry, and nothing in
    * the driver path changes unless the literal filter is passed.
    * Membership is pinned existing-and-distinct by SparkEntrySpec.
    */
  val smokeQueries: Seq[String] = Seq(
    // relational core: agg / grouping / window / top-n / joins / scans
    "q1_agg", "q_rollup", "q_percentiles", "q_window_funcs",
    "topn_price_double", "grouped_topn_orders", "grouped_topn_agg",
    "q_join_revenue", "q_salted_join", "q_bucketed_join", "q_asof_join",
    "q_range_join", "q_partition_pruned", "q_setops", "q_scalar_funcs",
    "q_exists_subquery", "q_pivot", "q_tpch_q9", "q_tpch_q21",
    // sketches / incremental
    "q_sketch_distinct", "q_cms_heavy_hitters", "q_incremental_agg",
    // dedup family
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_semantic",
    "dedup_incremental", "dedup_paragraph", "dedup_bloom_decontam",
    // ANN / embeddings / retrieval
    "ann_brute_topk", "ann_ivf_topk", "pq_ann_topk", "hybrid_rrf",
    "embed_sq8_topk", "neardup_embedding_lsh",
    // text analysis / chunking
    "text_bm25", "text_langid", "text_quality_gate", "text_chunks",
    "text_fingerprint", "text_lm_surprisal",
    // multimodal / sampling / graphs
    "mm_features", "mm_phash_pairs", "sample_stratified", "sample_pps",
    "graph_pagerank", "graph_triangles", "graph_bfs",
    // streaming replays (one per stateful shape + the DSv2 sink)
    "stream_topn_replay", "stream_join_agg_replay",
    "stream_sessionize_replay", "stream_lake_totable_replay",
    "stream_lake_totable_identity_replay",
    // lakehouse
    "lake_read_latest", "lake_mor_delete", "lake_part_pruned",
    "lake_dyn_overwrite_read", "lake_identity_read", "lake_cdf",
    "lake_copy_into_read", "lake_widen_sql_read", "lake_time_travel",
    // round 19: in-partition curve layout, SQL CDF, generated-
    // partition inference, n-D Hilbert
    "lake_part_zorder_scan", "lake_cdf_sql", "lake_gen_prune",
    "lake_hilbert3_scan")

  /** name → oracle kind ("static" | "generated" | "rows-only") for
    * every declared query — the source of truth SURVEY §8's counts are
    * regenerated from (`graft.tools.SurveyCounts`), so the doc's
    * claims can never drift from the registry.
    */
  def oracleKinds: Seq[(String, String)] =
    allQueryDefs.map { q =>
      q.name -> (if (q.oracle.isDefined) "static"
                 else if (q.oracleGen.isDefined) "generated"
                 else "rows-only")
    }.sortBy(_._1)

  /** sfDir the data-dependent oracle generators should train against;
    * set by [[Verify]] before it dumps [[oracleSql]] so generated
    * oracles (inlined k-means centroids) match the queries' run.
    */
  @volatile var oracleSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Data-dependent oracles (QueryDef.oracleGen) are resolved here
    * against [[oracleSfDir]]; a generator failure degrades its query to
    * the rows-only check rather than failing the whole dump.
    */
  def oracleSql: Map[String, String] =
    oracleSql(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "oracleSql needs a live SparkSession (generated oracles train " +
          "on data); start one or call oracleSql(spark) explicitly — " +
          "refusing to silently create a default-config session")))

  /** [[oracleSql]] against an explicit session — the generator loop
    * never falls back to `builder().getOrCreate()`, so a bare call
    * site can't silently spin up a default-config session.
    */
  def oracleSql(session: SparkSession): Map[String, String] =
    oracleSql(session, None)

  /** [[oracleSql]] restricted to `names` (None = all) — generated
    * oracles TRAIN (k-means fits etc.) at dump time, so a filtered
    * local run must skip the generators it doesn't need.
    */
  def oracleSql(session: SparkSession,
                names: Option[Set[String]]): Map[String, String] =
    allQueryDefs.filter(q => names.forall(_.contains(q.name))).flatMap { q =>
      val sql = q.oracle.orElse(q.oracleGen.flatMap { gen =>
        try Some(gen(session, oracleSfDir))
        catch {
          case e: Throwable =>
            System.err.println(s"[oracle] ${q.name} generator failed: ${e.getMessage}")
            None
        }
      })
      sql.map(q.name -> _)
    }.toMap
}
