package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{GroupedTopN, TopN, TopNConfig}

/** One operation of a closed-loop client: `prepare` and `check` run
  * outside the timed window, `run` is the timed call.
  */
trait Op {
  def key: String
  /** "query" for a built frame, "read" / "write" for a lake call */
  def kind: String
  def prepare(): Unit = ()
  def run(t: Option[Tracer]): Unit
  /** None when the output is correct, else what was wrong. */
  def check(): Option[String]
  /** Per-operation counters reported with the op (pruned reads' file counts). */
  def attrs: Map[String, Any] = Map.empty
}

trait Workload {
  /** Fixtures built before the warm-up pass (part of set-up). */
  def setup(): Unit = ()
  /** Every distinct request once: the untimed warm-up pass. */
  def warmup(): Seq[Op]
  /** One timed round, its order and parameters drawn from `rng`. */
  def round(rng: Random): Seq[Op]
  /** Wall of one warm round on a 4-CPU host: a run measures
    * ceil(`--seconds` / this) rounds, a count fixed before timing, so
    * every run of a workload does the same work whatever its speed.
    */
  def nominalRoundSeconds: Double
  /** End-of-run checks; each string is one failure. */
  def finish(): Seq[String] = Nil
  /** End-of-run counters for the report. */
  def stats(): Map[String, Any] = Map.empty
}

/** Order-independent digest of a frame's rows, computed by Spark while
  * the rows stream into the sink (`Dataset.observe`), so checking the
  * output needs no second execution: row count, XOR of the rows'
  * xxhash64, and the sums of its low and high 32-bit halves (a multiset
  * digest, so duplicated rows count). Its cost is inside the timed
  * write (see perfbench/README.md for the measured share).
  */
object Digest {
  def observe(df: DataFrame, cols: Option[Seq[String]]): (DataFrame, Observation) = {
    val obs = Observation()
    val h = cols match {
      case Some(cs) => xxhash64(cs.map(c => df.col(s"`$c`")): _*)
      case None     => expr("xxhash64(*)")
    }
    val out = df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
    (out, obs)
  }

  def render(obs: Observation): String = {
    val m = obs.get
    s"n=${m("n")};x=${m("x")};lo=${m("lo")};hi=${m("hi")}"
  }
}

/** A request whose output is a DataFrame: built (through the layer call
  * `build` makes), then written to the `noop` sink with its digest
  * observed, and checked against the committed digest for its key.
  */
final class FrameOp(val key: String, build: Option[Tracer] => DataFrame,
                    digestCols: Option[Seq[String]],
                    expected: Map[String, String]) extends Op {
  val kind = "query"
  private var obs: Option[Observation] = None

  def run(t: Option[Tracer]): Unit = {
    val (out, o) = Digest.observe(build(t), digestCols)
    obs = Some(o)
    Tracer.span(t, "noop_write", "exec") {
      out.write.format("noop").mode("overwrite").save()
    }
  }

  def digest: String = Digest.render(obs.getOrElse(
    throw new IllegalStateException(s"$key: checked before it ran")))

  def check(): Option[String] = expected.get(key) match {
    case None => Some(s"$key: no committed digest")
    case Some(want) =>
      val got = digest
      if (got == want) None else Some(s"$key: digest $got, expected $want")
  }
}

/** A frame request with what `generate` needs to cross-check it:
  * `sql` is the DuckDB oracle, None for registry rows (the registry
  * supplies theirs), and `digestCols` the columns both sides compare.
  */
final case class Request(key: String, build: (SparkSession, String, Option[Tracer]) => DataFrame,
                         digestCols: Option[Seq[String]], sql: Option[String],
                         query: Option[String])

object Menus {
  private def registry(name: String): Request = {
    val q = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no registry query $name"))
    Request(s"query:$name",
      (s, dir, t) => Tracer.span(t, "QueryDef.build", "queries")(q(s, dir)),
      None, None, Some(name))
  }

  /** Direct `TopN.transform` on a loaded table. Ties at the N-th value
    * may pick any of the tied rows (the operator's contract), so only
    * the ranking field is compared: its top-N multiset is unique.
    */
  private def topN(table: String, field: String, size: Int): Request =
    Request(s"topn:$table.$field:$size",
      (s, dir, t) => {
        val df = Tracer.span(t, "Tables.apply", "tables")(Tables(s, dir, table))
        Tracer.span(t, "TopN.transform", "operators")(
          TopN.transform(TopNConfig(field, size))(df))
      },
      Some(Seq(field)),
      Some(s"SELECT $field FROM $table ORDER BY $field DESC NULLS LAST LIMIT $size"),
      None)

  /** Direct `GroupedTopN.transform` with a tiebreaker: whole rows. */
  private def groupedTopN(table: String, key: String, field: String,
                          tiebreak: String, size: Int): Request =
    Request(s"grouped:$table.$key.$field:$size",
      (s, dir, t) => {
        val df = Tracer.span(t, "Tables.apply", "tables")(Tables(s, dir, table))
        Tracer.span(t, "GroupedTopN.transform", "operators")(
          GroupedTopN.transform(TopNConfig(field, size), Seq(key), Seq(tiebreak))(df))
      },
      None,
      Some(s"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (" +
        s"PARTITION BY $key ORDER BY $field DESC NULLS LAST, $tiebreak ASC) AS rn " +
        s"FROM $table) WHERE rn <= $size"),
      None)

  val interactive: Seq[Request] =
    Seq("topn_price_double", "grouped_topn_orders", "q1_agg", "q_join_revenue",
      "q_window_funcs", "q_tpch_q3", "q_tpch_q9").map(registry) ++
      Seq(1, 100, 10000).map(topN("lineitem", "l_extendedprice", _)) ++
      Seq(topN("lineitem", "l_orderkey", 100)) ++
      Seq(1, 100).map(groupedTopN("customer", "c_nationkey", "c_acctbal", "c_custkey", _)) ++
      Seq(groupedTopN("part", "p_brand", "p_retailprice", "p_partkey", 100))

  val pipeline: Seq[Request] =
    Seq("graph_pagerank", "dedup_clusters", "ann_lsh_topk", "ivfpq_ann_topk",
      "stream_topn_replay").map(registry)

  /** A workload's menu and the wall of one warm round of it. */
  def byName(name: String): (Seq[Request], Double) = name match {
    case "interactive_topn"   => (interactive, 6.0)
    case "pipeline_iterative" => (pipeline, 11.0)
    case other => throw new IllegalArgumentException(s"no request menu for $other")
  }
}

/** A fixed menu of frame requests; each round runs every request once
  * in a seeded order, so every run measures the same multiset of work.
  */
final class MenuWorkload(spark: SparkSession, dataDir: String,
                         menu: Seq[Request], val nominalRoundSeconds: Double,
                         expected: Map[String, String]) extends Workload {
  private def op(r: Request): Op =
    new FrameOp(r.key, t => r.build(spark, dataDir, t), r.digestCols, expected)
  def warmup(): Seq[Op] = menu.map(op)
  def round(rng: Random): Seq[Op] = rng.shuffle(menu).map(op)
}
