package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.internal.Logging
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** What an operator did at its bucket cap (SCALE.md cliff #2): `drop`
  * (`count` over-cap buckets left the self-join, their pairs lost),
  * `split` (`count` over-cap buckets split into sub-buckets), `unsplit`
  * (`count` sub-buckets still over `cap` after the last re-split) or
  * `flat` (SemDedup's flat assignment at k = `count` > `cap`). Posted
  * to the listener bus (`SparkListener.onOtherEvent`), logged at WARN.
  */
final case class BucketCapEvent(op: String, kind: String, count: Long,
                                cap: Long) extends SparkListenerEvent

/** The one home of the bucket cap: the over-cap group count, its drop
  * and split policies, and the [[BucketCapEvent]] report of either.
  *
  * Recursive sub-bucket refinement ([[subSplit]]) serves the hot-bucket
  * splits ([[MinHashLSH.candidatePairs]], [[SemDedup]]): one level of
  * `pmod(hash, ceil(n/cap))` keeps the EXPECTED sub-bucket at `cap`,
  * but a skewed level-1 draw (or adversarial key collisions) can
  * leave individual sub-buckets far over it — and an over-cap
  * sub-bucket re-creates exactly the quadratic self-join the cap
  * exists to prevent. Refining recursively with a depth-salted hash
  * bounds every sub-bucket, not just the average.
  */
private[operators] object HotSplit extends Logging {

  /** The `keys` groups of `rows` over `cap` rows, sized `__n`. */
  def oversized(rows: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > cap)

  /** The split policy's gate: the cap and its over-cap groups
    * (checkpointed: read by the count and the caller's joins), reported
    * as a `split`, or None — no cap or no hot group, and the caller
    * keeps its exact plan. The count is eager: it chooses the plan.
    */
  def hot(rows: DataFrame, keys: Seq[String], cap: Option[Long],
          op: String): Option[(Long, DataFrame)] = cap.flatMap { c =>
    val over = oversized(rows, keys, c).localCheckpoint(eager = false)
    val n = over.count()
    if (n == 0) None
    else {
      report(rows.sparkSession, BucketCapEvent(op, "split", n, c))
      Some(c -> over)
    }
  }

  /** The drop policy: `rows` without the `keys` groups over `cap`, with
    * no job of its own: `Dataset.observe` counts the dropped groups on
    * the caller's action, which reports them as a `drop` when it
    * succeeds (an action over a lazy checkpoint of the result does not
    * run the capped plan, so it reports nothing).
    */
  def dropOversized(rows: DataFrame, keys: Seq[String], cap: Long,
                    op: String): DataFrame = {
    observing(rows.sparkSession)
    // one name per call: Spark refuses two different observations
    // with one name in a plan (two capped calls unioned, say)
    val over = oversized(rows, keys, cap).select(keys.map(col): _*)
      .observe(s"graft.$op#${calls.incrementAndGet()}",
        lit(op).as("op"), lit("drop").as("kind"),
        count(lit(1)).as("count"), lit(cap).as("cap"))
    rows.join(over, keys, "left_anti")
  }

  /** Appends a string column `__sub` partitioning each `keys` group
    * into sub-groups of at most ~`cap` rows: level d re-hashes the
    * rows of any still-oversized sub-group with a depth-salted
    * `xxhash64(saltCol, d)` into ceil(n/cap) finer cells, recursing
    * until every sub-group fits or `maxDepth` levels are exhausted
    * (then proceeds, reporting the groups still over as `unsplit` —
    * correctness is never at stake, only the width of the downstream
    * self-join; rows whose salt values are bitwise identical can never
    * separate, and identical-content rows are the upstream star's
    * job, not this splitter's). Each level is one driver-side count
    * over KB-sized group counts. Deterministic: sub paths are pure
    * functions of (saltCol, group sizes).
    */
  def subSplit(rows: DataFrame, keys: Seq[String], saltCol: Column,
               cap: Long, what: String, maxDepth: Int = 4): DataFrame = {
    val gk = keys :+ "__sub"
    var cur = rows.withColumn("__sub", lit(""))
    // each level's over-cap groups: read by the count + the join
    var over = oversized(cur, gk, cap).localCheckpoint(eager = false)
    var n = over.count()
    var depth = 0
    while (n > 0 && depth < maxDepth) {
      depth += 1
      cur = cur.join(broadcast(over), gk, "left")
        .withColumn("__sub", when(col("__n").isNull, col("__sub"))
          .otherwise(concat(col("__sub"), lit("/"),
            pmod(xxhash64(saltCol, lit(depth)),
              expr(s"greatest(1L, (__n + ${cap - 1}) div $cap)"))
              .cast("string"))))
        .drop("__n")
        .localCheckpoint(eager = false) // next level counts + reads it
      over = oversized(cur, gk, cap).localCheckpoint(eager = false)
      n = over.count()
    }
    if (n > 0) report(rows.sparkSession, BucketCapEvent(what, "unsplit", n, cap))
    cur
  }

  /** Every cap report: posts `e` and logs it once at WARN. */
  def report(spark: SparkSession, e: BucketCapEvent): Unit = {
    val consequence = e.kind match {
      case "drop" => "bucket(s) dropped from the self-join: their pairs are lost"
      case "split" => "bucket(s) split into sub-buckets: bounded recall loss"
      case "unsplit" => "sub-bucket(s) left oversized after the last re-split"
      case _ => "centroids assigned flat: O(n*k*d), set twoLevel=true"
    }
    logWarning(s"[graft] ${e.op}: ${e.count} $consequence (cap ${e.cap})")
    org.apache.spark.sql.graft.PlanBridge.post(spark.sparkContext, e)
  }

  private val calls = new AtomicLong()

  /** Sessions whose listener manager holds [[ObservedCaps]]. */
  private val observed = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def observing(spark: SparkSession): Unit = observed.synchronized {
    if (observed.add(spark)) spark.listenerManager.register(ObservedCaps)
  }

  /** Reports each non-zero `graft.*` observation of a succeeded action. */
  private object ObservedCaps extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      observations(qe.executedPlan).values.foreach { r =>
        if (r.getAs[Long]("count") > 0)
          report(qe.sparkSession, BucketCapEvent(r.getAs[String]("op"),
            r.getAs[String]("kind"), r.getAs[Long]("count"),
            r.getAs[Long]("cap")))
      }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** The `graft.*` observations that ran in `plan`, by name. Spark's
    * `observedMetrics` walks the final plan only, from which AQE cuts
    * the consumers of an empty stage (every bucket dropped, say) after
    * they ran; its stage cache keeps them, so this walk reads it too.
    * A name met twice (a self-join's two sides) keeps its larger count.
    */
  private def observations(plan: SparkPlan): Map[String, Row] = {
    def metrics(p: SparkPlan) = CollectMetricsExec.collectWithSubqueries(p) {
      case c: CollectMetricsExec => c.name -> c.collectedMetrics
    }
    val ran = CollectMetricsExec.collectWithSubqueries(plan) {
      case a: AdaptiveSparkPlanExec => a.context.stageCache.values
    }.flatten.distinct
    (metrics(plan) ++ ran.flatMap(s => metrics(s.plan)))
      .filter(_._1.startsWith("graft."))
      .groupMapReduce(_._1)(_._2) { (a, b) =>
        if (a.getAs[Long]("count") >= b.getAs[Long]("count")) a else b
      }
  }
}
