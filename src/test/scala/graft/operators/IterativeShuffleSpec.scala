package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._

/** Per-ITERATION scheduler budgets for the iterative graph operators.
  *
  * ShuffleBudgetSpec pins the planned exchange count of a final plan,
  * but the graph iteratives cut lineage every round (localCheckpoint),
  * so their final plan hides the per-round structure — exactly where a
  * regression would hurt most at 100 TB: a lost edge pre-partitioning
  * re-shuffles the WHOLE edge set every round, turning O(rounds x
  * frontier) work into O(rounds x edges).
  *
  * This spec measures the real thing: run each operator at two round
  * counts on a fixed synthetic graph and pin the MARGINAL scheduler
  * stages per extra round (counted via a SparkListener; under AQE each
  * materialized exchange is submitted as its own stage/job, so an
  * added per-round shuffle shows up as +1 stage per round — +4 over
  * the 4-round delta, far above the assertion slack of 0). Setup cost
  * (edge distinct/partition/degree) cancels out in the subtraction.
  *
  * Suites run sequentially in the forked test JVM (sbt default
  * `testForkedParallel := false`), so the JVM-wide listener counters
  * see only this suite's jobs during a measurement.
  */
class IterativeShuffleSpec extends SparkSuite {

  private lazy val sc = spark.sparkContext

  private val stages = new AtomicInteger()
  private val jobs = new AtomicInteger()
  private lazy val listener = {
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    l
  }

  /** Scheduler stages submitted while `body` runs (listener events are
    * async — settle-poll until the count is stable).
    */
  private def stagesDuring(body: => Unit): Int = {
    listener // installed once
    def settle(): Int = {
      var prev = -1
      var cur = stages.get
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = stages.get }
      cur
    }
    val s0 = settle()
    body
    settle() - s0
  }

  // fixed synthetic graph: 60-node ring + 7-step chords — small enough
  // for sub-second rounds, connected, with real frontier growth
  private def edges = {
    import spark.implicits._
    (0 until 60).flatMap(i => Seq((i.toLong, ((i + 1) % 60).toLong),
      (i.toLong, ((i + 7) % 60).toLong))).toDF("s", "d")
  }
  private def wedges = edges.withColumn("w", (col("s") + col("d")) % 5 + 1)

  /** Pin marginal stages across rounds r1 -> r2: run(r2) may submit at
    * most `maxMarginal * (r2 - r1)` more stages than run(r1). Fresh
    * input DataFrames per run, so no exchange reuse crosses runs.
    */
  private def pinMarginal(name: String, r1: Int, r2: Int, maxMarginal: Int,
                          why: String)(run: Int => Unit): Unit =
    test(s"$name: <= $maxMarginal scheduler stages per extra round ($why)") {
      val a = stagesDuring(run(r1))
      val b = stagesDuring(run(r2))
      assertMarginal(name, r1, r2, b - a, maxMarginal, why)
    }

  private def assertMarginal(name: String, r1: Int, r2: Int, marginal: Int,
                             maxMarginal: Int, why: String): Unit = {
    val budget = maxMarginal * (r2 - r1)
    assert(marginal <= budget,
      s"$name rounds $r1->$r2 submitted $marginal marginal stages, " +
        s"budget $budget ($maxMarginal/round) — a per-round exchange " +
        s"was added (lost edge pre-partitioning?): $why")
  }

  pinMarginal("pagerank", 2, 6, 3,
    "contrib agg + rank rebuild per round, ranks-side exchange only — " +
      "edges partitioned once outside the loop (every 4th round adds " +
      "one lineage-cut job, amortized inside the budget)") { r =>
    PageRank.ranks(edges, "s", "d",
      PageRank.Params(iterations = r)).count(): Unit
  }

  pinMarginal("bfs", 2, 6, 4,
    "frontier expand join + distinct + anti-join vs reached, frontier " +
      "exchange only — the edge side is partitioned once") { r =>
    Bfs.distances(edges, "s", "d", Seq(0L), maxHops = r).count(): Unit
  }

  pinMarginal("sssp", 2, 6, 2,
    "relax join + per-node min agg; cost frontier exchange only") { r =>
    Sssp.costs(wedges, "s", "d", "w", Seq(0L), rounds = r).count(): Unit
  }

  pinMarginal("kcore", 2, 6, 2,
    "degree count + two survivor semi-joins per peel round; the " +
      "surviving edge set is the only thing that moves") { r =>
    KCore.core(edges, "s", "d", k = 2, rounds = r).count(): Unit
  }

  pinMarginal("communities", 2, 6, 3,
    "neighbor-label join + per-node mode agg per round; labels " +
      "exchange, edges stay put") { r =>
    LabelPropagation.communities(edges, "s", "d", rounds = r).count(): Unit
  }

  pinMarginal("transitive closure", 2, 6, 4,
    "one far-vs-pairs equi-join per doubling round (exact-horizon " +
      "split: NO distinct stage exists to regress); a chain deep " +
      "enough that every probed round still finds work") { r =>
    import spark.implicits._
    // chain of 70: depths up to 64 = 2^6, so rounds 2..6 all jump
    val chain = (1L until 70L).map(k => (k + 1, k)).toDF("n", "p")
    TransitiveClosure.ancestors(chain, "n", "p", doublingRounds = r)
      .count(): Unit
  }

  // near-dup clusters iterate to a fixpoint, so the round count comes
  // from the data: pointer doubling needs 6 iterations on a 16-chain
  // and 8 on a 64-chain. An eager cut per iteration measures 9.
  test("near-dup clusters: <= 8 scheduler stages per extra iteration " +
    "(neighbor-min join + agg, label-of-label join and the label-sum " +
    "probe, which also materializes the lazy cut)") {
    import spark.implicits._
    def run(n: Long): Int = {
      val nodes = (0L until n).toDF("id")
      val pairs = (1L until n).map(k => (k - 1, k)).toDF("a", "b")
      val (reps, iterations) =
        NearDupClusters.representativesWithIterations(nodes, pairs, "id")
      reps.count()
      iterations
    }
    var (r1, r2) = (0, 0)
    val a = stagesDuring { r1 = run(16) }
    val b = stagesDuring { r2 = run(64) }
    assert(r2 > r1, s"chains converged in $r1 and $r2 iterations")
    assertMarginal("near-dup clusters", r1, r2, b - a, 8,
      "per-iteration joins, agg and probe; the cut adds no job")
  }
}
