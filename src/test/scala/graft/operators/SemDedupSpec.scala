package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSuite {
  import spark.implicits._

  private def vecsDF(vs: Seq[(Long, Seq[Float])]) =
    vs.toDF("vec_id", "embedding")

  // two tight groups on orthogonal axes + one outlier. The three
  // LOWEST ids span the three groups on purpose: k-means init takes
  // the k lowest-id vectors, so each group gets its own stable cell.
  private val fixture = vecsDF(Seq(
    1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f), 3L -> Seq(0f, 0f, 1f),
    4L -> Seq(0.999f, 0.01f, 0f), 5L -> Seq(0.998f, 0.02f, 0f),
    11L -> Seq(0.01f, 0.999f, 0f)))

  private val p = SemDedup.Params(k = 3, iterations = 2, trainFraction = 1.0,
    tau = 0.95)

  test("min-id survivor per semantic group; outlier untouched") {
    val kept = SemDedup.survivors(fixture, p = p)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 2L, 3L)),
      s"expected {1,2,3}, got ${kept.mkString(",")}")
  }

  test("tau=1-epsilon keeps everything distinct") {
    val kept = SemDedup.survivors(fixture,
        p = p.copy(tau = 0.9999999)).count()
    assert(kept == fixture.count())
  }

  test("maxCluster split: identical vectors in an over-cap cell still dedup to min id") {
    // 4 BITWISE-identical x-axis vectors + the axis seeds; cap 2
    // forces the x-cell (size 4) to split into fingerprint sub-cells.
    // Identical vectors share a fingerprint, so the whole identical
    // group stays together and 6/7/8 drop — the recall floor the
    // pre-round-13 skip-the-cell behavior lost (it kept every row of
    // exactly the boilerplate floods that need dedup most).
    val dupFixture = vecsDF(Seq(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f), 3L -> Seq(0f, 0f, 1f),
      6L -> Seq(1f, 0f, 0f), 7L -> Seq(1f, 0f, 0f), 8L -> Seq(1f, 0f, 0f)))
    val kept = SemDedup.survivors(dupFixture,
        p = p.copy(maxCluster = Some(2L)))
      .select("vec_id").as[Long].collect().sorted
    assert(kept.contains(1L), "min-id canonical survivor must remain")
    assert(!kept.contains(6L) && !kept.contains(7L) && !kept.contains(8L),
      s"identical over-cap vectors must still dedup, kept: ${kept.mkString(",")}")
    // under-cap cells keep exact semantics: the 2-member y-axis cell
    // still dedups to its min id
    assert(kept.contains(2L) && kept.contains(3L))
  }

  test("maxCluster split is deterministic and no worse than the exact run") {
    // distinct-but-close vectors in an over-cap cell may straddle
    // sub-cells (bounded residual recall loss) — but the survivor set
    // must stay a pure function of the data, and every id dropped by
    // the split run must also be dropped by the exact (uncapped) run
    val exact = SemDedup.survivors(fixture, p = p)
      .select("vec_id").as[Long].collect().toSet
    val split1 = SemDedup.survivors(fixture.repartition(1),
      p = p.copy(maxCluster = Some(2L)))
      .select("vec_id").as[Long].collect().toSet
    val split5 = SemDedup.survivors(fixture.repartition(5),
      p = p.copy(maxCluster = Some(2L)))
      .select("vec_id").as[Long].collect().toSet
    assert(split1 == split5, "split survivors depend on partitioning")
    assert(exact.subsetOf(split1),
      "the split run dropped an id the exact run kept")
  }

  test("deterministic under repartitioning") {
    val a = SemDedup.survivors(fixture.repartition(1), p = p)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val b = SemDedup.survivors(fixture.repartition(5), p = p)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("save/load round-trips the model bit-exactly (flat and two-level)") {
    for (params <- Seq(p, p.copy(twoLevel = true))) {
      val fit = SemDedup.fitModel(fixture, "vec_id", "embedding", params)
      val dir = tempDir("graft_semdedup_spec").toString
      SemDedup.save(fit, spark, dir)
      val loaded = SemDedup.load(spark, dir)
      // bit equality, not approximate: parquet round-trips doubles
      // exactly, and frozen-model dedup depends on it
      assert(loaded.centroids.length == fit.centroids.length)
      for ((l, f) <- loaded.centroids.zip(fit.centroids))
        assert(l.sameElements(f), "centroid drift through save/load")
      assert(loaded.grouping.isDefined == fit.grouping.isDefined)
      for ((lg, fg) <- loaded.grouping.zip(fit.grouping)) {
        for ((l, f) <- lg.superCentroids.zip(fg.superCentroids))
          assert(l.sameElements(f), "super-centroid drift through save/load")
        for ((l, f) <- lg.members.zip(fg.members))
          assert(l.sameElements(f), "member drift through save/load")
      }
      // and the loaded model dedups identically to the fitted one
      val a = SemDedup.survivorsWithModel(fixture, "vec_id", "embedding",
        params, fit).collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      val b = SemDedup.survivorsWithModel(fixture, "vec_id", "embedding",
        params, loaded).collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      assert(a.sameElements(b))
    }
  }
  test("two-level flood: a 60-copy identical flood dedups via the star in linear work") {
    // the round-13 one-level split put ALL identical vectors in ONE
    // fingerprint sub-cell (same hash, same pmod), re-creating the
    // quadratic join the cap exists to prevent; the star connects the
    // flood to its min id with 59 comparisons instead of 1770 pairs
    val flood = (100L until 160L).map(i => i -> Seq(1f, 0f, 0f))
    val near = Seq(50L -> Seq(0.999f, 0.01f, 0f),
      51L -> Seq(0.998f, 0.02f, 0f))
    val seeds = Seq(1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0f, 0f, 1f))
    val kept = SemDedup.survivors(vecsDF(seeds ++ near ++ flood),
        p = p.copy(maxCluster = Some(5L)))
      .select("vec_id").as[Long].collect().sorted
    assert(kept.contains(1L), "flood hub (min id of the identical group)")
    assert((100L until 160L).forall(i => !kept.contains(i)),
      s"every flood copy must drop via the star, kept: ${kept.mkString(",")}")
    assert(kept.contains(2L) && kept.contains(3L), "other cells untouched")
  }

  test("recursive rep split keeps every sub-cell bounded (HotSplit unit)") {
    import org.apache.spark.sql.functions.{col, max => fmax, count => fcount, lit, length}
    // 5000 distinct salts under one key at cap 50: the level-1 draw
    // (nsub = 100, expected 50/sub) leaves some sub-buckets over the
    // cap; recursion must refine exactly those until all fit
    val rows = spark.range(5000).select(col("id"))
    val split = HotSplit.subSplit(rows, Seq.empty, col("id"), 50L,
      "HotSplitSpec")
    val sizes = split.groupBy("__sub").agg(fcount(lit(1)).as("n"))
    assert(sizes.agg(fmax(col("n"))).head().getLong(0) <= 50L,
      "a sub-bucket exceeds the cap after recursion")
    assert(split.count() == 5000, "rows must be partitioned, never lost")
    // recursion actually engaged: some path has depth >= 2
    assert(split.where(length(col("__sub")) -
        length(regexp_replace(col("__sub"), "/", "")) >= 2).count() > 0,
      "expected at least one depth-2 refinement on this fixture")
    // deterministic: a second run produces the identical partition
    val again = HotSplit.subSplit(rows, Seq.empty, col("id"), 50L,
      "HotSplitSpec")
    assert(split.exceptAll(again).count() == 0 &&
      again.exceptAll(split).count() == 0)
  }
}
