package graft.operators

import graft.SparkSuite
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class ScalarQuantSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = graft.Tables(spark, sf("sf0.01"), "embeddings")

  test("quantized levels are integers in [-127, 127], zero preserved, " +
      "extremes hit the endpoints") {
    val df = Seq(
      (1L, Array(2.0f, -2.0f, 0.0f, 1.0f)),
      (2L, Array(0.5f, -0.25f, 2.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val levels = df.crossJoin(broadcast(ScalarQuant.fitMaxAbs(df, "embedding")))
      .select(explode(ScalarQuant.quantize(col("embedding"), col("m"))).as("q"))
      .collect().map(_.getDouble(0))
    assert(levels.forall(q => q == math.rint(q)), s"non-integer level: ${levels.toSeq}")
    assert(levels.forall(q => q >= -127 && q <= 127), levels.toSeq)
    assert(levels.contains(127.0) && levels.contains(-127.0) && levels.contains(0.0))
    // maxAbs=2 -> 1.0f quantizes to round(63.5)=64
    assert(levels.contains(64.0))
  }

  test("SQ8 recall@20 vs exact float cosine on the fixture corpus") {
    val exact = Similarity.bruteForceTopK(
        emb.where(col("vec_id") === 7), emb, k = 20)
      .select("nid").collect().map(_.getLong(0)).toSet
    val sq8 = ScalarQuant.topKByQuantizedCosine(emb, "vec_id", "embedding", 7L, 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & sq8).size.toDouble / exact.size
    // int8 levels on 64-dim gaussians: measured 0.95 at this fixture;
    // floor guards against a quantizer regression, not noise (all
    // inputs deterministic)
    assert(recall >= 0.85, s"SQ8 recall@20 regressed: $recall")
  }

  test("quantized cosine equals float cosine for vectors already at " +
      "integer multiples of maxAbs/127") {
    // vectors whose components are exact level multiples quantize
    // losslessly -> cosine must match the float cosine exactly
    val df = Seq(
      (1L, Array(127.0f, 0.0f)),
      (2L, Array(0.0f, 127.0f)),
      (3L, Array(127.0f, 127.0f))
    ).toDF("vec_id", "embedding")
    val out = ScalarQuant.topKByQuantizedCosine(df, "vec_id", "embedding", 3L, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = 127.0 / (math.sqrt(2.0 * 127 * 127))
    assert(out.keySet == Set(1L, 2L))
    assert(out.values.forall(v => math.abs(v - expected) < 1e-15), out)
  }

  test("high-similarity regime: every planted near-copy is the SQ8 top-1") {
    // RecallSpec's planted pattern: 20 seeded gaussian base vectors +
    // 20 near-copies at cosine >= 0.999 — int8 quantization must not
    // lose a 0.999-cosine neighbor (the regime dedup cares about)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20).flatMap { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
      Seq((i.toLong, v), (i.toLong + 1000L, dup))
    }
    val df = rows.toDF("vec_id", "embedding")
    for (i <- 0 until 20) {
      val top1 = ScalarQuant.topKByQuantizedCosine(
        df, "vec_id", "embedding", i.toLong, 1).collect().head.getLong(0)
      assert(top1 == i.toLong + 1000L,
        s"query $i: expected planted copy ${i + 1000}, got $top1")
    }
  }

  test("persisted index stores REAL int8 levels and searches " +
      "bit-identically to the in-query path") {
    val path = tempDir("graft_sq8_spec").toString
    ScalarQuant.save(
      ScalarQuant.fitIndex(emb, "vec_id", "embedding"), path)
    val loaded = ScalarQuant.load(spark, path)
    // 4x storage claim is structural: the on-disk level column is tinyint
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    assert(loaded.quantized.schema("qv").dataType == ArrayType(ByteType),
      loaded.quantized.schema.treeString)
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") === 7)
    val viaIndex = ScalarQuant.searchTopK(q, loaded, k = 20)
      .select("nid", "qcos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = ScalarQuant.topKByQuantizedCosine(
        emb, "vec_id", "embedding", 7L, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaIndex == direct) // bit-equal doubles, not approx
  }

  test("plan: corpus never shuffles — scale and query broadcast into " +
      "a TakeOrderedAndProject scan") {
    val df = ScalarQuant.topKByQuantizedCosine(emb, "vec_id", "embedding", 7L, 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"), s"plan:\n$plan")
  }
}
