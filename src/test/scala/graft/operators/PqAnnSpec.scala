package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class PqAnnSpec extends SparkSuite {

  private lazy val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")
  private val p = PqAnn.Params(m = 8, ksub = 16, iterations = 3)

  test("codebooks have m x ksub x dsub shape and are bit-identical across partitionings") {
    def fit(parts: Int) =
      PqAnn.fitCodebooks(emb.repartition(parts), "vec_id", "embedding", p)
        .map(_.map(_.toSeq).toSeq).toSeq
    val a = fit(1)
    assert(a.length == p.m)
    assert(a.forall(_.length == p.ksub))
    assert(a.forall(_.forall(_.length == 64 / p.m)))
    assert(a == fit(13), "exact decimal sums must make codebooks partition-invariant")
  }

  test("encode packs m valid 4-bit cells per vector, deterministically") {
    val cbs = PqAnn.fitCodebooks(emb, "vec_id", "embedding", p)
    val codes = PqAnn.encode(emb, "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes.size == emb.count())
    codes.values.foreach { code =>
      assert(code >= 0L && code < (1L << (4 * p.m)))
      (0 until p.m).foreach { s =>
        assert(((code >> (4 * s)) & 15L) < p.ksub)
      }
    }
    val again = PqAnn.encode(emb, "vec_id", "embedding", cbs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes == again)
  }

  test("sampled training equals full training on the explicitly pre-filtered corpus") {
    // 500 ids at frac=0.5 gives ~250 >= 64*ksub(=2)*... use ksub=2, m=2:
    // floor 64*2=128 < sample size, so the SAMPLED path engages; it must
    // produce exactly the codebooks of unsampled training over the
    // hash-gated subset (init + Lloyd sums see the identical rows)
    val sp = PqAnn.Params(m = 2, ksub = 2, iterations = 2, trainFraction = 0.5)
    val gated = emb.where(Sampling.hashGate(col("vec_id"), 0.5))
    assert(gated.count() >= 64L * sp.ksub && gated.count() < emb.count(),
      "test premise: the gate selects a strict subset above the floor")
    val sampled = PqAnn.fitCodebooks(emb, "vec_id", "embedding", sp)
      .map(_.map(_.toSeq).toSeq).toSeq
    val explicit = PqAnn.fitCodebooks(gated, "vec_id", "embedding",
      sp.copy(trainFraction = 1.0)).map(_.map(_.toSeq).toSeq).toSeq
    assert(sampled == explicit)
  }

  test("below the 64-per-centroid floor, sampling falls back to full-corpus training") {
    // ksub=16 needs 1024 training points; 500 ids * 0.25 ≈ 125 — the
    // fallback must make frac=0.25 bit-identical to frac=1.0
    val sampled = PqAnn.fitCodebooks(emb, "vec_id", "embedding",
      p.copy(trainFraction = 0.25)).map(_.map(_.toSeq).toSeq).toSeq
    val full = PqAnn.fitCodebooks(emb, "vec_id", "embedding",
      p.copy(trainFraction = 1.0)).map(_.map(_.toSeq).toSeq).toSeq
    assert(sampled == full)
  }

  test("PQ fit -> save -> load -> search equals fit -> search bit-exactly") {
    val idx = PqAnn.fitIndex(emb, "vec_id", "embedding", p)
    val dir = tempDir("graft_pq_idx").toString
    PqAnn.save(idx, dir)
    val loaded = PqAnn.load(spark, dir)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must round-trip parquet bit-exactly")
    val queries = emb.where(col("vec_id") < 5)
    def run(i: PqAnn.Index) = PqAnn.searchTopK(queries, i, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = PqAnn.topK(queries, emb, k = 5, p = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(idx) == direct, "searchTopK(fitIndex) must equal topK")
    assert(run(loaded) == direct, "a loaded index must search identically")
  }

  test("IVF-PQ fit -> save -> load -> search equals fit -> search bit-exactly") {
    val ip = IvfPqAnn.Params(coarseK = 8, coarseIterations = 2, nprobe = 3,
      pq = PqAnn.Params(m = 8, ksub = 16, iterations = 2))
    val idx = IvfPqAnn.fitIndex(emb, "vec_id", "embedding", ip)
    val dir = tempDir("graft_ivfpq_idx").toString
    IvfPqAnn.save(idx, dir)
    val loaded = IvfPqAnn.load(spark, dir)
    assert(loaded.coarse.map(_.toSeq).toSeq == idx.coarse.map(_.toSeq).toSeq)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val queries = emb.where(col("vec_id") < 5)
    def run(i: IvfPqAnn.Index) =
      IvfPqAnn.searchTopK(queries, i, k = 5, nprobe = ip.nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = IvfPqAnn.topK(queries, emb, k = 5, p = ip)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(idx) == direct, "searchTopK(fitIndex) must equal topK")
    assert(run(loaded) == direct, "a loaded index must search identically")
  }

  test("topK is well-formed: no self-matches, contiguous ranks per query") {
    val out = PqAnn.topK(emb.where(col("vec_id") < 5), emb, k = 5, p = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.forall { case (q, n, _) => q != n })
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.size.toLong))
    }
  }
}
