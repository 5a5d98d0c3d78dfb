package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSuite {

  private def tmp() = tempDir("compact").toString

  test("fragmented dataset compacts to the byte-derived file count, content intact") {
    val dir = tmp()
    val docs = graft.Tables(spark, sf("sf0.01"), "documents")
    docs.repartition(64).write.parquet(s"$dir/frag")
    val (filesIn, bytesIn) = Compaction.parquetFootprint(spark, s"$dir/frag")
    assert(filesIn == 64)

    val target = math.max(1L << 16, bytesIn / 4)
    val rep = Compaction.compact(spark, s"$dir/frag", s"$dir/out", target)
    assert(rep.filesIn == 64 && rep.bytesIn == bytesIn)
    // ceil(bytes/target) partitions; empty partitions can drop a file
    val expect = (bytesIn + target - 1) / target
    assert(rep.filesOut <= expect && rep.filesOut >= 1,
      s"expected <= $expect files, got ${rep.filesOut}")
    assert(rep.filesOut < filesIn / 8, "compaction barely reduced file count")

    // physical re-layout only: identical multiset of rows
    val a = docs.orderBy("doc_id").collect()
    val b = spark.read.parquet(s"$dir/out").orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("range-clustered layout: files cover disjoint sort-key ranges") {
    val dir = tmp()
    graft.Tables(spark, sf("sf0.01"), "documents")
      .repartition(32).write.parquet(s"$dir/frag")
    val (_, bytesIn) = Compaction.parquetFootprint(spark, s"$dir/frag")
    Compaction.compact(spark, s"$dir/frag", s"$dir/out",
      math.max(1L << 16, bytesIn / 4), sortCol = Some("doc_id"))
    // per-file [min,max] doc_id ranges must not overlap — that is the
    // property parquet min/max stats prune on
    val ranges = spark.read.parquet(s"$dir/out")
      .select(input_file_name().as("f"), col("doc_id"))
      .groupBy("f").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $hi1 vs $lo2")
      case _ =>
    }
  }

  test("degenerate targets refuse loudly; missing input refuses loudly") {
    val dir = tmp()
    graft.Tables(spark, sf("sf0.001"), "region").write.parquet(s"$dir/r")
    intercept[IllegalArgumentException] {
      // sub-64KiB target would recreate the small-file problem
      Compaction.compact(spark, s"$dir/r", s"$dir/out", 1024)
    }
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, "/nonexistent", s"$dir/out2", 1L << 20)
    }
  }
}
