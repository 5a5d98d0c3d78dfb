package graft.queries

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSuite, Tables}
import graft.functions.AggFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BucketedTablesSpec extends SparkSuite {

  /** q_bucketed_join's aggregate over the dir's unbucketed tables. */
  private def unbucketed(dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables(spark, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
      AggFunctions.cents(col("l_extendedprice")).as("cents"))
    o.join(l, "o_orderkey").groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_cents"))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("fixture dirs whose paths share a String.hashCode keep their own bucketed tables") {
    val root = tempDir("graft_bkt_spec")
    val aa = root.resolve("Aa").toString
    val bb = root.resolve("BB").toString
    assert(aa.hashCode == bb.hashCode) // the premise: a 32-bit collision
    for ((d, sf) <- Seq(aa -> "sf0.001", bb -> "sf0.01"); t <- Seq("orders", "lineitem")) {
      Files.createDirectories(Paths.get(d))
      Files.copy(Paths.get(this.sf(sf), s"$t.parquet"), Paths.get(d, s"$t.parquet"))
    }
    val q = SparkEntry.queries("q_bucketed_join")
    val (wantA, wantB) = (rows(unbucketed(aa)), rows(unbucketed(bb)))
    assert(wantA != wantB)
    assert(rows(q(spark, aa)) == wantA)
    assert(rows(q(spark, bb)) == wantB)
    assert(rows(q(spark, aa)) == wantA, "the first dir reads the second dir's tables")
  }
}
