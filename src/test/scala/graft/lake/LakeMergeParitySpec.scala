package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSuite

/** A keyed merge equals a plain latest-wins model of its changelog for
  * every key type the candidate stab serves (BIGINT, DOUBLE, STRING),
  * and rewrites exactly the files whose [min, max] key range holds some
  * non-NULL changelog key. Each case covers duplicate versions, a U/D
  * version tie, NULL keys and keys outside every file's range; the
  * all-delete and empty changelogs run on their own.
  */
class LakeMergeParitySpec extends SparkSuite {

  /** One key type: the key written for index `i`, and the order its
    * stats compare in (the keys below are ASCII, so for strings Java's
    * order is the stats' UTF-8 byte order).
    */
  private final case class KeyType(sql: DataType, of: Int => Any,
                                   ord: Ordering[Any])

  private val keyTypes = Seq(
    KeyType(LongType, _.toLong, Ordering.Long.on[Any](_.asInstanceOf[Long])),
    KeyType(DoubleType, _ + 0.5,
      Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])),
    KeyType(StringType, i => f"k$i%04d",
      Ordering.String.on[Any](_.asInstanceOf[String])))

  /** (key, value, version, op) */
  private type Change = (Any, String, Long, String)

  /** Keys 0, 10, ..., 390 and one NULL key, in 4 key-clustered files. */
  private def baseRows(kt: KeyType): Seq[(Any, String)] =
    (0 until 40).map(i => kt.of(i * 10) -> s"b${i * 10}") :+ ((null: Any) -> "bnull")

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def tableSchema(kt: KeyType): StructType =
    StructType(Seq(StructField("k", kt.sql), StructField("v", StringType)))

  /** Latest-wins per key (highest version, a tie goes to 'D'); the NULL
    * key matches no row, so its winning upsert is an insert.
    */
  private def model(base: Seq[(Any, String)],
                    changes: Seq[Change]): Seq[(Any, String)] = {
    val winners = changes.groupBy(_._1).values
      .map(_.maxBy(c => (c._3, c._4 == "D"))).toSeq
    val changed = changes.map(_._1).filter(_ != null).toSet
    base.filterNot(r => r._1 != null && changed(r._1)) ++
      winners.filter(_._4 != "D").map(c => c._1 -> c._2)
  }

  private def sorted(rows: Seq[(Any, String)]): Seq[String] =
    rows.map { case (k, v) => s"$k|$v" }.sorted

  /** Merge `changes` into a fresh base table of type `kt`; check the
    * rows against the model and the report against the stab rule.
    */
  private def check(kt: KeyType, changes: Seq[Change]): Unit = {
    val root = tempDir("lake_merge_parity").resolve("tbl").toString
    val base = baseRows(kt)
    LakeTable.create(spark, root,
      frame(base.map { case (k, v) => Row(k, v) }, tableSchema(kt)),
      Seq("k"), nFiles = 4, clusterBy = Some("k"))
    val rootP = new Path(root)
    val before = LakeLog.snapshot(
      LakeLog.fileSystem(rootP, spark.sparkContext.hadoopConfiguration),
      rootP, None)
    val keys = changes.map(_._1).filter(_ != null)
    val stabbed = before.files.count { a =>
      val (lo, hi) = (a.stats.min("k"), a.stats.max("k"))
      keys.exists(k => kt.ord.lteq(lo, k) && kt.ord.lteq(k, hi))
    }
    val changesSchema = tableSchema(kt)
      .add("version", LongType).add("op", StringType)
    val rep = LakeTable.merge(spark, root,
      frame(changes.map(c => Row(c._1, c._2, c._3, c._4)), changesSchema), "k")
    val got = LakeTable.scan(spark, root).collect()
      .map(r => r.get(0) -> r.getString(1)).toSeq
    assert(sorted(got) == sorted(model(base, changes)), s"${kt.sql}: rows")
    assert(rep.filesRewritten == stabbed &&
      rep.filesUntouched == before.files.size - stabbed,
      s"${kt.sql}: $rep, $stabbed of ${before.files.size} files stabbed")
    if (changes.isEmpty)
      assert(rep == LakeTable.RewriteReport(before.version, 0, 0,
        before.files.size), s"${kt.sql}: an empty changelog commits nothing")
  }

  test("DOUBLE key: -0.0 replaces the row keyed 0.0, as the join ties them") {
    val root = tempDir("lake_merge_parity").resolve("tbl").toString
    val schema = tableSchema(keyTypes(1))
    LakeTable.create(spark, root,
      frame(Seq(Row(0.0, "zero"), Row(1.0, "one"), Row(2.0, "two")), schema),
      Seq("k"), nFiles = 1)
    LakeTable.merge(spark, root, frame(Seq(Row(-0.0, "neg", 1L, "U")),
      schema.add("version", LongType).add("op", StringType)), "k")
    assert(LakeTable.scan(spark, root).collect().map(_.getString(1)).sorted
      .toSeq == Seq("neg", "one", "two"))
  }

  for (kt <- keyTypes) {
    val k = kt.of
    test(s"${kt.sql.sql} key: merge equals latest-wins, rewrites stabbed files") {
      check(kt, Seq(
        (k(20), "a1", 1L, "U"), (k(20), "a3", 3L, "U"), (k(20), "a2", 2L, "U"),
        (k(150), "tie", 5L, "U"), (k(150), "tie", 5L, "D"),
        (k(310), "gone", 1L, "D"), (k(310), "back", 2L, "U"),
        (null, "n1", 1L, "U"), (null, "n2", 2L, "U"),
        (k(-1), "below", 1L, "U"),
        (k(1000), "above", 1L, "U"), (k(1001), "absent", 1L, "D")))
    }

    test(s"${kt.sql.sql} key: an all-delete changelog") {
      check(kt, Seq((k(30), "x", 1L, "D"), (k(40), "x", 1L, "D"),
        (k(40), "x", 2L, "D"), (k(1000), "x", 1L, "D"), (null, "x", 1L, "D")))
    }

    test(s"${kt.sql.sql} key: an empty changelog is a no-op") {
      check(kt, Nil)
    }
  }
}
