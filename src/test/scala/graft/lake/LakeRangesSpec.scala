package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable,
  LogicalPlan}
import org.apache.spark.sql.execution.CommandExecutionMode
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.ExtensionsTestShim

/** Which predicates become lake ranges, exactly or widened: one
  * translator decides for the DELETE router, `SupportsDelete`,
  * REPLACE WHERE and OPTIMIZE WHERE, so a DELETE runs metadata-only
  * exactly when the catalog can serve it, whatever form the analyzer
  * gave its literals.
  */
class LakeRangesSpec extends SparkSuite {

  private val cat = "rlake"
  private lazy val warehouse = {
    val w = tempDir("graft_ranges").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE $cat.r")
    w
  }

  private def sql(q: String) = { warehouse; spark.sql(q) }

  private var tables = 0

  /** 100 keyed rows (`k` 0..99, `id` = k) plus two with a NULL `id`
    * (`k` 100, 101), appended in `inserts` commits of 4 clustered
    * files each.
    */
  private def freshTable(inserts: Int = 1): String = {
    tables += 1
    val t = s"$cat.r.t$tables"
    sql(s"CREATE TABLE $t (k BIGINT, id BIGINT, v DOUBLE, name STRING, " +
      "d DATE, ts TIMESTAMP) TBLPROPERTIES (clusterBy = 'k')")
    val cuts = (0 to inserts).map(_ * 102 / inserts)
    cuts.zip(cuts.tail).foreach { case (lo, hi) =>
      sql(s"INSERT INTO $t SELECT id, CASE WHEN id < 100 THEN id END, " +
        "id * 1.0, concat('n_', id), " +
        "date_add(DATE'2024-01-01', CAST(id AS INT)), " +
        "timestamp_micros(1704067200000000 + id * 3600000000) " +
        s"FROM range($lo, $hi)")
    }
    t
  }

  private def keys(t: String): Seq[Long] =
    sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).sorted.toSeq

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def analyzed(q: String): LogicalPlan = {
    warehouse
    spark.sessionState.executePlan(spark.sessionState.sqlParser
      .parsePlan(q), CommandExecutionMode.SKIP).analyzed
  }

  /** Does `canDeleteWhere` accept the filters the optimizer hands a
    * metadata DELETE of `cond`? Optimizes the condition under a
    * `DeleteFromTable` over the table's relation, as Spark's planner
    * sees it, and translates each conjunct to a source filter.
    */
  private def acceptedBySupportsDelete(t: String,
                                       cond: Expression): Boolean = {
    val rel = analyzed(s"DELETE FROM $t").collectFirst {
      case r: DataSourceV2Relation => r
    }.get
    val bound = cond.transform {
      case a: AttributeReference => rel.output.find(_.name == a.name).get
    }
    val opt = spark.sessionState.optimizer
      .execute(DeleteFromTable(rel, bound)).collectFirst {
        case d: DeleteFromTable => d.condition
      }.get
    val filters = conjuncts(opt).map(ExtensionsTestShim.translateFilter)
    filters.forall(_.isDefined) &&
      rel.table.asInstanceOf[LakeTableV2]
        .canDeleteWhere(filters.flatten.toArray)
  }

  /** Keys whose non-NULL `id` satisfies `p`. */
  private def onId(p: Long => Boolean): Long => Boolean = k => k < 100 && p(k)

  // (predicate, metadata-only?, keys it deletes)
  private val deletes: Seq[(String, Boolean, Long => Boolean)] = Seq(
    ("id > 47", true, onId(_ > 47)),
    ("id BETWEEN 10 AND 19", true, onId(k => k >= 10 && k <= 19)),
    ("id = 5", true, onId(_ == 5)),
    ("5 < id", true, onId(_ > 5)),
    ("v >= 70.0", true, _ >= 70),
    ("id <=> 7", true, onId(_ == 7)),
    ("id >= 90L", true, onId(_ >= 90)),
    ("name = 'n_3'", true, _ == 3),
    ("id IS NOT NULL AND id >= 95", true, onId(_ >= 95)),
    ("id % 10 = 5", false, onId(_ % 10 == 5)),
    ("id < 5 OR id > 95", false, onId(k => k < 5 || k > 95)),
    ("v > 70.0", false, _ > 70),
    ("id IS NOT NULL", false, onId(_ => true)),
    ("d >= DATE'2024-03-01'", false, _ >= 60),
    ("ts < TIMESTAMP'2024-01-01 03:00:00'", false, _ < 3),
    ("id > 9223372036854775807", false, _ => false),
    ("id < -9223372036854775808", false, _ => false),
    ("id = NULL", false, _ => false),
    ("id <=> NULL", false, _ >= 100))

  deletes.foreach { case (pred, metadataOnly, deleted) =>
    test(s"DELETE WHERE $pred: routed to the range path iff " +
        "SupportsDelete accepts it, and deletes exactly its rows") {
      val t = freshTable()
      val plan = analyzed(s"DELETE FROM $t WHERE $pred")
      val cond = plan match {
        case d: DeleteFromTable => d.condition
        case c: LakeDeleteCommand => c.condition
        case other => fail(s"unexpected DELETE plan: $other")
      }
      val routed = plan.isInstanceOf[DeleteFromTable]
      assert(routed == acceptedBySupportsDelete(t, cond),
        s"router and canDeleteWhere disagree on `$pred` ($cond)")
      assert(routed == metadataOnly,
        s"`$pred` routed to the range path: $routed")
      sql(s"DELETE FROM $t WHERE $pred")
      assert(keys(t) == (0L until 102L).filterNot(deleted))
    }
  }

  private def dataFiles(t: String): Int =
    sql(s"DESCRIBE DETAIL $t").head().getAs[Long]("num_files").toInt

  test("OPTIMIZE WHERE with a NULL literal refuses and rewrites nothing") {
    val t = freshTable(inserts = 4)
    assert(dataFiles(t) == 16)
    val e = intercept[IllegalArgumentException] {
      sql(s"OPTIMIZE $t WHERE id = NULL")
    }
    assert(e.getMessage.contains("OPTIMIZE WHERE"))
    assert(dataFiles(t) == 16)
  }

  test("OPTIMIZE WHERE 5 < id selects the same files as WHERE id > 5") {
    val a = freshTable(inserts = 4)
    val b = freshTable(inserts = 4)
    val flipped = sql(s"OPTIMIZE $a WHERE 5 < id").head()
    val plain = sql(s"OPTIMIZE $b WHERE id > 5").head()
    assert(flipped == plain)
    assert(plain.getAs[Long]("files_rewritten") > 1, plain)
    assert(keys(a) == (0L until 102L) && keys(b) == (0L until 102L))
  }
}
