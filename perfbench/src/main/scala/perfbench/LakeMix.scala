package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

import graft.Tables
import graft.lake.LakeTable
import graft.lake.LakeTable.ColRange

/** The `lake_write_read` workload: a lake table created from a seeded
  * sample of `orders`, then a seeded mix of small appends, keyed merge
  * upserts, merge-on-read range deletes and compactions, interleaved
  * with pruned point/range reads, full-scan aggregates and snapshot
  * reads. Every read is checked against a plain in-memory model of the
  * same write sequence, and the final table against the model's rows.
  */
final class LakeMix(spark: SparkSession, dataDir: String, scratch: String,
                    seed: Long) extends Workload {
  import LakeMix._

  private val root = s"$scratch/lake"
  // the table's live rows; `pool` feeds appends and merge inserts
  private val model = mutable.TreeMap.empty[Long, Rec]
  private var pool: Iterator[Rec] = Iterator.empty
  private var mergeVersion = 0L

  private def frame(rows: Seq[Rec]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.k, r.cust, r.status, r.cents)).asJava, Schema)

  private def liveKeys: IndexedSeq[Long] = model.keysIterator.toIndexedSeq

  override def setup(): Unit = {
    val source = Tables(spark, dataDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        functions.round(col("o_totalprice") * 100).cast("long"))
      .collect().map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_.k).toSeq
    val shuffled = new Random(seed).shuffle(source)
    model ++= shuffled.take(InitialRows).map(r => r.k -> r)
    pool = shuffled.drop(InitialRows).iterator
    LakeTable.create(spark, root, frame(model.values.toSeq), Seq("k"),
      nFiles = 4, clusterBy = Some("k"))
  }

  /** One op of each kind, on the same table: the warm-up's writes are
    * part of the seeded write sequence the model follows.
    */
  def warmup(): Seq[Op] = {
    val rng = new Random(seed + 1)
    Plan.distinct.map(op(_, rng))
  }

  def round(rng: Random): Seq[Op] = Plan.map(op(_, rng))

  val nominalRoundSeconds = 9.0

  override def finish(): Seq[String] = {
    val got = LakeTable.scan(spark, root).collect()
      .map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_.k).toSeq
    val want = model.values.toSeq
    if (got == want) Nil
    else Seq(s"final table: ${got.size} rows vs model ${want.size}, first difference " +
      got.zipAll(want, null, null).find { case (a, b) => a != b })
  }

  override def stats(): Map[String, Any] = {
    val fs = java.nio.file.Paths.get(root)
    def bytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    val logDir = fs.resolve("_log")
    val commits = {
      val s = java.nio.file.Files.list(logDir)
      try s.iterator().asScala.filter(_.getFileName.toString.matches("\\d{20}\\.json")).toSeq
      finally s.close()
    }
    val actions = commits.flatMap(p =>
      java.nio.file.Files.readAllLines(p).asScala)
    val logBytes = bytes(logDir)
    Map("lake_versions" -> commits.size,
      "lake_adds" -> actions.count(_.contains("\"a\":\"add\"")),
      "lake_removes" -> actions.count(_.contains("\"a\":\"rm\"")),
      "lake_log_bytes" -> logBytes,
      "lake_data_bytes" -> (bytes(fs) - logBytes),
      "lake_live_rows" -> model.size)
  }

  private def op(kind: String, rng: Random): Op = kind match {
    case "append"            => new Append
    case "merge"             => new Merge(rng)
    case "delete_mor"        => new DeleteMor(rng)
    case "compact"           => new Compact
    case "snapshot"          => new Snapshot
    case "scan_pruned_point" => new PointRead(rng)
    case "scan_pruned_range" => new RangeRead(rng)
    case "scan_agg"          => new ScanAgg
  }

  private abstract class LakeOp(val key: String, val kind: String) extends Op {
    protected var failure: Option[String] = None
    protected def expect(ok: Boolean, what: => String): Unit =
      if (!ok && failure.isEmpty) failure = Some(s"$key: $what")
    def check(): Option[String] = failure
  }

  private final class Append extends LakeOp("append", "write") {
    private var rows: Seq[Rec] = Nil
    override def prepare(): Unit = rows = pool.take(AppendRows).toSeq
    def run(t: Option[Tracer]): Unit = Tracer.span(t, "LakeTable.append", "lake") {
      LakeTable.append(spark, root, frame(rows), nFiles = 1)
    }
    override def check(): Option[String] = {
      rows.foreach(r => model(r.k) = r)
      super.check()
    }
  }

  private final class Merge(rng: Random) extends LakeOp("merge", "write") {
    private var upserts: Seq[Rec] = Nil
    private var deletes: Seq[Long] = Nil
    private var changes: DataFrame = _
    override def prepare(): Unit = {
      val keys = rng.shuffle(liveKeys).take(MergeUpdates + MergeDeletes)
      upserts = keys.take(MergeUpdates).map { k =>
        val r = model(k); r.copy(cents = r.cents + 1 + rng.nextInt(1000))
      } ++ pool.take(MergeInserts)
      deletes = keys.drop(MergeUpdates)
      mergeVersion += 1
      val v = mergeVersion
      val rows = upserts.map(r => Row(r.k, r.cust, r.status, r.cents, v, "U")) ++
        deletes.map(k => { val r = model(k); Row(k, r.cust, r.status, r.cents, v, "D") })
      changes = spark.createDataFrame(rows.asJava, ChangeSchema)
    }
    def run(t: Option[Tracer]): Unit = Tracer.span(t, "LakeTable.merge", "lake") {
      LakeTable.merge(spark, root, changes, "k")
    }
    override def check(): Option[String] = {
      upserts.foreach(r => model(r.k) = r)
      deletes.foreach(model.remove)
      super.check()
    }
  }

  private final class DeleteMor(rng: Random) extends LakeOp("delete_mor", "write") {
    private var lo, hi = 0L
    override def prepare(): Unit = {
      val keys = liveKeys
      val i = rng.nextInt(math.max(1, keys.size - DeleteSpan))
      lo = keys(i); hi = keys(math.min(keys.size - 1, i + DeleteSpan - 1))
    }
    def run(t: Option[Tracer]): Unit = Tracer.span(t, "LakeTable.deleteWhereMor", "lake") {
      LakeTable.deleteWhereMor(spark, root, Seq(ColRange("k", Some(lo), Some(hi))))
    }
    override def check(): Option[String] = {
      model.range(lo, hi + 1).keys.toSeq.foreach(model.remove)
      super.check()
    }
  }

  private final class Compact extends LakeOp("compact", "write") {
    def run(t: Option[Tracer]): Unit = Tracer.span(t, "LakeTable.compact", "lake") {
      LakeTable.compact(spark, root, CompactSmallBytes, CompactTargetBytes)
    }
  }

  /** Snapshot replay: live rows by the file stats must equal the model. */
  private final class Snapshot extends LakeOp("snapshot", "read") {
    private var files: Seq[graft.lake.LakeLog.Add] = Nil
    def run(t: Option[Tracer]): Unit = files = Tracer.span(t, "LakeTable.snapshot", "lake") {
      LakeTable.snapshot(spark, root)
    }.files
    override def check(): Option[String] = {
      val live = files.map(a => a.stats.rows - a.dv.map(_.rows).getOrElse(0L)).sum
      expect(live == model.size, s"snapshot live rows $live, model ${model.size}")
      super.check()
    }
  }

  /** Stats-pruned point read of a live key (or, one time in four, a
    * key the table does not hold): the row must equal the model's.
    */
  private final class PointRead(rng: Random)
      extends LakeOp("scan_pruned_point", "read") {
    private var k = 0L
    private var got: Seq[Rec] = Nil
    private var report: Option[LakeTable.PruneReport] = None
    override def prepare(): Unit = {
      val keys = liveKeys
      k = if (rng.nextInt(4) == 0) keys(rng.nextInt(keys.size)) + 1 // orderkeys are sparse
          else keys(rng.nextInt(keys.size))
    }
    def run(t: Option[Tracer]): Unit = {
      val (df, r) = Tracer.span(t, "LakeTable.scanPruned", "lake") {
        LakeTable.scanPruned(spark, root, Seq(ColRange("k", Some(k), Some(k))))
      }
      report = Some(r)
      got = Tracer.span(t, "collect", "exec")(df.collect()).toSeq
        .map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    }
    override def check(): Option[String] = {
      expect(got == model.get(k).toSeq, s"key $k read $got, model ${model.get(k)}")
      super.check()
    }
    override def attrs: Map[String, Any] = report.map(r => Map[String, Any](
      "files_read" -> r.filesRead, "files_total" -> r.filesTotal)).getOrElse(Map.empty)
  }

  /** Stats-pruned range aggregate: count and cents sum over a key range. */
  private final class RangeRead(rng: Random)
      extends LakeOp("scan_pruned_range", "read") {
    private var lo, hi = 0L
    private var got: (Long, Long) = (0L, 0L)
    private var report: Option[LakeTable.PruneReport] = None
    override def prepare(): Unit = {
      val keys = liveKeys
      val i = rng.nextInt(math.max(1, keys.size - RangeSpan))
      lo = keys(i); hi = keys(math.min(keys.size - 1, i + RangeSpan - 1))
    }
    def run(t: Option[Tracer]): Unit = {
      val (df, r) = Tracer.span(t, "LakeTable.scanPruned", "lake") {
        LakeTable.scanPruned(spark, root, Seq(ColRange("k", Some(lo), Some(hi))))
      }
      report = Some(r)
      val row = Tracer.span(t, "collect", "exec") {
        df.agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).head()
      }
      got = (row.getLong(0), row.getLong(1))
    }
    override def check(): Option[String] = {
      val m = model.range(lo, hi + 1).values
      val want = (m.size.toLong, m.map(_.cents).sum)
      expect(got == want, s"range [$lo, $hi] read $got, model $want")
      super.check()
    }
    override def attrs: Map[String, Any] = report.map(r => Map[String, Any](
      "files_read" -> r.filesRead, "files_total" -> r.filesTotal)).getOrElse(Map.empty)
  }

  /** Full-scan aggregate: rows and cents per order status. */
  private final class ScanAgg extends LakeOp("scan_agg", "read") {
    private var got: Map[String, (Long, Long)] = Map.empty
    def run(t: Option[Tracer]): Unit = {
      val df = Tracer.span(t, "LakeTable.scan", "lake")(LakeTable.scan(spark, root))
      got = Tracer.span(t, "collect", "exec") {
        df.groupBy("status").agg(count(lit(1)), sum(col("cents"))).collect()
      }.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    override def check(): Option[String] = {
      val want = model.values.groupBy(_.status)
        .map { case (s, rs) => s -> (rs.size.toLong, rs.map(_.cents).sum) }
      expect(got == want, s"status aggregate $got, model $want")
      super.check()
    }
  }
}

object LakeMix {
  final case class Rec(k: Long, cust: Long, status: String, cents: Long)

  import org.apache.spark.sql.types._
  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("cust", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("cents", LongType, nullable = false)))
  val ChangeSchema: StructType = Schema
    .add(StructField("version", LongType, nullable = false))
    .add(StructField("op", StringType, nullable = false))

  val InitialRows = 3000
  val AppendRows = 150
  val MergeUpdates = 80
  val MergeDeletes = 10
  val MergeInserts = 30
  val DeleteSpan = 30
  val RangeSpan = 200
  val CompactSmallBytes: Long = 32L << 10
  val CompactTargetBytes: Long = 256L << 10

  /** One round, in order: 7 commits and 5 reads. The workload exists
    * for the log and commit path, so writes are the majority: the
    * write order of the registry's lake chain (`LakeQueries`: append,
    * then keyed merge, then a range delete) twice, here with the
    * merge-on-read delete, then one compaction per round. Each kind of
    * read runs once between them (point twice), so a commit change
    * that slows reads still shows. The proportions and the row counts
    * above are assumptions: no caller in the repository records a
    * lake traffic mix. The order is fixed and the seed draws every
    * key, range and row, so the log and the file count take the same
    * path in every run; with the warm-up's four commits, the round's
    * sixth commit writes the log's first checkpoint.
    */
  val Plan: Seq[String] = {
    val (p, r, s, a) = ("scan_pruned_point", "scan_pruned_range", "snapshot", "scan_agg")
    Seq("append", p, "merge", r, "delete_mor", s,
      "append", "merge", p, "delete_mor", a, "compact")
  }
}
