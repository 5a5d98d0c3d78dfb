package graft.lake

import scala.collection.mutable
import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Seeded randomized DIFFERENTIAL test of the lake's transactional
  * core: a random chain of append / copy-on-write delete /
  * merge-on-read delete / keyed merge / compact / restore is applied
  * to both the table and an in-memory reference model; after every
  * commit the live scan must equal the model, and random HISTORICAL
  * versions must equal the model state recorded when that version
  * committed. One chain crosses the checkpoint interval, so sharded-
  * checkpoint replay, DV supersession, restore bookkeeping and layout
  * rewrites are all exercised under interleavings no hand-written
  * spec enumerates. Seeds are FIXED — failures reproduce exactly.
  */
class LakeChaosSpec extends SparkSuite {

  private type Model = Map[Long, (Long, String)] // k -> (cents, tag)

  private def toDf(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "cents", "tag")
  }

  private def readBack(root: String, asOf: Option[Long]): Model =
    LakeTable.scanAsOf(spark, root, asOf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap

  private def runChain(seed: Int, ops: Int): Unit = {
    val rnd = new Random(seed)
    val root = tempDir(s"graft_chaos_$seed")
      .toString + "/t"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)

    var model: Model = (0L until 60L).map(k =>
      k -> (k * 100, s"t$k")).toMap
    LakeTable.create(spark, root,
      toDf(model.toSeq.map { case (k, (c, t)) => (k, c, t) }),
      Seq("k"), nFiles = 4, clusterBy = Some("k"))
    val history = mutable.Map[Long, Model]()
    var nextKey = 60L
    def version: Long = LakeLog.latestVersion(f, rootP).get
    history(version) = model

    // authoritative time-travel floor, read back from the marker the
    // vacuum op records (0 while no vacuum has broken history)
    var floor = 0L
    (1 to ops).foreach { i =>
      val op = rnd.nextInt(11)
      op match {
        case 0 | 1 | 2 => // append fresh keys
          val n = 5 + rnd.nextInt(20)
          val batch = (nextKey until nextKey + n).map(k =>
            (k, k * 100 + rnd.nextInt(50), s"a$i"))
          nextKey += n
          LakeTable.append(spark, root, toDf(batch),
            nFiles = 1 + rnd.nextInt(3))
          model = model ++ batch.map { case (k, c, t) => k -> (c, t) }
        case 3 => // copy-on-write range delete
          val lo = rnd.nextLong(nextKey)
          val hi = math.min(nextKey, lo + 1 + rnd.nextInt(40))
          LakeTable.deleteWhere(spark, root,
            Seq(LakeTable.ColRange("k", Some(lo), Some(hi))))
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
        case 4 => // merge-on-read delete (deletion vectors)
          val lo = rnd.nextLong(nextKey)
          val hi = math.min(nextKey, lo + 1 + rnd.nextInt(25))
          LakeTable.deleteWhereMor(spark, root,
            Seq(LakeTable.ColRange("k", Some(lo), Some(hi))))
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
        case 5 | 6 => // keyed merge: upserts over existing + new, deletes
          val existing = model.keys.toSeq.sorted
          val ups = rnd.shuffle(existing).take(1 + rnd.nextInt(10))
            .map(k => (k, k * 100 + 1000 + i, s"u$i", 1L, "U"))
          val ins = (nextKey until nextKey + 1 + rnd.nextInt(5))
            .map(k => (k, k * 100, s"i$i", 1L, "U"))
          nextKey += ins.size
          val dels = rnd.shuffle(existing).take(rnd.nextInt(5))
            .filterNot(k => ups.exists(_._1 == k))
            .map(k => (k, 0L, "", 1L, "D"))
          val changes = ups ++ ins ++ dels
          if (changes.nonEmpty) {
            import spark.implicits._
            LakeTable.merge(spark, root,
              changes.toDF("k", "cents", "tag", "version", "op"), "k")
            model = model --
              dels.map(_._1) ++
              (ups ++ ins).map { case (k, c, t, _, _) => k -> (c, t) }
          }
        case 7 => // compact small files
          LakeTable.compact(spark, root, smallBytes = 1L << 20,
            targetBytes = 4L << 20)
        case 8 => // restore to a random surviving earlier version
          val vs = history.keys.toSeq.sorted
          val target = vs(rnd.nextInt(vs.size))
          if (target < version) {
            if (target < floor) {
              // the target's files may be vacuumed — the restore must
              // refuse at resolution with the floor, changing nothing
              val ex = intercept[IllegalStateException] {
                LakeTable.restore(spark, root, target)
              }
              assert(ex.getMessage.contains("vacuum floor"),
                s"seed=$seed op#$i: sub-floor restore must name the " +
                  s"floor, got ${ex.getMessage}")
            } else {
              LakeTable.restore(spark, root, target)
              model = history(target)
            }
          }
        case 9 => // overwrite with a model-derived subset (content reset)
          val keep = model.toSeq.sortBy(_._1)
            .take(math.max(1, model.size / 2))
          LakeTable.overwrite(spark, root,
            toDf(keep.map { case (k, (c, t)) => (k, c, t) }))
          model = keep.toMap
        case 10 => // vacuum to a random historical floor (retention 0)
          val vs = history.keys.toSeq.sorted
          val keep = vs(rnd.nextInt(vs.size))
          LakeTable.vacuum(spark, root, keepFromVersion = keep,
            retentionMs = 0L)
          // the marker is authoritative: it only advances when the
          // run deleted a file some pre-floor version references
          floor = LakeLog.vacuumFloor(f, rootP).map(_._1).getOrElse(floor)
      }
      history(version) = model
      val got = readBack(root, None)
      assert(got == model,
        s"seed=$seed op#$i (kind $op): live scan diverged — " +
          s"missing=${(model.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- model.keySet).take(5)} " +
          s"changed=${model.keySet.intersect(got.keySet)
            .filter(k => model(k) != got(k)).take(5)}")
      if (i % 5 == 0) {
        // a random HISTORICAL version must replay to the state
        // recorded when it committed (snapshot isolation across every
        // interleaving of rewrites, DVs, restores, vacuums and
        // checkpoints) — or, below the recorded vacuum floor, refuse
        // AT RESOLUTION with the floor (never partial rows)
        val vs = history.keys.toSeq.sorted
        val v = vs(rnd.nextInt(vs.size))
        if (v < floor) {
          val ex = intercept[IllegalStateException] {
            readBack(root, Some(v))
          }
          assert(ex.getMessage.contains("vacuum floor"),
            s"seed=$seed op#$i: sub-floor time travel must name the " +
              s"floor, got ${ex.getMessage}")
        } else assert(readBack(root, Some(v)) == history(v),
          s"seed=$seed op#$i: time travel to v$v diverged (floor=$floor)")
      }
    }
    assert(version > LakeLog.checkpointInterval,
      "the chain must cross a checkpoint boundary")
  }

  test("random op chains match the reference model (seed 1)") {
    runChain(seed = 1, ops = 24)
  }
  test("random op chains match the reference model (seed 2)") {
    runChain(seed = 2, ops = 24)
  }
  test("random op chains match the reference model (seed 3)") {
    runChain(seed = 3, ops = 24)
  }

  // ---- column-semantics chaos ----------------------------------------

  /** Per-version state of the semantics chain: the row model (d is
    * None while the column does not exist), whether the DEFAULT column
    * exists at this version, and its CURRENT default (what omitting
    * appends fill).
    */
  private case class SemState(rows: Map[Long, (Long, String, Option[Long])],
                              dPresent: Boolean, curDefault: Long)

  /** Randomized differential chain over a table carrying ALL THREE
    * column-semantics kinds — an ALWAYS IDENTITY id, a GENERATED
    * `g = cents % 97`, and a mid-chain `ADD COLUMN d DEFAULT 7` —
    * interleaved with appends (omitting / supplying d), keyed merges,
    * CoW + MOR deletes, SET DEFAULT, compaction and RESTORE (which
    * must revert the column AND its spec while keeping the identity
    * watermark). After every commit: live rows equal the model,
    * `g` recomputes from cents, ids are unique non-null; historical
    * versions replay with the schema they committed under.
    */
  private def runSemChain(seed: Int, ops: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val root = tempDir(s"graft_chaos_sem_$seed")
      .toString + "/t"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)

    def df3(rows: Seq[(Long, Long, String)]) =
      rows.toDF("k", "cents", "tag")
    def df4(rows: Seq[(Long, Long, String, Long)]) =
      rows.toDF("k", "cents", "tag", "d")

    LakeTable.create(spark, root,
      Seq.empty[(Long, Long, Long, String, Long)]
        .toDF("id", "k", "cents", "tag", "g"),
      Seq("k"), nFiles = 2,
      colSpecs = Seq(
        LakeLog.ColSpec("id", LakeColumns.KindIdentity,
          Map("start" -> "1", "step" -> "1", "allowExplicit" -> "false")),
        LakeLog.ColSpec("g", LakeColumns.KindGenerated,
          Map("expr" -> "cents % 97"))))
    var st = SemState(Map.empty, dPresent = false, curDefault = 7L)
    var everAdded = false
    var nextKey = 0L
    def version: Long = LakeLog.latestVersion(f, rootP).get
    val history = mutable.Map[Long, SemState](version -> st)

    def freshRows(i: Int, n: Int): Seq[(Long, Long, String)] = {
      val out = (nextKey until nextKey + n).map(k =>
        (k, k * 100 + rnd.nextInt(50), s"a$i"))
      nextKey += n
      out
    }
    def check(tag: String, asOf: Option[Long], want: SemState): Unit = {
      val base = LakeTable.scanAsOf(spark, root, asOf)
      val cols = Seq("k", "cents", "tag") ++
        (if (want.dPresent) Seq("d") else Nil)
      val got = base.select(cols.map(col): _*).collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getString(2),
          if (want.dPresent) Option(r.get(3)).map(_ => r.getLong(3))
          else None)
      }.toMap
      assert(got == want.rows, s"seed=$seed $tag: rows diverged — " +
        s"missing=${(want.rows.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.rows.keySet).take(5)} " +
        s"changed=${want.rows.keySet.intersect(got.keySet)
          .filter(k => want.rows(k) != got(k)).take(5)}")
      val meta = base.select("id", "cents", "g").collect()
      assert(meta.forall(r => !r.isNullAt(0)), s"seed=$seed $tag: null id")
      assert(meta.map(_.getLong(0)).distinct.length == meta.length,
        s"seed=$seed $tag: identity ids must stay unique")
      assert(meta.forall(r => r.getLong(2) == r.getLong(1) % 97),
        s"seed=$seed $tag: generated g must equal cents % 97")
    }

    (1 to ops).foreach { i =>
      val op = rnd.nextInt(10)
      op match {
        case 0 | 1 => // append omitting id/g (and d: current default)
          val batch = freshRows(i, 5 + rnd.nextInt(15))
          LakeTable.append(spark, root, df3(batch),
            nFiles = 1 + rnd.nextInt(2))
          st = st.copy(rows = st.rows ++ batch.map { case (k, c, t) =>
            k -> (c, t, if (st.dPresent) Some(st.curDefault) else None) })
        case 2 => // append SUPPLYING d explicitly (plain column then)
          val batch = freshRows(i, 3 + rnd.nextInt(8))
          if (st.dPresent) {
            val withD = batch.map { case (k, c, t) => (k, c, t, k + 500) }
            LakeTable.append(spark, root, df4(withD), nFiles = 1)
            st = st.copy(rows = st.rows ++ withD.map {
              case (k, c, t, d) => k -> (c, t, Some(d)) })
          } else {
            LakeTable.append(spark, root, df3(batch), nFiles = 1)
            st = st.copy(rows = st.rows ++ batch.map { case (k, c, t) =>
              k -> (c, t, None) })
          }
        case 3 => // copy-on-write range delete
          val lo = rnd.nextLong(math.max(1L, nextKey))
          val hi = math.min(nextKey, lo + 1 + rnd.nextInt(30))
          LakeTable.deleteWhere(spark, root,
            Seq(LakeTable.ColRange("k", Some(lo), Some(hi))))
          st = st.copy(rows = st.rows.filterNot { case (k, _) =>
            k >= lo && k <= hi })
        case 4 => // merge-on-read delete (deletion vectors)
          val lo = rnd.nextLong(math.max(1L, nextKey))
          val hi = math.min(nextKey, lo + 1 + rnd.nextInt(20))
          LakeTable.deleteWhereMor(spark, root,
            Seq(LakeTable.ColRange("k", Some(lo), Some(hi))))
          st = st.copy(rows = st.rows.filterNot { case (k, _) =>
            k >= lo && k <= hi })
        case 5 => // keyed merge: updates recompute g, inserts allocate
          val existing = st.rows.keys.toSeq.sorted
          val ups = rnd.shuffle(existing).take(1 + rnd.nextInt(8))
            .map(k => (k, k * 100 + 1000 + i, s"u$i"))
          val ins = freshRows(i, 1 + rnd.nextInt(4))
          val dels = rnd.shuffle(existing).take(rnd.nextInt(4))
            .filterNot(k => ups.exists(_._1 == k))
          // the changelog merge contract carries EVERY table column:
          // id/g ride as nulls (ids allocate for inserts, g recomputes
          // in the rewrite); d is explicit while it exists (the
          // chain's omission coverage lives on the append ops)
          val nid = Option.empty[Long]
          if (st.dPresent) {
            val changes =
              (ups ++ ins).map { case (k, c, t) =>
                (nid, k, c, t, nid, Some(k + 900), 1L, "U") } ++
                dels.map(k => (nid, k, 0L, "", nid, nid, 1L, "D"))
            LakeTable.merge(spark, root,
              changes.toDF("id", "k", "cents", "tag", "g", "d",
                "version", "op"), "k")
            st = st.copy(rows = st.rows -- dels ++
              (ups ++ ins).map { case (k, c, t) =>
                k -> (c, t, Some(k + 900)) })
          } else {
            val changes =
              (ups ++ ins).map { case (k, c, t) =>
                (nid, k, c, t, nid, 1L, "U") } ++
                dels.map(k => (nid, k, 0L, "", nid, 1L, "D"))
            LakeTable.merge(spark, root,
              changes.toDF("id", "k", "cents", "tag", "g",
                "version", "op"), "k")
            st = st.copy(rows = st.rows -- dels ++
              (ups ++ ins).map { case (k, c, t) => k -> (c, t, None) })
          }
        case 6 => // ADD COLUMN d DEFAULT 7: metadata-only backfill of
          // every existing row (exists default), once per chain
          if (!everAdded) {
            LakeTable.addColumns(spark, root,
              Seq(org.apache.spark.sql.types.StructField("d",
                org.apache.spark.sql.types.LongType)),
              Seq(LakeLog.ColSpec("d", LakeColumns.KindDefault,
                Map("current" -> "7", "exists" -> "7"))))
            everAdded = true
            st = SemState(st.rows.map { case (k, (c, t, _)) =>
              k -> (c, t, Some(7L)) }, dPresent = true, curDefault = 7L)
          } else { // chain continues with a plain append
            val batch = freshRows(i, 3)
            LakeTable.append(spark, root, df3(batch), nFiles = 1)
            st = st.copy(rows = st.rows ++ batch.map { case (k, c, t) =>
              k -> (c, t, if (st.dPresent) Some(st.curDefault) else None) })
          }
        case 7 => // SET DEFAULT: future omissions change, history stays
          if (st.dPresent) {
            LakeTable.setColumnDefault(spark, root, "d",
              Some((100L + i).toString))
            st = st.copy(curDefault = 100L + i)
          } else {
            val batch = freshRows(i, 3)
            LakeTable.append(spark, root, df3(batch), nFiles = 1)
            st = st.copy(rows = st.rows ++ batch.map { case (k, c, t) =>
              k -> (c, t, None) })
          }
        case 8 => // restore: content AND column/spec revert, hwm kept
          val vs = history.keys.toSeq.sorted
          val target = vs(rnd.nextInt(vs.size))
          if (target < version) {
            LakeTable.restore(spark, root, target)
            st = history(target)
          }
        case 9 => // compact (materializes exists defaults into files —
          // values must read back unchanged)
          LakeTable.compact(spark, root, smallBytes = 1L << 20,
            targetBytes = 4L << 20)
      }
      history(version) = st
      check(s"op#$i (kind $op)", None, st)
      if (i % 5 == 0) {
        val vs = history.keys.toSeq.sorted
        val v = vs(rnd.nextInt(vs.size))
        check(s"op#$i time-travel v$v", Some(v), history(v))
      }
    }
    assert(version > LakeLog.checkpointInterval,
      "the chain must cross a checkpoint boundary")
  }

  test("column-semantics chains match the reference model (seed 11)") {
    runSemChain(seed = 11, ops = 24)
  }
  test("column-semantics chains match the reference model (seed 12)") {
    runSemChain(seed = 12, ops = 24)
  }

  // ---- generated-partition + dynamic-overwrite chaos -----------------

  /** Randomized chain over a GENERATED-partition table (`p` computed
    * from `k`, hive layout) mixing appends that omit the partition
    * column, DYNAMIC partition overwrites (replace exactly the
    * computed batch's partitions), CoW deletes, full overwrites and
    * RESTORE — model-equal at every version, partition value always
    * re-derivable from k.
    */
  private def runPartChain(seed: Int, ops: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val root = tempDir(s"graft_chaos_part_$seed")
      .toString + "/t"
    val rootP = new org.apache.hadoop.fs.Path(root)
    val f = LakeLog.fileSystem(rootP,
      spark.sparkContext.hadoopConfiguration)

    def pOf(k: Long): String = (k % 3) match {
      case 0 => "a"; case 1 => "b"; case _ => "c"
    }
    def df2(rows: Seq[(Long, Long)]) = rows.toDF("k", "cents")

    LakeTable.create(spark, root,
      Seq.empty[(Long, Long, String)].toDF("k", "cents", "p"),
      Seq("k"), nFiles = 1, partitionBy = Seq("p"),
      colSpecs = Seq(LakeLog.ColSpec("p", LakeColumns.KindGenerated,
        Map("expr" ->
          ("CASE WHEN k % 3 = 0 THEN 'a' " +
            "WHEN k % 3 = 1 THEN 'b' ELSE 'c' END")))))
    var model: Map[Long, Long] = Map.empty
    var nextKey = 0L
    def version: Long = LakeLog.latestVersion(f, rootP).get
    val history = mutable.Map[Long, Map[Long, Long]](version -> model)

    def fresh(n: Int): Seq[(Long, Long)] = {
      val out = (nextKey until nextKey + n).map(k =>
        (k, k * 10 + rnd.nextInt(9)))
      nextKey += n
      out
    }
    def check(tag: String, asOf: Option[Long],
              want: Map[Long, Long]): Unit = {
      val got = LakeTable.scanAsOf(spark, root, asOf)
        .select("k", "cents", "p").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(got.map(t => t._1 -> t._2).toMap == want,
        s"seed=$seed $tag: rows diverged " +
          s"(got ${got.length}, want ${want.size})")
      assert(got.forall(t => t._3 == pOf(t._1)),
        s"seed=$seed $tag: injected partition value must equal f(k)")
    }

    (1 to ops).foreach { i =>
      val op = rnd.nextInt(8)
      op match {
        case 0 | 1 | 2 => // append, partition column computed in-write
          val batch = fresh(4 + rnd.nextInt(12))
          LakeTable.append(spark, root, df2(batch),
            nFiles = 1 + rnd.nextInt(2))
          model = model ++ batch
        case 3 | 4 => // DYNAMIC overwrite of the batch's partitions
          val targets = rnd.shuffle(Seq(0L, 1L, 2L))
            .take(1 + rnd.nextInt(2)).toSet
          // fresh keys that land exactly in the target partitions
          val batch = fresh(9 + rnd.nextInt(9))
            .filter { case (k, _) => targets.contains(k % 3) }
          if (batch.nonEmpty) {
            LakeTable.dynamicOverwrite(spark, root, df2(batch))
            val touched = batch.map(_._1 % 3).toSet
            model = model.filterNot { case (k, _) =>
              touched.contains(k % 3) } ++ batch
          }
        case 5 => // copy-on-write delete inside partitions
          val lo = rnd.nextLong(math.max(1L, nextKey))
          val hi = math.min(nextKey, lo + 1 + rnd.nextInt(20))
          LakeTable.deleteWhere(spark, root,
            Seq(LakeTable.ColRange("k", Some(lo), Some(hi))))
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
        case 6 => // restore to a surviving earlier version
          val vs = history.keys.toSeq.sorted
          val target = vs(rnd.nextInt(vs.size))
          if (target < version) {
            LakeTable.restore(spark, root, target)
            model = history(target)
          }
        case 7 => // full overwrite (authoritative content reset)
          val keep = model.toSeq.sortBy(_._1)
            .take(math.max(1, model.size / 2))
          LakeTable.overwrite(spark, root, df2(keep))
          model = keep.toMap
      }
      history(version) = model
      check(s"op#$i (kind $op)", None, model)
      if (i % 5 == 0) {
        val vs = history.keys.toSeq.sorted
        val v = vs(rnd.nextInt(vs.size))
        check(s"op#$i time-travel v$v", Some(v), history(v))
      }
    }
    assert(version > LakeLog.checkpointInterval,
      "the chain must cross a checkpoint boundary")
  }

  test("generated-partition + dynamic-overwrite chains match the " +
      "reference model (seed 21)") {
    runPartChain(seed = 21, ops = 24)
  }
  test("generated-partition + dynamic-overwrite chains match the " +
      "reference model (seed 22)") {
    runPartChain(seed = 22, ops = 24)
  }
}
