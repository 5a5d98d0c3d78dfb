package graft.queries

import graft.Tables
import graft.lake.{LakeSink, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated queries for the [[graft.lake]] transactional table
  * format. Each query reads a lake whose FULL maintenance chain —
  * create, append, MERGE, copy-on-write delete, compaction, vacuum,
  * exactly-once sink replay — was applied up front from deterministic
  * key arithmetic over the `orders` fixture; the DuckDB oracles
  * recompute the same end state directly from the parquet with plain
  * SQL. Equality therefore certifies the log replay, snapshot
  * isolation, stats-pruned rewrites and idempotent sink TOGETHER,
  * end-to-end, not just per-op in unit tests. The chains are
  * [[PerFixture]] artifacts; the replays build fresh tables per run.
  */
object LakeQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Registers lake catalog `<prefix>_<hash of dir>` over `warehouse`
    * and creates its `core` namespace; returns the catalog name.
    */
  private def catalog(s: SparkSession, prefix: String, dir: String,
                      warehouse: String): String = {
    val cat = s"${prefix}_${PerFixture.hash(dir)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    s.sql(s"CREATE NAMESPACE $cat.core")
    cat
  }

  /** Seed: orders keys < 4000 as (o_orderkey, o_custkey,
    * o_orderstatus, o_cents) — money in exact integer cents.
    */
  private def seed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").where(col("o_orderkey") < 4000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("o_cents"))

  /** Main chain: v0 create(even keys, clustered by key) → v1
    * append(odd keys) → v2 merge(upsert k%7, delete k%13 — version
    * ties favor D — plus 50 fresh inserts) → v3 delete keys
    * [1000,1999] → v4 compact into 3 clustered files.
    */
  private[graft] def chainFor(s: SparkSession, dir: String): String =
    PerFixture("chain", dir) { root =>
      val sd = seed(s, dir)
      LakeTable.create(s, root, sd.where(col("o_orderkey") % 2 === 0),
        Seq("o_orderkey"), nFiles = 8, clusterBy = Some("o_orderkey"))
      LakeTable.append(s, root, sd.where(col("o_orderkey") % 2 === 1),
        nFiles = 8)
      val ups = sd.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_cents", col("o_cents") + 7)
        .withColumn("version", lit(1L)).withColumn("op", lit("U"))
      val dels = sd.where(col("o_orderkey") % 13 === 0)
        .withColumn("version", lit(2L)).withColumn("op", lit("D"))
      val ins = s.range(50).select(
        (col("id") + 4000).as("o_orderkey"),
        ((col("id") + 4000) % 100).as("o_custkey"),
        lit("N").as("o_orderstatus"),
        ((col("id") + 4000) * 3).as("o_cents"),
        lit(1L).as("version"), lit("U").as("op"))
      LakeTable.merge(s, root, ups.unionByName(dels).unionByName(ins),
        "o_orderkey")
      LakeTable.deleteWhere(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(1000L), Some(1999L))))
      val liveBytes = LakeTable.snapshot(s, root).files.map(_.stats.bytes).sum
      LakeTable.compact(s, root, smallBytes = Long.MaxValue,
        targetBytes = math.max(1L, liveBytes / 3))
      root
    }

  /** Sink chain: exactly-once streaming appends — batch 0, a REPLAY
    * of batch 0 (must be skipped), batch 1 — then compaction and a
    * vacuum that retains only the compacted version, so the final
    * read also proves vacuum deleted nothing live.
    */
  private def sinkFor(s: SparkSession, dir: String): String =
    PerFixture("sink", dir) { root =>
      val sd = seed(s, dir)
      LakeTable.create(s, root, sd.where(col("o_orderkey") < 0),
        Seq("o_orderkey"), nFiles = 1)
      val b0 = sd.where(col("o_orderkey") < 500)
      val b1 = sd.where(col("o_orderkey") >= 500 && col("o_orderkey") < 1000)
      LakeSink.addBatch(root, "lakeq", 0L, b0)
      LakeSink.addBatch(root, "lakeq", 0L, b0) // recovery replay: no-op
      LakeSink.addBatch(root, "lakeq", 1L, b1)
      LakeTable.compact(s, root, smallBytes = Long.MaxValue,
        targetBytes = Long.MaxValue)
      val compacted = LakeTable.latestVersion(s, root).get
      LakeTable.vacuum(s, root, keepFromVersion = compacted,
        retentionMs = 0L)
      root
    }

  /** Evolution chain: v0 create (o_orderkey, o_cents) for keys
    * < 1500 → v1 mergeSchema append of keys [1500, 3000) carrying the
    * NEW o_orderstatus column. Latest reads must back-fill the
    * pre-evolution rows with null status.
    */
  private def evoFor(s: SparkSession, dir: String): String =
    PerFixture("evo", dir) { root =>
      val sd = seed(s, dir)
      LakeTable.create(s, root,
        sd.where(col("o_orderkey") < 1500).select("o_orderkey", "o_cents"),
        Seq("o_orderkey"), nFiles = 2, clusterBy = Some("o_orderkey"))
      LakeTable.append(s, root,
        sd.where(col("o_orderkey") >= 1500 && col("o_orderkey") < 3000)
          .select("o_orderkey", "o_cents", "o_orderstatus"),
        nFiles = 2, mergeSchema = true)
      root
    }

  /** Z-order chain: orders keys < 4000 laid out on the Morton curve
    * of (o_custkey, o_orderkey) — a predicate on EITHER column
    * prunes files (LakeSqlReadSpec pins the file counts; this
    * query pins the row-level correctness of a custkey-range read
    * the key-sorted layout could not have pruned).
    */
  private def zFor(s: SparkSession, dir: String): String =
    PerFixture("zord", dir) { root =>
      LakeTable.create(s, root, seed(s, dir), Seq("o_custkey", "o_orderkey"),
        nFiles = 16,
        clusterBy = Some(LakeTable.zCluster("o_custkey", "o_orderkey")))
      root
    }

  /** Hilbert twin of [[zFor]]: same data, same dims, the
    * better-locality curve.
    */
  private def hFor(s: SparkSession, dir: String): String =
    PerFixture("hilb", dir) { root =>
      LakeTable.create(s, root, seed(s, dir), Seq("o_custkey", "o_orderkey"),
        nFiles = 16,
        clusterBy = Some(LakeTable.hilbertCluster("o_custkey", "o_orderkey")))
      root
    }

  /** 3-D sibling of [[zFor]]: (tenant-ish, day-ish, key) — the layout
    * a (o_custkey, omday, o_orderkey) Morton interleave gives prunes
    * a predicate on ANY of the three dimensions. COMPACTED once after
    * create, so the oracle-gated read also certifies the recorded n-D
    * spec survives maintenance (writeDataFiles re-enters layoutN with
    * the same recorded spec).
    */
  private def z3For(s: SparkSession, dir: String): String =
    PerFixture("zord3", dir) { root =>
      val df = t(s, dir, "orders").where(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_custkey"),
          dayofmonth(col("o_orderdate")).cast("long").as("omday"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"))
      LakeTable.create(s, root, df,
        Seq("o_custkey", "omday", "o_orderkey"), nFiles = 16,
        clusterBy = Some(LakeTable.zCluster("o_custkey", "omday",
          "o_orderkey")))
      LakeTable.compact(s, root, smallBytes = Long.MaxValue,
        targetBytes = math.max(1L, LakeTable.snapshot(s, root).files
          .map(_.stats.bytes).sum / 16))
      root
    }

  /** Partitioned + curve-clustered chain — the standard 100 TB
    * layout: directory partitioning on the coarse time column
    * (omonth) with a 2-D Morton layout of (o_custkey, omday) WITHIN
    * each partition, so a month predicate prunes to one directory and
    * a custkey/day predicate prunes files inside it. COMPACTED once
    * after create: the oracle-gated read certifies the recorded
    * in-partition curve survives maintenance (the partitioned writer
    * re-enters the same spec; per-dimension file-pruning ratios
    * pinned in LakeSqlReadSpec).
    */
  private def pzFor(s: SparkSession, dir: String): String =
    PerFixture("pzord", dir) { root =>
      val df = t(s, dir, "orders").where(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_custkey"),
          month(col("o_orderdate")).cast("long").as("omonth"),
          dayofmonth(col("o_orderdate")).cast("long").as("omday"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"))
      LakeTable.create(s, root, df,
        Seq("o_custkey", "omday", "o_orderkey"), nFiles = 24,
        clusterBy = Some(LakeTable.zCluster("o_custkey", "omday")),
        partitionBy = Seq("omonth"))
      LakeTable.compact(s, root, smallBytes = Long.MaxValue,
        targetBytes = math.max(1L, LakeTable.snapshot(s, root).files
          .map(_.stats.bytes).sum / 24))
      root
    }

  /** 3-D HILBERT sibling of [[z3For]] — same dims, the Skilling
    * transform curve; compacted so the read certifies n-D Hilbert
    * spec survival through maintenance (zCluster/hilbertCluster
    * parity, HilbertSpec pins the curve's bijectivity + adjacency).
    */
  private def h3For(s: SparkSession, dir: String): String =
    PerFixture("hilb3", dir) { root =>
      val df = t(s, dir, "orders").where(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_custkey"),
          dayofmonth(col("o_orderdate")).cast("long").as("omday"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"))
      LakeTable.create(s, root, df,
        Seq("o_custkey", "omday", "o_orderkey"), nFiles = 16,
        clusterBy = Some(LakeTable.hilbertCluster("o_custkey", "omday",
          "o_orderkey")))
      LakeTable.compact(s, root, smallBytes = Long.MaxValue,
        targetBytes = math.max(1L, LakeTable.snapshot(s, root).files
          .map(_.stats.bytes).sum / 16))
      root
    }

  /** Merge-on-read chain: create (8 key-clustered files) → MOR delete
    * [500,999] → MOR delete [800,1299] (overlap: positions carry
    * forward cumulatively, never recount). NO data file is rewritten
    * — every read below must apply the deletion-vector sidecar.
    */
  private def morFor(s: SparkSession, dir: String): String =
    PerFixture("mor", dir) { root =>
      LakeTable.create(s, root, seed(s, dir), Seq("o_orderkey"),
        nFiles = 8, clusterBy = Some("o_orderkey"))
      LakeTable.deleteWhereMor(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(500L), Some(999L))))
      LakeTable.deleteWhereMor(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(800L), Some(1299L))))
      root
    }

  /** Zero-copy clone of the maintained chain, then a MOR delete of
    * [2000,2499] applied ONLY to the clone — the branch-and-edit
    * shape. `lake_read_latest` keeps certifying the SOURCE's end
    * state on the same run, so source/clone independence itself sits
    * under the oracle. The clone is taken as VERBATIM SQL TEXT
    * (`CREATE TABLE ... SHALLOW CLONE ...`, path-target form) — the
    * statement surface commits through the same [[LakeTable
    * .shallowClone]] the library call would.
    */
  private def cloneFor(s: SparkSession, dir: String): String =
    PerFixture("clone", dir) { root =>
      s.sql(s"CREATE TABLE '$root' SHALLOW CLONE '${chainFor(s, dir)}'")
      LakeTable.deleteWhereMor(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(2000L), Some(2499L))))
      root
    }

  /** Deep-clone chain: dedicated source (4 clustered files) + a MOR
    * delete of [700,1199] (so the clone INHERITS a deletion vector),
    * `CREATE TABLE ... DEEP CLONE` (verbatim SQL — shallow clone +
    * localize in one statement), then the source is vacuumed past
    * everything AND its directory deleted outright. Only a
    * physically-owned clone survives that; the read also proves the
    * localized copies preserved the DV file identity (the inherited
    * deletions still apply).
    */
  private def deepCloneFor(s: SparkSession, dir: String): String =
    PerFixture("dclone", dir) { root =>
      val src = PerFixture.path("dcsrc", dir)
      LakeTable.create(s, src, seed(s, dir), Seq("o_orderkey"),
        nFiles = 4, clusterBy = Some("o_orderkey"))
      LakeTable.deleteWhereMor(s, src,
        Seq(LakeTable.ColRange("o_orderkey", Some(700L), Some(1199L))))
      s.sql(s"CREATE TABLE '$root' DEEP CLONE '$src'")
      LakeTable.vacuum(s, src,
        keepFromVersion = LakeTable.latestVersion(s, src).get,
        retentionMs = 0L)
      PerFixture.remove(src)
      root
    }

  /** Restore chain: create(even keys) → append(odd keys) → COW
    * delete [1000,1999] → RESTORE to v0. The final read must equal
    * v0 exactly — proving the rollback commit reproduced the old
    * file set — while versions 1 and 2 stay in history. The rollback
    * itself runs as VERBATIM SQL TEXT (`RESTORE TABLE ... TO VERSION
    * AS OF 0`) through the maintenance parser.
    */
  private def restoreFor(s: SparkSession, dir: String): String =
    PerFixture("restore", dir) { root =>
      val sd = seed(s, dir)
      LakeTable.create(s, root, sd.where(col("o_orderkey") % 2 === 0),
        Seq("o_orderkey"), nFiles = 4, clusterBy = Some("o_orderkey"))
      LakeTable.append(s, root, sd.where(col("o_orderkey") % 2 === 1),
        nFiles = 2)
      LakeTable.deleteWhere(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(1000L), Some(1999L))))
      s.sql(s"RESTORE TABLE '$root' TO VERSION AS OF 0")
      root
    }

  /** In-place dedup chain: the documents fixture plus planted
    * duplicates (every doc_id % 5 == 0 re-inserted under
    * doc_id + 10000, same text) written as a 4-file clustered lake,
    * then `dedupTable(text, min doc_id)` — the duplicates die as
    * deletion-vector positions, NO data file is rewritten. The read
    * must equal DuckDB's min-doc_id-per-text fold of the same
    * planted corpus.
    */
  private def dedupFor(s: SparkSession, dir: String): String =
    PerFixture("dedup", dir) { root =>
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val planted = docs.where(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      LakeTable.create(s, root, docs.unionByName(planted), Seq("doc_id"),
        nFiles = 4, clusterBy = Some("doc_id"))
      LakeTable.dedupTable(s, root, Seq("text"), "doc_id")
      root
    }

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Tail replay: a fresh lake is created with keys [0,400) and then
    * appended twice WHILE a `graft-lake` stream is draining it into a
    * memory sink — each commit must arrive as its own micro-batch
    * (required >= 3 data batches), proving the log-version offset
    * iteration, not just a one-shot read.
    */
  private def tailReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val root = s"${PerFixture.path("tail", dir)}_$n"
    val sd = seed(s, dir)
    LakeTable.create(s, root, sd.where(col("o_orderkey") < 400),
      Seq("o_orderkey"), nFiles = 1)
    val name = s"lake_tail_replay_$n"
    val q = s.readStream.format("graft-lake").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      LakeTable.append(s, root,
        sd.where(col("o_orderkey") >= 400 && col("o_orderkey") < 700),
        nFiles = 1)
      q.processAllAvailable()
      LakeTable.append(s, root,
        sd.where(col("o_orderkey") >= 700 && col("o_orderkey") < 1000),
        nFiles = 1)
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 3,
        s"$name: expected >= 3 data micro-batches, got $dataBatches — " +
          "appends did not arrive as separate triggers")
    } finally q.stop()
    s.table(name).orderBy("o_orderkey")
  }

  /** Exactly-once lake-to-lake pipeline with a RESTART in the middle:
    * incarnation 1 drains keys [0,400) from the source lake through
    * [[LakeSink]] into a destination lake; more data is appended; a
    * SECOND incarnation on the same checkpoint drains the rest. The
    * source must resume at its committed log version (no re-emit) and
    * the sink must dedup replayed batch ids — any failure in either
    * direction shows up as missing or duplicated rows against the
    * oracle.
    */
  private def pipelineReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val src = s"${PerFixture.path("pipe_src", dir)}_$n"
    val dst = s"${PerFixture.path("pipe_dst", dir)}_$n"
    val ckpt = s"${PerFixture.path("pipe_ckpt", dir)}_$n"
    val sd = seed(s, dir)
    LakeTable.create(s, src, sd.where(col("o_orderkey") < 400),
      Seq("o_orderkey"), nFiles = 1)
    LakeTable.create(s, dst, sd.where(col("o_orderkey") < 0),
      Seq("o_orderkey"), nFiles = 1)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(graft.lake.LakeSink.writer(dst, "pipe")).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    LakeTable.append(s, src,
      sd.where(col("o_orderkey") >= 400 && col("o_orderkey") < 700),
      nFiles = 1)
    drain()
    LakeTable.scan(s, dst).orderBy("o_orderkey")
  }

  /** Exactly-once lake-to-lake pipeline through the DSv2 STREAMING
    * sink (`writeStream.toTable`, no foreachBatch) with a RESTART in
    * the middle — the toTable twin of [[pipelineReplay]]: incarnation
    * 1 drains keys [0,400) into a catalog table; more data is
    * appended; a SECOND incarnation on the same checkpoint drains the
    * rest. Executor tasks write the parquet directly
    * ([[graft.lake.LakeStreamingWrite]]), each epoch is one
    * (appId, epochId)-tokened commit, and `nFiles=2` range-clusters
    * the streamed files on the destination's cluster column — so the
    * final read also rides streamed-file stats.
    */
  private def toTableReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val cat = catalog(s, s"glstt_$n", dir,
      s"${PerFixture.path("sttwh", dir)}_$n")
    s.sql(s"CREATE TABLE $cat.core.dst (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_orderstatus STRING, o_cents BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'o_orderkey')")
    val src = s"${PerFixture.path("stt_src", dir)}_$n"
    val ckpt = s"${PerFixture.path("stt_ckpt", dir)}_$n"
    val sd = seed(s, dir)
    LakeTable.create(s, src, sd.where(col("o_orderkey") < 400),
      Seq("o_orderkey"), nFiles = 1)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("nFiles", "2")
        .toTable(s"$cat.core.dst")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    LakeTable.append(s, src,
      sd.where(col("o_orderkey") >= 400 && col("o_orderkey") < 700),
      nFiles = 1)
    drain()
    s.sql(s"SELECT * FROM $cat.core.dst ORDER BY o_orderkey")
  }

  /** CDC-apply pipeline with a RESTART: a source lake of CHANGE rows
    * (upserts v1 for keys < 500) is drained through
    * [[LakeSink.mergeWriter]] into a destination table seeded with
    * keys < 1000; then a second change commit lands (upserts v2 for
    * [250, 750) plus deletes v3 for k%10==0) and a SECOND incarnation
    * on the same checkpoint drains it. The destination must show the
    * latest-wins fold of BOTH batches applied exactly once — a
    * replayed merge would double-apply (cents drift), a lost one
    * would leave stale rows; either fails the oracle.
    */
  private def upsertReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val src = s"${PerFixture.path("ups_src", dir)}_$n"
    val dst = s"${PerFixture.path("ups_dst", dir)}_$n"
    val ckpt = s"${PerFixture.path("ups_ckpt", dir)}_$n"
    val sd = seed(s, dir)
    def changes(df: org.apache.spark.sql.DataFrame, v: Long, op: String,
                dCents: Long, status: String) =
      df.withColumn("o_orderstatus", lit(status))
        .withColumn("o_cents", col("o_cents") + dCents)
        .withColumn("version", lit(v)).withColumn("op", lit(op))
    val batchA = changes(sd.where(col("o_orderkey") < 500), 1L, "U", 1L, "A")
    LakeTable.create(s, src, batchA, Seq("o_orderkey"), nFiles = 1)
    LakeTable.create(s, dst, sd.where(col("o_orderkey") < 1000),
      Seq("o_orderkey"), nFiles = 2, clusterBy = Some("o_orderkey"))
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(LakeSink.mergeWriter(dst, "ups", "o_orderkey"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val batchB = changes(
        sd.where(col("o_orderkey") >= 250 && col("o_orderkey") < 750),
        2L, "U", 2L, "B")
      .unionByName(changes(
        sd.where(col("o_orderkey") < 1000 && col("o_orderkey") % 10 === 0),
        3L, "D", 0L, "X"))
    LakeTable.append(s, src, batchB, nFiles = 1)
    drain()
    LakeTable.scan(s, dst).orderBy("o_orderkey")
  }

  /** Change-feed tail: a `graft-lake` stream with `readChangeFeed`
    * drains a table WHILE it is created, appended, copy-on-write
    * deleted, and compacted — each commit must arrive as its own
    * micro-batch of tagged row changes (insert rows for appends,
    * delete rows for the rewrite, NOTHING for the layout-only
    * compaction), proving the CDC-consumer contract end to end: a
    * downstream system can follow the table's row-level history from
    * the log alone, no stored change files, cost bounded per batch by
    * the commit's touched files.
    */
  private def cdfReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val root = s"${PerFixture.path("cdf", dir)}_$n"
    val sd = seed(s, dir)
    LakeTable.create(s, root, sd.where(col("o_orderkey") < 400),
      Seq("o_orderkey"), nFiles = 2, clusterBy = Some("o_orderkey"))
    val name = s"lake_cdf_replay_$n"
    val q = s.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(root)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      LakeTable.append(s, root,
        sd.where(col("o_orderkey") >= 400 && col("o_orderkey") < 700),
        nFiles = 1)
      q.processAllAvailable()
      LakeTable.deleteWhere(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(100L), Some(199L))))
      q.processAllAvailable()
      val preCompact = q.recentProgress.map(_.numInputRows).sum
      LakeTable.compact(s, root, smallBytes = Long.MaxValue,
        targetBytes = Long.MaxValue)
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 3,
        s"$name: expected >= 3 data micro-batches, got $dataBatches")
      val postCompact = q.recentProgress.map(_.numInputRows).sum
      require(postCompact == preCompact,
        s"$name: layout-only compaction leaked ${postCompact - preCompact} " +
          "change rows into the feed")
    } finally q.stop()
    s.table(name)
      .orderBy("_commit_version", "_change_type", "o_orderkey")
  }

  /** Table REPLICATION with a restart: a source lake is mutated —
    * latest-wins MERGE (updates arrive in the feed as same-commit
    * delete+insert pairs), a copy-on-write delete, a merge-on-read
    * delete — while a `readChangeFeed` stream applies the feed into
    * a replica via [[LakeSink.replicator]]; the stream is drained by
    * TWO incarnations sharing a checkpoint, with mutations landing
    * between and after the restart. The replica must converge to the
    * source's exact latest keyed state: a dropped update (the
    * same-commit tiebreak), a re-applied batch (idempotence), or a
    * missed commit (offset resume) each leaves a hash-visible drift.
    */
  private def replicateReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val src = s"${PerFixture.path("repl_src", dir)}_$n"
    val dst = s"${PerFixture.path("repl_dst", dir)}_$n"
    val ckpt = s"${PerFixture.path("repl_ckpt", dir)}_$n"
    val sd = seed(s, dir)
    LakeTable.create(s, src, sd.where(col("o_orderkey") < 1000),
      Seq("o_orderkey"), nFiles = 2, clusterBy = Some("o_orderkey"))
    LakeTable.create(s, dst, sd.where(col("o_orderkey") < 0),
      Seq("o_orderkey"), nFiles = 1, clusterBy = Some("o_orderkey"))
    def start() = s.readStream.format("graft-lake")
      .option("readChangeFeed", "true").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(LakeSink.replicator(dst, "repl", "o_orderkey"))
      .start()
    locally { // incarnation 1: the create commit's inserts
      val q = start()
      try q.processAllAvailable() finally q.stop()
    }
    // UPDATE via latest-wins merge: k%7 rows change status and cents
    val ups = sd.where(col("o_orderkey") < 1000 &&
        col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("R"))
      .withColumn("o_cents", col("o_cents") + 7)
      .withColumn("version", lit(1L)).withColumn("op", lit("U"))
    LakeTable.merge(s, src, ups, "o_orderkey")
    LakeTable.deleteWhere(s, src,
      Seq(LakeTable.ColRange("o_orderkey", Some(300L), Some(399L))))
    locally { // incarnation 2 on the same checkpoint: drains the merge
      // + CoW-delete commits, then the MOR delete lands WHILE it runs
      // and its delta is drained by the same incarnation — mutations
      // still arrive both between and after the restart, one fewer
      // full query start/stop/recover cycle than the old third drain
      val q = start()
      try {
        q.processAllAvailable()
        LakeTable.deleteWhereMor(s, src,
          Seq(LakeTable.ColRange("o_orderkey", Some(500L), Some(549L))))
        q.processAllAvailable()
      } finally q.stop()
    }
    LakeTable.scan(s, dst).orderBy("o_orderkey")
  }

  /** DuckDB CTE reproducing [[chainFor]]'s end state from `orders`. */
  private val chainSql = """
    WITH sd AS (
      SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 4000),
    ins AS (
      SELECT 4000 + i AS k, (4000 + i) % 100 AS c, 'N' AS s,
             (4000 + i) * 3 AS cents
      FROM range(50) t(i)),
    merged AS (
      SELECT k, c, CASE WHEN k % 7 = 0 THEN 'X' ELSE s END AS s,
             CASE WHEN k % 7 = 0 THEN cents + 7 ELSE cents END AS cents
      FROM sd WHERE k % 13 <> 0
      UNION ALL
      SELECT k, c, s, cents FROM ins),
    final AS (
      SELECT * FROM merged WHERE k NOT BETWEEN 1000 AND 1999)
  """

  /** Catalog chain: the maintenance story as PURE SQL TEXT through
    * the DSv2 catalog ([[graft.lake.LakeCatalog]]) — CREATE NAMESPACE,
    * CREATE TABLE with lake properties, INSERT INTO from a view of
    * the seed, DELETE FROM a key range, ALTER TABLE ADD COLUMNS, and
    * a post-evolution INSERT. Returns the catalog-qualified
    * identifier; every statement committed through the same LakeLog
    * transaction machinery as the library calls.
    */
  private def catFor(s: SparkSession, dir: String): String =
    PerFixture("cat", dir) { wh =>
      val cat = catalog(s, "glq", dir, wh)
      val ident = s"$cat.core.ord"
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_cents BIGINT) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '4')")
      s.sql(s"INSERT INTO $ident SELECT * FROM ${cat}_seed")
      s.sql(s"DELETE FROM $ident WHERE o_orderkey BETWEEN 1000 AND 1999")
      s.sql(s"ALTER TABLE $ident ADD COLUMNS (flag STRING)")
      s.sql(s"INSERT INTO $ident SELECT o_orderkey + 10000, o_custkey, " +
        "o_orderstatus, o_cents, 'late' " +
        s"FROM ${cat}_seed WHERE o_orderkey < 500")
      // row-level SQL DML: an UPDATE with a non-range predicate (the
      // general rewrite command) and a three-clause MERGE INTO
      s.sql(s"UPDATE $ident SET o_cents = o_cents + 17 " +
        "WHERE o_orderkey % 10 = 3")
      seed(s, dir).where(col("o_orderkey") >= 2000 && col("o_orderkey") < 2800)
        .select(col("o_orderkey").as("sid"), (col("o_cents") + 5).as("scents"))
        .unionByName(seed(s, dir).where(col("o_orderkey") < 200)
          .select((col("o_orderkey") + 50000).as("sid"),
            (col("o_cents") * 2).as("scents")))
        .createOrReplaceTempView(s"${cat}_msrc")
      s.sql(s"""MERGE INTO $ident t USING ${cat}_msrc s
        ON t.o_orderkey = s.sid
        WHEN MATCHED THEN UPDATE SET o_cents = s.scents,
          o_orderstatus = 'M'
        WHEN NOT MATCHED THEN INSERT
          (o_orderkey, o_custkey, o_orderstatus, o_cents, flag)
          VALUES (s.sid, -1, 'I', s.scents, 'merged')""")
      ident
    }

  /** Evolving-merge chain (own catalog, pure SQL): create
    * (o_orderkey, o_cents) for keys < 1500, then `MERGE WITH SCHEMA
    * EVOLUTION` from a source of keys [1000, 3000) carrying the NEW
    * o_orderstatus column — [1000,1500) update in place, [1500,3000)
    * insert, and the untouched pre-evolution files (keys < 1000) must
    * read NULL for the evolved column.
    */
  private def mergeEvoFor(s: SparkSession, dir: String): String =
    PerFixture("me", dir) { wh =>
      val cat = catalog(s, "glme", dir, wh)
      val ident = s"$cat.core.ord"
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_cents BIGINT) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '3')")
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"INSERT INTO $ident SELECT o_orderkey, o_cents " +
        s"FROM ${cat}_seed WHERE o_orderkey < 1500")
      // evolution resolves the new target column BY SOURCE NAME: the
      // source schema must carry `o_orderstatus` for the analyzer's
      // schemaChanges to add it to the target
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $ident t
        USING (SELECT o_orderkey, o_cents + 5 AS o_cents, o_orderstatus
               FROM ${cat}_seed
               WHERE o_orderkey >= 1000 AND o_orderkey < 3000) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_cents = s.o_cents,
          o_orderstatus = s.o_orderstatus
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_cents, o_orderstatus)
          VALUES (s.o_orderkey, s.o_cents, s.o_orderstatus)""")
      ident
    }

  /** SQL-widening chain (own catalog, pure SQL): create
    * (o_orderkey INT, o_cents INT) for keys < 1500, widen BOTH columns
    * to BIGINT via `ALTER TABLE ... ALTER COLUMN ... TYPE` (two
    * metadata commits, nothing rewritten), then a plain INSERT of
    * keys [1500, 3000) with +3e9 cents — beyond int range.
    */
  private def widenSqlFor(s: SparkSession, dir: String): String =
    PerFixture("ws", dir) { wh =>
      val cat = catalog(s, "glws", dir, wh)
      val ident = s"$cat.core.ord"
      s.sql(s"CREATE TABLE $ident (o_orderkey INT, o_cents INT) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '2')")
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"INSERT INTO $ident SELECT CAST(o_orderkey AS INT), " +
        s"CAST(o_cents AS INT) FROM ${cat}_seed WHERE o_orderkey < 1500")
      s.sql(s"ALTER TABLE $ident ALTER COLUMN o_orderkey TYPE BIGINT")
      s.sql(s"ALTER TABLE $ident ALTER COLUMN o_cents TYPE BIGINT")
      s.sql(s"INSERT INTO $ident SELECT o_orderkey, o_cents + 3000000000 " +
        s"FROM ${cat}_seed WHERE o_orderkey >= 1500 AND o_orderkey < 3000")
      ident
    }

  /** Atomic-replace chain (own catalog, pure SQL): create + insert +
    * CHECK constraint, then `REPLACE TABLE ... AS SELECT` swaps in a
    * DIFFERENT schema (adds o_custkey, shifts cents) as ONE
    * authoritative commit — constraint gone, new cluster spec
    * recorded, staged files range-clustered, pre-replace versions
    * still travelable.
    */
  private def replaceSqlFor(s: SparkSession, dir: String): String =
    PerFixture("rp", dir) { wh =>
      val cat = catalog(s, "glrp", dir, wh)
      val ident = s"$cat.core.ord"
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_cents BIGINT) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey')")
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"INSERT INTO $ident SELECT o_orderkey, o_cents " +
        s"FROM ${cat}_seed WHERE o_orderkey < 1000")
      s.sql(s"ALTER TABLE $ident ADD CONSTRAINT nonneg CHECK (o_cents >= 0)")
      s.sql(s"REPLACE TABLE $ident " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '2') " +
        "AS SELECT o_orderkey, o_custkey, o_cents + 1 AS o_cents " +
        s"FROM ${cat}_seed WHERE o_orderkey < 3000")
      ident
    }

  /** Rename chain: v0 create (o_orderkey, o_cents) for keys < 1500 →
    * v1 RENAME COLUMN o_cents -> cents_total (metadata-only, column
    * mapping) → v2 append keys [1500, 3000) under the new name.
    * Old files must read their values under the new logical name.
    */
  private def renameFor(s: SparkSession, dir: String): String =
    PerFixture("rename", dir) { root =>
      val sd = seed(s, dir)
      LakeTable.create(s, root,
        sd.where(col("o_orderkey") < 1500).select("o_orderkey", "o_cents"),
        Seq("o_orderkey", "o_cents"), nFiles = 2,
        clusterBy = Some("o_orderkey"))
      LakeTable.renameColumn(s, root, "o_cents", "cents_total")
      LakeTable.append(s, root,
        sd.where(col("o_orderkey") >= 1500 && col("o_orderkey") < 3000)
          .select(col("o_orderkey"), col("o_cents").as("cents_total")),
        nFiles = 2)
      root
    }

  /** Widening chain: v0 create (o_orderkey INT, o_cents INT) for keys
    * < 1500 → v1 widenTypes append of keys [1500, 3000) as BIGINT
    * with +3e9 cents (beyond int range) — old int32 files must read
    * exactly through the widened schema, nothing rewritten.
    */
  private def widenFor(s: SparkSession, dir: String): String =
    PerFixture("widen", dir) { root =>
      val sd = seed(s, dir)
      LakeTable.create(s, root,
        sd.where(col("o_orderkey") < 1500)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_cents").cast("int").as("o_cents")),
        Seq("o_orderkey"), nFiles = 2, clusterBy = Some("o_orderkey"))
      LakeTable.append(s, root,
        sd.where(col("o_orderkey") >= 1500 && col("o_orderkey") < 3000)
          .select(col("o_orderkey"),
            (col("o_cents") + 3000000000L).as("o_cents")),
        nFiles = 2, mergeSchema = true, widenTypes = true)
      root
    }

  /** PARTITIONED chain, pure SQL through the catalog: CREATE TABLE
    * PARTITIONED BY (o_orderstatus) + clusterBy, INSERT INTO, a
    * DELETE bounded inside one partition, OPTIMIZE-compact. Files
    * live under `o_orderstatus=X/` dirs, content excludes the column,
    * reads inject it from the log — the oracle recomputes the end
    * state from raw parquet, so equality certifies the partition
    * round-trip (values, pruning, DML respecting boundaries) whole.
    */
  private def partFor(s: SparkSession, dir: String): String =
    PerFixture("part", dir) { wh =>
      val cat = catalog(s, "glpart", dir, wh)
      s.sql(s"CREATE TABLE $cat.core.p (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_orderstatus STRING, o_cents BIGINT) " +
        "PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '4')")
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"INSERT INTO $cat.core.p SELECT o_orderkey, o_custkey, " +
        s"o_orderstatus, o_cents FROM ${cat}_seed")
      s.sql(s"DELETE FROM $cat.core.p WHERE o_orderstatus = 'F' " +
        "AND o_orderkey BETWEEN 500 AND 1499")
      s.sql(s"OPTIMIZE $cat.core.p")
      s"$wh/core/p"
    }

  /** CONVERT chain: "pre-existing data" = a plain Spark
    * `write.partitionBy(o_orderstatus)` parquet directory of the
    * seed; `CONVERT TO LAKE` adopts it in place (footer stats, path
    * partition values), then a DELETE proves the adopted table is
    * fully DML-live.
    */
  private def convFor(s: SparkSession, dir: String): String =
    PerFixture("conv", dir) { root =>
      seed(s, dir).write.partitionBy("o_orderstatus").parquet(root)
      s.sql(s"CONVERT TO LAKE '$root'")
      LakeTable.deleteWhere(s, root,
        Seq(LakeTable.ColRange("o_orderkey", Some(3000L), Some(3999L))))
      root
    }

  /** Update-mode keyed upserts through the DSv2 `toTable` sink — the
    * `stream_lake_upsert_replay` twin driven by
    * `.outputMode("update").option("mergeKey", ...)` instead of
    * foreachBatch(mergeWriter): destination seeded with keys < 1000,
    * a change-stream lake drained twice over ONE checkpoint (restart
    * between), each epoch MERGEd exactly once — batch A (keys < 500:
    * status 'A', +1) then batch B ([250, 750) replace + [1000, 1100)
    * fresh inserts: status 'B', +2). Double-applied or lost epochs
    * drift the cents and fail the oracle.
    */
  private def totableUpsertReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val wh = s"${PerFixture.path("ttuwh", dir)}_$n"
    val cat = catalog(s, s"glttu_$n", dir, wh)
    s.sql(s"CREATE TABLE $cat.core.dst (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_orderstatus STRING, o_cents BIGINT) " +
      "TBLPROPERTIES (clusterBy = 'o_orderkey')")
    val dst = s"$wh/core/dst"
    val sd = seed(s, dir)
    LakeTable.append(s, dst, sd.where(col("o_orderkey") < 1000),
      nFiles = 2)
    def delta(df: DataFrame, st: String, d: Long): DataFrame = df
      .withColumn("o_orderstatus", lit(st))
      .withColumn("o_cents", col("o_cents") + d)
    val src = s"${PerFixture.path("ttu_src", dir)}_$n"
    val ckpt = s"${PerFixture.path("ttu_ckpt", dir)}_$n"
    LakeTable.create(s, src,
      delta(sd.where(col("o_orderkey") < 500), "A", 1L),
      Seq("o_orderkey"), nFiles = 1)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").load(src)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .option("mergeKey", "o_orderkey")
        .toTable(s"$cat.core.dst")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    LakeTable.append(s, src,
      delta(sd.where((col("o_orderkey") >= 250 && col("o_orderkey") < 750)
        || (col("o_orderkey") >= 1000 && col("o_orderkey") < 1100)),
        "B", 2L),
      nFiles = 1)
    drain() // restart over the same checkpoint: only the new commit
    s.sql(s"SELECT * FROM $cat.core.dst ORDER BY o_orderkey")
  }

  /** Column-semantics chain (pure SQL): DEFAULT columns exercised
    * through their whole lifecycle — create-time defaults filled on
    * INSERT omission and the DEFAULT keyword, a metadata-only
    * `ADD COLUMN ... DEFAULT 'legacy'` whose EXISTS default backfills
    * the files written before it, `SET DEFAULT` re-pointing future
    * inserts, and `DROP DEFAULT` that deliberately PRESERVES the
    * exists default (old files keep reading 'legacy', new omissions
    * read null).
    */
  private def semFor(s: SparkSession, dir: String): String =
    PerFixture("sem", dir) { wh =>
      val cat = catalog(s, "glsem", dir, wh)
      val ident = s"$cat.core.ord"
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_cents BIGINT, " +
        "status STRING DEFAULT 'open', pri INT DEFAULT 3) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '3')")
      s.sql(s"INSERT INTO $ident (o_orderkey, o_cents) " +
        s"SELECT o_orderkey, o_cents FROM ${cat}_seed " +
        "WHERE o_orderkey < 1000")
      s.sql(s"INSERT INTO $ident " +
        s"SELECT o_orderkey, o_cents, 'filled', 7 FROM ${cat}_seed " +
        "WHERE o_orderkey >= 1000 AND o_orderkey < 2000")
      s.sql(s"ALTER TABLE $ident ADD COLUMN tag STRING DEFAULT 'legacy'")
      s.sql(s"ALTER TABLE $ident ALTER COLUMN status SET DEFAULT 'new'")
      s.sql(s"ALTER TABLE $ident ALTER COLUMN pri DROP DEFAULT")
      s.sql(s"INSERT INTO $ident (o_orderkey, o_cents) " +
        s"SELECT o_orderkey, o_cents FROM ${cat}_seed " +
        "WHERE o_orderkey >= 2000 AND o_orderkey < 2500")
      s.sql(s"INSERT INTO $ident (o_orderkey, o_cents, tag) " +
        s"SELECT o_orderkey, o_cents, 'fresh' FROM ${cat}_seed " +
        "WHERE o_orderkey >= 2500 AND o_orderkey < 3000")
      ident
    }

  /** Generated-partition chain: the Delta/Iceberg time-series shape —
    * `day` is GENERATED ALWAYS from the event timestamp AND the
    * hive partition key; INSERTs omit it entirely, writers compute it,
    * files land under `day=.../`, and a day-equality read prunes whole
    * directories.
    */
  private def genFor(s: SparkSession, dir: String): String =
    PerFixture("gen", dir) { wh =>
      val cat = catalog(s, "glgen", dir, wh)
      val ident = s"$cat.core.ev"
      t(s, dir, "events").where(col("event_id") < 5000)
        .select(col("event_id"), col("ts"), col("value"))
        .createOrReplaceTempView(s"${cat}_seed")
      // Tables() exposes events.ts as micros-since-epoch BIGINT (the
      // fixture contract); the generated day is derived through
      // timestamp_micros under the UTC session
      s.sql(s"CREATE TABLE $ident (event_id BIGINT, ts BIGINT, " +
        "day STRING GENERATED ALWAYS AS " +
        "(date_format(timestamp_micros(ts), 'yyyy-MM-dd')), " +
        "value DOUBLE) PARTITIONED BY (day) " +
        "TBLPROPERTIES (clusterBy = 'event_id', nFiles = '2')")
      s.sql(s"INSERT INTO $ident (event_id, ts, value) " +
        s"SELECT event_id, ts, value FROM ${cat}_seed")
      ident
    }

  /** Identity chain: GENERATED ALWAYS AS IDENTITY ids allocated over
    * two INSERT commits and a MERGE (updates keep their ids, inserts
    * allocate past the watermark). Values are engine-allocated (banded,
    * gaps allowed), so the oracle checks the id INVARIANTS as data —
    * row count, distinct count, floor — plus the exact business
    * columns.
    */
  private def idFor(s: SparkSession, dir: String): String =
    PerFixture("id", dir) { wh =>
      val cat = catalog(s, "glid", dir, wh)
      val ident = s"$cat.core.ord"
      seed(s, dir).createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"CREATE TABLE $ident (" +
        "id BIGINT GENERATED ALWAYS AS IDENTITY, " +
        "o_orderkey BIGINT, o_cents BIGINT) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '3')")
      s.sql(s"INSERT INTO $ident (o_orderkey, o_cents) " +
        s"SELECT o_orderkey, o_cents FROM ${cat}_seed " +
        "WHERE o_orderkey < 1500")
      s.sql(s"INSERT INTO $ident (o_orderkey, o_cents) " +
        s"SELECT o_orderkey, o_cents FROM ${cat}_seed " +
        "WHERE o_orderkey >= 1500 AND o_orderkey < 2000")
      s.sql(s"MERGE INTO $ident t USING (" +
        s"SELECT o_orderkey AS k, o_cents + 11 AS c " +
        s"FROM ${cat}_seed WHERE o_orderkey >= 1000 " +
        "AND o_orderkey < 2500) s ON t.o_orderkey = s.k " +
        "WHEN MATCHED THEN UPDATE SET o_cents = s.c " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_cents) " +
        "VALUES (s.k, s.c)")
      ident
    }

  /** COPY INTO chain: a landing directory ingested in three runs —
    * first load, an exact re-run (pure no-op, every file skipped), and
    * an incremental run after one more file arrived (only it loads).
    * The read certifies exactly-once FILE-grain ingest: any
    * double-load would duplicate rows and break the hash.
    */
  private def copyFor(s: SparkSession, dir: String): String =
    PerFixture("cpy", dir) { wh =>
      val cat = catalog(s, "glcpy", dir, wh)
      val ident = s"$cat.core.ord"
      val land = PerFixture.path("cpyland", dir)
      val sd = seed(s, dir).select("o_orderkey", "o_custkey", "o_cents")
      sd.where(col("o_orderkey") < 1000).coalesce(1)
        .write.parquet(s"$land/b1")
      sd.where(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
        .coalesce(1).write.parquet(s"$land/b2")
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_cents BIGINT) TBLPROPERTIES (clusterBy = 'o_orderkey')")
      s.sql(s"COPY INTO $ident FROM '$land'")
      s.sql(s"COPY INTO $ident FROM '$land'") // exact re-run: no-op
      sd.where(col("o_orderkey") >= 2000 && col("o_orderkey") < 3000)
        .coalesce(1).write.parquet(s"$land/b3")
      s.sql(s"COPY INTO $ident FROM '$land'") // only b3 loads
      ident
    }

  /** DYNAMIC-overwrite chain (pure SQL): a month-partitioned table
    * seeded with every month from keys < 3000, then — under
    * `partitionOverwriteMode=dynamic` — an `INSERT OVERWRITE` carrying
    * only THREE months (+9 cents). Those three partitions are replaced
    * whole; every other month's files survive untouched (the nightly
    * partition-reload shape: at 100 TB the commit touches 3 of 3000
    * day-partitions and the rest are never read, listed, or guarded).
    */
  private def dynFor(s: SparkSession, dir: String): String =
    PerFixture("dyn", dir) { wh =>
      val cat = catalog(s, "gldyn", dir, wh)
      val ident = s"$cat.core.m"
      t(s, dir, "orders").where(col("o_orderkey") < 3000)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"),
          date_format(col("o_orderdate"), "yyyy-MM").as("omonth"))
        .createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_cents BIGINT, " +
        "omonth STRING) PARTITIONED BY (omonth) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '1')")
      s.sql(s"INSERT INTO $ident SELECT * FROM ${cat}_seed")
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode",
        "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(s"INSERT OVERWRITE $ident " +
        "SELECT o_orderkey, o_cents + 9 AS o_cents, omonth " +
        s"FROM ${cat}_seed " +
        "WHERE omonth IN ('1995-01', '1995-02', '1995-03')"): Unit
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      ident
    }

  /** Generated-partition chain (pure SQL): a table partitioned by
    * `omonth INT GENERATED ALWAYS AS (month(o_orderdate))` — the
    * hidden-partitioning layout — loaded with the generated column
    * OMITTED (writers compute it). The query filters ONLY the base
    * timestamp column; [[LakeGenPruning]] infers the month range at
    * plan time, so the scan touches the named months' directories
    * and nothing else (files-read subset pinned in
    * LakeColumnSemanticsSpec).
    */
  private def genInferFor(s: SparkSession, dir: String): String =
    PerFixture("geni", dir) { wh =>
      val cat = catalog(s, "glgi", dir, wh)
      val ident = s"$cat.core.g"
      t(s, dir, "orders").where(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"))
        .createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderdate TIMESTAMP, " +
        "omonth INT GENERATED ALWAYS AS (month(o_orderdate)), " +
        "o_cents BIGINT) PARTITIONED BY (omonth) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '1')")
      s.sql(s"INSERT INTO $ident (o_orderkey, o_custkey, o_orderdate, " +
        s"o_cents) SELECT * FROM ${cat}_seed")
      ident
    }

  /** Partition-management chain (pure SQL): PARTITIONED BY
    * (o_orderstatus) table seeded from keys < 3000, then `ALTER TABLE
    * ... DROP PARTITION (o_orderstatus = 'P')` — the retention
    * operation: ONE metadata commit removing that partition's file
    * references, nothing read or rewritten, the other partitions'
    * files untouched.
    */
  private def dropPartFor(s: SparkSession, dir: String): String =
    PerFixture("dp", dir) { wh =>
      val cat = catalog(s, "gldp", dir, wh)
      val ident = s"$cat.core.o"
      seed(s, dir).where(col("o_orderkey") < 3000)
        .createOrReplaceTempView(s"${cat}_seed")
      s.sql(s"CREATE TABLE $ident (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_cents BIGINT, o_orderstatus STRING) " +
        "PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (clusterBy = 'o_orderkey', nFiles = '2')")
      s.sql(s"INSERT INTO $ident SELECT o_orderkey, o_custkey, o_cents, " +
        s"o_orderstatus FROM ${cat}_seed")
      s.sql(s"ALTER TABLE $ident DROP PARTITION (o_orderstatus = 'P')")
      ident
    }

  /** Streaming into a COMPUTED-column table through the DSv2 `toTable`
    * sink, restart in the middle: the destination declares a GENERATED
    * ALWAYS AS IDENTITY id and a GENERATED ALWAYS AS (o_cents * 2)
    * column; the stream carries ONLY the four business columns — the
    * task writers compute the generated value per row and allocate
    * banded ids past the plan-time watermark, the commit folds the new
    * watermark from file stats under the identity guard. Incarnation 1
    * drains keys [0,400); more data lands; incarnation 2 on the SAME
    * checkpoint drains the rest — ids must stay unique across the
    * restart (the hwm advanced with epoch commits), which the
    * n_ids = n_distinct invariant pins under the oracle.
    */
  private def toTableIdentityReplay(s: SparkSession, dir: String): DataFrame = {
    val n = seq.incrementAndGet()
    val cat = catalog(s, s"glsti_$n", dir,
      s"${PerFixture.path("stiwh", dir)}_$n")
    s.sql(s"CREATE TABLE $cat.core.dst (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_cents BIGINT, " +
      "cents2 BIGINT GENERATED ALWAYS AS (o_cents * 2)) " +
      "TBLPROPERTIES (clusterBy = 'o_orderkey')")
    val src = s"${PerFixture.path("sti_src", dir)}_$n"
    val ckpt = s"${PerFixture.path("sti_ckpt", dir)}_$n"
    val sd = seed(s, dir)
    LakeTable.create(s, src, sd.where(col("o_orderkey") < 400),
      Seq("o_orderkey"), nFiles = 1)
    def drain(): Unit = {
      val q = s.readStream.format("graft-lake").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .option("nFiles", "2")
        .toTable(s"$cat.core.dst")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    LakeTable.append(s, src,
      sd.where(col("o_orderkey") >= 400 && col("o_orderkey") < 700),
      nFiles = 1)
    drain() // restart over the same checkpoint: only the new commit
    s.sql(s"""
      SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_cents,
             t.cents2, a.n_ids, a.n_distinct, a.ids_from_start
      FROM $cat.core.dst t CROSS JOIN (
        SELECT CAST(count(id) AS BIGINT) AS n_ids,
               CAST(count(DISTINCT id) AS BIGINT) AS n_distinct,
               CAST(min(id) >= 1 AS INT) AS ids_from_start
        FROM $cat.core.dst) a
      ORDER BY t.o_orderkey""")
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("lake_part_pruned",
      // PARTITIONED BY under the oracle: a partition-equality +
      // key-range read off the hive-layout table — the scan's file
      // list holds ONLY the o_orderstatus='O' directory's files
      // (pinned in LakePartitionSpec/PlanShapeSpec), values injected
      // from the log, never stored in the files
      (s, dir) => s.read.format("graft-lake").load(partFor(s, dir))
        .where(col("o_orderstatus") === "O" && col("o_orderkey") < 2000)
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 2000 AND o_orderstatus = 'O'
        ORDER BY o_orderkey""")),

    QueryDef("lake_part_dml",
      // the partitioned chain's END STATE: INSERT + partition-bounded
      // DELETE + compact, all via SQL — proves DML respects partition
      // boundaries (only 'F' rows in [500,1499] gone) and compaction
      // preserved the layout
      (s, dir) => s.read.format("graft-lake").load(partFor(s, dir))
        .orderBy("o_orderkey", "o_orderstatus"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000
          AND NOT (o_orderstatus = 'F'
                   AND o_orderkey BETWEEN 500 AND 1499)
        ORDER BY o_orderkey, o_orderstatus""")),

    QueryDef("lake_convert_read",
      // CONVERT TO LAKE under the oracle: adopt a pre-existing
      // hive-partitioned parquet directory metadata-only, DELETE a
      // key range through the lake, read back a window overlapping
      // the deletion — partition values from paths, content stats
      // from footers, rewrite correctness all in one hash-match
      (s, dir) => s.read.format("graft-lake").load(convFor(s, dir))
        .where(col("o_orderkey") >= 2500)
        .orderBy("o_orderkey", "o_orderstatus"),
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
               o_orderstatus
        FROM orders
        WHERE o_orderkey >= 2500 AND o_orderkey < 3000
        ORDER BY o_orderkey, o_orderstatus""")),

    QueryDef("lake_rename_read",
      // column mapping under the oracle: a rename is a metadata
      // commit — pre-rename files (physical name o_cents) must read
      // their values under the new logical name, and post-rename
      // appends land in the same physical slot
      (s, dir) => LakeTable.scan(s, renameFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents_total
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_widen_read",
      // lossless type widening under the oracle: int32 files read
      // exactly through the widened BIGINT schema (vectorized upcast,
      // zero rewrites); post-widening rows carry values beyond the
      // old type's range
      (s, dir) => LakeTable.scan(s, widenFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) +
                 CASE WHEN o_orderkey >= 1500
                      THEN 3000000000 ELSE 0 END AS o_cents
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_merge_evolve",
      // MERGE ... WITH SCHEMA EVOLUTION under the oracle: the stock
      // analyzer rule adds the source-only column through the
      // catalog's alterTable (a metadata commit) before the merge
      // runs; pre-evolution files (keys < 1000, untouched by the
      // merge) must null-backfill the evolved column, matched rows
      // rewrite with it, unmatched source rows insert with it
      (s, dir) => {
        val ident = mergeEvoFor(s, dir)
        s.sql("SELECT o_orderkey, o_cents, o_orderstatus " +
          s"FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) +
                 CASE WHEN o_orderkey >= 1000 THEN 5 ELSE 0 END AS o_cents,
               CASE WHEN o_orderkey >= 1000 THEN o_orderstatus
                    ELSE NULL END AS o_orderstatus
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_widen_sql_read",
      // the DDL widening route under the oracle (`ALTER COLUMN ...
      // TYPE BIGINT`, vs lake_widen_read's widenTypes-append route):
      // int32 files must read exactly through the widened schema —
      // two metadata commits, zero rewrites — and the post-widening
      // insert carries values beyond the old type's range
      (s, dir) => {
        val ident = widenSqlFor(s, dir)
        s.sql(s"SELECT o_orderkey, o_cents FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) +
                 CASE WHEN o_orderkey >= 1500
                      THEN 3000000000 ELSE 0 END AS o_cents
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_replace_read",
      // REPLACE TABLE ... AS SELECT under the oracle: the swapped-in
      // table (different schema, +1 cents, wider key range) must read
      // back exactly — one authoritative commit through the staged
      // write path (executor writers + single log commit), the old
      // constraint and layout reset per the replace replay rule
      (s, dir) => {
        val ident = replaceSqlFor(s, dir)
        s.sql("SELECT o_orderkey, o_custkey, o_cents " +
          s"FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) + 1 AS o_cents
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_catalog_sql",
      // the SQL-catalog surface end to end: a table a user only ever
      // touched through spark.sql — created, loaded, range-deleted,
      // evolved and re-inserted as SQL text — must read back exactly
      // the state the oracle recomputes from the raw parquet; the
      // SELECT itself resolves by identifier and plans the native
      // stats-pruned scan via LakeMorExpansion
      (s, dir) => {
        val ident = catFor(s, dir)
        s.sql("SELECT o_orderkey, o_custkey, o_orderstatus, o_cents, " +
          s"flag FROM $ident WHERE o_orderkey >= 500 ORDER BY o_orderkey")
      },
      Some("""
        WITH seed AS (SELECT o_orderkey, o_custkey, o_orderstatus,
            CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
          FROM orders WHERE o_orderkey < 4000),
        t0 AS (
          SELECT *, CAST(NULL AS VARCHAR) AS flag FROM seed
          WHERE o_orderkey NOT BETWEEN 1000 AND 1999
          UNION ALL
          SELECT o_orderkey + 10000, o_custkey, o_orderstatus, o_cents,
                 'late' AS flag
          FROM seed WHERE o_orderkey < 500),
        t1 AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 10 = 3 THEN o_cents + 17
                      ELSE o_cents END AS o_cents, flag
          FROM t0),
        t2 AS (
          SELECT t1.o_orderkey, t1.o_custkey,
                 CASE WHEN t1.o_orderkey BETWEEN 2000 AND 2799 THEN 'M'
                      ELSE t1.o_orderstatus END AS o_orderstatus,
                 CASE WHEN t1.o_orderkey BETWEEN 2000 AND 2799
                      THEN sd.o_cents + 5 ELSE t1.o_cents END AS o_cents,
                 t1.flag
          FROM t1 LEFT JOIN seed sd ON sd.o_orderkey = t1.o_orderkey
            AND t1.o_orderkey BETWEEN 2000 AND 2799),
        final AS (
          SELECT * FROM t2
          UNION ALL
          SELECT o_orderkey + 50000, CAST(-1 AS BIGINT), 'I',
                 o_cents * 2, 'merged'
          FROM seed WHERE o_orderkey < 200)
        SELECT * FROM final WHERE o_orderkey >= 500
        ORDER BY o_orderkey""")),

    QueryDef("lake_read_latest",
      (s, dir) => LakeTable.scan(s, chainFor(s, dir))
        .orderBy("o_orderkey"),
      Some(chainSql + """
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents
        FROM final ORDER BY o_orderkey""")),

    QueryDef("lake_time_travel",
      (s, dir) => LakeTable.scanAsOf(s, chainFor(s, dir), Some(0L))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 2 = 0
        ORDER BY o_orderkey""")),

    QueryDef("lake_skip_scan",
      (s, dir) => LakeTable.scanPruned(s, chainFor(s, dir),
        Seq(LakeTable.ColRange("o_orderkey", Some(2000L), Some(2399L))))._1
        .orderBy("o_orderkey"),
      Some(chainSql + """
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents
        FROM final WHERE k BETWEEN 2000 AND 2399 ORDER BY o_orderkey""")),

    QueryDef("lake_history",
      (s, dir) => LakeTable.history(s, chainFor(s, dir))
        .select(col("version"), col("op")).orderBy("version"),
      Some("""
        SELECT CAST(v AS BIGINT) AS version, op
        FROM (VALUES (0, 'create'), (1, 'append'), (2, 'merge'),
                     (3, 'delete'), (4, 'compact')) AS t(v, op)
        ORDER BY version""")),

    QueryDef("lake_sql_read",
      // the FORMAT surface: spark.read.format("graft-lake") over the
      // maintained chain with a pushed range filter — snapshot file
      // list + LakeFileIndex stats pruning + native parquet row-group
      // pushdown all inside one stock FileScan (vs lake_skip_scan,
      // which exercises the explicit scanPruned API)
      (s, dir) => s.read.format("graft-lake").load(chainFor(s, dir))
        .where(col("o_orderkey") >= 2400 && col("o_orderkey") <= 2799)
        .orderBy("o_orderkey"),
      Some(chainSql + """
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents
        FROM final WHERE k BETWEEN 2400 AND 2799 ORDER BY o_orderkey""")),

    QueryDef("lake_schema_evolution",
      // additive evolution under the oracle: a mergeSchema append adds
      // o_orderstatus mid-table; the latest read must surface the old
      // files with NULL status and the new files with their values,
      // by-name column resolution, nothing rewritten
      (s, dir) => LakeTable.scan(s, evoFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
               CASE WHEN o_orderkey < 1500 THEN NULL
                    ELSE o_orderstatus END AS o_orderstatus
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_zorder_scan",
      (s, dir) => s.read.format("graft-lake").load(zFor(s, dir))
        .where(col("o_custkey") >= 40 && col("o_custkey") <= 79)
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000 AND o_custkey BETWEEN 40 AND 79
        ORDER BY o_orderkey""")),

    QueryDef("lake_hilbert_scan",
      // same read as lake_zorder_scan over the HILBERT-clustered
      // twin: a custkey-range predicate a key-sorted layout could not
      // prune; row-exactness certifies the curve's layout is a pure
      // reorganization (HilbertSpec pins the locality advantage)
      (s, dir) => s.read.format("graft-lake").load(hFor(s, dir))
        .where(col("o_custkey") >= 40 && col("o_custkey") <= 79)
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000 AND o_custkey BETWEEN 40 AND 79
        ORDER BY o_orderkey""")),

    QueryDef("lake_zorder3_scan",
      // 3-D Morton layout under the oracle: a (tenant, day) predicate
      // neither a key-sorted nor a 2-D layout could prune on both of
      // — and the chain COMPACTED after create, so row-exactness here
      // certifies the n-D recorded spec survives maintenance
      // (per-dimension file-pruning ratios pinned in LakeSqlReadSpec)
      (s, dir) => s.read.format("graft-lake").load(z3For(s, dir))
        .where(col("o_custkey").between(40, 79) &&
          col("omday").between(10, 14))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(datepart('day', o_orderdate) AS BIGINT) AS omday,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000 AND o_custkey BETWEEN 40 AND 79
          AND datepart('day', o_orderdate) BETWEEN 10 AND 14
        ORDER BY o_orderkey""")),

    QueryDef("lake_part_zorder_scan",
      // partition dir + in-partition curve under the oracle: the
      // month predicate prunes to two directories, the custkey/day
      // predicates prune files INSIDE them (the layout the
      // partitioned writer now range-orders by partCols ++ curve
      // key) — and the chain compacted after create, so row-exactness
      // certifies the in-partition spec survives maintenance
      (s, dir) => s.read.format("graft-lake").load(pzFor(s, dir))
        .where(col("omonth").between(3, 6) &&
          col("o_custkey").between(40, 239) &&
          col("omday").between(5, 20))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(datepart('month', o_orderdate) AS BIGINT) AS omonth,
               CAST(datepart('day', o_orderdate) AS BIGINT) AS omday,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000
          AND datepart('month', o_orderdate) BETWEEN 3 AND 6
          AND o_custkey BETWEEN 40 AND 239
          AND datepart('day', o_orderdate) BETWEEN 5 AND 20
        ORDER BY o_orderkey""")),

    QueryDef("lake_hilbert3_scan",
      // 3-D Hilbert layout under the oracle — the lake_zorder3_scan
      // read over the Skilling-curve twin: hilbertCluster now takes
      // 2-4 columns like zCluster, and the compacted chain certifies
      // the n-D Hilbert spec survives maintenance
      (s, dir) => s.read.format("graft-lake").load(h3For(s, dir))
        .where(col("o_custkey").between(40, 79) &&
          col("omday").between(10, 14))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(datepart('day', o_orderdate) AS BIGINT) AS omday,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000 AND o_custkey BETWEEN 40 AND 79
          AND datepart('day', o_orderdate) BETWEEN 10 AND 14
        ORDER BY o_orderkey""")),

    QueryDef("lake_cdf",
      // change-data-feed over (v1, v4]: the merge (v2) arrives as
      // delete(old)+insert(new) pairs plus pure inserts/deletes, the
      // copy-on-write delete (v3) as deletes only (copied survivors
      // cancel in the multiset diff), the compaction (v4) as nothing
      // (layout-only). The oracle re-derives every row change from
      // the same key arithmetic — reconstruction-from-file-log
      // certified row-exact.
      (s, dir) => LakeTable.scanChanges(s, chainFor(s, dir), 1L, 4L)
        .orderBy("_commit_version", "_change_type", "o_orderkey"),
      Some(chainSql + """
        , cdf AS (
          SELECT k, c, s, cents, 'delete' AS ct, 2 AS cv
          FROM sd WHERE k % 7 = 0 OR k % 13 = 0
          UNION ALL
          SELECT k, c, 'X', cents + 7, 'insert', 2
          FROM sd WHERE k % 7 = 0 AND k % 13 <> 0
          UNION ALL
          SELECT k, c, s, cents, 'insert', 2 FROM ins
          UNION ALL
          SELECT k, c, s, cents, 'delete', 3
          FROM merged WHERE k BETWEEN 1000 AND 1999)
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents, ct AS _change_type,
               CAST(cv AS BIGINT) AS _commit_version
        FROM cdf ORDER BY _commit_version, _change_type, o_orderkey""")),

    QueryDef("lake_cdf_sql",
      // the SAME change range as lake_cdf through the SQL-only
      // surface: SELECT ... FROM table_changes(<path>, 2, 4) — the
      // Delta-parity TVF (INCLUSIVE bounds, so start 2 covers commits
      // 2..4 = the API's exclusive (1, 4]). Identical oracle
      // arithmetic certifies the TVF is a pure spelling of
      // scanChanges, composing with ordinary ORDER BY in the query
      (s, dir) => s.sql(
        s"SELECT * FROM table_changes('${chainFor(s, dir)}', 2, 4) " +
          "ORDER BY _commit_version, _change_type, o_orderkey"),
      Some(chainSql + """
        , cdf AS (
          SELECT k, c, s, cents, 'delete' AS ct, 2 AS cv
          FROM sd WHERE k % 7 = 0 OR k % 13 = 0
          UNION ALL
          SELECT k, c, 'X', cents + 7, 'insert', 2
          FROM sd WHERE k % 7 = 0 AND k % 13 <> 0
          UNION ALL
          SELECT k, c, s, cents, 'insert', 2 FROM ins
          UNION ALL
          SELECT k, c, s, cents, 'delete', 3
          FROM merged WHERE k BETWEEN 1000 AND 1999)
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents, ct AS _change_type,
               CAST(cv AS BIGINT) AS _commit_version
        FROM cdf ORDER BY _commit_version, _change_type, o_orderkey""")),

    QueryDef("lake_genfmt_prune",
      // the date_format time-series key under the oracle: the ONLY
      // filter is a ONE-SIDED raw epoch-micros bound; the chronological
      // 'yyyy-MM-dd' format is monotone, so LakeGenPruning maps it to
      // a day-directory lower bound at plan time (files-read pin in
      // LakeColumnSemanticsSpec on a stats-free twin)
      (s, dir) => s.sql(
        s"SELECT event_id, day, value FROM ${genFor(s, dir)} " +
          "WHERE ts >= 1704844800000000 ORDER BY event_id"),
      Some("""
        SELECT event_id, strftime(ts, '%Y-%m-%d') AS day, value
        FROM events
        WHERE event_id < 5000 AND epoch_us(ts) >= 1704844800000000
        ORDER BY event_id""")),

    QueryDef("lake_gen_prune",
      // generated-partition filter inference under the oracle: the
      // ONLY filter is on the base timestamp column; the month(…)
      // partition range is inferred at plan time (same-year bounds →
      // omonth ∈ [3, 6]) and row-exactness certifies inference never
      // changes semantics — it is pruning only
      (s, dir) => s.sql(
        s"SELECT o_orderkey, o_custkey, " +
          "date_format(o_orderdate, 'yyyy-MM-dd') AS o_day, " +
          "CAST(omonth AS BIGINT) AS omonth, o_cents " +
          s"FROM ${genInferFor(s, dir)} WHERE " +
          "o_orderdate BETWEEN TIMESTAMP'1995-03-01 00:00:00' " +
          "AND TIMESTAMP'1995-06-30 23:59:59' ORDER BY o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_day,
               CAST(datepart('month', o_orderdate) AS BIGINT) AS omonth,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000
          AND o_orderdate BETWEEN TIMESTAMP '1995-03-01 00:00:00'
                              AND TIMESTAMP '1995-06-30 23:59:59'
        ORDER BY o_orderkey""")),

    QueryDef("lake_dedup_inplace",
      // table-level dedup as a sidecar commit: duplicates are gone
      // from every read, yet no data file was rewritten (the
      // mordelete history row is pinned in LakeDvSpec)
      (s, dir) => LakeTable.scan(s, dedupFor(s, dir))
        .orderBy("doc_id"),
      Some("""
        WITH corpus AS (
          SELECT doc_id, text, lang FROM documents
          UNION ALL
          SELECT doc_id + 10000, text, lang FROM documents
          WHERE doc_id % 5 = 0),
        ranked AS (
          SELECT doc_id, text, lang,
                 row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM corpus)
        SELECT doc_id, text, lang FROM ranked WHERE rn = 1
        ORDER BY doc_id""")),

    QueryDef("lake_restore_read",
      // RESTORE as a new commit: after an append and a copy-on-write
      // delete, rolling back to v0 must reproduce its rows exactly
      // (pure log movement — the oracle is v0's own arithmetic)
      (s, dir) => LakeTable.scan(s, restoreFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 2 = 0
        ORDER BY o_orderkey""")),

    QueryDef("lake_clone_read",
      // shallow clone + clone-local MOR delete: the scan reads the
      // SOURCE's data files by reference, minus the clone's own
      // deletion vector over them
      (s, dir) => LakeTable.scan(s, cloneFor(s, dir))
        .orderBy("o_orderkey"),
      Some(chainSql + """
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents
        FROM final WHERE k NOT BETWEEN 2000 AND 2499
        ORDER BY o_orderkey""")),

    QueryDef("lake_deep_clone_read",
      // DEEP CLONE: physically-owned branch — the SOURCE was vacuumed
      // and its directory deleted after the clone, so every row here
      // reads from the clone's own localized copies, with the
      // inherited deletion vector still applying (identity preserved
      // by the trailing-segment copy)
      (s, dir) => LakeTable.scan(s, deepCloneFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000 AND o_orderkey NOT BETWEEN 700 AND 1199
        ORDER BY o_orderkey""")),

    QueryDef("lake_mor_delete",
      // merge-on-read delete under the oracle: both deletions exist
      // ONLY as deletion-vector sidecars (no data file was rewritten)
      // — the scan's row-index anti-join must hide exactly the
      // cumulative dead positions
      (s, dir) => LakeTable.scan(s, morFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE o_orderkey < 4000 AND o_orderkey NOT BETWEEN 500 AND 1299
        ORDER BY o_orderkey""")),

    QueryDef("lake_mor_sql_read",
      // the FORMAT surface over a DV'd snapshot: the provider falls
      // back to the DV-applying relation, which must still stats-prune
      // the pushed range AND hide the dead positions
      (s, dir) => s.read.format("graft-lake").load(morFor(s, dir))
        .where(col("o_orderkey") >= 400 && col("o_orderkey") <= 1500)
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders
        WHERE (o_orderkey BETWEEN 400 AND 499
               OR o_orderkey BETWEEN 1300 AND 1500)
        ORDER BY o_orderkey""")),

    QueryDef("lake_mor_cdf",
      // CDF over MOR commits: each version's delta is its NEW dead
      // positions only — the overlap [800,999] died in v1 and must
      // not re-appear in v2
      (s, dir) => LakeTable.scanChanges(s, morFor(s, dir), 0L, 2L)
        .orderBy("_commit_version", "o_orderkey"),
      Some("""
        WITH cdf AS (
          SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 1 AS cv
          FROM orders WHERE o_orderkey BETWEEN 500 AND 999
          UNION ALL
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT), 2
          FROM orders WHERE o_orderkey BETWEEN 1000 AND 1299)
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents, 'delete' AS _change_type,
               CAST(cv AS BIGINT) AS _commit_version
        FROM cdf ORDER BY _commit_version, o_orderkey""")),

    QueryDef("lake_sink_replay",
      (s, dir) => LakeTable.scan(s, sinkFor(s, dir))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 1000
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_tail_replay",
      (s, dir) => tailReplay(s, dir),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 1000
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_pipeline_replay",
      (s, dir) => pipelineReplay(s, dir),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 700
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_totable_replay",
      (s, dir) => toTableReplay(s, dir),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 700
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_cdf_replay",
      (s, dir) => cdfReplay(s, dir),
      Some("""
        WITH sd AS (
          SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        cdf AS (
          SELECT k, c, s, cents, 'insert' AS ct, 0 AS cv
          FROM sd WHERE k < 400
          UNION ALL
          SELECT k, c, s, cents, 'insert', 1
          FROM sd WHERE k >= 400 AND k < 700
          UNION ALL
          SELECT k, c, s, cents, 'delete', 2
          FROM sd WHERE k BETWEEN 100 AND 199)
        SELECT k AS o_orderkey, c AS o_custkey, s AS o_orderstatus,
               cents AS o_cents, ct AS _change_type,
               CAST(cv AS BIGINT) AS _commit_version
        FROM cdf ORDER BY _commit_version, _change_type, o_orderkey""")),

    QueryDef("stream_lake_replicate_replay",
      (s, dir) => replicateReplay(s, dir),
      Some("""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'R'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) +
               CASE WHEN o_orderkey % 7 = 0 THEN 7 ELSE 0 END AS o_cents
        FROM orders
        WHERE o_orderkey < 1000
          AND o_orderkey NOT BETWEEN 300 AND 399
          AND o_orderkey NOT BETWEEN 500 AND 549
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_totable_upsert_replay",
      (s, dir) => totableUpsertReplay(s, dir),
      Some("""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey BETWEEN 250 AND 749 THEN 'B'
                    WHEN o_orderkey < 250 THEN 'A'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) +
               CASE WHEN o_orderkey BETWEEN 250 AND 749 THEN 2
                    WHEN o_orderkey < 250 THEN 1
                    ELSE 0 END AS o_cents
        FROM orders WHERE o_orderkey < 1000
        UNION ALL
        SELECT o_orderkey, o_custkey, 'B' AS o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) + 2 AS o_cents
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 1099
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_upsert_replay",
      (s, dir) => upsertReplay(s, dir),
      Some("""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey BETWEEN 250 AND 749 THEN 'B'
                    WHEN o_orderkey < 250 THEN 'A'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) +
               CASE WHEN o_orderkey BETWEEN 250 AND 749 THEN 2
                    WHEN o_orderkey < 250 THEN 1
                    ELSE 0 END AS o_cents
        FROM orders
        WHERE o_orderkey < 1000 AND o_orderkey % 10 <> 0
        ORDER BY o_orderkey""")),

    QueryDef("lake_copy_into_read",
      // idempotent COPY INTO under the oracle: three runs over the
      // landing dir (load, exact re-run, incremental) must read back
      // each seed row EXACTLY once — a double-load duplicates rows
      // and fails the hash
      (s, dir) => {
        val ident = copyFor(s, dir)
        s.sql("SELECT o_orderkey, o_custkey, o_cents " +
          s"FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_defaults_read",
      // DEFAULT column lifecycle under the oracle: create-time
      // defaults on omission, ADD COLUMN DEFAULT backfilling OLD files
      // metadata-only (exists default), SET DEFAULT re-pointing new
      // inserts, DROP DEFAULT preserving history — four key ranges,
      // four different (status, pri, tag) shapes, zero rewrites
      (s, dir) => {
        val ident = semFor(s, dir)
        s.sql("SELECT o_orderkey, o_cents, status, pri, tag " +
          s"FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
               CASE WHEN o_orderkey < 1000 THEN 'open'
                    WHEN o_orderkey < 2000 THEN 'filled'
                    ELSE 'new' END AS status,
               CASE WHEN o_orderkey < 1000 THEN 3
                    WHEN o_orderkey < 2000 THEN 7
                    ELSE CAST(NULL AS INT) END AS pri,
               CASE WHEN o_orderkey < 2500 THEN 'legacy'
                    ELSE 'fresh' END AS tag
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey""")),

    QueryDef("lake_generated_partition_read",
      // GENERATED ALWAYS AS column that is ALSO the hive partition
      // key (the time-series lakehouse shape): INSERTs omit `day`,
      // the writer computes it, files land under day=<value>/ and the
      // equality read prunes to one directory
      (s, dir) => {
        val ident = genFor(s, dir)
        s.sql("SELECT event_id, day, value FROM " +
          s"$ident WHERE day = '2024-01-01' ORDER BY event_id")
      },
      Some("""
        SELECT event_id, strftime(ts, '%Y-%m-%d') AS day, value
        FROM events
        WHERE event_id < 5000 AND strftime(ts, '%Y-%m-%d') = '2024-01-01'
        ORDER BY event_id""")),

    QueryDef("lake_identity_read",
      // IDENTITY allocation across two inserts and a MERGE: ids are
      // engine-allocated (banded, gaps allowed) so the oracle pins the
      // INVARIANTS as data — unique non-null ids >= start, exact
      // business rows — rather than unpredictable literal values
      (s, dir) => {
        val ident = idFor(s, dir)
        s.sql(s"""
          SELECT t.o_orderkey, t.o_cents, a.n_ids, a.n_distinct,
                 a.ids_from_start
          FROM $ident t CROSS JOIN (
            SELECT CAST(count(id) AS BIGINT) AS n_ids,
                   CAST(count(DISTINCT id) AS BIGINT) AS n_distinct,
                   CAST(min(id) >= 1 AS INT) AS ids_from_start
            FROM $ident) a
          ORDER BY t.o_orderkey""")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) +
                   CASE WHEN o_orderkey >= 1000 AND o_orderkey < 2500
                        THEN 11 ELSE 0 END AS o_cents
          FROM orders WHERE o_orderkey < 2500)
        SELECT o_orderkey, o_cents,
               (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_ids,
               (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_distinct,
               CAST(1 AS INT) AS ids_from_start
        FROM base ORDER BY o_orderkey""")),

    QueryDef("lake_dyn_overwrite_read",
      // dynamic INSERT OVERWRITE under the oracle: three month
      // partitions re-materialized (+9 cents) in ONE commit, every
      // other month's rows must read back byte-exact from their
      // ORIGINAL files (survivors are never read or rewritten — a
      // static overwrite here would be wrong data, a replaced-partition
      // leak would duplicate rows; both fail the hash)
      (s, dir) => {
        val ident = dynFor(s, dir)
        s.sql("SELECT o_orderkey, o_cents, omonth " +
          s"FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        WITH sd AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
                 strftime(o_orderdate, '%Y-%m') AS omonth
          FROM orders WHERE o_orderkey < 3000)
        SELECT o_orderkey, o_cents, omonth FROM sd
        WHERE omonth NOT IN ('1995-01', '1995-02', '1995-03')
        UNION ALL
        SELECT o_orderkey, o_cents + 9 AS o_cents, omonth FROM sd
        WHERE omonth IN ('1995-01', '1995-02', '1995-03')
        ORDER BY o_orderkey""")),

    QueryDef("lake_drop_partition_read",
      // ALTER TABLE ... DROP PARTITION under the oracle: one
      // metadata-only commit removes the 'P' partition's file
      // references; the surviving partitions must read back byte-exact
      // (nothing was rewritten), the dropped rows exactly gone
      (s, dir) => {
        val ident = dropPartFor(s, dir)
        s.sql("SELECT o_orderkey, o_custkey, o_cents, o_orderstatus " +
          s"FROM $ident ORDER BY o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
               o_orderstatus
        FROM orders
        WHERE o_orderkey < 3000 AND o_orderstatus <> 'P'
        ORDER BY o_orderkey""")),

    QueryDef("lake_cdf_dynoverwrite",
      // CDF across a REWRITE commit — the nightly-reload tables
      // downstream consumers actually diff: the change view of the
      // dynamic overwrite (v2 of the dyn chain) must be exactly one
      // 'delete' per replaced-partition original row and one 'insert'
      // per re-materialized row (+9 cents), with survivors in
      // untouched partitions contributing NOTHING. DuckDB recomputes
      // the +/- multiset from the same seed arithmetic — a
      // replaced-partition leak (old rows not deleted) or a survivor
      // bleed (untouched partitions in the diff) both fail the hash.
      (s, dir) => {
        dynFor(s, dir) // ensure the chain exists
        LakeTable.scanChanges(s, s"${PerFixture.path("dyn", dir)}/core/m",
          1L, 2L)
          .orderBy("_change_type", "o_orderkey")
      },
      Some("""
        WITH sd AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
                 strftime(o_orderdate, '%Y-%m') AS omonth
          FROM orders WHERE o_orderkey < 3000
            AND strftime(o_orderdate, '%Y-%m')
                IN ('1995-01', '1995-02', '1995-03')),
        cdf AS (
          SELECT o_orderkey, o_cents, omonth, 'delete' AS _change_type
          FROM sd
          UNION ALL
          SELECT o_orderkey, o_cents + 9, omonth, 'insert' FROM sd)
        SELECT o_orderkey, o_cents, omonth, _change_type,
               CAST(2 AS BIGINT) AS _commit_version
        FROM cdf ORDER BY _change_type, o_orderkey""")),

    QueryDef("lake_cdf_drop_partition",
      // CDF across a Remove-ONLY commit: DROP PARTITION (v2 of the
      // partition-management chain) adds no files, so the change view
      // is pure deletes — every 'P' row exactly once, the partition
      // column injected from the REMOVED files' stats (the one place
      // the injected-column path runs with an empty added side).
      (s, dir) => {
        dropPartFor(s, dir) // ensure the chain exists
        LakeTable.scanChanges(s, s"${PerFixture.path("dp", dir)}/core/o",
          1L, 2L)
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
               o_orderstatus,
               'delete' AS _change_type,
               CAST(2 AS BIGINT) AS _commit_version
        FROM orders
        WHERE o_orderkey < 3000 AND o_orderstatus = 'P'
        ORDER BY o_orderkey""")),

    QueryDef("stream_lake_totable_identity_replay",
      // IDENTITY + GENERATED columns through the DSv2 streaming sink
      // with a restart: the stream omits both computed columns, task
      // writers fill them, ids stay unique across the restart (the
      // n_ids = n_distinct invariant), and the generated value is
      // exact data the oracle recomputes
      (s, dir) => toTableIdentityReplay(s, dir),
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
          FROM orders WHERE o_orderkey < 700)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_cents,
               o_cents * 2 AS cents2,
               (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_ids,
               (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_distinct,
               CAST(1 AS INT) AS ids_from_start
        FROM base ORDER BY o_orderkey"""))
  )
}
