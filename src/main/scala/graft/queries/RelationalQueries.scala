package graft.queries

import graft.Tables
import graft.functions.AggFunctions
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The relational operator inventory (SURVEY §2.2), one declared query
  * per category, each with a DuckDB oracle. Spark side is DataFrame
  * API throughout — Catalyst plans the physical shape (TakeOrdered,
  * WindowGroupLimit, broadcast joins, partial aggregation).
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Memoized bloom-join child session (q_runtime_bloom_join): one
    * conf-overridden child per parent session, keyed weakly so a
    * discarded parent doesn't pin its child (and listener state) for
    * the JVM's lifetime.
    */
  private val bloomSessionCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())
  private def bloomSessionFor(s: SparkSession): SparkSession =
    bloomSessionCache.synchronized {
      var s2 = bloomSessionCache.get(s)
      if (s2 == null) {
        s2 = s.newSession()
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s2.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
          "0")
        bloomSessionCache.put(s, s2)
      }
      s2
    }

  // ---- derived TPC-H fixture columns ------------------------------
  // The driver fixture carries no partsupp table and no commit/
  // receipt-date / container / shipmode / shipinstruct / mfgr columns,
  // which blocked 9 of the 22 classic TPC-H shapes. Rather than skip
  // them, the missing attributes are DERIVED deterministically from
  // the columns the fixture does carry — pure positive-integer
  // arithmetic on the keys (identical semantics in Spark and DuckDB,
  // so the oracle replays the derivation bit-exactly via the CTE
  // fragments below) — and partsupp is the distinct (l_partkey,
  // l_suppkey) projection of lineitem, which guarantees referential
  // integrity with the fact table by construction (every lineitem
  // pair exists in partsupp, as in real TPC-H). At 100 TB these would
  // be real columns/tables; the queries' join/agg shapes are what is
  // being exercised, and those are unchanged.

  /** partsupp derived from lineitem: one row per distinct
    * (l_partkey, l_suppkey) pair; availqty and supplycost are key
    * hashes (supplycost kept as exact integer CENTS, `ps_supplycost_i`,
    * so min-equality joins and value sums never touch floating point).
    */
  private def partsuppD(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_availqty",
        (col("ps_partkey") * 17 + col("ps_suppkey") * 31) % 9999 + 1)
      .withColumn("ps_supplycost_i",
        (col("ps_partkey") * 293 + col("ps_suppkey") * 107) % 100000 + 100)

  /** The partsupp CTE fragment replayed by the DuckDB oracles —
    * byte-for-byte the same integer arithmetic as [[partsuppD]].
    */
  private val psCte: String =
    """partsupp AS (
       SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 17 + ps_suppkey * 31) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 293 + ps_suppkey * 107) % 100000 + 100
           AS ps_supplycost_i
       FROM (SELECT DISTINCT l_partkey AS ps_partkey,
               l_suppkey AS ps_suppkey FROM lineitem))"""

  private val shipmodes =
    Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val shipinstructs =
    Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val containers = Seq(
    "SM CASE", "SM BOX", "SM PACK", "SM PKG", "MED BAG", "MED BOX",
    "MED PKG", "MED PACK", "LG CASE", "LG BOX", "LG PACK", "LG PKG")

  /** lineitem plus derived l_commitdate / l_receiptdate / l_shipmode /
    * l_shipinstruct. Dates are day offsets from l_shipdate keyed on
    * the row's own keys: commit in [-30, +30] (so ship-before-commit
    * and late-delivery predicates both select real subsets), receipt
    * in [+1, +30].
    */
  private def lineitemD(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("l_commitdate",
        date_add(col("l_shipdate").cast("date"),
          ((col("l_orderkey") * 3 + col("l_linenumber") * 7) % 61 - 30)
            .cast("int")))
      .withColumn("l_receiptdate",
        date_add(col("l_shipdate").cast("date"),
          ((col("l_partkey") * 5 + col("l_linenumber") * 11) % 30 + 1)
            .cast("int")))
      .withColumn("l_shipmode",
        element_at(array(shipmodes.map(lit): _*),
          ((col("l_orderkey") + col("l_linenumber")) % 7 + 1).cast("int")))
      .withColumn("l_shipinstruct",
        element_at(array(shipinstructs.map(lit): _*),
          ((col("l_partkey") + col("l_suppkey")) % 4 + 1).cast("int")))

  /** The lineitem-extension CTE (`lx`) for the oracles — same
    * derivations as [[lineitemD]]. DuckDB DATE + INTEGER adds days,
    * matching Spark's `date_add`.
    */
  private val lxCte: String =
    """lx AS (
       SELECT l.*,
         CAST(l_shipdate AS DATE)
           + CAST((l_orderkey * 3 + l_linenumber * 7) % 61 - 30 AS INTEGER)
           AS l_commitdate,
         CAST(l_shipdate AS DATE)
           + CAST((l_partkey * 5 + l_linenumber * 11) % 30 + 1 AS INTEGER)
           AS l_receiptdate,
         CASE (l_orderkey + l_linenumber) % 7
           WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
           WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
           ELSE 'FOB' END AS l_shipmode,
         CASE (l_partkey + l_suppkey) % 4
           WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
           WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct
       FROM lineitem l)"""

  /** part plus derived p_container / p_mfgr. */
  private def partD(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .withColumn("p_container",
        element_at(array(containers.map(lit): _*),
          (col("p_partkey") % 12 + 1).cast("int")))
      .withColumn("p_mfgr",
        concat(lit("Manufacturer#"), (col("p_partkey") % 5 + 1).cast("string")))

  /** The part-extension CTE (`px`) for the oracles. */
  private val pxCte: String =
    """px AS (
       SELECT p.*,
         CASE p_partkey % 12
           WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'SM BOX' WHEN 2 THEN 'SM PACK'
           WHEN 3 THEN 'SM PKG' WHEN 4 THEN 'MED BAG' WHEN 5 THEN 'MED BOX'
           WHEN 6 THEN 'MED PKG' WHEN 7 THEN 'MED PACK' WHEN 8 THEN 'LG CASE'
           WHEN 9 THEN 'LG BOX' WHEN 10 THEN 'LG PACK' ELSE 'LG PKG'
         END AS p_container,
         'Manufacturer#' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS p_mfgr
       FROM part p)"""

  /** BUCKETED copies of orders/lineitem (8 buckets on the join key,
    * sorted within buckets), a [[PerFixture]] artifact written via
    * `bucketBy(...).saveAsTable`, so a declared query can prove the
    * co-located join end-to-end — both scans expose the same hash
    * partitioning and the join runs with NO exchange on either side.
    * At 100 TB this is THE shuffle-elimination lever for repeated
    * fact-to-fact joins: the shuffle is paid once at write time, then
    * every join on the bucket key is exchange-free forever.
    */
  private def bucketedTablesFor(s: SparkSession, dir: String): (String, String) =
    PerFixture("bkt", dir) { _ =>
      val tag = PerFixture.hash(dir)
      val (ot, lt) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
      // a previous JVM's managed-table DIRECTORY can outlive the
      // in-memory catalog entry — clear both or saveAsTable refuses
      // with LOCATION_ALREADY_EXISTS
      def reset(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val loc = java.nio.file.Paths.get(wh, name)
        if (java.nio.file.Files.exists(loc)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(loc).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      reset(ot); reset(lt)
      t(s, dir, "orders").write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      t(s, dir, "lineitem").write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      (ot, lt)
    }

  /** Hive-partitioned copy of `events` (day=YYYY-MM-DD dirs, 30
    * partitions), a [[PerFixture]] artifact read back as a partitioned
    * source so a declared query can prove partition PRUNING end-to-end
    * — the first thing a 100 TB consumer relies on (a day-ranged query
    * must touch the matching partition dirs, not the whole table). The
    * layout is exactly what a daily ingest job produces with
    * `.write.partitionBy("day")`.
    */
  private def partitionedEventsFor(s: SparkSession, dir: String): String =
    PerFixture("events_by_day", dir) { path =>
      // ts arrives as a micros long (Tables normalizes every fixture form)
      t(s, dir, "events")
        .withColumn("day", to_date(timestamp_micros(col("ts"))))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      path
    }

  /** Floor-consistent integer division as a SQL fragment: DuckDB `//`
    * FLOORS while Spark `div` truncates toward zero, so the two
    * diverge on negative inputs (pre-1970 timestamps, negative
    * prices). `a - pmod(a, b)` is the largest multiple of `b` that is
    * `<= a` (pmod is always non-negative), so the quotient is exact
    * floor division in pure integer arithmetic — identical to `div`
    * on the non-negative domain, so existing oracles are unchanged.
    */
  private def floorDiv(a: String, b: Long): String =
    s"(($a) - pmod($a, ${b}L)) div ${b}L"

  /** events with the click values masked to NULL — the fixture for the
    * reference's NULL-handling modes (no table has native NULLs).
    */
  private def maskedEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"), col("user_id"),
      when(col("event_type") === "click", lit(null))
        .otherwise(col("value")).as("v"))

  /** One SQL text, two engines (q_sql_surface): runs VERBATIM through
    * `spark.sql` over temp views AND through DuckDB as its own oracle
    * — the dialect-portable subset (ANSI joins, integer cents
    * arithmetic, alias group-by, deterministic tiebreak) hash-matches
    * bit-for-bit. TPC-H Q3's shape on this schema.
    */
  private val sqlSurfaceText: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_day,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_orderkey, o_day
      ORDER BY revenue_e4 DESC, l_orderkey
      LIMIT 10"""

  /** One SQL text, two engines (q_not_in_nullaware): NOT IN against a
    * NULL-free vs a NULL-containing subquery — the 3VL behavior pair.
    */
  private val notInNullawareSql: String =
    """WITH mask AS (SELECT CASE WHEN event_type = 'click' THEN NULL
          ELSE user_id END AS uid FROM events),
      clean AS (SELECT uid FROM mask WHERE uid IS NOT NULL)
    SELECT
      (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT uid FROM clean)) AS n_not_in_clean,
      (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN (SELECT uid FROM mask)) AS n_not_in_withnull"""

  val all: Seq[QueryDef] = Seq(

    // ---- reference core: global top-N, one per supported numeric type ----

    QueryDef("topn_price_double",
      (s, dir) => TopN.transformDeterministic(
        TopNConfig("l_extendedprice", 10), Seq("l_orderkey", "l_linenumber"))(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        FROM lineitem
        ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey, l_linenumber
        LIMIT 10""")),

    QueryDef("topn_orderkey_long",
      (s, dir) => TopN.transformDeterministic(
        TopNConfig("o_orderkey", 10), Nil)(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders ORDER BY o_orderkey DESC NULLS LAST LIMIT 10""")),

    QueryDef("topn_size_int",
      (s, dir) => TopN.transformDeterministic(
        TopNConfig("p_size", 10), Seq("p_partkey"))(
        t(s, dir, "part").select("p_partkey", "p_name", "p_size")),
      Some("""SELECT p_partkey, p_name, p_size
        FROM part ORDER BY p_size DESC NULLS LAST, p_partkey LIMIT 10""")),

    QueryDef("topn_qty_float",
      (s, dir) => TopN.transformDeterministic(
        TopNConfig("qty_f", 10), Seq("l_orderkey", "l_linenumber"))(
        t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(FloatType).as("qty_f"))),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_quantity AS REAL) AS qty_f
        FROM lineitem
        ORDER BY qty_f DESC NULLS LAST, l_orderkey, l_linenumber LIMIT 10""")),

    // ---- reference NULL modes (O5/O6) ----

    QueryDef("topn_ignorenull",
      (s, dir) => TopN.transformDeterministic(
        TopNConfig("v", 15, ignoreNull = true), Seq("event_id"))(
        maskedEvents(s, dir)),
      Some("""SELECT event_id, user_id, value AS v FROM events
        WHERE event_type <> 'click'
        ORDER BY v DESC NULLS LAST, event_id LIMIT 15""")),

    QueryDef("topn_nulls_kept",
      (s, dir) => TopN.transformDeterministic(
        TopNConfig("v", 300), Seq("event_id"))(
        maskedEvents(s, dir).where(col("event_id") < 300)),
      Some("""SELECT event_id, user_id,
          CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
        FROM events WHERE event_id < 300
        ORDER BY v DESC NULLS LAST, event_id LIMIT 300""")),

    // ---- grouped top-N (O8) ----

    QueryDef("grouped_topn_orders",
      (s, dir) => GroupedTopN.transform(
        TopNConfig("o_totalprice", 3), Seq("o_custkey"), Seq("o_orderkey"))(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3""")),

    QueryDef("grouped_topn_agg",
      // the TypedImperativeAggregate path (map-side partial heaps);
      // projecting only (group, ranking value) keeps the output
      // tie-insensitive, so the oracle comparison is exact
      (s, dir) => GroupedTopN.transformViaAggregate(
          TopNConfig("o_totalprice", 3), Seq("o_custkey"))(
          t(s, dir, "orders"))
        .select("o_custkey", "o_totalprice"),
      Some("""SELECT o_custkey, o_totalprice FROM (
          SELECT o_custkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC NULLS LAST) AS rn
          FROM orders) WHERE rn <= 3""")),

    QueryDef("grouped_topn_ties",
      // TIE-DENSE grouped top-N: l_quantity has ~50 distinct values,
      // so top-3 per return flag is all ties at the max quantity and
      // the selected row SET is determined ENTIRELY by the documented
      // tiebreaker extension (SURVEY §2.1 quirk 1 — the reference's
      // contract is tie-agnostic, `TopNTest.java:124` compares sets;
      // this engine declares (l_orderkey, l_linenumber) ascending and
      // the oracle hash-match certifies that exact rule as data).
      (s, dir) => GroupedTopN.transform(
        TopNConfig("l_quantity", 3), Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber"))(
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")),
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM (
          SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
            row_number() OVER (PARTITION BY l_returnflag
              ORDER BY l_quantity DESC NULLS LAST, l_orderkey, l_linenumber) AS rn
          FROM lineitem) WHERE rn <= 3""")),

    // ---- aggregation: hash agg with partial/final, grouping ----

    QueryDef("q1_agg",
      // money sums via exact scaled integers (graft.functions
      // .AggFunctions): codegen'd long aggregation, bit-identical to
      // the DECIMAL formulation, ~3x faster buffers
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          AggFunctions.moneySum(col("l_quantity")).as("sum_qty"),
          AggFunctions.moneySum(col("l_extendedprice")).as("sum_base_price"),
          AggFunctions.moneySumDiscounted(col("l_extendedprice"), col("l_discount"))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
          sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
            AS sum_disc_price,
          count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    QueryDef("q_distinct_agg",
      (s, dir) => t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status")),
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts,
          count(DISTINCT l_suppkey) AS n_supps,
          count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        FROM lineitem""")),

    QueryDef("q_bitwise_agg",
      // bitwise aggregates (bit_and/bit_or/bit_xor): flag-mask folding
      // over grouped BIGINTs. All three are commutative+associative, so
      // the partial (map-side) aggregate applies unchanged — one shuffle
      // of 3 longs per group regardless of row count. xor doubles as a
      // cheap membership-parity check (a row counted twice cancels out).
      (s, dir) => t(s, dir, "lineitem").where(col("l_orderkey") < 5000)
        .groupBy(col("l_returnflag"))
        .agg(expr("bit_and(l_orderkey)").as("mask_and"),
          expr("bit_or(l_orderkey)").as("mask_or"),
          expr("bit_xor(l_orderkey)").as("mask_xor"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
          bit_and(l_orderkey) AS mask_and,
          bit_or(l_orderkey) AS mask_or,
          bit_xor(l_orderkey) AS mask_xor,
          count(*) AS n
        FROM lineitem WHERE l_orderkey < 5000
        GROUP BY l_returnflag""")),

    QueryDef("q_bool_agg",
      // boolean aggregates (bool_and/bool_or) + filtered count. The
      // Spark side uses count_if, the oracle the ANSI FILTER clause —
      // same semantics, both partial-aggregable (a boolean fold ships
      // one byte per group from the map side).
      (s, dir) => t(s, dir, "orders").groupBy(col("o_orderstatus"))
        .agg(expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
          expr("bool_or(o_totalprice > 400000)").as("any_over_400k"),
          expr("count_if(o_orderpriority = '1-URGENT')").as("n_urgent"),
          count(lit(1)).as("n")),
      Some("""SELECT o_orderstatus,
          bool_and(o_totalprice > 1000) AS all_over_1k,
          bool_or(o_totalprice > 400000) AS any_over_400k,
          count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
          count(*) AS n
        FROM orders GROUP BY o_orderstatus""")),

    QueryDef("q_listagg",
      // ordered string aggregation as a NATIVE aggregate (Spark 4
      // listagg ... WITHIN GROUP == DuckDB string_agg ... ORDER BY),
      // not the collect_list+array_sort fold q_journey_paths uses. The
      // (ts, event_id) tiebreak makes the concatenation deterministic;
      // restricting to one low-cardinality user set keeps each group's
      // string bounded (listagg is inherently a gather — at 100 TB you
      // bound the group, never the table).
      (s, dir) => t(s, dir, "events")
        .where(col("user_id") < 50 && col("event_type").isin("view", "click"))
        .groupBy(col("user_id"))
        .agg(expr("listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id)")
          .as("trail"),
          count(lit(1)).as("n")),
      Some("""SELECT user_id,
          string_agg(event_type, '>' ORDER BY ts, event_id) AS trail,
          count(*) AS n
        FROM events
        WHERE user_id < 50 AND event_type IN ('view', 'click')
        GROUP BY user_id""")),

    QueryDef("q_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          AggFunctions.moneySum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
          sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),

    QueryDef("q_cube",
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          AggFunctions.moneySum(col("l_extendedprice")).as("sum_price")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""")),

    QueryDef("q_grouping_sets",
      // explicit GROUPING SETS (the general form rollup/cube are sugar
      // for): flag x status detail, per-flag subtotal, grand total
      (s, dir) => t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          AggFunctions.moneySum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
          sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")),

    // Multi-granularity time rollup: hourly AND daily event totals
    // from ONE scan — GROUPING SETS plans a single Expand over the
    // fact rows with partial aggregation below the exchange, where
    // two separate queries would scan the 100 TB fact table twice.
    QueryDef("q_time_rollup",
      (s, dir) => t(s, dir, "events")
        .select(expr("ts div 86400000000").as("day"),
          expr("ts div 3600000000").as("hour"), col("value"))
        .groupingSets(Seq(Seq(col("day")), Seq(col("hour"))),
          col("day"), col("hour"))
        .agg(count(lit(1)).as("n"),
          AggFunctions.moneySum(col("value")).as("sum_value")),
      Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
            epoch_us(ts) // 3600000000 AS hour, value FROM events)
        SELECT day, hour, count(*) AS n,
          sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        FROM e GROUP BY GROUPING SETS ((day), (hour))""")),

    // ---- joins: broadcast inner, semi, anti, outer, range ----

    QueryDef("q_full_outer_join",
      // per-nation deep-debt customer vs supplier counts; thresholds
      // chosen (data-probed) so the sf0.01 nation sets overlap on some
      // keys and mismatch in BOTH directions — every null-extension
      // path of the full outer join is exercised
      (s, dir) => {
        val cn = t(s, dir, "customer").where(col("c_acctbal") < -900)
          .groupBy(col("c_nationkey").as("k"))
          .agg(count(lit(1)).as("n_cust"))
        val sn = t(s, dir, "supplier").where(col("s_acctbal") < -500)
          .groupBy(col("s_nationkey").as("k"))
          .agg(count(lit(1)).as("n_supp"))
        cn.join(sn, Seq("k"), "full_outer")
      },
      Some("""SELECT COALESCE(c.k, s.k) AS k, c.n_cust, s.n_supp FROM
          (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer
           WHERE c_acctbal < -900 GROUP BY 1) c
          FULL JOIN
          (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier
           WHERE s_acctbal < -500 GROUP BY 1) s
          ON c.k = s.k""")),

    // ---- classic TPC-H query shapes (Q3/Q5/Q10 adapted to the
    // fixture's columns) — the "a reference user can run their
    // analytics verbatim" surface: multi-join star plans where
    // Catalyst broadcast-plans the dims and AQE sizes the fact joins;
    // every revenue is the exact integer cents x (100 - discount
    // cents) product, so doubles hash-match across engines ----

    QueryDef("q_tpch_q3",
      // shipping-priority shape: unshipped BUILDING orders at the
      // cutoff, top 10 by discounted lineitem revenue
      (s, dir) => {
        val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") < lit("1998-07-01").cast("date"))
        val l = t(s, dir, "lineitem")
          .where(col("l_shipdate") > lit("1998-07-01").cast("date"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(AggFunctions.moneySumDiscounted(
            col("l_extendedprice"), col("l_discount")).as("revenue"))
          .select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1998-07-01'
          AND l_shipdate > DATE '1998-07-01'
        GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    QueryDef("q_tpch_q5",
      // local-supplier volume: revenue per ASIA nation in 1997 where
      // the supplying and buying nations coincide — the 6-table snow-
      // flake with region/nation broadcast and the c/s nation-equality
      // constraint threaded through the fact joins
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1997-01-01").cast("date") &&
            col("o_orderdate") < lit("1998-01-01").cast("date"))
        val l = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region").where(col("r_name") === "ASIA")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey") &&
            c("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(AggFunctions.moneySumDiscounted(
            col("l_extendedprice"), col("l_discount")).as("revenue"))
      },
      Some("""SELECT n_name,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
            AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= DATE '1997-01-01'
          AND o_orderdate < DATE '1998-01-01'
        GROUP BY n_name""")),

    QueryDef("q_tpch_q10",
      // returned-item reporting: top 20 customers by lost revenue in
      // 1997Q4 (returnflag = 'R'), with their nation
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1997-10-01").cast("date") &&
            col("o_orderdate") < lit("1998-01-01").cast("date"))
        val l = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        val n = t(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(AggFunctions.moneySumDiscounted(
            col("l_extendedprice"), col("l_discount")).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1997-10-01'
          AND o_orderdate < DATE '1998-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    QueryDef("q_tpch_q6",
      // forecast-revenue-change shape: pure scan-side filter + one
      // global agg — the query whose 100 TB cost is BANDWIDTH, with
      // every predicate pushed to parquet. Discount compared in exact
      // cents, revenue = cents x cents at scale 1e4.
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate") < lit("1998-01-01").cast("date") &&
          AggFunctions.cents(col("l_discount")).between(5, 7) &&
          col("l_quantity") < 24)
        .agg((sum(AggFunctions.cents(col("l_extendedprice")) *
          AggFunctions.cents(col("l_discount"))) / 10000.0).as("revenue")),
      Some("""SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate < DATE '1998-01-01'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
          AND l_quantity < 24""")),

    QueryDef("q_tpch_q7",
      // volume-shipping shape: bilateral trade between two nations by
      // ship year — the two-aliased-dimension join (nation joined
      // TWICE under different roles) with an OR-of-pairs predicate
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val n1 = t(s, dir, "nation").select(
          col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation").select(
          col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), sup("s_nationkey") === col("n1_key"))
          .join(broadcast(n2), c("c_nationkey") === col("n2_key"))
          .where((col("supp_nation") === "NATION_1" &&
              col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" &&
              col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast(LongType).as("l_year"))
          .agg(AggFunctions.moneySumDiscounted(
            col("l_extendedprice"), col("l_discount")).as("revenue"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS BIGINT) AS l_year,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)""")),

    QueryDef("q_tpch_q14",
      // promo-revenue shape: conditional share of one month's revenue.
      // Both integer sums ride ONE scan-side join; the percentage is
      // the only floating division and is stated identically in SQL.
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-09-01").cast("date") &&
            col("l_shipdate") < lit("1997-10-01").cast("date"))
        val p = t(s, dir, "part")
        val rev = AggFunctions.cents(col("l_extendedprice")) *
          (lit(100L) - AggFunctions.cents(col("l_discount")))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .agg((lit(100.0) *
            sum(when(col("p_type") === "PROMO", rev).otherwise(0L))
              .cast("double") /
            sum(rev).cast("double")).as("promo_pct"))
      },
      Some("""SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))
            ELSE 0 END) AS DOUBLE)
          / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
          AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1997-09-01'
          AND l_shipdate < DATE '1997-10-01'""")),

    QueryDef("q_tpch_q18",
      // large-volume-customer shape: group-HAVING over the fact table
      // feeding a join back to its dimensions — top 50 orders whose
      // total quantity exceeds 200 units
      (s, dir) => {
        val big = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast(LongType)).as("sum_qty"))
          .where(col("sum_qty") > 200)
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        big.join(o, big("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey").asc)
          .limit(50)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
          CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, sum_qty
        FROM (SELECT l_orderkey,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 200) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY sum_qty DESC, o_orderkey LIMIT 50""")),

    QueryDef("q_tpch_q8",
      // national-market-share shape: NATION_3's share of ASIA-region
      // PROMO revenue per order year — the conditional-sum-over-
      // snowflake plan where the share numerator rides the same scan
      // as the denominator and the only floating op is one division
      // of two exact-integer-derived doubles per year
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val p = t(s, dir, "part").where(col("p_type") === "PROMO")
        val n1 = t(s, dir, "nation").select(
          col("n_nationkey").as("cn_key"), col("n_regionkey"))
        val r = t(s, dir, "region").where(col("r_name") === "ASIA")
        val n2 = t(s, dir, "nation").select(
          col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val rev = AggFunctions.cents(col("l_extendedprice")) *
          (lit(100L) - AggFunctions.cents(col("l_discount")))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), c("c_nationkey") === col("cn_key"))
          .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
          .join(broadcast(n2), sup("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_3", rev)
              .otherwise(0L)).cast("double") /
            sum(rev).cast("double")).as("mkt_share"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
              THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
              ELSE 0 END) AS DOUBLE)
            / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
            AS mkt_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        GROUP BY CAST(year(o_orderdate) AS BIGINT)""")),

    QueryDef("q_tpch_q13",
      // customer-distribution shape: LEFT join preserving order-less
      // customers, then a distribution OVER the aggregate — the
      // double-grouping plan (per-customer count, then histogram of
      // counts; the second agg's input is already one row per
      // customer, so the big exchange happens once)
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        GROUP BY c_count""")),

    QueryDef("q_tpch_q15",
      // top-supplier shape: a revenue view consumed twice — once per
      // supplier, once for its max — with the tie-complete equality
      // on EXACT integer cents (a double-revenue max could drop tied
      // winners on rounding; integers cannot)
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
            col("l_shipdate") < lit("1997-04-01").cast("date"))
          .groupBy(col("l_suppkey"))
          .agg(sum(AggFunctions.cents(col("l_extendedprice")) *
            (lit(100L) - AggFunctions.cents(col("l_discount"))))
            .as("rev_i"))
        val top = rev.agg(max(col("rev_i")).as("max_i"))
        t(s, dir, "supplier")
          .join(rev, col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(top), col("rev_i") === col("max_i"))
          .select(col("s_suppkey"), col("s_name"),
            (col("rev_i") / 10000.0).as("total_revenue"))
      },
      Some("""WITH rev AS (
          SELECT l_suppkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
              AS rev_i
          FROM lineitem
          WHERE l_shipdate >= DATE '1997-01-01'
            AND l_shipdate < DATE '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, rev_i / 10000.0 AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE rev_i = (SELECT max(rev_i) FROM rev)""")),

    QueryDef("q_tpch_q17",
      // small-quantity-order shape: per-part average threaded back as
      // a CROSS-MULTIPLIED integer predicate (qty < avg/5 stated as
      // 5*qty*cnt < sum — no floating average anywhere), Brand#1 only
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val p = t(s, dir, "part").where(col("p_brand") === "Brand#1")
        val stats = l.groupBy(col("l_partkey").as("sp_key"))
          .agg(sum(col("l_quantity").cast(LongType)).as("sum_q"),
            count(lit(1)).as("cnt_q"))
        l.join(p, l("l_partkey") === p("p_partkey"))
          .join(stats, l("l_partkey") === col("sp_key"))
          .where(col("l_quantity").cast(LongType) * 5 * col("cnt_q") <
            col("sum_q"))
          .agg((sum(AggFunctions.cents(col("l_extendedprice")))
            / 100.0 / 7.0).as("avg_yearly"))
      },
      Some("""WITH stats AS (
          SELECT l_partkey AS sp_key,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
            count(*) AS cnt_q
          FROM lineitem GROUP BY l_partkey)
        SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            / 100.0 / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON l_partkey = p_partkey
          JOIN stats ON l_partkey = sp_key
        WHERE p_brand = 'Brand#1'
          AND CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q""")),

    QueryDef("q_tpch_q22",
      // global-customer-sentiment shape: a scalar aggregate (average
      // positive balance, kept as an exact cents cross-multiplication)
      // gates an anti-join — customers above the average with no
      // RECENT orders (1999+; at fixture SF nearly every customer has
      // SOME order, so the classic no-orders-ever form is empty),
      // grouped by nation
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1999-01-01").cast("date"))
        val posAvg = c.where(col("c_acctbal") > 0)
          .agg(sum(AggFunctions.cents(col("c_acctbal"))).as("sum_pos"),
            count(lit(1)).as("n_pos"))
        c.crossJoin(broadcast(posAvg))
          .where(AggFunctions.cents(col("c_acctbal")) * col("n_pos") >
            col("sum_pos"))
          .join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").cast(LongType).as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            AggFunctions.moneySum(col("c_acctbal")).as("totacctbal"))
      },
      Some("""WITH pa AS (
          SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
              AS sum_pos, count(*) AS n_pos
          FROM customer WHERE c_acctbal > 0)
        SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
          count(*) AS numcust,
          sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
        FROM customer, pa
        WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > sum_pos
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
            AND o_orderdate >= DATE '1999-01-01')
        GROUP BY CAST(c_nationkey AS BIGINT)""")),

    QueryDef("q_tpch_q2",
      // minimum-cost-supplier shape: for each qualifying part, the
      // ASIA supplier(s) offering the region-minimum supply cost —
      // the correlated-min subquery decorrelated into a per-part min
      // aggregate joined back on (partkey, EXACT integer cost), so
      // cost ties keep every tied supplier (a double-min could drop
      // them on rounding). Region-filtered suppliers broadcast; the
      // min relation is partkey-keyed like the offers, so the
      // back-join co-partitions.
      (s, dir) => {
        val p = partD(s, dir)
          .where(col("p_size") === 15 && col("p_type") === "STANDARD")
          .select(col("p_partkey"), col("p_mfgr"))
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region").where(col("r_name") === "ASIA")
        val asiaSup = t(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name"))
        val offers = partsuppD(s, dir)
          .join(broadcast(asiaSup), col("ps_suppkey") === col("s_suppkey"))
        val minCost = offers.groupBy(col("ps_partkey").as("mc_key"))
          .agg(min(col("ps_supplycost_i")).as("min_cost_i"))
        offers
          .join(minCost, col("ps_partkey") === col("mc_key") &&
            col("ps_supplycost_i") === col("min_cost_i"))
          .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_mfgr"),
            (col("ps_supplycost_i") / 100.0).as("ps_supplycost"))
          .orderBy(col("s_acctbal").desc, col("n_name").asc,
            col("s_name").asc, col("p_partkey").asc)
          .limit(100)
      },
      Some(s"""WITH $psCte, $pxCte,
        asia AS (SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'),
        offers AS (SELECT * FROM partsupp JOIN asia ON ps_suppkey = s_suppkey),
        mc AS (SELECT ps_partkey AS mc_key, min(ps_supplycost_i) AS min_cost_i
          FROM offers GROUP BY 1)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_mfgr,
          ps_supplycost_i / 100.0 AS ps_supplycost
        FROM offers JOIN mc ON ps_partkey = mc_key
            AND ps_supplycost_i = min_cost_i
          JOIN px ON ps_partkey = p_partkey
        WHERE p_size = 15 AND p_type = 'STANDARD'
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")),

    QueryDef("q_tpch_q4",
      // order-priority-checking shape: orders in one quarter with at
      // least one LATE lineitem (commitdate < receiptdate), counted by
      // priority — the canonical EXISTS-decorrelated-to-semi-join.
      // The late filter applies BEFORE the semi join, so only late
      // orderkeys shuffle.
      (s, dir) => {
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1997-07-01").cast("date") &&
            col("o_orderdate") < lit("1997-10-01").cast("date"))
        val late = lineitemD(s, dir)
          .where(col("l_commitdate") < col("l_receiptdate"))
          .select(col("l_orderkey"))
        o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some(s"""WITH $lxCte
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1997-07-01'
          AND o_orderdate < DATE '1997-10-01'
          AND EXISTS (SELECT 1 FROM lx WHERE l_orderkey = o_orderkey
            AND l_commitdate < l_receiptdate)
        GROUP BY o_orderpriority""")),

    QueryDef("q_tpch_q9",
      // product-type-profit shape: profit by supplier nation and order
      // year over '%red%' parts — the 6-table join whose profit is
      // revenue minus supply cost. Both terms are EXACT integers at
      // scale 1e4 (cents x (100-cents) and cents x quantity x 100), so
      // one subtraction and one final division keep the double
      // hash-exact. partsupp joins the fact on its natural composite
      // key; nation broadcasts.
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val p = t(s, dir, "part").where(col("p_name").like("%red%"))
          .select(col("p_partkey"))
        val ps = partsuppD(s, dir)
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
        val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
          .join(ps, l("l_partkey") === ps("ps_partkey") &&
            l("l_suppkey") === ps("ps_suppkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg((sum(AggFunctions.cents(col("l_extendedprice")) *
              (lit(100L) - AggFunctions.cents(col("l_discount"))) -
              col("ps_supplycost_i") * col("l_quantity").cast(LongType) * 100L)
            / 10000.0).as("sum_profit"))
      },
      Some(s"""WITH $psCte
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))
            - ps_supplycost_i * CAST(l_quantity AS BIGINT) * 100)
            / 10000.0 AS sum_profit
        FROM lineitem JOIN part ON l_partkey = p_partkey
          JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)""")),

    QueryDef("q_tpch_q11",
      // important-stock shape: per-part inventory value in one nation,
      // kept when above a fraction of the nation total. Value is an
      // exact integer (cost cents x availqty); the 0.0001 threshold is
      // a cross-multiplied integer comparison (value_i * 10000 >
      // total_i) against a 1-row broadcast total — no floating
      // threshold anywhere.
      (s, dir) => {
        val n = t(s, dir, "nation").where(col("n_name") === "NATION_3")
        val natSup = t(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val natPs = partsuppD(s, dir)
          .join(broadcast(natSup), col("ps_suppkey") === col("s_suppkey"))
          .withColumn("v_i", col("ps_supplycost_i") * col("ps_availqty"))
        val total = natPs.agg(sum(col("v_i")).as("total_i"))
        natPs.groupBy(col("ps_partkey"))
          .agg(sum(col("v_i")).as("value_i"))
          .crossJoin(broadcast(total))
          .where(col("value_i") * 10000L > col("total_i"))
          .select(col("ps_partkey"), (col("value_i") / 100.0).as("value"))
      },
      Some(s"""WITH $psCte,
        nat_ps AS (SELECT ps_partkey,
            ps_supplycost_i * ps_availqty AS v_i
          FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'),
        tot AS (SELECT CAST(sum(v_i) AS BIGINT) AS total_i FROM nat_ps)
        SELECT ps_partkey, value_i / 100.0 AS value
        FROM (SELECT ps_partkey, CAST(sum(v_i) AS BIGINT) AS value_i
            FROM nat_ps GROUP BY 1), tot
        WHERE value_i * 10000 > total_i""")),

    QueryDef("q_tpch_q12",
      // shipmode-priority shape: late-but-committed lineitems received
      // in 1998 by MAIL/SHIP, split into high/low order-priority
      // counts — conditional aggregation over one fact join, with all
      // three derived-date predicates pushed to the scan side.
      (s, dir) => {
        val l = lineitemD(s, dir)
          .where(col("l_shipmode").isin("MAIL", "SHIP") &&
            col("l_commitdate") < col("l_receiptdate") &&
            col("l_shipdate").cast("date") < col("l_commitdate") &&
            col("l_receiptdate") >= lit("1998-01-01").cast("date") &&
            col("l_receiptdate") < lit("1999-01-01").cast("date"))
        val o = t(s, dir, "orders")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_shipmode"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count"))
      },
      Some(s"""WITH $lxCte
        SELECT l_shipmode,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lx JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipmode IN ('MAIL', 'SHIP')
          AND l_commitdate < l_receiptdate
          AND CAST(l_shipdate AS DATE) < l_commitdate
          AND l_receiptdate >= DATE '1998-01-01'
          AND l_receiptdate < DATE '1999-01-01'
        GROUP BY l_shipmode""")),

    QueryDef("q_tpch_q16",
      // parts/supplier-relationship shape: distinct supplier count per
      // (brand, type, size) bucket, excluding one brand, one type
      // family, and a keyed "complaints" supplier list (the fixture
      // has no s_comment; the exclusion predicate is s_suppkey%10=3,
      // keeping the NOT-IN-subquery shape). The exclusion anti-joins
      // BEFORE the part join, so excluded suppliers never reach the
      // wide relation.
      (s, dir) => {
        val p = t(s, dir, "part")
          .where(col("p_brand") =!= "Brand#3" &&
            !col("p_type").like("PROMO%") &&
            col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))
        val complaints = t(s, dir, "supplier")
          .where(col("s_suppkey") % 10 === 3).select(col("s_suppkey"))
        partsuppD(s, dir)
          .join(broadcast(complaints),
            col("ps_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      },
      Some(s"""WITH $psCte
        SELECT p_brand, p_type, p_size,
          count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#3'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
            WHERE s_suppkey % 10 = 3)
        GROUP BY p_brand, p_type, p_size""")),

    QueryDef("q_tpch_q19",
      // discounted-revenue shape: the OR-of-three-bracketed-ANDs
      // predicate (brand x container-class x quantity band x size
      // band) over one part join, with the shared shipmode/instruct
      // conjuncts factored out so they push to the lineitem scan.
      // Catalyst keeps the disjunction as a single post-join filter —
      // one fact pass, no union-of-three-scans blowup.
      (s, dir) => {
        val l = lineitemD(s, dir)
          .where(col("l_shipmode").isin("AIR", "REG AIR") &&
            col("l_shipinstruct") === "DELIVER IN PERSON")
        val p = partD(s, dir)
        l.join(p, l("l_partkey") === p("p_partkey"))
          .where(
            (col("p_brand") === "Brand#1" &&
              col("p_container").isin("SM CASE", "SM BOX", "SM PACK", "SM PKG") &&
              col("l_quantity").between(1, 11) &&
              col("p_size").between(1, 5)) ||
            (col("p_brand") === "Brand#2" &&
              col("p_container").isin("MED BAG", "MED BOX", "MED PKG", "MED PACK") &&
              col("l_quantity").between(10, 20) &&
              col("p_size").between(1, 10)) ||
            (col("p_brand") === "Brand#3" &&
              col("p_container").isin("LG CASE", "LG BOX", "LG PACK", "LG PKG") &&
              col("l_quantity").between(20, 30) &&
              col("p_size").between(1, 15)))
          .agg(AggFunctions.moneySumDiscounted(
            col("l_extendedprice"), col("l_discount")).as("revenue"))
      },
      Some(s"""WITH $lxCte, $pxCte
        SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
            AS revenue
        FROM lx JOIN px ON l_partkey = p_partkey
        WHERE l_shipmode IN ('AIR', 'REG AIR')
          AND l_shipinstruct = 'DELIVER IN PERSON'
          AND ((p_brand = 'Brand#1'
              AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
              AND l_quantity BETWEEN 1 AND 11
              AND p_size BETWEEN 1 AND 5)
            OR (p_brand = 'Brand#2'
              AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
              AND l_quantity BETWEEN 10 AND 20
              AND p_size BETWEEN 1 AND 10)
            OR (p_brand = 'Brand#3'
              AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
              AND l_quantity BETWEEN 20 AND 30
              AND p_size BETWEEN 1 AND 15))""")),

    QueryDef("q_tpch_q20",
      // potential-part-promotion shape: NATION_5 suppliers whose
      // available quantity of a '%red%' part exceeds half of what they
      // shipped of it in 1997 — two chained semi-joins with the
      // half-of-sum threshold cross-multiplied to exact integers
      // (2*availqty > sum_qty). The shipped aggregate is keyed on the
      // same composite key as partsupp, so the threshold join
      // co-partitions.
      (s, dir) => {
        val redParts = t(s, dir, "part")
          .where(col("p_name").like("%red%")).select(col("p_partkey"))
        val shipped = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
            col("l_shipdate") < lit("1998-01-01").cast("date"))
          .groupBy(col("l_partkey").as("sq_pk"), col("l_suppkey").as("sq_sk"))
          .agg(sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        val qualifying = partsuppD(s, dir)
          .join(broadcast(redParts),
            col("ps_partkey") === col("p_partkey"), "left_semi")
          .join(shipped, col("ps_partkey") === col("sq_pk") &&
            col("ps_suppkey") === col("sq_sk"))
          .where(col("ps_availqty") * 2L > col("sum_qty"))
          .select(col("ps_suppkey")).distinct()
        val n = t(s, dir, "nation").where(col("n_name") === "NATION_5")
        t(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(qualifying),
            col("s_suppkey") === col("ps_suppkey"), "left_semi")
          .select(col("s_name"), col("s_acctbal"))
      },
      Some(s"""WITH $psCte,
        shipped AS (SELECT l_partkey AS sq_pk, l_suppkey AS sq_sk,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          FROM lineitem
          WHERE l_shipdate >= DATE '1997-01-01'
            AND l_shipdate < DATE '1998-01-01'
          GROUP BY 1, 2)
        SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
          AND s_suppkey IN (SELECT ps_suppkey
            FROM partsupp JOIN shipped
              ON ps_partkey = sq_pk AND ps_suppkey = sq_sk
            WHERE ps_availqty * 2 > sum_qty
              AND ps_partkey IN (SELECT p_partkey FROM part
                WHERE p_name LIKE '%red%'))""")),

    QueryDef("q_tpch_q21",
      // suppliers-who-kept-orders-waiting shape: for 'F' orders with
      // multiple suppliers, the SOLE late supplier's lineitems,
      // counted per NATION_1 supplier. The classic double-correlated
      // EXISTS/NOT-EXISTS pair is re-expressed as ONE per-order
      // aggregate (distinct suppliers, distinct LATE suppliers): l1
      // qualifies iff n_supp >= 2 and n_late_supp == 1 — identical
      // row-level semantics (proven by the classic-form oracle below)
      // with two fact self-joins replaced by one aggregate join, the
      // shape that survives 100 TB.
      (s, dir) => {
        val l = lineitemD(s, dir).select(col("l_orderkey"), col("l_suppkey"),
          (col("l_receiptdate") > col("l_commitdate")).as("late"))
        val perOrder = l.groupBy(col("l_orderkey").as("po_ok"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(col("late"), col("l_suppkey")))
              .as("n_late_supp"))
        val fOrders = t(s, dir, "orders")
          .where(col("o_orderstatus") === "F").select(col("o_orderkey"))
        val n = t(s, dir, "nation").where(col("n_name") === "NATION_1")
        val sup = t(s, dir, "supplier")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))
        l.where(col("late"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .join(perOrder, col("l_orderkey") === col("po_ok"))
          .where(col("n_supp") >= 2 && col("n_late_supp") === 1)
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name").asc)
          .limit(100)
      },
      Some(s"""WITH $lxCte
        SELECT s_name, count(*) AS numwait
        FROM lx l1 JOIN orders ON l1.l_orderkey = o_orderkey
          JOIN supplier ON l1.l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
          AND l1.l_receiptdate > l1.l_commitdate
          AND EXISTS (SELECT 1 FROM lx l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lx l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_receiptdate > l3.l_commitdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 100""")),

    QueryDef("q_join_revenue",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val n = t(s, dir, "nation")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            AggFunctions.moneySum(col("o_totalprice")).as("revenue"),
            count(lit(1)).as("n_orders"))
      },
      Some("""SELECT n_name,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
          count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")),

    QueryDef("q_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").where(col("o_orderstatus") === "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""")),

    QueryDef("q_anti_join",
      (s, dir) => {
        val p = t(s, dir, "part")
        val l = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
          .select("p_partkey", "p_name")
      },
      Some("""SELECT p_partkey, p_name FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem
          WHERE l_partkey = p_partkey AND l_quantity > 45)""")),

    QueryDef("q_outer_join",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val su = t(s, dir, "supplier")
        n.join(su, n("n_nationkey") === su("s_nationkey"), "left_outer")
          .groupBy(col("n_name"))
          .agg(count(col("s_suppkey")).as("n_suppliers"))
      },
      Some("""SELECT n_name, count(s_suppkey) AS n_suppliers
        FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        GROUP BY n_name""")),

    QueryDef("q_range_join",
      // acctbal bands of width 400 indexed by nationkey: a genuine
      // non-equi (range) join; nation is broadcast so the physical plan
      // is BroadcastNestedLoopJoin over 25 rows, not a shuffle.
      (s, dir) => {
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        c.join(broadcast(n),
            c("c_acctbal") >= n("n_nationkey") * 400 &&
              c("c_acctbal") < (n("n_nationkey") + 1) * 400)
          .groupBy(col("n_nationkey"))
          .agg(count(lit(1)).as("n_cust"))
      },
      Some("""SELECT n_nationkey, count(*) AS n_cust
        FROM nation JOIN customer
          ON c_acctbal >= n_nationkey * 400 AND c_acctbal < (n_nationkey + 1) * 400
        GROUP BY n_nationkey""")),

    QueryDef("q_interval_join",
      // equi + interval predicate: lineitems shipped within 60 days of
      // their order's date. The equi key keeps this a hash join with a
      // post-filter — never a nested-loop range join
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        l.join(o, l("l_orderkey") === o("o_orderkey") &&
            l("l_shipdate") >= o("o_orderdate") &&
            l("l_shipdate") < o("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_shipped_60d"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_shipped_60d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 60 DAY
        GROUP BY l_returnflag""")),

    QueryDef("q_nullsafe_join",
      // null-safe equality (<=>): NULL keys match each other, unlike
      // plain = which drops them
      (s, dir) => {
        val ev = maskedEvents(s, dir).where(col("event_id") < 100)
        ev.as("x").join(ev.as("y"),
            col("x.v") <=> col("y.v") && col("x.event_id") < col("y.event_id"))
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("x.v").isNull, 1)).as("n_null_pairs"))
      },
      Some("""WITH m AS (
          SELECT event_id,
            CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
          FROM events WHERE event_id < 100)
        SELECT count(*) AS n_pairs,
          count(CASE WHEN x.v IS NULL THEN 1 END) AS n_null_pairs
        FROM m x JOIN m y
          ON x.v IS NOT DISTINCT FROM y.v AND x.event_id < y.event_id""")),

    QueryDef("q_salted_join",
      // the skew-salting tool under the driver's oracle gate: salting
      // only re-partitions (deterministic row-hash salt on the skewed
      // side, factor-replication of the other), so the salted inner
      // join must be ROW-IDENTICAL to the plain join — the oracle is
      // the unsalted SQL join
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey").as("k"), col("o_totalprice"))
        val c = t(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_name"))
        SkewTools.saltedJoin(o, c, "k", factor = 8)
          .groupBy(col("c_name"))
          .agg(count(lit(1)).as("n_orders"),
            AggFunctions.moneySum(col("o_totalprice")).as("revenue"))
      },
      Some("""SELECT c_name, count(*) AS n_orders,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_name""")),

    QueryDef("q_runtime_bloom_join",
      // RUNTIME-FILTERED big-big join: Catalyst's InjectRuntimeFilter
      // builds a bloom filter from the selective (filtered) orders
      // side and pushes `might_contain(l_orderkey)` into the lineitem
      // scan — at 100 TB this drops most of the fact-table rows
      // BEFORE the join shuffle instead of after it. Broadcast is
      // disabled to reproduce the big-big regime where the rewrite
      // matters (a broadcastable dim needs no bloom). The overrides
      // live in a child session (`newSession`) so the registry's
      // other queries keep their plans; the child is memoized per
      // parent session so repeated bench/correctness runs reuse one
      // instead of accumulating sessions for the JVM's lifetime.
      // PlanShapeSpec pins the might_contain injection; the oracle is
      // the plain join+agg.
      (s, dir) => {
        val s2 = bloomSessionFor(s)
        val o = t(s2, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val l = t(s2, dir, "lineitem")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            AggFunctions.moneySum(col("l_extendedprice")).as("revenue"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
          sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag""")),

    QueryDef("q_skew_report",
      // SKEW DIAGNOSTICS — the report an operator runs BEFORE choosing
      // a join strategy at 100 TB (salt? AQE skew split? broadcast?):
      // for each candidate shuffle key, the key-space size, the
      // hottest key and its count, and the skew factor
      // (hottest / mean per-key count, as an exact integer permille).
      // One partial-agg'd count per key space, then a 1-row
      // TakeOrdered per key space — the diagnosis never re-shuffles
      // more than (key, count) pairs. Exact integer arithmetic
      // end-to-end: skew_x1000 = max_cnt * n_keys * 1000 div n_rows.
      // The events.user_id row exposes the fixture's planted hot key
      // (the same skew q_salted_join and the AQE skew pin exercise).
      (s, dir) => {
        def keyStats(df: DataFrame, keyRef: String, key: String): DataFrame = {
          val counts = df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("cnt"))
            // share-the-scan OPTIMIZATION, not a correctness cut: the
            // counts relation feeds top-1 AND the totals, and without
            // the cut each consumer would recompute the grouped count.
            // Removing it changes cost, never results — unlike
            // PrefixSum.cumulative's cut (PrefixSum.scala), where the
            // checkpoint pins one shard assignment and removal would
            // be a correctness bug. Keep the two conventions distinct.
            .localCheckpoint(eager = false)
          val top = counts.orderBy(col("cnt").desc, col("k").asc).limit(1)
            .select(col("k").as("hot_key"), col("cnt").as("hot_cnt"))
          val tot = counts.agg(count(lit(1)).as("n_keys"),
            sum(col("cnt")).as("n_rows"))
          top.crossJoin(tot).select(
            lit(keyRef).as("key_ref"), col("n_keys"), col("n_rows"),
            col("hot_key"), col("hot_cnt"),
            expr("hot_cnt * n_keys * 1000 div n_rows").as("skew_x1000"))
        }
        keyStats(t(s, dir, "events"), "events.user_id", "user_id")
          .union(keyStats(t(s, dir, "orders"), "orders.o_custkey", "o_custkey"))
          .union(keyStats(t(s, dir, "lineitem"), "lineitem.l_partkey", "l_partkey"))
      },
      Some("""WITH ec AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
          oc AS (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1),
          lc AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
          e AS (SELECT 'events.user_id' AS key_ref,
              (SELECT count(*) FROM ec) AS n_keys,
              (SELECT sum(cnt) FROM ec) AS n_rows,
              k AS hot_key, cnt AS hot_cnt
            FROM ec ORDER BY cnt DESC, k LIMIT 1),
          o AS (SELECT 'orders.o_custkey',
              (SELECT count(*) FROM oc), (SELECT sum(cnt) FROM oc),
              k, cnt FROM oc ORDER BY cnt DESC, k LIMIT 1),
          l AS (SELECT 'lineitem.l_partkey',
              (SELECT count(*) FROM lc), (SELECT sum(cnt) FROM lc),
              k, cnt FROM lc ORDER BY cnt DESC, k LIMIT 1),
          u AS (SELECT * FROM e UNION ALL SELECT * FROM o
            UNION ALL SELECT * FROM l)
        SELECT key_ref, CAST(n_keys AS BIGINT) AS n_keys,
          CAST(n_rows AS BIGINT) AS n_rows, hot_key,
          CAST(hot_cnt AS BIGINT) AS hot_cnt,
          CAST(hot_cnt * n_keys * 1000 // n_rows AS BIGINT) AS skew_x1000
        FROM u""")),

    QueryDef("fuzzy_join_parts",
      // blocked fuzzy self-join (entity resolution): the blocking key
      // (p_brand, p_size) bounds the candidate set — 1250 blocks of
      // ~n/1250 rows, so candidates grow as n²/1250, never the raw n²
      // cross product — and edit distance verifies candidates only.
      // Both engines implement classic unit-cost Levenshtein, so even
      // the fuzzy predicate hash-matches exactly. The Spark side uses
      // the THRESHOLD-capped variant (returns -1 past the cap): the DP
      // early-exits once a row of the edit matrix exceeds 2, turning
      // O(len^2) per candidate into O(len * cap) — the per-pair cost
      // that matters once blocking has bounded the pair count. Kept
      // pairs have true distance <= 2, so the capped value equals the
      // exact one on every surviving row.
      (s, dir) => {
        val b = t(s, dir, "part")
          .select("p_partkey", "p_name", "p_brand", "p_size")
        val d = levenshtein(col("l.p_name"), col("r.p_name"), 2)
        b.as("l").join(b.as("r"),
            col("l.p_brand") === col("r.p_brand") &&
              col("l.p_size") === col("r.p_size") &&
              col("l.p_partkey") < col("r.p_partkey"))
          .where(d.between(0, 2))
          .select(col("l.p_partkey").as("a"), col("r.p_partkey").as("b"),
            col("l.p_name").as("a_name"), col("r.p_name").as("b_name"),
            d.cast("long").as("dist"))
      },
      Some("""WITH b AS (SELECT p_partkey, p_name, p_brand, p_size FROM part)
        SELECT l.p_partkey AS a, r.p_partkey AS b,
          l.p_name AS a_name, r.p_name AS b_name,
          CAST(levenshtein(l.p_name, r.p_name) AS BIGINT) AS dist
        FROM b l JOIN b r
          ON l.p_brand = r.p_brand AND l.p_size = r.p_size
            AND l.p_partkey < r.p_partkey
        WHERE levenshtein(l.p_name, r.p_name) <= 2""")),

    QueryDef("q_exists_subquery",
      // correlated EXISTS (TPC-H Q4 shape): Catalyst decorrelates it
      // to a left-semi hash join on l_orderkey — asserted against the
      // same rewrite DuckDB plans, both checked via the oracle
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_sq")
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
        s.sql("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders_sq o
          WHERE EXISTS (SELECT 1 FROM lineitem_sq l
            WHERE l.l_orderkey = o.o_orderkey
              AND CAST(l.l_shipdate AS DATE) >
                date_add(CAST(o.o_orderdate AS DATE), 60))
          GROUP BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
        GROUP BY o_orderpriority""")),

    QueryDef("q_scalar_subquery",
      // correlated aggregate scalar subquery (TPC-H Q17 shape):
      // decorrelated to an aggregate + join on l_partkey. Exactness:
      // quantities are integer-valued, so the per-part double sum is
      // exact and order-independent, 0.2*avg is the identical double
      // in both engines, and the money sum follows the DECIMAL(18,2)
      // convention with one final double division
      (s, dir) => {
        t(s, dir, "part").createOrReplaceTempView("part_sq")
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
        s.sql("""SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
              AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
          FROM lineitem_sq l JOIN part_sq p ON p.p_partkey = l.l_partkey
          WHERE p.p_brand = 'Brand#1'
            AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem_sq l2 WHERE l2.l_partkey = l.l_partkey)""")
      },
      Some("""SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
            AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""")),

    // ---- as-of join (union+window, single shuffle — AsOfJoin) ----

    QueryDef("q_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        AsOfJoin.lastPrior(purchases, clicks,
            keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
            valueCol = "event_id", outCol = "prior_click")
          .select("event_id", "user_id", "prior_click")
      },
      Some("""SELECT event_id, user_id, prior_click FROM (
          SELECT p.event_id AS event_id, p.user_id AS user_id,
            c.event_id AS prior_click,
            row_number() OVER (PARTITION BY p.event_id
              ORDER BY c.ts DESC, c.event_id DESC) AS rn
          FROM events p LEFT JOIN events c
            ON p.user_id = c.user_id AND c.event_type = 'click' AND c.ts < p.ts
          WHERE p.event_type = 'purchase') WHERE rn = 1""")),

    // Forward as-of: each purchase picks the user's EARLIEST strictly
    // later click (pandas merge_asof direction="forward"). Same
    // one-shuffle union+window plan as q_asof_join — the oracle's
    // theta-join form is what the operator exists to avoid at scale.
    QueryDef("q_asof_forward",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        AsOfJoin.firstAfter(purchases, clicks,
            keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
            valueCol = "event_id", outCol = "next_click")
          .select("event_id", "user_id", "next_click")
      },
      Some("""SELECT event_id, user_id, next_click FROM (
          SELECT p.event_id AS event_id, p.user_id AS user_id,
            c.event_id AS next_click,
            row_number() OVER (PARTITION BY p.event_id
              ORDER BY c.ts ASC, c.event_id DESC) AS rn
          FROM events p LEFT JOIN events c
            ON p.user_id = c.user_id AND c.event_type = 'click' AND c.ts > p.ts
          WHERE p.event_type = 'purchase') WHERE rn = 1""")),

    // Nearest as-of with a 6-hour tolerance: each purchase picks the
    // user's click closest in |time|, exact-time matches allowed,
    // distance ties broken toward the earlier click, equal-time clicks
    // toward the greater event_id (merge_asof direction="nearest",
    // tolerance=6h). Purchases with no click in tolerance keep NULL.
    QueryDef("q_asof_nearest",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        AsOfJoin.nearest(purchases, clicks,
            keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
            valueCol = "event_id", outCol = "near_click",
            toleranceMicros = Some(6L * 3600 * 1000000))
          .select("event_id", "user_id", "near_click")
      },
      Some("""SELECT event_id, user_id, near_click FROM (
          SELECT p.event_id AS event_id, p.user_id AS user_id,
            c.event_id AS near_click,
            row_number() OVER (PARTITION BY p.event_id
              ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
                CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END ASC,
                c.event_id DESC) AS rn
          FROM events p LEFT JOIN events c
            ON p.user_id = c.user_id AND c.event_type = 'click'
              AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 21600000000
          WHERE p.event_type = 'purchase') WHERE rn = 1""")),

    // ---- window functions: ranking, analytic, frames ----

    QueryDef("q_window_funcs",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir, "orders").where(col("o_custkey") < 100)
          .select(
            col("o_custkey"), col("o_orderkey"),
            row_number().over(w).cast(LongType).as("rn"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            (sum(AggFunctions.cents(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              / 100.0).as("running_spend"))
      },
      Some("""SELECT o_custkey, o_orderkey,
          CAST(row_number() OVER w AS BIGINT) AS rn,
          lag(o_totalprice, 1) OVER w AS prev_price,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
            AS running_spend
        FROM orders WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    QueryDef("q_window_range_frame",
      // VALUE-based (RANGE) frame — trailing 30-day spend per
      // customer: peers by day value, not row position, so same-day
      // orders always aggregate together regardless of row order.
      // Money sums in exact cents over the frame; days are integer
      // epoch-days on both sides
      (s, dir) => {
        val o = t(s, dir, "orders").where(col("o_custkey") < 100)
          .withColumn("day",
            datediff(col("o_orderdate").cast(DateType),
              lit("1970-01-01").cast(DateType)).cast(LongType))
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-29, 0)
        o.select(col("o_custkey"), col("o_orderkey"), col("day"),
          (sum(AggFunctions.cents(col("o_totalprice"))).over(w) / 100.0)
            .as("trailing_30d_spend"),
          count(lit(1)).over(w).cast(LongType).as("n_orders_30d"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
            CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
          FROM orders WHERE o_custkey < 100)
        SELECT o_custkey, o_orderkey, day,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w / 100.0
            AS trailing_30d_spend,
          CAST(count(*) OVER w AS BIGINT) AS n_orders_30d
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
          RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""")),

    QueryDef("q_dist_rank",
      // distribution-rank analytics: percent_rank, cume_dist, and
      // nth_value over a fully tie-broken ordering. With no ties,
      // percent_rank = (rn-1)/(N-1) and cume_dist = rn/N — exact
      // integer ratios, so the DOUBLE division is correctly rounded
      // identically on both engines (QueryDef doc: never round doubles
      // mid-plan; these are single divisions of exact integers). The
      // full (qty, orderkey, linenumber) tiebreak also makes the
      // default RANGE frame for nth_value row-deterministic.
      (s, dir) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity").asc, col("l_orderkey").asc,
            col("l_linenumber").asc)
        t(s, dir, "lineitem").where(col("l_orderkey") < 2000)
          .select(col("l_orderkey"),
            col("l_linenumber").cast(LongType).as("line_no"),
            col("l_returnflag"), col("l_quantity"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            nth_value(col("l_quantity"), 3).over(w).as("third_qty"))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
          l_returnflag, l_quantity,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd,
          nth_value(l_quantity, 3) OVER w AS third_qty
        FROM lineitem WHERE l_orderkey < 2000
        WINDOW w AS (PARTITION BY l_returnflag
          ORDER BY l_quantity, l_orderkey, l_linenumber)""")),

    QueryDef("q_profile",
      // data-quality profiling: null and distinct counts for five
      // columns in ONE scan — the multi-distinct is a single Expand
      // (5x constant fan-out) + partial agg, not five passes; stack()
      // unpivots the one driver row
      (s, dir) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority")
        val aggs = cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")))
        t(s, dir, "orders")
          .agg(count(lit(1)).as("n_rows"), aggs: _*)
          .select(col("n_rows"), expr("stack(5, " +
            cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ") +
            ") AS (col_name, n_nulls, n_distinct)"))
      },
      Some("""WITH a AS (SELECT count(*) AS n_rows,
          sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1,
          count(DISTINCT o_orderkey) AS nd1,
          sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn2,
          count(DISTINCT o_custkey) AS nd2,
          sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn3,
          count(DISTINCT o_orderstatus) AS nd3,
          sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn4,
          count(DISTINCT o_totalprice) AS nd4,
          sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn5,
          count(DISTINCT o_orderpriority) AS nd5
        FROM orders)
        SELECT n_rows, 'o_orderkey' AS col_name,
          CAST(nn1 AS BIGINT) AS n_nulls, nd1 AS n_distinct FROM a
        UNION ALL SELECT n_rows, 'o_custkey', CAST(nn2 AS BIGINT), nd2 FROM a
        UNION ALL SELECT n_rows, 'o_orderstatus', CAST(nn3 AS BIGINT), nd3 FROM a
        UNION ALL SELECT n_rows, 'o_totalprice', CAST(nn4 AS BIGINT), nd4 FROM a
        UNION ALL SELECT n_rows, 'o_orderpriority', CAST(nn5 AS BIGINT), nd5
          FROM a""")),

    // ---- set operations ----

    QueryDef("q_setops",
      (s, dir) => {
        val ck = t(s, dir, "customer").select(col("c_nationkey").as("k"))
        val sk = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
        ck.intersect(sk).select(lit("both").as("tag"), col("k"))
          .unionByName(ck.except(sk).select(lit("cust_only").as("tag"), col("k")))
      },
      Some("""SELECT 'both' AS tag, k FROM
          (SELECT c_nationkey AS k FROM customer
           INTERSECT SELECT s_nationkey AS k FROM supplier)
        UNION ALL
        SELECT 'cust_only' AS tag, k FROM
          (SELECT c_nationkey AS k FROM customer
           EXCEPT SELECT s_nationkey AS k FROM supplier)""")),

    QueryDef("q_setops_all",
      // MULTISET set ops (EXCEPT ALL / INTERSECT ALL): duplicates carry
      // multiplicity, so Catalyst plans a count-annotated aggregate +
      // Generate replay — a genuinely different physical shape from the
      // DISTINCT set ops above (which lower to left-anti / left-semi
      // joins). Output is re-aggregated to (value, multiplicity) so the
      // row SET is deterministic while the multiset semantics stay
      // observable: any engine that deduplicated early gets mult=1
      // everywhere and hash-fails.
      (s, dir) => {
        val ok = t(s, dir, "orders")
          .select((col("o_custkey") % 100).as("k"))
        val ck = t(s, dir, "customer")
          .select((col("c_custkey") % 100).as("k"))
        val ex = ok.exceptAll(ck).groupBy(col("k"))
          .agg(count(lit(1)).as("mult"))
          .select(lit("except_all").as("tag"), col("k"), col("mult"))
        val ia = ok.intersectAll(ck).groupBy(col("k"))
          .agg(count(lit(1)).as("mult"))
          .select(lit("intersect_all").as("tag"), col("k"), col("mult"))
        ex.unionByName(ia)
      },
      Some("""SELECT 'except_all' AS tag, k, CAST(count(*) AS BIGINT) AS mult
          FROM (SELECT o_custkey % 100 AS k FROM orders
                EXCEPT ALL SELECT c_custkey % 100 AS k FROM customer)
          GROUP BY k
        UNION ALL
        SELECT 'intersect_all' AS tag, k, CAST(count(*) AS BIGINT) AS mult
          FROM (SELECT o_custkey % 100 AS k FROM orders
                INTERSECT ALL SELECT c_custkey % 100 AS k FROM customer)
          GROUP BY k""")),

    // ---- scalar functions: string / date / math ----

    QueryDef("q_scalar_funcs",
      (s, dir) => t(s, dir, "orders").where(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 4)).as("pri4"),
          year(col("o_orderdate")).cast(LongType).as("yr"),
          month(col("o_orderdate")).cast(LongType).as("mo"),
          (col("o_orderkey") % 7).as("m7"),
          abs(col("o_orderkey") - 1000).as("centered"),
          length(concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")))
            .cast(LongType).as("taglen"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag")),
      Some("""SELECT o_orderkey,
          upper(substr(o_orderpriority, 1, 4)) AS pri4,
          CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(month(o_orderdate) AS BIGINT) AS mo,
          o_orderkey % 7 AS m7,
          abs(o_orderkey - 1000) AS centered,
          CAST(length(o_orderstatus || '-' || o_orderpriority) AS BIGINT) AS taglen,
          o_orderstatus || '-' || o_orderpriority AS tag
        FROM orders WHERE o_orderkey < 500""")),

    QueryDef("q_pivot",
      // wide-format pivot on the 3 return flags (explicit value list
      // keeps column names deterministic: a/n/r)
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(AggFunctions.moneySum(col("l_quantity")))
        .withColumnRenamed("A", "a").withColumnRenamed("N", "n")
        .withColumnRenamed("R", "r"),
      Some("""SELECT l_linestatus,
          sum(CASE WHEN l_returnflag = 'A'
            THEN CAST(round(l_quantity * 100) AS BIGINT) END) / 100.0 AS a,
          sum(CASE WHEN l_returnflag = 'N'
            THEN CAST(round(l_quantity * 100) AS BIGINT) END) / 100.0 AS n,
          sum(CASE WHEN l_returnflag = 'R'
            THEN CAST(round(l_quantity * 100) AS BIGINT) END) / 100.0 AS r
        FROM lineitem GROUP BY l_linestatus""")),

    QueryDef("q_unpivot",
      // long-format melt of the per-part numeric measures
      (s, dir) => t(s, dir, "part").where(col("p_partkey") < 100)
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size").cast(DoubleType).as("p_size"),
            col("p_retailprice")),
          "measure", "val"),
      Some("""SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val
          FROM part WHERE p_partkey < 100
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS val
          FROM part WHERE p_partkey < 100""")),

    QueryDef("q_percentiles",
      // interpolated percentiles: both engines compute a+(b-a)*f over
      // the sorted values — IEEE-identical when inputs are identical
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)").as("p50_qty"),
          expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)").as("p95_price"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
          percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_qty,
          percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95_price,
          count(*) AS n
        FROM lineitem GROUP BY l_returnflag""")),

    QueryDef("q_approx_percentile_gate",
      // bounded-memory quantile SKETCH under the oracle gate, the
      // q_sketch_distinct convention applied to percentiles: at 100 TB
      // an exact per-group percentile needs a sort or a full value
      // histogram, while approx_percentile's Greenwald-Khanna summary
      // is O(1/eps) memory and MERGEABLE (map-side partials combine) —
      // but a sketch value is engine-internal, so the DECLARED surface
      // is (exact percentile, within-guarantee BOOLEAN): accuracy=100
      // guarantees rank error <= n/100, so the sketch's p50 must lie
      // between the exact percentile_disc values at ranks 0.48 and
      // 0.52 (a 2x-slack bracket, monotone in rank so value-space
      // checkable). The oracle recomputes the exact columns and
      // expects every bracket flag TRUE — a sketch drifting past its
      // contract goes red, while the gate stays hash-stable under any
      // merge order because only the GUARANTEE is declared, never the
      // estimate
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)")
            .as("p50_exact"),
          count(lit(1)).as("n"),
          expr("approx_percentile(l_quantity, 0.5, 100)").as("__sk"),
          expr("percentile_disc(0.48) WITHIN GROUP (ORDER BY l_quantity)")
            .as("__lo"),
          expr("percentile_disc(0.52) WITHIN GROUP (ORDER BY l_quantity)")
            .as("__hi"))
        .select(col("l_returnflag"), col("p50_exact"), col("n"),
          (col("__sk") >= col("__lo") && col("__sk") <= col("__hi"))
            .as("sketch_in_bound")),
      Some("""SELECT l_returnflag,
          percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_exact,
          count(*) AS n, true AS sketch_in_bound
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- JSON scalar functions (events.props is a JSON string) ----

    QueryDef("q_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS n
        FROM events GROUP BY 1""")),

    QueryDef("q_regexp_extract",
      // regexp surface: extract-all (match count), first-match
      // extraction, replace-all, and an rlike predicate — all four are
      // codegen'd string kernels evaluated in ONE scan pass, no
      // shuffle at all (pure per-row projection + filter), so the
      // query is scan-bandwidth-bound at 100 TB. The pattern sticks
      // to \b/class/quantifier constructs whose semantics agree
      // between Java regex (Spark) and RE2 (DuckDB); both engines
      // return '' (not NULL) for a no-match extract, and the rlike
      // prefilter makes first6 non-empty by construction anyway
      (s, dir) => t(s, dir, "documents")
        .where(col("text").rlike("\\b[a-z]{6}\\b"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\b[a-z]{6}\\b"), lit(0)))
            .cast(LongType).as("n6"),
          regexp_extract(col("text"), "\\b[a-z]{6}\\b", 0).as("first6"),
          length(regexp_replace(col("text"), "[aeiou]", ""))
            .cast(LongType).as("novowel_len")),
      Some("""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\b[a-z]{6}\b')) AS BIGINT) AS n6,
          regexp_extract(text, '\b[a-z]{6}\b') AS first6,
          CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
            AS novowel_len
        FROM documents WHERE regexp_matches(text, '\b[a-z]{6}\b')""")),

    QueryDef("q_sessionize",
      // gap-based sessionization: a >30-minute silence starts a new
      // session; session index = running count of session starts.
      // ts is a micros long (see Tables); the gap compares at MICROS
      // because DuckDB INTERVAL arithmetic is microsecond-precision —
      // aligning the granularity makes the oracle parity structural,
      // not dependent on fixture sub-microsecond components.
      (s, dir) => {
        val gapUs = 30L * 60 * 1000000L
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        t(s, dir, "events")
          .withColumn("new_session",
            when(col("ts") - lag(col("ts"), 1).over(w) > gapUs, 1L)
              .otherwise(lit(0L)))
          .select(col("user_id"), col("event_id"),
            sum(col("new_session"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("session_idx"))
      },
      Some("""SELECT user_id, event_id,
          CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM (
          SELECT user_id, event_id, ts,
            CASE WHEN ts - lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
          FROM events)""")),

    QueryDef("q_session_window",
      // NATIVE session windows: the same gap-based sessions as
      // q_sessionize, but as Spark's built-in session_window()
      // aggregation — batch plans the dedicated UpdatingSessions
      // merge (and the identical call is streaming-native with
      // watermarked state, StreamingOpsSpec). Boundary semantics
      // pinned empirically: events EXACTLY gap apart merge, strictly
      // past the gap split; session end = last event + gap. The
      // oracle replays that rule as the lag/cumsum island SQL at
      // MICROS granularity (DuckDB's interval precision), per-session
      // aggregates restricted to fold-order-safe count/min/max.
      (s, dir) => {
        val gapUs = 30L * 60 * 1000000L
        t(s, dir, "events")
          .select(col("user_id"),
            timestamp_micros(col("ts")).as("tsm"), col("value"))
          .groupBy(col("user_id"),
            session_window(col("tsm"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            min(col("value")).as("mn"), max(col("value")).as("mx"))
          .select(col("user_id"),
            unix_micros(col("sw.start")).as("session_start"),
            unix_micros(col("sw.end")).as("session_end"),
            col("n_events"), col("mn"), col("mx"))
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events),
          m AS (SELECT user_id, tsu, value,
              CASE WHEN lag(tsu) OVER w IS NULL
                   OR tsu - lag(tsu) OVER w > 1800000000
                THEN 1 ELSE 0 END AS brk
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
          g AS (SELECT user_id, tsu, value,
              sum(brk) OVER (PARTITION BY user_id ORDER BY tsu
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM m)
        SELECT user_id, CAST(min(tsu) AS BIGINT) AS session_start,
          CAST(max(tsu) + 1800000000 AS BIGINT) AS session_end,
          count(*) AS n_events, min(value) AS mn, max(value) AS mx
        FROM g GROUP BY user_id, sid""")),

    QueryDef("q_spatial_radius",
      // EXACT spatial radius join by grid bucketing: customers and
      // suppliers placed on a 1024x1024 integer grid (hash-derived
      // coordinates), all pairs within Euclidean distance 16. Cells
      // are r x r, the probe side replicates into its 3x3
      // neighborhood, so every qualifying pair shares a cell key BY
      // CONSTRUCTION (no recall knob) and meets exactly once; verify
      // is integer dx^2+dy^2 <= r^2. The oracle brute-forces the
      // |C| x |S| product — affordable in DuckDB at test SFs, which
      // is exactly the check the grid join exists to avoid at scale
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"),
          pmod(col("c_custkey"), lit(1024L)).as("x"),
          pmod(col("c_custkey") * 31, lit(1024L)).as("y"))
        val sup = t(s, dir, "supplier").select(col("s_suppkey"),
          pmod(col("s_suppkey") * 7, lit(1024L)).as("x"),
          pmod(col("s_suppkey") * 131, lit(1024L)).as("y"))
        SpatialJoin.radiusJoin(c, "c_custkey", sup, "s_suppkey",
          "x", "y", r = 16L)
      },
      Some("""WITH c AS (SELECT c_custkey AS id, c_custkey % 1024 AS x,
            (c_custkey * 31) % 1024 AS y FROM customer),
          s AS (SELECT s_suppkey AS id, (s_suppkey * 7) % 1024 AS x,
            (s_suppkey * 131) % 1024 AS y FROM supplier)
        SELECT c.id AS c_custkey, s.id AS s_suppkey,
          CAST((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
            AS BIGINT) AS dist2
        FROM c JOIN s ON (c.x - s.x) * (c.x - s.x)
          + (c.y - s.y) * (c.y - s.y) <= 256""")),

    QueryDef("graph_communities",
      // label-propagation communities (Raghavan 2007) over the
      // REPEATED co-purchase graph (part pairs sharing >= 2 distinct
      // orders — the support filter keeps signal edges and fragments
      // the one-blob co-occurrence graph into real neighborhoods):
      // 5 synchronous votes, most-frequent-neighbor-label with
      // min-label tiebreak — pure integer/set arithmetic the oracle
      // unrolls round by round (LabelPropagation.oracleSqlBody)
      (s, dir) => {
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        val e = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .agg(countDistinct(col("a.l_orderkey")).as("s"))
          .where(col("s") >= 2).select("u", "v")
        LabelPropagation.communities(e, "u", "v", rounds = 5)
      },
      Some(s"""WITH pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
              count(DISTINCT a.l_orderkey) AS s
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2),
          e AS (SELECT u, v FROM pr WHERE s >= 2),
          ${LabelPropagation.oracleSqlBody(rounds = 5)}
        SELECT node, lab AS community FROM lb5""")),

    QueryDef("q_snapshot_diff",
      // snapshot differencing (CDC without a changelog): yesterday's
      // orders vs today's — planted inside the query as a removal
      // stripe (keys % 97), an in-place price change (% 101) and an
      // added stripe (% 103, re-keyed) — emitting exactly the
      // added/removed/changed keys. The full-outer join carries
      // (key, 8-byte row fingerprint) per side, never the payload;
      // the oracle replays the plant and compares column VALUES
      // (hash equality == value equality absent 2^-64 collisions,
      // the dedup_exact convention)
      (s, dir) => {
        val o = t(s, dir, "orders")
        val newSnap = o.where(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 1)
              .otherwise(col("o_totalprice")))
          .unionByName(o.where(col("o_orderkey") % 103 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        SnapshotDiff.diff(o, newSnap, Seq("o_orderkey"))
      },
      Some("""WITH newt AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
            CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1
                 ELSE o_totalprice END AS o_totalprice,
            o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 103 = 0),
        j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
            CASE WHEN o.o_orderkey IS NULL THEN 'added'
                 WHEN n.o_orderkey IS NULL THEN 'removed'
                 WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                   OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                 THEN 'changed'
            END AS change
          FROM orders o FULL OUTER JOIN newt n
            ON n.o_orderkey = o.o_orderkey)
        SELECT o_orderkey, change FROM j WHERE change IS NOT NULL""")),

    QueryDef("q_data_quality",
      // declarative data-quality gate (the Deequ-shaped admission
      // contract): six rules — key uniqueness, referential integrity
      // (anti-join, broadcast when the parent is small), value-range,
      // review-threshold, sign, and a cross-field consistency check —
      // each one (rule, checked, violations) row, the whole contract
      // one 6-row frame a scheduler asserts on. Per-table predicate
      // rules fold into ONE conditional-sum aggregate (one scan of
      // the fact table, then unpivoted) — never a scan per rule; the
      // suite never materializes offenders
      (s, dir) => DataQuality.suite(Seq(
        DataQuality.uniqueRule(t(s, dir, "orders"),
          "orders_key_unique", Seq("o_orderkey")),
        DataQuality.referenceRule(t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey", "orders_custkey_ri"),
        DataQuality.predicateSuite(t(s, dir, "lineitem"), Seq(
          "lineitem_qty_range" ->
            (col("l_quantity") < 1 || col("l_quantity") > 50),
          "lineitem_qty_review" -> (col("l_quantity") > 45))),
        DataQuality.predicateRule(t(s, dir, "customer"),
          "customer_acctbal_negative", col("c_acctbal") < 0),
        DataQuality.predicateRule(t(s, dir, "documents"),
          "documents_nchars_consistent",
          col("n_chars") =!= length(col("text"))))),
      Some("""SELECT 'orders_key_unique' AS rule,
          CAST(sum(n) AS BIGINT) AS checked,
          CAST(sum(n - 1) AS BIGINT) AS violations
        FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) u
        UNION ALL
        SELECT 'orders_custkey_ri',
          (SELECT count(*) FROM orders),
          (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_qty_range', count(*),
          CAST(sum(CASE WHEN (l_quantity < 1 OR l_quantity > 50)
            IS NOT FALSE THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_qty_review', count(*),
          CAST(sum(CASE WHEN (l_quantity > 45) IS NOT FALSE
            THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'customer_acctbal_negative', count(*),
          CAST(sum(CASE WHEN (c_acctbal < 0) IS NOT FALSE
            THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'documents_nchars_consistent', count(*),
          CAST(sum(CASE WHEN (n_chars <> length(text)) IS NOT FALSE
            THEN 1 ELSE 0 END) AS BIGINT)
        FROM documents""")),

    QueryDef("q_drift_bins",
      // distribution drift between years of order value (the
      // PSI/retraining-trigger shape, kept exact): both year slices
      // histogrammed into $20k-wide cents bins, per-bin share
      // difference tested against 2% by integer cross-multiplication
      // |cnt_ref*n_cur - cnt_cur*n_ref|*50 > n_ref*n_cur — no double
      // division anywhere, so the flags are bit-deterministic on any
      // engine (the q_outliers convention). Bins present on only one
      // side count 0 on the other — appearing/vanishing mass IS
      // drift. Two scan-level histograms + a full-outer join on bin
      // + two broadcast one-row totals; the fact table never joins
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          AggFunctions.cents(col("o_totalprice")).as("cents"),
          year(col("o_orderdate")).as("y"))
        DataQuality.histogramDrift(
          o.where(col("y") === 1996), o.where(col("y") === 1997),
          "cents", binWidth = 2000000L, thresholdPct = 2)
      },
      // HUGEINT products mirror the Spark side's DECIMAL(38,0):
      // BIGINT cross-multiplication overflows past ~4e8-row slices
      Some("""WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
              year(o_orderdate) AS y FROM orders),
          cr AS (SELECT cents // 2000000 AS bin, count(*) AS cnt_ref
            FROM o WHERE y = 1996 GROUP BY 1),
          cc AS (SELECT cents // 2000000 AS bin, count(*) AS cnt_cur
            FROM o WHERE y = 1997 GROUP BY 1),
          nr AS (SELECT CAST(COALESCE(sum(cnt_ref), 0) AS BIGINT) AS n_ref
            FROM cr),
          nc AS (SELECT CAST(COALESCE(sum(cnt_cur), 0) AS BIGINT) AS n_cur
            FROM cc)
        SELECT COALESCE(cr.bin, cc.bin) AS bin,
          CAST(COALESCE(cnt_ref, 0) AS BIGINT) AS cnt_ref,
          CAST(COALESCE(cnt_cur, 0) AS BIGINT) AS cnt_cur,
          abs(CAST(COALESCE(cnt_ref, 0) AS HUGEINT) * n_cur
              - CAST(COALESCE(cnt_cur, 0) AS HUGEINT) * n_ref) * 50
            > CAST(n_ref AS HUGEINT) * n_cur AS drifted
        FROM cr FULL OUTER JOIN cc ON cr.bin = cc.bin
        CROSS JOIN nr CROSS JOIN nc""")),

    QueryDef("q_bucketed_join",
      // co-located (bucketed) join END-TO-END: orders and lineitem
      // pre-bucketed 8 ways on the join key join WITHOUT an exchange
      // on either side (PlanShapeSpec asserts exactly one Exchange in
      // the whole plan — the final group-by's). The merge hint forces
      // SMJ so bucketing, not a broadcast, is what kills the shuffle.
      // Oracle computes the same aggregate from the unbucketed base
      // tables (bucketing reorders storage, never rows)
      (s, dir) => {
        val (ot, lt) = bucketedTablesFor(s, dir)
        val o = s.table(ot).select(col("o_orderkey"), col("o_orderpriority"))
        val l = s.table(lt).select(col("l_orderkey").as("o_orderkey"),
          AggFunctions.cents(col("l_extendedprice")).as("cents"))
        o.hint("merge").join(l, "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("cents")).as("revenue_cents"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
            AS revenue_cents
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1""")),

    QueryDef("q_bucket_pruned",
      // BUCKET pruning end-to-end, the point-lookup complement of
      // q_partition_pruned: an equality filter on the bucket key reads
      // 1 of the 8 bucket files (SelectedBucketsCount asserted in
      // PlanShapeSpec) — on a 100 TB bucketed fact table a key lookup
      // touches 1/buckets of the data with zero shuffle. The probed
      // keys span several buckets to keep the result non-trivial
      (s, dir) => {
        val (ot, _) = bucketedTablesFor(s, dir)
        // a bare point lookup has no downstream distribution need, so
        // the planner's auto-bucketed-scan pass would flip the scan to
        // non-bucketed and forfeit bucket-file pruning — pin it on
        // (the Tables.nanosAsLong precedent for session-conf pins)
        s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        s.table(ot)
          .where(col("o_orderkey").isin(1L, 7L, 32L, 133L))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority
        FROM orders WHERE o_orderkey IN (1, 7, 32, 133)""")),

    QueryDef("q_winsorize",
      // winsorization (percentile clipping) — the outlier-TAMING
      // counterpart to q_outliers' detection: account balances clipped
      // to their market segment's [p10, p90]. Interpolated percentiles
      // are IEEE-identical across engines over identical inputs (the
      // q_percentiles contract), and clipping returns either the
      // original double or that shared percentile — so even this
      // double-valued output hash-matches. Percentiles are a 5-row
      // broadcast back onto the fact side, never a fact shuffle by
      // segment
      (s, dir) => {
        val c = t(s, dir, "customer")
        val pct = c.groupBy(col("c_mktsegment"))
          .agg(expr("percentile_cont(0.1) WITHIN GROUP (ORDER BY c_acctbal)").as("p10"),
            expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal)").as("p90"))
        c.join(broadcast(pct), "c_mktsegment")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            least(greatest(col("c_acctbal"), col("p10")), col("p90"))
              .as("acctbal_w"))
      },
      Some("""WITH pct AS (SELECT c_mktsegment,
            percentile_cont(0.1) WITHIN GROUP (ORDER BY c_acctbal) AS p10,
            percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS p90
          FROM customer GROUP BY 1)
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
          least(greatest(c.c_acctbal, pct.p10), pct.p90) AS acctbal_w
        FROM customer c JOIN pct USING (c_mktsegment)""")),

    QueryDef("q_group_regression",
      // grouped least-squares trend + Pearson correlation, the
      // analytics staple, made hash-exact the PMI way: every sum
      // (n, Σx, Σy, Σxy, Σx², Σy²) is an exact integer over (epoch
      // day, daily order count); slope/intercept/r are then a handful
      // of IEEE ops over identical integers — bit-identical across
      // engines and partitionings, unlike a naive avg/covar_pop chain
      // whose double accumulation order floats. Two partial-agg'd
      // shuffles: (priority, day) then priority
      (s, dir) => {
        val d = DoubleType
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderpriority"),
            datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
              .cast("long").as("x"))
          .agg(count(lit(1)).as("y"))
        val sums = daily.groupBy("o_orderpriority").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        val n = col("n")
        val num = n * col("sxy") - col("sx") * col("sy")
        val den = n * col("sxx") - col("sx") * col("sx")
        val deny = n * col("syy") - col("sy") * col("sy")
        val slope = num.cast(d) / den.cast(d)
        sums.select(col("o_orderpriority"), n.as("n_days"),
          slope.as("slope"),
          ((col("sy").cast(d) - slope * col("sx").cast(d)) / n.cast(d))
            .as("intercept"),
          (num.cast(d) / (sqrt(den.cast(d)) * sqrt(deny.cast(d)))).as("r"))
      },
      Some("""WITH daily AS (SELECT o_orderpriority,
            datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
            count(*) AS y
          FROM orders GROUP BY 1, 2),
        s AS (SELECT o_orderpriority,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx,
            CAST(sum(y * y) AS BIGINT) AS syy
          FROM daily GROUP BY 1)
        SELECT o_orderpriority, n AS n_days,
          CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
          (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE) AS intercept,
          CAST(n * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
        FROM s""")),

    QueryDef("q_not_in_nullaware",
      // NOT IN's three-valued logic end-to-end (the null-aware anti
      // join): against the NULL-free subquery NOT IN counts the true
      // anti-join complement; against the subquery CONTAINING a NULL
      // every membership test is UNKNOWN and the count is exactly 0 —
      // the classic silent-empty-result SQL semantic an engine must
      // honor, pinned here as data. One verbatim SQL text, two
      // engines (the q_sql_surface convention)
      (s, dir) => {
        Seq("customer", "events").foreach(nm =>
          t(s, dir, nm).createOrReplaceTempView(nm))
        s.sql(notInNullawareSql)
      },
      Some(notInNullawareSql)),

    QueryDef("q_partition_pruned",
      // hive-partition pruning END-TO-END: a day-ranged aggregate over
      // the partitioned events layout (partitionedEventsFor). The scan
      // must carry the range as PartitionFilters and touch exactly 3
      // of the 30 day dirs — asserted in PlanShapeSpec and visible in
      // EXPLAINS.md; at 100 TB this is the difference between reading
      // 3 days and reading the table. Oracle computes the same
      // aggregate from the unpartitioned base table (identical rows,
      // integer-cents arithmetic)
      (s, dir) => {
        val path = partitionedEventsFor(s, dir)
        s.read.parquet(path)
          .where(col("day").between(
            lit("2024-01-05").cast(DateType), lit("2024-01-07").cast(DateType)))
          .groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(AggFunctions.cents(col("value"))).as("value_cents"))
      },
      Some("""SELECT CAST(ts AS DATE) AS day, event_type,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
        GROUP BY 1, 2""")),

    // ---- time-bucketed aggregation over the event stream table ----

    QueryDef("q_array_agg",
      // nested-type aggregation: per-customer order-priority list.
      // collect_list is partial-agg'd map-side (ObjectHashAggregate);
      // array_sort makes the accumulation order immaterial, and the
      // string join makes the nested output hash portably
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(array_join(array_sort(collect_list(col("o_orderpriority"))), ",")
            .as("prios"),
          count(lit(1)).as("n_orders")),
      Some("""SELECT o_custkey,
          array_to_string(list_sort(list(o_orderpriority)), ',') AS prios,
          count(*) AS n_orders
        FROM orders GROUP BY o_custkey""")),

    QueryDef("q_array_lambda",
      // higher-order array functions (codegen'd lambdas — the
      // array-processing surface beyond plain collect): per order,
      // the line items become one sorted struct array, then
      // transform / filter / zip_with / aggregate compute integer
      // reductions WITHOUT re-exploding — at scale this is one
      // ObjectHashAggregate + a projection, no second shuffle. All
      // values exact BIGINTs; the oracle replays with DuckDB list
      // lambdas (zip_with folded into one transform — same algebra)
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            struct(col("l_linenumber").cast("long").as("ln"),
              round(col("l_quantity")).cast("long").as("qty"),
              AggFunctions.cents(col("l_extendedprice")).as("cents"))
              .as("item"))
          .groupBy("l_orderkey")
          .agg(array_sort(collect_list(col("item"))).as("items"))
        items.select(col("l_orderkey"),
          size(col("items")).cast("long").as("n_items"),
          aggregate(transform(col("items"), x => x.getField("qty")),
            lit(0L), (acc, x) => acc + x).as("sum_qty"),
          size(filter(col("items"), x => x.getField("qty") > 25))
            .cast("long").as("n_big"),
          aggregate(
            zip_with(transform(col("items"), _.getField("qty")),
              transform(col("items"), _.getField("cents")),
              (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("qty_cents_dot"))
      },
      Some("""WITH g AS (SELECT l_orderkey,
              list(struct_pack(ln := CAST(l_linenumber AS BIGINT),
                  qty := CAST(round(l_quantity) AS BIGINT),
                  cents := CAST(round(l_extendedprice * 100) AS BIGINT))
                ORDER BY l_linenumber) AS items
            FROM lineitem GROUP BY 1)
        SELECT l_orderkey,
          CAST(len(items) AS BIGINT) AS n_items,
          CAST(list_sum(list_transform(items, x -> x.qty)) AS BIGINT)
            AS sum_qty,
          CAST(len(list_filter(items, x -> x.qty > 25)) AS BIGINT) AS n_big,
          CAST(list_sum(list_transform(items, x -> x.qty * x.cents))
            AS BIGINT) AS qty_cents_dot
        FROM g""")),

    QueryDef("q_map_funcs",
      // map-typed column surface: per return flag, a linestatus ->
      // total-quantity MAP built with map_from_entries over the
      // (flag,status) pre-aggregate (keys unique by construction —
      // map_from_entries raises on duplicates rather than silently
      // last-wins), then element_at lookups, map_filter,
      // transform_values and a map_values fold. Two narrow hash
      // aggregates (6 groups), then pure per-row map kernels — the
      // map never shuffles and the output is exact scalars. The
      // oracle replays the same algebra as conditional sums: the
      // threshold filter keeps 3 of 6 groups at sf0.01, and
      // element_at on a missing key would be NULL on both engines
      (s, dir) => {
        val m = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(round(col("l_quantity")).cast(LongType)).as("qty"))
          .groupBy(col("l_returnflag"))
          .agg(map_from_entries(array_sort(
            collect_list(struct(col("l_linestatus"), col("qty"))))).as("m"))
        m.select(col("l_returnflag"),
          size(col("m")).cast(LongType).as("n_status"),
          element_at(col("m"), "O").as("qty_open"),
          element_at(col("m"), "F").as("qty_final"),
          aggregate(map_values(map_filter(col("m"),
              (_, v) => v > 254000L)),
            lit(0L), (acc, x) => acc + x).as("qty_big"),
          aggregate(map_values(transform_values(col("m"),
              (_, v) => v * 2L)),
            lit(0L), (acc, x) => acc + x).as("qty_doubled"))
      },
      Some("""WITH s AS (SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
            FROM lineitem GROUP BY 1, 2)
        SELECT l_returnflag,
          CAST(count(*) AS BIGINT) AS n_status,
          CAST(sum(qty) FILTER (l_linestatus = 'O') AS BIGINT) AS qty_open,
          CAST(sum(qty) FILTER (l_linestatus = 'F') AS BIGINT) AS qty_final,
          CAST(coalesce(sum(qty) FILTER (qty > 254000), 0) AS BIGINT)
            AS qty_big,
          CAST(sum(qty * 2) AS BIGINT) AS qty_doubled
        FROM s GROUP BY l_returnflag""")),

    QueryDef("q_posexplode",
      // lateral explode-with-position (the Generate operator):
      // per-order quantity arrays (sorted by (line number, qty) — the
      // fixture has duplicate line numbers within an order, so the
      // value is part of the sort key to pin every position)
      // re-flattened with a 1-based position column.
      // Generate is narrow — it runs inside the same stage as the
      // aggregate output, no extra shuffle; at 100 TB the cost is the
      // one groupBy exchange, and the explode fan-out stays pinned to
      // its parent partition (no skew amplification beyond the
      // per-order array length). Oracle replays with DuckDB's indexed
      // list_transform + unnest (also 1-based)
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(transform(array_sort(collect_list(struct(
            col("l_linenumber").as("ln"),
            round(col("l_quantity")).cast(LongType).as("qty")))),
          x => x.getField("qty")).as("qtys"))
        .select(col("l_orderkey"), posexplode(col("qtys")))
        .select(col("l_orderkey"),
          (col("pos") + 1L).cast(LongType).as("pos"),
          col("col").as("qty")),
      Some("""WITH g AS (SELECT l_orderkey,
              list(CAST(round(l_quantity) AS BIGINT)
                ORDER BY l_linenumber, round(l_quantity)) AS qtys
            FROM lineitem GROUP BY 1)
        SELECT l_orderkey, CAST(u.e.pos AS BIGINT) AS pos, u.e.qty AS qty
        FROM g, unnest(list_transform(qtys,
          (x, i) -> struct_pack(pos := i, qty := x))) u(e)""")),

    QueryDef("q_latest_by_key",
      // CDC/upsert compaction: latest record per key by (ts, event_id)
      // — the "apply a changelog" step of an incremental pipeline.
      // rank-1 window over the key: Catalyst inserts WindowGroupLimit
      // before the exchange, so each map task forwards at most one row
      // per key it sees — the compaction never shuffles the full
      // history at scale
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"))
      },
      Some("""SELECT user_id, event_id, event_type, value FROM (
          SELECT user_id, event_id, event_type, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1""")),

    QueryDef("q_hop_window",
      // sliding (hopping) 1-hour window advanced by 15 minutes: each
      // event lands in exactly 4 windows via Spark's `window()`
      // generator (an Expand — constant 4x fan-out, no self-join);
      // the oracle regenerates the same epoch-aligned window starts
      // with integer micros arithmetic: starts s = 900e6 * n with
      // s in (t - 3600e6, t]. Window starts are 15-min aligned, so
      // the second-precision BIGINT start is lossless
      (s, dir) => t(s, dir, "events")
        .groupBy(window(timestamp_micros(col("ts")),
          "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("mn"),
          max(col("value")).as("mx"))
        .select(col("window.start").cast("long").as("w_start"),
          col("n"), col("mn"), col("mx")),
      Some("""WITH e AS (SELECT epoch_us(ts) AS tu, value FROM events),
          x AS (SELECT tu, value, unnest(range(
              (tu - 3600000000) // 900000000 + 1,
              tu // 900000000 + 1)) AS wn FROM e)
        SELECT (wn * 900000000) // 1000000 AS w_start,
          count(*) AS n, min(value) AS mn, max(value) AS mx
        FROM x GROUP BY 1""")),

    QueryDef("q_gap_fill",
      // time-series resample: per-user daily counts with missing days
      // filled as 0 across each user's [first, last] day span — the
      // gap-fill step dashboards and windowed models need. The
      // sequence explode is bounded by span days per user (retention-
      // bounded at scale, never data-volume-bounded); day ids are
      // exact integer floor-divisions of the micros timestamp
      (s, dir) => {
        val e = t(s, dir, "events")
          // floor-div of the micros ts by 86400e6, matching the
          // oracle's epoch_us // day exactly
          .select(col("user_id"), expr(floorDiv("ts", 86400000000L)).as("day"))
        val daily = e.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
        val spans = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
        spans.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
            FROM events),
          d AS (SELECT user_id, day, count(*) AS n FROM e GROUP BY 1, 2),
          m AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d
            GROUP BY user_id),
          s AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM m)
        SELECT user_id, day, CAST(coalesce(n, 0) AS BIGINT) AS n
        FROM s LEFT JOIN d USING (user_id, day)""")),

    QueryDef("q_histogram",
      // equal-width histogram with EXACT integer bucketing: bucket on
      // cents (round(price*100) as LONG) div 100000, so a price at a
      // bucket boundary can never flip buckets to double rounding;
      // one partial-agg'd groupBy
      (s, dir) => t(s, dir, "lineitem")
        .select(AggFunctions.cents(col("l_extendedprice")).as("cents"))
        .groupBy(expr(floorDiv("cents", 100000L)).as("bucket"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
            AS bucket, count(*) AS n
        FROM lineitem GROUP BY 1""")),

    QueryDef("q_journey_paths",
      // session journey mining: the 20 most common event-type PATHS
      // through a session (gap-sessionized as in q_sessionize, path
      // = '>'-joined types in deterministic (ts, event_id) order).
      // The per-session fold is collect_list of (ts, event_id, type)
      // structs sorted INSIDE the aggregate output (array_sort), so
      // accumulation order is immaterial — the map-side partial agg
      // survives; paths then count like any other key. The funnel's
      // exploratory sibling: q_funnel checks ONE ordered pattern,
      // this surfaces which patterns exist
      (s, dir) => {
        val gapUs = 30L * 60 * 1000000L
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val sess = t(s, dir, "events")
          .withColumn("new_session",
            when(col("ts") - lag(col("ts"), 1).over(w) > gapUs, 1L)
              .otherwise(lit(0L)))
          .withColumn("session_idx",
            sum(col("new_session"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val paths = sess.groupBy(col("user_id"), col("session_idx"))
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"),
                col("event_type")))),
              x => x.getField("event_type")), ">").as("path"))
        paths.groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path").asc)
          .limit(20)
      },
      Some("""WITH s AS (
          SELECT user_id, event_id, ts, event_type,
            CASE WHEN ts - lag(ts, 1) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
          FROM events),
        g AS (SELECT user_id, event_id, ts, event_type,
            sum(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM s),
        p AS (SELECT user_id, session_idx,
            string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          FROM g GROUP BY 1, 2),
        c AS (SELECT path, count(*) AS n FROM p GROUP BY 1),
        r AS (SELECT path, n, row_number() OVER (ORDER BY n DESC, path)
            AS rn FROM c)
        SELECT path, n FROM r WHERE rn <= 20""")),

    QueryDef("q_journey_transitions",
      // first-order Markov transition matrix over user journeys: for
      // each (from_type, to_type) adjacent-event pair, the transition
      // count and row-normalized probability — q_journey_paths mines
      // whole paths, this is the model a next-step predictor or a
      // synthetic-session generator consumes. lead() per user key is
      // one user-partitioned window (state bounded per user); the
      // |types|^2-row transition table then re-aggregates at
      // negligible cost, and prob is one IEEE division of exact
      // integer counts. The transition table feeds both the row
      // totals and the final join, so it is lazily checkpointed —
      // share-the-scan over a tiny relation, NOT a correctness cut
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val cnt = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("transitions"))
          .localCheckpoint(eager = false)
        val tot = cnt.groupBy("from_type")
          .agg(sum("transitions").as("tot"))
        cnt.join(tot, Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("transitions"),
            (col("transitions").cast("double") / col("tot")).as("prob"))
      },
      Some("""WITH tr AS (SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS to_type
          FROM events),
        cnt AS (SELECT from_type, to_type,
            CAST(count(*) AS BIGINT) AS transitions
          FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT from_type, CAST(sum(transitions) AS BIGINT) AS tot
          FROM cnt GROUP BY 1)
        SELECT c.from_type, c.to_type, c.transitions,
            CAST(c.transitions AS DOUBLE) / t.tot AS prob
          FROM cnt c JOIN tot t USING (from_type)""")),

    QueryDef("q_market_basket",
      // association mining over order baskets: top 15 part pairs by
      // lift = P(p1,p2) / (P(p1)·P(p2)), with co-occurrence support —
      // the recommender / cross-sell staple. The baskets fold ONCE on
      // the order key (array_sort(collect_set) — set semantics dedup
      // repeated parts, the sort makes accumulation order immaterial
      // so the map-side partial agg survives); pairs are then
      // generated NARROWLY inside each basket row (index-slice
      // lambda, p1 < p2 by the sorted order), never by a self-join —
      // the basket relation is shuffled once, not three times. The
      // per-row pair list is quadratic in basket size, which the
      // fixture bounds at 7 lineitems/order; a heavy-tailed catalog
      // would cap or re-block giant baskets (the HammingBands cap
      // pattern). Part frequencies are a vocabulary-sized relation
      // joined twice (AQE broadcasts), the order count a 1-row
      // broadcast. Lift is computed as ONE IEEE division of two exact
      // integer products (c12·N / (c1·c2) — the text_pmi trick)
      // formed in DECIMAL(38,0) with a loud raise_error if either
      // exceeds 2^53, so the double hash-matches and the
      // (lift, p1, p2) order is engine-stable at any corpus scale
      (s, dir) => {
        val baskets = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy("ok").agg(array_sort(collect_set(col("pk"))).as("items"))
          .localCheckpoint(eager = false) // feeds pairs + freq + the
          // order count — share one basket fold, NOT a correctness cut
        val orders = baskets.agg(count(lit(1)).as("n_orders"))
        val freq = baskets.select(explode(col("items")).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("cf"))
        val pairExpr = expr(
          "flatten(transform(items, (x, i) -> " +
            "transform(slice(items, i + 2, size(items)), " +
            "y -> struct(x AS p1, y AS p2))))")
        baskets.where(size(col("items")) >= 2)
          .select(explode(pairExpr).as("pr"))
          .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("c12"))
          .where(col("c12") >= 2)
          .join(freq.select(col("pk").as("p1"), col("cf").as("c1")), Seq("p1"))
          .join(freq.select(col("pk").as("p2"), col("cf").as("c2")), Seq("p2"))
          .crossJoin(orders)
          .select(col("p1"), col("p2"), col("c12"), col("c1"), col("c2"), {
            // the bit-exact-double claim holds only while both integer
            // products stay ≤ 2^53; the products are formed in
            // DECIMAL(38,0) (cannot overflow) and a breach raises
            // loudly instead of silently rounding — at web-corpus
            // scale (counts ~3e9) Long c1*c2 would wrap silently
            val num = col("c12").cast("decimal(38,0)") *
              col("n_orders").cast("decimal(38,0)")
            val den = col("c1").cast("decimal(38,0)") *
              col("c2").cast("decimal(38,0)")
            val maxExact = lit(9007199254740992L).cast("decimal(38,0)")
            when(num > maxExact || den > maxExact,
                raise_error(lit("q_market_basket: lift product exceeds " +
                  "2^53 — exact-double contract breached; recompute in " +
                  "DECIMAL or rescale counts")))
              .otherwise(num.cast("double") / den.cast("double"))
              .as("lift")
          })
          .orderBy(col("lift").desc, col("p1").asc, col("p2").asc)
          .limit(15)
      },
      Some("""WITH basket AS (SELECT DISTINCT l_orderkey AS ok,
            l_partkey AS pk FROM lineitem),
        n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
          FROM basket),
        freq AS (SELECT pk, CAST(count(*) AS BIGINT) AS cf
          FROM basket GROUP BY 1),
        pairs AS (SELECT a.pk AS p1, b.pk AS p2,
            CAST(count(*) AS BIGINT) AS c12
          FROM basket a JOIN basket b
            ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING count(*) >= 2),
        lifted AS (SELECT p.p1, p.p2, p.c12, f1.cf AS c1, f2.cf AS c2,
            CAST(p.c12 * n.n_orders AS DOUBLE) / (f1.cf * f2.cf) AS lift
          FROM pairs p
            JOIN freq f1 ON p.p1 = f1.pk
            JOIN freq f2 ON p.p2 = f2.pk
            CROSS JOIN n)
        SELECT p1, p2, c12, c1, c2, lift FROM (
          SELECT *, row_number()
              OVER (ORDER BY lift DESC, p1 ASC, p2 ASC) AS rn
            FROM lifted) WHERE rn <= 15""")),

    QueryDef("q_locf",
      // time-series imputation by last-observation-carried-forward:
      // click rows' masked values are forward-filled from the user's
      // latest earlier observation (last ignoreNulls over the
      // running frame) — the standard sensor/price-gap repair; one
      // shuffle on the user key, per-user sorted runs, deterministic
      // (ts, event_id) order. Filled values are exact COPIES of
      // observed doubles, so the replay hash-matches
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            when(col("event_type") === "click", lit(null))
              .otherwise(col("value")).as("v"))
          .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
          .select("event_id", "user_id", "v", "v_filled")
      },
      Some("""SELECT event_id, user_id, v,
          last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        FROM (SELECT event_id, user_id, ts,
            CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
          FROM events)""")),

    QueryDef("q_weighted_quantiles",
      // WEIGHTED quantiles under the same bounded-memory histogram
      // contract as q_hist_quantiles: each lineitem contributes its
      // quantity (integer units), so p50/p90/p99 answer "the price
      // bucket below which half/90%/99% of UNITS ship" — the
      // inventory-weighted distribution, not the row-weighted one.
      // Cumulative weight cutoffs are integer cross-multiplications;
      // bucket memory is bounded by the value range
      (s, dir) => {
        val spark = s; import spark.implicits._
        val h = t(s, dir, "lineitem")
          .select(AggFunctions.cents(col("l_extendedprice")).as("cents"),
            col("l_quantity").cast("long").as("w"))
          .groupBy(expr(floorDiv("cents", 100000L)).as("bucket"))
          .agg(sum(col("w")).as("n"))
        val c = h
          .withColumn("cum",
            sum("n").over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total",
            sum("n").over(Window.orderBy("bucket").rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
        val targets = Seq(("p50", 50L), ("p90", 90L), ("p99", 99L))
          .toDF("q", "pct")
        c.join(broadcast(targets),
            col("cum") * 100 >= col("pct") * col("total"))
          .groupBy("q")
          .agg(min("bucket").as("bucket"))
          .select(col("q"), col("bucket"),
            (col("bucket") * 100000L).as("lo_cents"))
      },
      Some("""WITH h AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
              AS bucket, sum(CAST(l_quantity AS BIGINT)) AS n
            FROM lineitem GROUP BY 1),
          c AS (SELECT bucket, sum(n) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(n) OVER () AS total FROM h),
          t AS (SELECT * FROM (VALUES ('p50', 50), ('p90', 90),
            ('p99', 99)) AS v(q, pct))
        SELECT q, min(bucket) AS bucket,
          CAST(min(bucket) * 100000 AS BIGINT) AS lo_cents
        FROM c JOIN t ON cum * 100 >= pct * total
        GROUP BY q""")),

    QueryDef("q_hist_quantiles",
      // bounded-memory quantiles: one partial-agg'd pass builds the
      // fixed-width cents histogram (bucket count bounded by the
      // value RANGE, not the data volume — the sketch-style memory
      // contract), then p50/p90/p99 are read off the cumulative
      // counts. The quantile is the first bucket whose cumulative
      // count reaches ceil(pct*n/100), expressed as the integer
      // cross-multiplication cum*100 >= pct*n — exact in any engine,
      // unlike interpolated double quantiles. The rank-definition
      // counterpart with exact per-row percentiles is q_percentiles
      (s, dir) => {
        val spark = s; import spark.implicits._
        val h = t(s, dir, "lineitem")
          .select(AggFunctions.cents(col("l_extendedprice")).as("cents"))
          .groupBy(expr(floorDiv("cents", 100000L)).as("bucket"))
          .agg(count(lit(1)).as("n"))
        // cumulative AND total both as windows over the BUCKET table
        // (bounded rows) — ONE pass over the histogram, no second
        // scan+aggregate of the fact table for the total
        val c = h
          .withColumn("cum",
            sum("n").over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total",
            sum("n").over(Window.orderBy("bucket").rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
        val targets = Seq(("p50", 50L), ("p90", 90L), ("p99", 99L))
          .toDF("q", "pct")
        c.join(broadcast(targets),
            col("cum") * 100 >= col("pct") * col("total"))
          .groupBy("q")
          .agg(min("bucket").as("bucket"))
          .select(col("q"), col("bucket"),
            (col("bucket") * 100000L).as("lo_cents"))
      },
      Some("""WITH h AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
              AS bucket, count(*) AS n
            FROM lineitem GROUP BY 1),
          c AS (SELECT bucket, sum(n) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM h),
          tot AS (SELECT sum(n) AS total FROM h),
          t(q, pct) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
        SELECT t.q, min(c.bucket) AS bucket,
          CAST(min(c.bucket) * 100000 AS BIGINT) AS lo_cents
        FROM c CROSS JOIN tot JOIN t ON c.cum * 100 >= t.pct * tot.total
        GROUP BY t.q""")),

    QueryDef("q_zorder_layout",
      // z-order data layout, proven end to end: Morton-interleave the
      // (mod-1024) part/supp keys via the codegen'd InterleaveBits
      // kernel, then treat each 4096-wide z-range as one "file". The
      // assertion the output encodes: every bucket's min/max extent is
      // bounded on BOTH dimensions (a z-range of width 4^6 covers one
      // 64x64 square), which is exactly the property that lets parquet
      // min/max stats prune 2-D range predicates after a z-ordered
      // write — a single-column sort would bound one dimension and
      // leave the other's extent at full width. Pure integer
      // arithmetic; the oracle replays the interleave as an unrolled
      // 10-bit shift/mask sum
      (s, dir) => t(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024)).cast("int").as("x"),
          pmod(col("l_suppkey"), lit(1024)).cast("int").as("y"))
        .withColumn("z", ZOrder.zvalue(col("x"), col("y")))
        .groupBy(shiftright(col("z"), 12).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).cast("long").as("xmin"),
          max(col("x")).cast("long").as("xmax"),
          min(col("y")).cast("long").as("ymin"),
          max(col("y")).cast("long").as("ymax")),
      Some(s"""WITH p AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
            FROM lineitem),
          z AS (SELECT x, y, ${ZOrder.mortonSql("x", "y", 10)} AS z FROM p)
        SELECT z >> 12 AS bucket, count(*) AS n,
          CAST(min(x) AS BIGINT) AS xmin, CAST(max(x) AS BIGINT) AS xmax,
          CAST(min(y) AS BIGINT) AS ymin, CAST(max(y) AS BIGINT) AS ymax
        FROM z GROUP BY 1""")),

    QueryDef("q_time_bucket",
      // ts arrives as a micros long (Tables normalizes every fixture form)
      (s, dir) => t(s, dir, "events")
        .groupBy(date_trunc("day", timestamp_micros(col("ts")))
          .cast(DateType).as("day"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("mn"),
          max(col("value")).as("mx")),
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          count(*) AS n, min(value) AS mn, max(value) AS mx
        FROM events GROUP BY 1""")),

    QueryDef("graph_pagerank",
      // link-graph ranking (the one relational category absent until
      // now): 3 fixed Jacobi iterations of scaled-integer PageRank
      // over the customer<->supplier trade graph (an edge per distinct
      // trading pair, both directions, supplier ids offset into their
      // own namespace). Exact integer arithmetic end to end — the
      // oracle unrolls the identical iterations in DuckDB and
      // hash-matches bit-for-bit. Top-25 hubs with id tiebreak.
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val cs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(10000000L)).as("dst"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
        PageRank.ranks(edges, "src", "dst")
          .orderBy(col("rank").desc, col("node").asc)
          .limit(25)
      },
      Some(PageRank.oracleSql(
        """cs AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs)""") +
        s"\n      SELECT node, rank FROM r${PageRank.Params().iterations} " +
        "ORDER BY rank DESC, node LIMIT 25")),

    QueryDef("graph_pagerank_seeded",
      // PERSONALIZED PageRank: the teleport mass restarts only at
      // five trusted seed customers, so ranks measure proximity to
      // the seeds — the crawl-curation primitive (score unknown nodes
      // by trusted-set proximity). Same exact integer arithmetic and
      // unrolled-CTE oracle; seeds are inlined literals in both plans
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val cs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(10000000L)).as("dst"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
        PageRank.personalizedRanks(edges, "src", "dst", seeds = Seq(1L, 2L, 3L, 4L, 5L))
          .orderBy(col("rank").desc, col("node").asc)
          .limit(25)
      },
      Some(PageRank.oracleSql(
        """cs AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs)""",
        seeds = Seq(1L, 2L, 3L, 4L, 5L)) +
        s"\n      SELECT node, rank FROM r${PageRank.Params().iterations} " +
        "ORDER BY rank DESC, node LIMIT 25")),

    QueryDef("graph_triangles",
      // per-node triangle counts + clustering coefficient over the
      // part co-purchase graph (parts appearing in the same order;
      // every 5th part so density is comparable across SFs), by
      // degree-ordered wedge counting (Latapy 2008 compact-forward —
      // pure equi-joins, hubs become wedge sinks; see
      // graft.operators.Triangles). The coefficient is one IEEE
      // division of exact BIGINT products, so the DuckDB replay
      // hash-matches bit-for-bit. Top-25 by triangle count, id
      // tiebreak.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .where(col("l_partkey") % 5 === 0)
        val e = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        Triangles.perNode(e, "u", "v")
          .orderBy(col("tri").desc, col("node").asc)
          .limit(25)
      },
      Some(s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey % 5 = 0),
          e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey),
          ${Triangles.oracleSqlBody}
        SELECT node, tri, deg, clustering FROM res
        ORDER BY tri DESC, node LIMIT 25""")),

    QueryDef("graph_kcore",
      // k-core extraction (Seidman 1983) over the same co-purchase
      // graph: the maximal subgraph where every part keeps >= 15
      // co-purchase partners INSIDE the subgraph — 8 fixed peeling
      // rounds (the cascade settles in ~5 at both SFs: 400 nodes ->
      // 354 @ sf0.01, 4000 -> 3592 @ sf0.1), pure set semantics so
      // any engine replays it exactly; the oracle unrolls the
      // identical rounds as CTEs (KCore.oracleSqlBody)
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .where(col("l_partkey") % 5 === 0)
        val e = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        KCore.core(e, "u", "v", k = 15, rounds = 8)
      },
      Some(s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey % 5 = 0),
          e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey),
          ${KCore.oracleSqlBody(k = 15, rounds = 8)}
        SELECT node, CAST(d AS BIGINT) AS core_deg FROM dfin""")),

    QueryDef("q_funnel",
      // ordered event funnel (view -> click -> purchase, strictly
      // increasing timestamps): each stage is a frontier that only
      // SHRINKS — stage k+1 is a semi-join of the next event type
      // against stage k's (user, ts) frontier, so at scale the
      // expensive scans are the per-type filters (pushed to the
      // source) and the joins run on ever-smaller key sets that AQE
      // broadcasts once they fit. Counts are exact integers.
      (s, dir) => {
        val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
        def stage(typ: String, prev: DataFrame, prevTs: String, out: String) =
          ev.where(col("event_type") === typ)
            .join(prev.select(col("user_id"), col(prevTs)), "user_id")
            .where(col("ts") > col(prevTs))
            .groupBy("user_id").agg(min("ts").as(out))
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("tv"))
        val c = stage("click", v, "tv", "tc")
        val p = stage("purchase", c, "tc", "tp")
        def cnt(name: String, df: DataFrame) =
          df.agg(lit(name).as("stage"), count(lit(1)).as("users"))
        cnt("view", v).union(cnt("click", c)).union(cnt("purchase", p))
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id),
          p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id)
        SELECT 'view' AS stage, (SELECT count(*) FROM v) AS users
        UNION ALL SELECT 'click', (SELECT count(*) FROM c)
        UNION ALL SELECT 'purchase', (SELECT count(*) FROM p)""")),

    QueryDef("q_funnel_windowed",
      // q_funnel with an ATTRIBUTION WINDOW — conversion only counts
      // within `horizon` of the user's FIRST view. This is FIRST-TOUCH
      // attribution: every stage anchors to the user's first view EVER
      // and never restarts, whereas the streaming twin
      // (StreamingOps.streamingFunnel) restarts a fresh funnel after
      // horizon expiry — the restart is what makes its state
      // evictable. The two agree exactly on single-attempt keys
      // (parity pinned in StreamingOpsSpec, incl. a multi-attempt user
      // demonstrating the documented divergence).
      // Same shrinking-frontier shape as q_funnel: each
      // stage semi-joins the next event type against the previous
      // frontier, with the horizon predicate applied at every stage
      // (pushed into the join filter, so out-of-window events drop
      // BEFORE the aggregate). Exact integer micros end to end.
      (s, dir) => {
        val horizonUs = 7L * 86400L * 1000000L // 7-day attribution
        val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t0"))
        val c = ev.where(col("event_type") === "click")
          .join(v, "user_id")
          .where(col("ts") > col("t0") && col("ts") - col("t0") <= horizonUs)
          .groupBy("user_id").agg(min("ts").as("t1"), min("t0").as("t0"))
        val p = ev.where(col("event_type") === "purchase")
          .join(c, "user_id")
          .where(col("ts") > col("t1") && col("ts") - col("t0") <= horizonUs)
          .groupBy("user_id").agg(min("ts").as("t2"))
        def cnt(name: String, df: DataFrame) =
          df.agg(lit(name).as("stage"), count(lit(1)).as("users"))
        cnt("view", v).union(cnt("click", c)).union(cnt("purchase", p))
      },
      Some("""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
          c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t1, min(v.t0) AS t0
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t0
              AND epoch_us(e.ts) - v.t0 <= 604800000000
            GROUP BY e.user_id),
          p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t1
              AND epoch_us(e.ts) - c.t0 <= 604800000000
            GROUP BY e.user_id)
        SELECT 'view' AS stage, (SELECT count(*) FROM v) AS users
        UNION ALL SELECT 'click', (SELECT count(*) FROM c)
        UNION ALL SELECT 'purchase', (SELECT count(*) FROM p)""")),

    QueryDef("q_cohort_retention",
      // cohort retention: customers bucketed by first-order month,
      // counted by months-since-cohort offset. Months are exact
      // integer indices (year*12 + month), so offsets are pure integer
      // subtraction — no calendar-arithmetic divergence between
      // engines. Two partial-agg'd shuffles (min per customer, then
      // distinct-count per cohort cell); the first-order join reuses
      // the customer-keyed exchange.
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("ym"))
        val fo = o.groupBy("o_custkey").agg(min("ym").as("cohort_month"))
        o.join(fo, "o_custkey")
          .select(col("o_custkey"), col("cohort_month"),
            (col("ym") - col("cohort_month")).as("month_offset"))
          .where(col("month_offset") <= 12)
          .groupBy("cohort_month", "month_offset")
          .agg(countDistinct(col("o_custkey")).as("customers"))
      },
      Some("""WITH o AS (SELECT o_custkey,
              year(o_orderdate) * 12 + month(o_orderdate) AS ym FROM orders),
          fo AS (SELECT o_custkey, min(ym) AS cohort_month FROM o
            GROUP BY o_custkey)
        SELECT CAST(fo.cohort_month AS BIGINT) AS cohort_month,
          CAST(o.ym - fo.cohort_month AS BIGINT) AS month_offset,
          count(DISTINCT o.o_custkey) AS customers
        FROM o JOIN fo ON fo.o_custkey = o.o_custkey
        WHERE o.ym - fo.cohort_month <= 12
        GROUP BY 1, 2""")),

    QueryDef("q_outliers",
      // 3-sigma outlier detection per group, INTEGER-EXACT: flag
      // customers whose total spend is > 3 population-stddevs from
      // their market segment's mean (per-order prices are near-
      // uniform — no outliers exist there — but per-CUSTOMER spend
      // compounds order-count variance into a real tail: 1/7/67
      // outliers at sf0.001/0.01/0.1). The test |x - mean| >
      // 3*stddev_pop is cross-multiplied by n^2 into (n*x - S)^2 >
      // 9*(n*S2 - S^2) over exact cent sums — no double mean or
      // variance anywhere, so the flag can never flip on accumulation
      // order. Sums are DECIMAL(38,0) (Spark) / HUGEINT (DuckDB).
      // Scale shape: orders partial-agg to |customers| rows, segment
      // join on the customer key, stats partial-agg'd to |segments|
      // rows and broadcast back — the fact table is never shuffled by
      // the (low-cardinality, skew-prone) segment key.
      (s, dir) => {
        val dec = DecimalType(38, 0)
        val spend = t(s, dir, "orders")
          .select(col("o_custkey"),
            AggFunctions.cents(col("o_totalprice")).as("cents"))
          .groupBy("o_custkey").agg(sum("cents").as("spend"))
        val cust = spend.join(
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("seg")), "o_custkey")
        val stats = cust.groupBy("seg").agg(
          count(lit(1)).as("n"),
          sum(col("spend").cast(dec)).as("s"),
          sum(col("spend").cast(dec) * col("spend").cast(dec)).as("s2"))
        val nD = col("n").cast(dec)
        val lhs = nD * col("spend").cast(dec) - col("s")
        val isOut = lhs * lhs > lit(9).cast(dec) * (nD * col("s2") - col("s") * col("s"))
        cust.join(broadcast(stats), "seg")
          .groupBy("seg")
          .agg(count(lit(1)).as("n_customers"),
            count(when(isOut, lit(1))).as("n_outliers"),
            max(when(isOut, col("spend"))).as("max_outlier_spend"))
      },
      Some("""WITH sp AS (SELECT o_custkey,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend
            FROM orders GROUP BY 1),
          cu AS (SELECT c.c_mktsegment AS seg, sp.spend
            FROM sp JOIN customer c ON c.c_custkey = sp.o_custkey),
          st AS (SELECT seg, count(*) AS n,
              sum(CAST(spend AS HUGEINT)) AS s,
              sum(CAST(spend AS HUGEINT) * CAST(spend AS HUGEINT)) AS s2
            FROM cu GROUP BY seg)
        SELECT cu.seg, count(*) AS n_customers,
          count(*) FILTER (WHERE
            (CAST(st.n AS HUGEINT) * cu.spend - st.s)
              * (CAST(st.n AS HUGEINT) * cu.spend - st.s)
            > 9 * (CAST(st.n AS HUGEINT) * st.s2 - st.s * st.s)) AS n_outliers,
          max(cu.spend) FILTER (WHERE
            (CAST(st.n AS HUGEINT) * cu.spend - st.s)
              * (CAST(st.n AS HUGEINT) * cu.spend - st.s)
            > 9 * (CAST(st.n AS HUGEINT) * st.s2 - st.s * st.s)) AS max_outlier_spend
        FROM cu JOIN st ON st.seg = cu.seg
        GROUP BY cu.seg""")),

    QueryDef("q_group_mode",
      // exact per-group mode (majority label — the label-aggregation
      // primitive): most frequent event_type per user, deterministic
      // ties by event_type asc. Pre-aggregation shrinks the input to
      // |user x type| rows BEFORE the per-user window, and rank()=1
      // plans as WindowGroupLimit — each map task forwards at most
      // one row per (user, type) group, never the raw event stream.
      (s, dir) => {
        val cnt = t(s, dir, "events")
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("cnt").desc, col("event_type").asc)
        cnt.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"), col("cnt"))
      },
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS cnt
            FROM events GROUP BY 1, 2),
          r AS (SELECT user_id, event_type, cnt, row_number() OVER (
              PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn
            FROM c)
        SELECT user_id, event_type AS mode_type, cnt FROM r WHERE rn = 1""")),

    QueryDef("q_skyline",
      // 2-D Pareto frontier ("earliest big orders"): orders no other
      // order beats on BOTH order day (earlier) and price (higher).
      // Integer-exact (epoch days + cents). The operator avoids both
      // naive shapes — the O(n^2) dominance self-join and a running
      // max windowed over the whole corpus in one task: per-day maxima
      // first (partial-agg'd, output bounded by the DATE RANGE, not
      // data volume), a tiny window over that day table, then the
      // surviving frontier broadcast back over the fact scan.
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("day"),
          AggFunctions.cents(col("o_totalprice")).as("cents"))
        Skyline.frontier(o, "day", "cents")
      },
      Some(Skyline.oracleSql(
        """(SELECT o_orderkey,
            CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)""",
        "day", "cents", "t.o_orderkey, t.day, t.cents"))),

    QueryDef("q_hist_merge",
      // incremental quantiles: the fixed-width histogram is a LINEAR
      // sketch like Count-Min — integer bucket counts sum — so
      // per-shard/day/partition histograms merge into any union's
      // histogram without rescanning the data. Two orderkey-parity
      // shard histograms are built and MERGED, then p50/p90/p99 read
      // off the merged table; the oracle is the WHOLE-CORPUS replay,
      // so the hash-match is the linearity proof (merged shards ==
      // one pass) — the q_cms_merge contract generalized to quantiles
      (s, dir) => {
        val spark = s; import spark.implicits._
        def shard(par: Int) = t(s, dir, "lineitem")
          .where(pmod(col("l_orderkey"), lit(2)) === par)
          .select(AggFunctions.cents(col("l_extendedprice")).as("cents"))
          .groupBy(expr(floorDiv("cents", 100000L)).as("bucket"))
          .agg(count(lit(1)).as("n"))
        val h = shard(0).union(shard(1))
          .groupBy("bucket").agg(sum("n").as("n"))
        val c = h
          .withColumn("cum",
            sum("n").over(Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total",
            sum("n").over(Window.orderBy("bucket").rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
        val targets = Seq(("p50", 50L), ("p90", 90L), ("p99", 99L))
          .toDF("q", "pct")
        c.join(broadcast(targets),
            col("cum") * 100 >= col("pct") * col("total"))
          .groupBy("q")
          .agg(min("bucket").as("bucket"))
          .select(col("q"), col("bucket"),
            (col("bucket") * 100000L).as("lo_cents"))
      },
      Some("""WITH h AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
              AS bucket, count(*) AS n
            FROM lineitem GROUP BY 1),
          c AS (SELECT bucket, sum(n) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM h),
          tot AS (SELECT sum(n) AS total FROM h),
          t(q, pct) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
        SELECT t.q, min(c.bucket) AS bucket,
          CAST(min(c.bucket) * 100000 AS BIGINT) AS lo_cents
        FROM c CROSS JOIN tot JOIN t ON c.cum * 100 >= t.pct * tot.total
        GROUP BY t.q""")),

    QueryDef("q_decayed_counts",
      // recency-weighted engagement: per event type, events weighted
      // by 2^-(age/4d) from a FIXED reference date (half-life 4 days,
      // horizon-capped exponent). The weight is an integer SHIFT —
      // score_int = sum(2^(7 - age_buckets)) is pure BIGINT
      // arithmetic, and the reported double is score_int / 2^7, one
      // EXACT dyadic division — so unlike a float pow() chain the
      // score is bit-deterministic under any partitioning and engine.
      // One partial-agg'd pass; the fixed reference date (not
      // max(ts)) keeps the weights retry-stable and incremental
      // across corpus growth
      // ts arrives as a micros long (Tables normalizes every fixture form)
      (s, dir) => t(s, dir, "events")
        .selectExpr("event_type",
          "least(7, greatest(0, datediff(DATE'2024-02-01', " +
            "to_date(timestamp_micros(ts)))) div 4) AS h")
        .selectExpr("event_type", "shiftleft(1L, 7 - h) AS wgt")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("wgt").as("score_int"))
        .withColumn("decayed", col("score_int") / 128.0),
      Some("""WITH e AS (SELECT event_type,
            least(7, greatest(0, DATE '2024-02-01' - CAST(ts AS DATE)) // 4) AS h
          FROM events)
        SELECT event_type, count(*) AS n_events,
          CAST(sum(CAST(1 AS BIGINT) << (7 - h)) AS BIGINT) AS score_int,
          CAST(sum(CAST(1 AS BIGINT) << (7 - h)) AS BIGINT) / 128.0 AS decayed
        FROM e GROUP BY event_type""")),

    QueryDef("q_scd2_intervals",
      // temporal modeling: build SCD-type-2 validity intervals from a
      // changelog — per user, each event is valid from its timestamp
      // until the next event (NULL = still current). One shuffle on
      // the entity key, a lead() window per key; timestamps stay exact
      // integer MICROS end to end (Tables normalizes the fixture,
      // DuckDB's epoch_us surfaces the identical value), so no
      // truncation can merge or reorder adjacent versions (event
      // timestamps are distinct at micro granularity)
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("valid_from").asc, col("event_id").asc)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            col("ts").as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
      },
      Some("""SELECT user_id, event_id,
          epoch_us(ts) AS valid_from,
          lead(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS valid_to,
          lead(epoch_us(ts)) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
        FROM events""")),

    QueryDef("q_ntile_buckets",
      // equi-depth bucketing (quantile feature binning): deciles of
      // order value within each priority via ntile(10) over the total
      // order (cents, orderkey) — both engines implement the SQL
      // standard split (first n mod k buckets get one extra row), so
      // bucket boundaries are deterministic and integer-exact; output
      // is the per-bucket profile (count, min, max cents)
      (s, dir) => {
        val w = Window.partitionBy("pri")
          .orderBy(col("cents").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
            AggFunctions.cents(col("o_totalprice")).as("cents"))
          .withColumn("tile", ntile(10).over(w).cast("long"))
          .groupBy("pri", "tile")
          .agg(count(lit(1)).as("n"), min("cents").as("lo_cents"),
            max("cents").as("hi_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority AS pri,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
          tl AS (SELECT pri, cents, ntile(10) OVER (PARTITION BY pri
              ORDER BY cents, o_orderkey) AS tile FROM o)
        SELECT pri, CAST(tile AS BIGINT) AS tile, count(*) AS n,
          min(cents) AS lo_cents, max(cents) AS hi_cents
        FROM tl GROUP BY 1, 2""")),

    QueryDef("q_sql_surface",
      // the spark.sql entry point proven end to end: the SAME SQL
      // text runs verbatim in Spark (over temp views) and in DuckDB
      // (as its own oracle) and hash-matches — the portability
      // exhibit for users arriving with SQL instead of the DataFrame
      // API. Catalyst plans it like the hand-built joins (broadcast +
      // partial agg + TakeOrderedAndProject)
      (s, dir) => {
        Seq("orders", "lineitem").foreach(n =>
          t(s, dir, n).createOrReplaceTempView(n))
        s.sql(sqlSurfaceText)
      },
      Some(sqlSurfaceText)),

    QueryDef("graph_bfs",
      // multi-source BFS: exact min-hop distance from 3 trusted seed
      // customers over the customer<->supplier trade graph, 3 hops —
      // the crawl-frontier primitive (PageRank scores proximity, BFS
      // certifies it). Pure set semantics: frontier = neighbors minus
      // reached, so any partitioning and any engine replays it
      // exactly; the oracle unrolls the identical rounds as CTEs.
      // Edges are partitioned once before the loop, each round
      // shuffles only the shrinking frontier (see operators.Bfs)
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val cs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(10000000L)).as("dst"))
        val edges = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
        Bfs.distances(edges, "src", "dst", seeds = Seq(1L, 2L, 3L), maxHops = 3)
      },
      Some(s"""WITH cs AS (SELECT DISTINCT o_custkey AS src,
              l_suppkey + 10000000 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs),
          ${Bfs.oracleSqlBody(seeds = Seq(1L, 2L, 3L), maxHops = 3)}
        SELECT node, dist FROM bfs""")),

    QueryDef("graph_sssp",
      // bounded-round Bellman-Ford: cheapest trade-path cost from 3
      // seed customers over the weighted trade graph (weight = rounded
      // lineitem quantity — an exact BIGINT), 4 relaxation rounds. The
      // weighted complement of graph_bfs: min-plus algebra over exact
      // integers, so the unrolled-CTE oracle replays bit-identically;
      // parallel edges are absorbed by min on both sides. Per round:
      // one equi-join of the distance relation against the
      // once-partitioned edges + a partial-agg'd min per node
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        val l = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_quantity")
        val cs = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(10000000L)).as("dst"),
            round(col("l_quantity")).cast("long").as("w"))
        val both = cs.union(
          cs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        Sssp.costs(both, "src", "dst", "w", seeds = Seq(1L, 2L, 3L), rounds = 4)
      },
      Some(s"""WITH cs AS (SELECT o_custkey AS src,
              l_suppkey + 10000000 AS dst,
              CAST(round(l_quantity) AS BIGINT) AS w
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          e AS (SELECT src, dst, w FROM cs
            UNION ALL SELECT dst, src, w FROM cs),
          ${Sssp.oracleSqlBody(seeds = Seq(1L, 2L, 3L), rounds = 4)}
        SELECT node, cost FROM sssp""")),

    QueryDef("graph_ancestors",
      // recursive-hierarchy closure (the WITH RECURSIVE surface Spark
      // lacks natively): every (node, ancestor, depth) pair of the
      // part-key binary forest (parent = key div 2 — an arithmetic
      // hierarchy both engines derive identically; key contiguity
      // 0..N-1 makes every chain's intermediate nodes real rows, so
      // the oracle's arithmetic recursion and the operator's
      // edge-join recursion walk the same chains). Path DOUBLING:
      // 5 join rounds cover depth <= 32 where naive parent-chasing
      // needs 32 — O(log depth) shuffle rounds, each new pair
      // produced exactly once via the exact-horizon decomposition
      // (operators.TransitiveClosure), so no dedup shuffle exists to
      // lose. The oracle caps its recursion at the same horizon, so
      // the row sets are identical BY CONSTRUCTION, not by the data
      // happening to be shallow
      (s, dir) => {
        val e = t(s, dir, "part").where(col("p_partkey") >= 1)
          .select(col("p_partkey").as("node"),
            expr("p_partkey div 2").as("anc"))
        TransitiveClosure.ancestors(e, "node", "anc", doublingRounds = 5)
      },
      Some("""WITH RECURSIVE anc AS (
          SELECT p_partkey AS node, p_partkey // 2 AS anc,
              CAST(1 AS BIGINT) AS depth
            FROM part WHERE p_partkey >= 1
          UNION ALL
          SELECT a.node, a.anc // 2 AS anc, a.depth + 1
            FROM anc a WHERE a.anc >= 1 AND a.depth < 32)
        SELECT node, anc, depth FROM anc""")),

    QueryDef("q_k_anonymity",
      // privacy-audit primitive for release pipelines: equivalence
      // classes over the quasi-identifier pair (nation, market
      // segment), k = 5. Classes at or above k report as-is; below-k
      // classes are GENERALIZED one level (segment -> '*') and
      // re-counted per nation, with a still_risky flag when even the
      // generalized class stays under k (full k-anonymity would
      // recurse up the hierarchy; one audited level is the report
      // shape). All counts exact BIGINT. The class relation is
      // checkpointed as a share-the-scan optimization (the
      // q_skew_report convention, NOT a correctness cut): both the
      // pass-through branch and the generalization branch read the
      // |classes|-row aggregate, never the customer table twice
      (s, dir) => {
        val cls = t(s, dir, "customer")
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(eager = false)
        val ok = cls.where(col("n") >= 5L)
          .select(col("c_nationkey"), col("c_mktsegment").as("segment"),
            col("n"), lit(false).as("generalized"))
        val generalized = cls.where(col("n") < 5L)
          .groupBy("c_nationkey").agg(sum("n").as("n"))
          .select(col("c_nationkey"), lit("*").as("segment"),
            col("n"), lit(true).as("generalized"))
        ok.unionByName(generalized)
          .withColumn("still_risky", col("n") < 5L)
      },
      Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
              CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY 1, 2)
          SELECT c_nationkey, c_mktsegment AS segment, n,
              false AS generalized, n < 5 AS still_risky
            FROM cls WHERE n >= 5
          UNION ALL
          SELECT c_nationkey, '*' AS segment,
              CAST(sum(n) AS BIGINT) AS n, true AS generalized,
              CAST(sum(n) AS BIGINT) < 5 AS still_risky
            FROM cls WHERE n < 5 GROUP BY 1""")),

    QueryDef("q_concurrency",
      // interval-concurrency sweep: open order lines per day — +1
      // when the order is placed, -1 when the line ships (interval
      // [order, ship)), daily nets, then an exact DISTRIBUTED prefix
      // sum (PrefixSum: range shards + per-shard windows + broadcast
      // offsets — never the single-task global window Spark warns
      // about). The classic "how many X were active at time t" shape
      // (sessions, loans, backlog) kept exact BIGINT end to end
      (s, dir) => {
        val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        // ONE pass over the join: both deltas explode from the same
        // row (two different projections of the join would be
        // canonically different subtrees after pruning — not reused,
        // the big join executed twice; the PrefixSum lesson)
        val deltas = o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select(explode(array(
            struct(col("o_orderdate").cast(DateType).as("day"),
              lit(1L).as("delta")),
            struct(col("l_shipdate").cast(DateType).as("day"),
              lit(-1L).as("delta")))).as("x"))
          .select("x.day", "x.delta")
          .groupBy("day").agg(sum("delta").as("net"))
          // NULL days out before the ordered sweep: ASC NULL placement
          // differs across engines (Spark first, DuckDB last), so a
          // NULL date would silently reorder the cums in a replay
          .where(col("day").isNotNull)
        PrefixSum.cumulative(deltas, Seq("day"), "net")
          .select(col("day"), col("net"), col("cum").as("open_lines"))
      },
      // DuckDB window sum over BIGINT promotes to HUGEINT — cast back
      Some("""WITH j AS (SELECT CAST(o_orderdate AS DATE) AS od,
              CAST(l_shipdate AS DATE) AS sd
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          d AS (SELECT od AS day, 1 AS delta FROM j
            UNION ALL SELECT sd, -1 FROM j),
          n AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net
            FROM d WHERE day IS NOT NULL GROUP BY 1)
        SELECT day, net,
          CAST(sum(net) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS open_lines
        FROM n""")),

    QueryDef("sample_pps",
      // systematic probability-proportional-to-size sampling: walk
      // lineitem in (orderkey, line) order accumulating price cents,
      // keep every $100M-crossing row — selection probability
      // min(1, w/step), deterministic on any engine/partitioning
      // (integer div crossings over the exact distributed prefix
      // sum), unlike rand()-keyed weighted designs. The survey-
      // sampling complement of sample_weighted_mix's rate gates
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_line"),
          AggFunctions.cents(col("l_extendedprice")).as("w_cents"))
        PrefixSum.systematicPps(li, Seq("l_orderkey", "l_line"),
          "w_cents", step = 10000000000L)
      },
      Some("""WITH li AS (SELECT l_orderkey,
              CAST(l_linenumber AS BIGINT) AS l_line,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS w_cents
            FROM lineitem),
          c AS (SELECT l_orderkey, l_line, w_cents,
            CAST(sum(w_cents) OVER (ORDER BY l_orderkey, l_line
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
            FROM li)
        SELECT l_orderkey, l_line, w_cents, cum FROM c
        WHERE cum // 10000000000 != (cum - w_cents) // 10000000000""")),

    QueryDef("q_incremental_agg",
      // materialized-view maintenance: the running per-priority order
      // profile is kept as an ALGEBRAIC state (count, sum, min, max —
      // all mergeable) and each "day's" append batch only scans its
      // own increment; merge shuffles state rows (groups x batches),
      // never facts. Here the history (<1997) plus two year batches
      // are partial-aggregated independently and merged — the oracle
      // is the single-pass aggregate over the union, proving
      // merge(partials) == recompute(all). avg is derived at read
      // time from exact BIGINTs (one IEEE division, the PMI
      // convention); storing it would break mergeability
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderpriority").as("pri"),
          AggFunctions.cents(col("o_totalprice")).as("cents"),
          col("o_orderdate"))
        val history = o.where(col("o_orderdate") < lit("1997-01-01").cast(DateType))
        val batch1 = o.where(year(col("o_orderdate")) === 1997)
        val batch2 = o.where(col("o_orderdate") >= lit("1998-01-01").cast(DateType))
        val partials = Seq(history, batch1, batch2)
          .map(IncrementalAgg.partial(_, Seq("pri"), "cents"))
        IncrementalAgg.finish(IncrementalAgg.merge(partials, Seq("pri")))
      },
      // DuckDB sum(BIGINT) promotes to HUGEINT — cast back to BIGINT
      // (the round-8 q_sql_surface lesson; the checker is type-strict)
      // count(cents), not count(*): IncrementalAgg.partial counts
      // NON-NULL values so all four state components cover the same
      // row set — the oracle matches that semantic (equal on this
      // NULL-free column, divergent by design if NULLs ever appear)
      Some("""SELECT o_orderpriority AS pri,
          count(CAST(round(o_totalprice * 100) AS BIGINT)) AS agg_cnt,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS agg_sum,
          min(CAST(round(o_totalprice * 100) AS BIGINT)) AS agg_min,
          max(CAST(round(o_totalprice * 100) AS BIGINT)) AS agg_max,
          CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS agg_avg
        FROM orders GROUP BY 1""")),

    QueryDef("q_cdc_merge",
      // CDC MERGE — the third member of the CDC family (q_snapshot_diff
      // derives a changelog, q_latest_by_key compacts one, this APPLIES
      // one to a persisted base): two chained daily merges of a
      // deterministic changelog (updates, inserts-by-resurrection,
      // deletes) against an orders snapshot. The operator's scale
      // contract — untouched base rows bypass the latest-wins window
      // via an anti join against the broadcast-sized touched-key set —
      // is pinned structurally in CdcMergeSpec; here the chained result
      // is certified against the one-shot latest-wins rule in DuckDB
      // (chained == one-shot is the closure property that makes daily
      // incremental merging correct).
      (s, dir) => {
        val base = t(s, dir, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          AggFunctions.cents(col("o_totalprice")).as("total_cents"),
          lit(0L).as("version"), lit("U").as("op"))
        val day1 = base.where(col("k") % 7 === 0 && col("k") % 13 =!= 0)
          .select(col("k"), lit("X").as("status"),
            (col("total_cents") + 500L).as("total_cents"),
            lit(1L).as("version"), lit("U").as("op"))
          .unionByName(base.where(col("k") % 13 === 0)
            .select(col("k"), lit("").as("status"),
              lit(0L).as("total_cents"),
              lit(1L).as("version"), lit("D").as("op")))
        val day2 = base.where(col("k") % 26 === 0)
          .select(col("k"), lit("R").as("status"),
            lit(777L).as("total_cents"),
            lit(2L).as("version"), lit("U").as("op"))
        CdcMerge.merge(CdcMerge.merge(base, day1, Seq("k")), day2, Seq("k"))
          .select("k", "status", "total_cents")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
              CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
              0 AS version, 'U' AS op FROM orders),
          d1 AS (SELECT k, 'X' AS status,
                total_cents + 500 AS total_cents, 1 AS version, 'U' AS op
              FROM base WHERE k % 7 = 0 AND k % 13 <> 0
            UNION ALL SELECT k, '', 0, 1, 'D' FROM base WHERE k % 13 = 0),
          d2 AS (SELECT k, 'R' AS status, 777 AS total_cents,
              2 AS version, 'U' AS op FROM base WHERE k % 26 = 0),
          u AS (SELECT * FROM base UNION ALL SELECT * FROM d1
            UNION ALL SELECT * FROM d2),
          r AS (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY version DESC, op ASC) AS rn FROM u)
        SELECT k, status, CAST(total_cents AS BIGINT) AS total_cents
        FROM r WHERE rn = 1 AND op <> 'D'"""))
  )
}
