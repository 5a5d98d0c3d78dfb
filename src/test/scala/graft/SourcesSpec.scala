package graft

import org.apache.spark.sql.functions._

/** Source/sink surface (SURVEY §2.2 "scans / sinks"): parquet, csv and
  * json roundtrips through `spark.read`/`df.write`, and scan-level
  * optimizations (column pruning + predicate pushdown) that make the
  * 100 TB posture work — a scan must read only what the query needs.
  */
class SourcesSpec extends SparkSuite {

  private lazy val nation = Tables(spark, sf("sf0.001"), "nation")

  private def tmp(name: String): String =
    tempDir(s"graft_$name").toString + "/out"

  test("parquet roundtrip preserves rows and schema") {
    val path = tmp("parquet")
    nation.write.parquet(path)
    val back = spark.read.parquet(path)
    assert(back.schema == nation.schema)
    assert(back.collect().toSet == nation.collect().toSet)
  }

  test("csv roundtrip with header + explicit schema") {
    val path = tmp("csv")
    nation.write.option("header", "true").csv(path)
    val back = spark.read.option("header", "true").schema(nation.schema).csv(path)
    assert(back.collect().toSet == nation.collect().toSet)
  }

  test("orc roundtrip preserves rows and schema") {
    val path = tmp("orc")
    nation.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.schema == nation.schema)
    assert(back.collect().toSet == nation.collect().toSet)
  }

  test("json roundtrip with explicit schema") {
    val path = tmp("json")
    nation.write.json(path)
    val back = spark.read.schema(nation.schema).json(path)
    assert(back.collect().toSet == nation.collect().toSet)
  }

  test("column pruning reaches the parquet scan (ReadSchema is minimal)") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val plan = li.select("l_orderkey", "l_quantity").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"plan:\n$plan")
  }

  test("predicate pushdown reaches the parquet scan (PushedFilters)") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val plan = li.where(col("l_quantity") > 45).select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"plan:\n$plan")
  }

  test("hive-style partitioned layout gets partition pruning (PartitionFilters)") {
    val path = tmp("partitioned")
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    li.write.partitionBy("l_returnflag").parquet(path)
    val pruned = spark.read.parquet(path).where(col("l_returnflag") === "A")
      .select("l_orderkey")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"), s"plan:\n$plan")
    // correctness: pruned read equals filtered full read
    assert(pruned.count() == li.where(col("l_returnflag") === "A").count())
  }

  test("range-partitioned sorted write: files hold disjoint, ordered key ranges") {
    val path = tmp("rangepart")
    val orders = Tables(spark, sf("sf0.001"), "orders")
    orders.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(path)
    // each output file covers a disjoint o_orderkey range
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"overlap: ${ranges.toSeq}")
      case _ =>
    }
    assert(spark.read.parquet(path).count() == orders.count())
  }

  test("schema evolution: mergeSchema unions columns across parquet file generations") {
    import spark.implicits._
    val path = tempDir("graft_evolve").toString
    // generation 1: (id, v); generation 2 adds a quality column
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.mode("append").parquet(path)
    Seq((3L, 30.0, 0.9), (4L, 40.0, 0.8)).toDF("id", "v", "quality")
      .write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet == Set("id", "v", "quality"))
    assert(merged.count() == 4)
    // old-generation rows surface NULL quality; new rows keep theirs
    val q = merged.orderBy("id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(q.toSeq == Seq(1L -> None, 2L -> None,
      3L -> Some(0.9), 4L -> Some(0.8)))
    // and filters on the evolved column still push to the scan
    val plan = merged.where(col("quality") > 0.85)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(quality), GreaterThan(quality,0.85)]"),
      s"plan:\n$plan")
  }

  test("events fixture contract: ts normalizes to micros BIGINT from every physical form") {
    // The driver regenerates the testdata between rounds and has
    // already shipped events.ts as parquet TIMESTAMP(NANOS) (one
    // round) and timestamp[us]/TIMESTAMP_NTZ (the next) — this pins
    // the Tables contract so the NEXT silent fixture change fails one
    // loud test instead of nine queries. Whatever the physical type,
    // the engine sees micros-since-epoch BIGINT named `ts`.
    val ev = Tables(spark, sf("sf0.001"), "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType, s"ts must surface as BIGINT micros")
    val mm = ev.agg(min("ts"), max("ts")).head()
    // plausibility: micros magnitude (2020..2030), not nanos/millis
    val lo = 1577836800000000L // 2020-01-01 in micros
    val hi = 1893456000000000L // 2030-01-01 in micros
    assert(mm.getLong(0) >= lo && mm.getLong(1) <= hi,
      s"ts range ${mm.getLong(0)}..${mm.getLong(1)} is not micros-since-epoch")

    // synthesize the other accepted physical forms from the normalized
    // values and assert all normalize back to identical (id, ts) sets
    val base = ev.select("event_id", "ts")
    val expected = base.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def roundtrip(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Tables.normalizeEventTs(df).select("event_id", "ts")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val asNanosLong = base.withColumn("ts", col("ts") * 1000L)
    val asTimestamp = base.withColumn("ts", timestamp_micros(col("ts")))
    val asNtz = base.withColumn("ts",
      timestamp_micros(col("ts")).cast("timestamp_ntz"))
    assert(roundtrip(asNanosLong) == expected, "nanos INT64 form drifted")
    assert(roundtrip(asTimestamp) == expected, "TIMESTAMP form drifted")
    assert(roundtrip(asNtz) == expected, "TIMESTAMP_NTZ form drifted")
    // and a parquet-written NTZ copy (what the current fixture IS)
    // normalizes identically through the full Tables read path
    val path = tempDir("graft_evfix").toString
    asNtz.write.mode("overwrite").parquet(s"$path/events.parquet")
    val back = Tables(spark, path, "events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == expected, "parquet NTZ roundtrip through Tables drifted")
  }

  test("orders/lineitem date-column contract: a nanos-INT64 fixture normalizes back to micros NTZ") {
    // timestamp[us]/date32 forms read consistently on both engines and
    // pass through Tables untouched; the dangerous regeneration is
    // timestamp[ns] (Spark: nanos long via nanosAsLong, DuckDB:
    // TIMESTAMP_NS). Synthesize that long form and assert Tables
    // restores the exact micros wall-clock values the queries see now.
    val orders = Tables(spark, sf("sf0.001"), "orders")
    val expected = orders
      .select(col("o_orderkey"),
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', " +
          "cast(o_orderdate as timestamp_ntz))").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val asNanos = orders.withColumn("o_orderdate",
      expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', " +
        "cast(o_orderdate as timestamp_ntz)) * 1000L"))
    val normalized = Tables.normalizeDateCol(asNanos, "o_orderdate")
    assert(normalized.schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val back = normalized
      .select(col("o_orderkey"),
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', " +
          "o_orderdate)").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == expected, "nanos-long date column did not normalize to micros NTZ")

    // magnitude plausibility on the REAL fixture: normalized date
    // columns must land in 1990–2100. normalizeDateCol assumes a
    // LongType date column is NANOS-since-epoch; a future fixture
    // shipping raw INT64 MICROS would be divided by 1000 again and
    // silently collapse to ~1970 — this names the drifted column
    // instead of hash-failing every orders/lineitem query.
    Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate").foreach {
      case (tbl, c) =>
        val yr = Tables(spark, sf("sf0.001"), tbl)
          .agg(min(year(col(c))).as("lo"), max(year(col(c))).as("hi")).head()
        assert(yr.getInt(0) >= 1990 && yr.getInt(1) <= 2100,
          s"$tbl.$c normalizes to years ${yr.getInt(0)}..${yr.getInt(1)} — " +
            "outside the 1990–2100 plausibility window; the fixture's " +
            "physical date encoding drifted (raw micros misread as nanos?)")
    }
  }

  test("fixture schema contract: every table surfaces the names+types the engine depends on") {
    // The generalized form of the events-ts lesson: the driver
    // regenerates the testdata between rounds, and a silent type
    // change (nanos vs micros timestamps was round 9's) should fail
    // ONE test that names the drifted column, not N queries with
    // analysis errors. These are the POST-normalization types Tables
    // guarantees (events.ts → micros BIGINT; orders/lineitem date
    // columns may arrive as timestamp[us]/[ns]/date32 — accepted as
    // any date-or-timestamp type here since every query casts).
    import org.apache.spark.sql.types._
    val dateLike: DataType => Boolean = {
      case TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }
    val exact: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderpriority" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType),
      "events" -> Map("event_id" -> LongType, "ts" -> LongType, // normalized
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))
    val flexible: Map[String, Seq[String]] = Map(
      "orders" -> Seq("o_orderdate"), "lineitem" -> Seq("l_shipdate"))
    val drift = Tables.names.flatMap { tn =>
      val schema = Tables(spark, sf("sf0.001"), tn).schema
      val fields = schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = (exact(tn).keySet ++ flexible.getOrElse(tn, Nil).toSet)
        .diff(fields.keySet).map(c => s"$tn.$c MISSING")
      val wrong = exact(tn).collect {
        case (c, want) if fields.contains(c) && fields(c) != want =>
          s"$tn.$c is ${fields(c)}, engine needs $want"
      }
      val badDate = flexible.getOrElse(tn, Nil).collect {
        case c if fields.contains(c) && !dateLike(fields(c)) =>
          s"$tn.$c is ${fields(c)}, engine needs a date/timestamp type"
      }
      missing ++ wrong ++ badDate
    }
    assert(drift.isEmpty,
      s"fixture drifted from the engine contract:\n  ${drift.mkString("\n  ")}")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val o = Tables(s2, sf("sf0.001"), "orders")
    val c = Tables(s2, sf("sf0.001"), "customer")
    o.write.bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    c.selectExpr("c_custkey AS o_custkey", "c_name")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("customer_b")
    val joined = s2.table("orders_b").join(s2.table("customer_b"), Seq("o_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
  }
}
