package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables` resolves each fixture's schema once per file version: a
  * repeated call on an unchanged file runs no Spark job, and a rewrite,
  * an added part file or a changed type conf is re-resolved.
  *
  * Suites run sequentially in the forked test JVM, so the listener
  * counts only this suite's jobs.
  */
class TablesSchemaSpec extends SparkSuite {

  private def tmp(): Path = tempDir("t")

  /** `df` as ONE parquet file at `target` (the fixtures' single-file
    * form), stamped `mtimeMs` so a rewrite always carries a new mtime.
    */
  private def writeFile(df: DataFrame, target: Path, mtimeMs: Long): Unit = {
    val out = tmp().resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    val part = out.toFile.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    assert(target.toFile.setLastModified(mtimeMs))
  }

  private def micros(df: DataFrame): Set[(Long, Long)] =
    df.select("event_id", "ts").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a repeated call on an unchanged fixture runs no job; the first runs one") {
    val d = tmp()
    Files.copy(java.nio.file.Paths.get(sf("sf0.001"), "orders.parquet"),
      d.resolve("orders.parquet"))
    assert(jobsDuring(Tables(spark, d.toString, "orders")) == 1)
    assert(jobsDuring(Tables(spark, d.toString, "orders")) == 0)
    assert(jobsDuring(Tables.raw(spark, d.toString, "orders")) == 0)
    // the pinned schema is the one inference gives
    assert(Tables.raw(spark, d.toString, "orders").schema ==
      spark.read.parquet(s"$d/orders.parquet").schema)
  }

  test("a fixture rewritten in place is re-resolved: micros TIMESTAMP -> raw INT64 nanos") {
    val d = tmp()
    val target = d.resolve("events.parquet")
    val base = spark.range(0, 50).select(col("id").as("event_id"),
      (lit(1700000000000000L) + col("id") * 1234567L).as("us"))
    writeFile(base.select(col("event_id"), timestamp_micros(col("us")).as("ts")),
      target, 1700000000000L)
    assert(Tables.raw(spark, d.toString, "events").schema("ts").dataType == TimestampType)
    val before = micros(Tables(spark, d.toString, "events"))
    assert(before == micros(base.withColumnRenamed("us", "ts")))

    writeFile(base.select(col("event_id"), (col("us") * 1000L).as("ts")),
      target, 1700000010000L)
    assert(Tables.raw(spark, d.toString, "events").schema("ts").dataType == LongType)
    assert(micros(Tables(spark, d.toString, "events")) == before)
  }

  test("a part file added to a directory-form fixture is re-resolved") {
    val d = tmp()
    val path = s"$d/region.parquet"
    spark.range(0, 5).toDF("r_regionkey").write.parquet(path)
    assert(jobsDuring(Tables(spark, d.toString, "region")) == 1)
    assert(jobsDuring(Tables(spark, d.toString, "region")) == 0)
    spark.range(5, 8).toDF("r_regionkey").write.mode("append").parquet(path)
    assert(jobsDuring(Tables(spark, d.toString, "region")) == 1)
    assert(Tables(spark, d.toString, "region").count() == 8)
  }

  test("flipping inferTimestampNTZ.enabled gives the type that conf infers") {
    // the pyarrow-written fixture stores ts as timestamp[us] without a
    // zone, which Spark infers as TIMESTAMP_NTZ or TIMESTAMP by this conf
    val d = tmp()
    Files.copy(java.nio.file.Paths.get(sf("sf0.001"), "events.parquet"),
      d.resolve("events.parquet"))
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    def tsType = Tables.raw(spark, d.toString, "events").schema("ts").dataType
    try {
      spark.conf.set(key, "true")
      assert(tsType == TimestampNTZType)
      val ntz = micros(Tables(spark, d.toString, "events"))
      spark.conf.set(key, "false")
      assert(tsType == TimestampType)
      assert(micros(Tables(spark, d.toString, "events")) == ntz)
      spark.conf.set(key, "true")
      assert(tsType == TimestampNTZType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a pinned read of a TIMESTAMP(NANOS) fixture returns the rows an inferred read does") {
    val d = tmp()
    val file = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { optional int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    val nanos = (0 until 20).map(i => i.toLong -> (1700000000123456789L + i * 987654321L))
    try nanos.foreach { case (id, ns) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()

    val pinned = Tables.raw(spark, d.toString, "events")
    assert(pinned.schema("ts").dataType == LongType)
    val inferred = spark.read.parquet(file.toString) // nanosAsLong set by raw
    assert(pinned.collect().toSet == inferred.collect().toSet)
    assert(micros(Tables(spark, d.toString, "events")) ==
      nanos.map { case (id, ns) => id -> Math.floorDiv(ns, 1000L) }.toSet)
  }
}
