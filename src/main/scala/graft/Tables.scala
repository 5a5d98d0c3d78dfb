package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * Parquet + explicit per-table paths keeps every scan eligible for
  * predicate pushdown, column pruning and (on a real cluster)
  * file-level parallelism; at 100 TB these would be partitioned
  * directories and the same call sites would pick up partition
  * pruning for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = raw(spark, dir, name)
    name match {
      case "events"   => normalizeEventTs(df)
      case "orders"   => normalizeDateCol(df, "o_orderdate")
      case "lineitem" => normalizeDateCol(df, "l_shipdate")
      case _          => df
    }
  }

  /** Fixture table `name` as stored, before the normalisations
    * [[apply]] adds.
    */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Legacy fixture form: parquet TIMESTAMP(NANOS), which Spark's
    // vectorized reader rejects unless surfaced as a nanos long.
    // Harmless for micros fixtures (the conf only affects NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Fixture contract: `events.ts` is exposed as MICROS-since-epoch
    * BIGINT no matter which physical type the driver-generated parquet
    * carries — `timestamp[us]` (read as TIMESTAMP or TIMESTAMP_NTZ),
    * `timestamp[ns]` (read as a nanos INT64 via nanosAsLong), or a raw
    * INT64 nanos column. Integer micros keep every downstream
    * gap/bucket/window computation in exact BIGINT arithmetic and
    * match DuckDB's `epoch_us(ts)` on the same file, so oracle parity
    * is structural rather than dependent on reader defaults. The NTZ
    * branch uses pure wall-clock `timestampdiff` from the epoch
    * literal, so the value is the raw stored micros regardless of the
    * session time zone.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // nanos → micros; floor-consistent (see RelationalQueries
        // .floorDiv) so pre-1970 nanos would not round toward zero
        df.withColumn("ts", expr("(ts - pmod(ts, 1000L)) div 1000L"))
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")))
      case TimestampNTZType =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported fixture type $other " +
            "(expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** Same silent-fixture-change robustness for the date columns the
    * relational queries depend on (orders.o_orderdate,
    * lineitem.l_shipdate). timestamp[us]/date32 forms read
    * CONSISTENTLY on both engines (every query casts or extracts
    * calendar fields), so those pass through untouched — the only
    * dangerous form is timestamp[ns], where Spark surfaces a nanos
    * INT64 (nanosAsLong) while DuckDB surfaces TIMESTAMP_NS. That
    * form is converted back to a micros TIMESTAMP_NTZ here, restoring
    * today's semantics for every downstream cast/year/interval site.
    */
  private[graft] def normalizeDateCol(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType => df.withColumn(c,
        // wall-clock timestampadd from the NTZ epoch literal — like
        // the NTZ branch above, independent of the session time zone
        expr(s"timestampadd(MICROSECOND, ($c - pmod($c, 1000L)) div 1000L, " +
          "TIMESTAMP_NTZ'1970-01-01 00:00:00')"))
      case _ => df
    }
}
