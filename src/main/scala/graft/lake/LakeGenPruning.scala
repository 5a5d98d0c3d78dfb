package graft.lake

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast,
  Expression, Literal, Substring}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType,
  StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Partition-filter INFERENCE for generated partition columns — the
  * Delta-parity planning step that makes a predicate on the BASE
  * column prune a table partitioned by `GENERATED ALWAYS AS
  * (month(base))`-style expressions. Without it, `WHERE o_orderdate
  * BETWEEN x AND y` reads every partition of a month(o_orderdate)-
  * partitioned table (the date column itself can be neither a
  * partition nor a stats column here), which at 100 TB is the
  * difference between one directory and the whole table.
  *
  * Scope — the shipped generation shapes with a sound inference:
  *   - `year(b)`: monotone in b — base bounds map straight through
  *     (one-sided bounds included)
  *   - `month(b)` / `day(b)` / `hour(b)`: periodic, NOT monotone — a
  *     bounded base range maps only when it stays inside one
  *     enclosing period (same year for month, same month for day,
  *     same day for hour); equality always maps
  *   - `substring(b, 1, k)`: string prefix, monotone under the
  *     binary collation the stats comparator uses (one-sided bounds
  *     included)
  *   - `date_format([timestamp_micros|timestamp_millis|cast](b),
  *     '<chronological fmt>')` for formats whose string order IS time
  *     order (yyyy, yyyy-MM, yyyy-MM-dd, …-HH[:mm[:ss]]): monotone,
  *     one-sided bounds included — the canonical time-series
  *     `day STRING GENERATED ALWAYS AS (date_format(...))` partition
  *     key prunes on raw epoch-micros predicates
  * Anything else infers nothing — inference is an OPTIMIZATION; rows
  * are still filtered exactly by the scan, so a missed inference is
  * never a correctness change (the same contract as stats pruning).
  * The base-column bounds are the pushed filters' ranges from the
  * lake's one predicate translator ([[LakeRanges.widening]], the same
  * rules the file index prunes by), with raw DATE/TIMESTAMP values
  * kept for the civil-time mapping below.
  *
  * TIMESTAMP bases are interpreted under the session timezone
  * (`spark.sql.session.timeZone`, captured when the inferencer is
  * built) — the same zone the write side's `month()`/`date_format()`
  * evaluation used, so a deployment running non-UTC sessions maps
  * predicate bounds to the same civil times the generated values were
  * computed from. TimestampNTZ and DATE are zone-free by type.
  *
  * Under column mapping, pushed data filters (and file stats) carry
  * PHYSICAL column names — the inferencer keys its bound lookup and
  * its emitted ranges by physical names. Today partitioned tables
  * refuse rename/drop (mapping never activates there), so this is
  * defense-in-depth against a future composition, not a live path.
  */
private[lake] object LakeGenPruning {

  /** One generated partition column's inference-relevant shape. */
  private sealed trait GenShape { def base: String }
  private final case class DatePart(base: String, part: String)
      extends GenShape
  private final case class Prefix(base: String, len: Int) extends GenShape

  /** `date_format([timestamp_micros|timestamp_millis](b), '<fmt>')`
    * for a CHRONOLOGICAL format (zero-padded descending units, so
    * lexicographic order == time order — the monotonicity that lets
    * one-sided bounds map). `unit` is how the base literal denotes an
    * instant: "micros"/"millis" (integral epoch via the wrapper fn)
    * or "auto" (the column's own date/timestamp type).
    */
  private final case class Formatted(base: String, fmt: String,
                                     unit: String) extends GenShape

  /** Formats whose string order is chronological order. A pattern off
    * this list infers nothing (e.g. 'dd-MM-yyyy' sorts wrongly).
    */
  private val chronoFormats = Set("yyyy", "yyyy-MM", "yyyy-MM-dd",
    "yyyy-MM-dd HH", "yyyy-MM-dd HH:mm", "yyyy-MM-dd HH:mm:ss")

  /** Inference function for `snap`: pushed data filters → extra
    * ranges on generated partition columns. Generation expressions
    * are parsed ONCE here; the returned closure is cheap per
    * `listFiles` call. Empty function when the table has no
    * inferable generated partition column.
    */
  def inferencer(spark: SparkSession, snap: LakeLog.Snapshot,
                 schema: StructType)
      : Seq[Expression] => Seq[LakeTable.ColRange] = {
    // the generation expression may spell the base column in another
    // case than the schema (the analyzer resolves case-insensitively;
    // LakeColumns.validate accepts it) — canonicalize to the schema's
    // spelling here so bound extraction (keyed by analyzer attribute
    // names) and type lookup both hit
    val resolver = spark.sessionState.analyzer.resolver
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def canonical(base: String): Option[String] =
      schema.fieldNames.find(resolver(_, base))
    def phys(c: String): String = snap.colMap.getOrElse(c, c)
    // shapes carry PHYSICAL names (= the name space of pushed filters
    // and file stats) plus the base's LOGICAL type for bound decoding
    val shapes: Seq[(String, GenShape, DataType)] =
      snap.partitionBy.flatMap { g =>
        snap.colSpecs.get(g).toSeq
          .filter(_.kind == LakeColumns.KindGenerated)
          .flatMap(cs => cs.spec.get("expr"))
          .flatMap(parseShape(spark, _))
          .flatMap { sh =>
            canonical(sh.base).map { logical =>
              val withPhys = sh match {
                case d: DatePart  => d.copy(base = phys(logical))
                case p: Prefix    => p.copy(base = phys(logical))
                case f: Formatted => f.copy(base = phys(logical))
              }
              (phys(g), withPhys, schema(logical).dataType)
            }
          }
      }
    if (shapes.isEmpty) _ => Nil
    else dataFilters => inferRanges(shapes, zone, dataFilters)
  }

  private def parseShape(spark: SparkSession, sql: String): Option[GenShape] = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case _: Exception => return None }
    def attr(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case a: Attribute => Some(a.name)
      case _ => None
    }
    def intLit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
    val dateParts = Set("year", "month", "day", "dayofmonth", "hour")
    val substrs = Set("substring", "substr")
    parsed match {
      case u: UnresolvedFunction if u.nameParts.length == 1 &&
          !u.isDistinct && u.arguments.length == 1 &&
          dateParts.contains(u.nameParts.head.toLowerCase) =>
        val fn = u.nameParts.head.toLowerCase
        attr(u.arguments.head)
          .map(DatePart(_, if (fn == "dayofmonth") "day" else fn))
      case u: UnresolvedFunction if u.nameParts.length == 1 &&
          !u.isDistinct && u.arguments.length == 3 &&
          substrs.contains(u.nameParts.head.toLowerCase) &&
          intLit(u.arguments(1)).contains(1) =>
        for (base <- attr(u.arguments.head);
             len <- intLit(u.arguments(2))) yield Prefix(base, len)
      case Substring(b, f, l) if intLit(f).contains(1) =>
        for (base <- attr(b); len <- intLit(l)) yield Prefix(base, len)
      case u: UnresolvedFunction if u.nameParts.length == 1 &&
          !u.isDistinct && u.arguments.length == 2 &&
          u.nameParts.head.equalsIgnoreCase("date_format") =>
        val fmt = u.arguments(1) match {
          case Literal(s: UTF8String, StringType) => Some(s.toString)
          case _ => None
        }
        def innerBase(e: Expression): Option[(String, String)] = e match {
          case a if attr(a).isDefined => attr(a).map((_, "auto"))
          case w: UnresolvedFunction if w.nameParts.length == 1 &&
              w.arguments.length == 1 =>
            val fn = w.nameParts.head.toLowerCase
            val unit = fn match {
              case "timestamp_micros" => Some("micros")
              case "timestamp_millis" => Some("millis")
              case _ => None
            }
            for (b <- attr(w.arguments.head); un <- unit) yield (b, un)
          case Cast(c, t, _, _) if attr(c).isDefined &&
              (t == TimestampType || t == TimestampNTZType ||
                t == DateType) =>
            attr(c).map((_, "auto"))
          case _ => None
        }
        for {
          f <- fmt if chronoFormats.contains(f)
          (b, un) <- innerBase(u.arguments.head)
        } yield Formatted(b, f, un)
      case _ => None
    }
  }

  private def inferRanges(shapes: Seq[(String, GenShape, DataType)],
                          zone: java.time.ZoneId,
                          dataFilters: Seq[Expression])
      : Seq[LakeTable.ColRange] = {
    val bounds = baseBounds(dataFilters)
    shapes.flatMap { case (g, shape, dt) =>
      for {
        (lo, hi) <- bounds.get(shape.base).toSeq
        range <- shape match {
          case Prefix(_, len) if dt == StringType =>
            // truncate by CODE POINTS — Spark's substring counts code
            // points, while String.take counts UTF-16 units; a
            // unit-count cut of a supplementary-plane string would be
            // SHORTER than the real generated prefix and sort below
            // it, pruning files that contain matching rows
            def cut(b: Option[Any]): Option[Any] =
              b.collect { case s: String =>
                s.substring(0, s.offsetByCodePoints(0,
                  math.min(len, s.codePointCount(0, s.length))))
              }
            val r = LakeTable.ColRange(g, cut(lo), cut(hi))
            if (r.lo.isEmpty && r.hi.isEmpty) Nil else Seq(r)
          case _: Prefix => Nil
          case DatePart(_, part) =>
            datePartRange(part, lo.flatMap(toDateTime(_, dt, zone)),
              hi.flatMap(toDateTime(_, dt, zone)))
              .map { case (l, h) => LakeTable.ColRange(g, l, h) }.toSeq
          case Formatted(_, fmt, unit) =>
            // chronological formats are monotone: each bound maps
            // independently (one-sided included)
            val f = java.time.format.DateTimeFormatter.ofPattern(fmt)
            def dtOf(v: Any): Option[LocalDateTime] = unit match {
              case "micros" => v match {
                case l: Long => toDateTime(l, TimestampType, zone)
                case i: Int  => toDateTime(i.toLong, TimestampType, zone)
                case _ => None
              }
              case "millis" => v match {
                case l: Long => toDateTime(l * 1000L, TimestampType, zone)
                case i: Int  =>
                  toDateTime(i.toLong * 1000L, TimestampType, zone)
                case _ => None
              }
              case _ => toDateTime(v, dt, zone)
            }
            val r = LakeTable.ColRange(g,
              lo.flatMap(dtOf).map(f.format), hi.flatMap(dtOf).map(f.format))
            if (r.lo.isEmpty && r.hi.isEmpty) Nil else Seq(r)
        }
      } yield range
    }
  }

  /** Per-base-column (lo, hi) bounds: the filters'
    * [[LakeRanges.widening]] ranges with raw values (DATE days,
    * TIMESTAMP micros), the tightest bound per side winning by
    * [[LakeTable.cmp]] (the first kept when incomparable).
    */
  private def baseBounds(filters: Seq[Expression])
      : Map[String, (Option[Any], Option[Any])] = {
    def tightest(vs: Seq[Any], keep: Int => Boolean): Option[Any] =
      vs.reduceOption((x, y) => if (LakeTable.cmp(x, y).forall(keep)) x else y)
    filters.flatMap(LakeRanges.widening(_, raw = true)).groupBy(_.column)
      .map { case (c, rs) =>
        c -> (tightest(rs.flatMap(_.lo), _ >= 0),
          tightest(rs.flatMap(_.hi), _ <= 0))
      }
  }

  /** A literal of the base column's type → the civil time it denotes
    * (dates at start of day). TIMESTAMP instants convert under the
    * session `zone` (matching date_format/month evaluation);
    * TimestampNTZ and DATE carry civil time directly.
    */
  private def toDateTime(v: Any, dt: DataType,
                         zone: java.time.ZoneId): Option[LocalDateTime] =
    (v, dt) match {
      case (days: Int, DateType) =>
        Some(LocalDate.ofEpochDay(days.toLong).atStartOfDay())
      case (micros: Long, TimestampType) =>
        Some(LocalDateTime.ofInstant(
          Instant.EPOCH.plusNanos(micros * 1000L), zone))
      case (micros: Long, TimestampNTZType) =>
        Some(LocalDateTime.ofInstant(
          Instant.EPOCH.plusNanos(micros * 1000L), ZoneOffset.UTC))
      case _ => None
    }

  /** The sound (lo, hi) range of `part` over a base range. `year` is
    * monotone (one-sided bounds map); the periodic parts map only
    * when both bounds exist and share the enclosing period.
    */
  private def datePartRange(part: String, lo: Option[LocalDateTime],
                            hi: Option[LocalDateTime])
      : Option[(Option[Any], Option[Any])] = {
    def p(t: LocalDateTime): Long = part match {
      case "year"  => t.getYear.toLong
      case "month" => t.getMonthValue.toLong
      case "day"   => t.getDayOfMonth.toLong
      case "hour"  => t.getHour.toLong
    }
    def samePeriod(a: LocalDateTime, b: LocalDateTime): Boolean =
      part match {
        case "year"  => true
        case "month" => a.getYear == b.getYear
        case "day"   => a.getYear == b.getYear && a.getMonth == b.getMonth
        case "hour"  => a.toLocalDate == b.toLocalDate
      }
    (lo, hi) match {
      case (None, None) => None
      case _ if part == "year" =>
        Some((lo.map(p(_)), hi.map(p(_))))
      case (Some(l), Some(h)) if samePeriod(l, h) =>
        Some((Some(p(l)), Some(p(h))))
      case _ => None // unbounded or period-crossing: no sound range
    }
  }
}
