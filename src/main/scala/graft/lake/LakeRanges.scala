package graft.lake

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, CommonExpressionRef, EqualNullSafe, EqualTo, ExprId,
  Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan,
  LessThanOrEqual, Literal, PredicateHelper, RuntimeReplaceable, With}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import LakeTable.ColRange

/** The lake's one predicate → [[LakeTable.ColRange]] translator: which
  * conjuncts of a predicate become stats ranges, exactly or only
  * widened for pruning. One rule per comparison and one conjunction
  * rule, fed by two front-ends:
  *   - Catalyst: `column <op> value` with the column on either side
  *     (a resolved `Attribute`, or the last part of an
  *     `UnresolvedAttribute`) and the value side any resolved,
  *     foldable, deterministic expression, evaluated once — an
  *     evaluation error means no translation. So `id > 47L`,
  *     `id > CAST(47 AS BIGINT)` and `47 < id` translate alike,
  *     before or after constant folding;
  *   - `sources.Filter`: the values Spark hands a data source.
  * Values become stats values ([[LakeTable.normalizeStat]]: integral →
  * Long, floating → Double, strings → String). A NULL, or a value of
  * any other type (DATE, TIMESTAMP, DECIMAL, ...), does not translate.
  *
  * [[exact]] ranges select exactly the predicate's rows, or the
  * predicate is refused (None). Metadata DELETE (`canDeleteWhere` /
  * `deleteWhere`), REPLACE WHERE, OPTIMIZE WHERE and the DELETE router
  * in [[LakeMorExpansion]] use it, so the router and `SupportsDelete`
  * decide by the same function. Ranges are inclusive: a strict bound
  * is ±1 on a Long only, and is refused at the Long edge (the wrap
  * would make "> Long.MaxValue" match everything). `IS NOT NULL` is
  * absorbed beside a range on the same column (ranges are
  * null-rejecting) and refused alone. `<=>` with a non-null value is
  * equality (a static `INSERT OVERWRITE ... PARTITION (p = 'x')`
  * arrives that way); with NULL it is refused.
  *
  * [[widening]] ranges select a superset, for stats pruning (the file
  * index, the V1 fallback scan, DML candidates, generated-partition
  * inference): a conjunct that does not translate is dropped, and a
  * strict bound widens to inclusive. Pruning is an optimization; the
  * exact predicate still filters rows.
  */
private[lake] object LakeRanges extends PredicateHelper {

  /** `column op value`, the column on the left; `op` is the SQL form. */
  private final case class Cmp(column: String, op: String, value: Any)

  private val NotNull = "IS NOT NULL"

  private val flipped =
    Map("=" -> "=", "<=>" -> "<=>", ">" -> "<", ">=" -> "<=",
      "<" -> ">", "<=" -> ">=")

  /** Exact ranges of a Catalyst condition, or None. */
  def exact(cond: Expression): Option[Seq[ColRange]] =
    conjoin(catalyst(cond, raw = false), exact = true)

  /** Exact ranges of pushed `sources.Filter`s (an implicit AND), or None. */
  def exact(filters: Array[sources.Filter]): Option[Seq[ColRange]] =
    conjoin(filters.toSeq.flatMap(split).map(source), exact = true)

  /** Widening ranges of a Catalyst condition. `raw` keeps the literal's
    * internal value as it is (DATE days as Int, TIMESTAMP micros as
    * Long) for [[LakeGenPruning]], which maps it to civil time itself.
    */
  def widening(cond: Expression, raw: Boolean = false): Seq[ColRange] =
    conjoin(catalyst(cond, raw), exact = false).get

  /** Widening ranges of pushed `sources.Filter`s. */
  def widening(filters: Array[sources.Filter]): Seq[ColRange] =
    conjoin(filters.toSeq.flatMap(split).map(source), exact = false).get

  /** MERGE's key conjuncts `target.col = <expression of the source
    * only>`, as (column, source expression): the expression's
    * [min, max] over the source bounds the target keys that can match.
    */
  def equiKeys(cond: Expression,
               target: Set[ExprId]): Seq[(String, Expression)] = {
    def sourceOnly(e: Expression) =
      e.references.forall(a => !target.contains(a.exprId))
    splitConjunctivePredicates(cond).collect {
      case EqualTo(a: AttributeReference, b)
          if target.contains(a.exprId) && sourceOnly(b) => (a.name, b)
      case EqualTo(b, a: AttributeReference)
          if target.contains(a.exprId) && sourceOnly(b) => (a.name, b)
    }
  }

  // one rule per comparison; (None, None) marks IS NOT NULL for the
  // conjunction rule
  private def rule(c: Cmp, exact: Boolean): Option[ColRange] = {
    val col = c.column
    (c.op, c.value) match {
      case (NotNull, _)     => Some(ColRange(col, None, None))
      case ("=" | "<=>", v) => Some(ColRange(col, Some(v), Some(v)))
      case (">=", v)        => Some(ColRange(col, Some(v), None))
      case ("<=", v)        => Some(ColRange(col, None, Some(v)))
      case (">", v) if !exact => Some(ColRange(col, Some(v), None))
      case ("<", v) if !exact => Some(ColRange(col, None, Some(v)))
      case (">", v: Long) if v != Long.MaxValue =>
        Some(ColRange(col, Some(v + 1L), None))
      case ("<", v: Long) if v != Long.MinValue =>
        Some(ColRange(col, None, Some(v - 1L)))
      case _ => None
    }
  }

  /** The conjunction rule: exact needs every conjunct translated and
    * every IS NOT NULL beside a range on its column; widening keeps
    * what translates. Either way the result holds bounded ranges only.
    */
  private def conjoin(conjuncts: Seq[Option[Cmp]],
                      exact: Boolean): Option[Seq[ColRange]] = {
    val ranges = conjuncts.map(_.flatMap(rule(_, exact)))
    val bounded = ranges.flatten.filter(r => r.lo.nonEmpty || r.hi.nonEmpty)
    if (!exact) Some(bounded)
    else if (ranges.forall(_.nonEmpty) &&
        ranges.flatten.forall(r => bounded.exists(_.column == r.column)))
      Some(bounded)
    else None
  }

  private def catalyst(cond: Expression, raw: Boolean): Seq[Option[Cmp]] =
    splitConjunctivePredicates(replaced(cond))
      .filterNot(_ == Literal.TrueLiteral).map(comparison(_, raw))

  /** `cond` as the optimizer hands it on: runtime-replaceable forms
    * (BETWEEN) become their analyzed replacement, with the shared
    * operand a `With` binds inlined (`x >= lo AND x <= hi`).
    */
  private def replaced(cond: Expression): Expression =
    cond.transformUp { case r: RuntimeReplaceable => r.replacement }
      .transformUp { case With(child, defs) =>
        val byId = defs.map(d => d.id -> d.child).toMap
        child.transform {
          case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id)
        }
      }

  private def comparison(e: Expression, raw: Boolean): Option[Cmp] = {
    def column(x: Expression): Option[String] = x match {
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case a: Attribute => Some(a.name)
      case _ => None
    }
    def cmp(l: Expression, op: String, r: Expression): Option[Cmp] =
      (column(l), column(r)) match {
        case (Some(c), None) => value(r, raw).map(Cmp(c, op, _))
        case (None, Some(c)) => value(l, raw).map(Cmp(c, flipped(op), _))
        case _ => None
      }
    e match {
      case EqualTo(l, r)            => cmp(l, "=", r)
      case EqualNullSafe(l, r)      => cmp(l, "<=>", r)
      case GreaterThan(l, r)        => cmp(l, ">", r)
      case GreaterThanOrEqual(l, r) => cmp(l, ">=", r)
      case LessThan(l, r)           => cmp(l, "<", r)
      case LessThanOrEqual(l, r)    => cmp(l, "<=", r)
      case IsNotNull(x)             => column(x).map(Cmp(_, NotNull, null))
      case _ => None
    }
  }

  private def value(x: Expression, raw: Boolean): Option[Any] =
    if (!x.resolved || !x.foldable || !x.deterministic) None
    else (try Option(x.eval()) catch { case NonFatal(_) => None }).flatMap {
      case u: UTF8String =>
        if (x.dataType == StringType) Some(u.toString) else None
      case v if raw => Some(v)
      case v => x.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType => Some(LakeTable.normalizeStat(v))
        case _ => None
      }
    }

  private def split(f: sources.Filter): Seq[sources.Filter] = f match {
    case sources.And(l, r) => split(l) ++ split(r)
    case _: sources.AlwaysTrue => Nil
    case other => Seq(other)
  }

  private def source(f: sources.Filter): Option[Cmp] = {
    def cmp(c: String, op: String, v: Any): Option[Cmp] =
      (try Option(v).map(LakeTable.normalizeStat) catch {
        case _: IllegalArgumentException => None
      }).map(Cmp(c, op, _))
    f match {
      case sources.EqualTo(c, v)            => cmp(c, "=", v)
      case sources.EqualNullSafe(c, v)      => cmp(c, "<=>", v)
      case sources.GreaterThan(c, v)        => cmp(c, ">", v)
      case sources.GreaterThanOrEqual(c, v) => cmp(c, ">=", v)
      case sources.LessThan(c, v)           => cmp(c, "<", v)
      case sources.LessThanOrEqual(c, v)    => cmp(c, "<=", v)
      case sources.IsNotNull(c)             => Some(Cmp(c, NotNull, null))
      case _ => None
    }
  }
}
