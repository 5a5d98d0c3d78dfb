package graft.lake

import org.apache.spark.sql.{Column => SqlColumn, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder,
  StructField, StructType}

import LakeLog.ColSpec

/** Declarative column semantics for lake tables — the three write-time
  * column features a SQL user expects from a managed table, persisted
  * as [[LakeLog.ColSpec]] actions and enforced centrally by every
  * writer:
  *
  *  - '''DEFAULT <expr>''': INSERTs that omit the column get the
  *    current default (filled by Spark's analyzer on the SQL path via
  *    `CURRENT_DEFAULT` field metadata, and by [[applyWriteSemantics]]
  *    on the library-API path). `ALTER TABLE ADD COLUMN ... DEFAULT`
  *    additionally records an EXISTS default: files written before the
  *    column existed read the default back — the parquet reader's
  *    `EXISTS_DEFAULT` machinery, i.e. a '''metadata-only backfill'''
  *    of a 100 TB table in one commit, zero rewrites.
  *  - '''GENERATED ALWAYS AS (expr)''': writers compute the column
  *    from the row's other columns; a user-supplied non-null value
  *    must agree (`<=>`) with the computed one or the write fails —
  *    enforced inside the write projection (codegen'd `raise_error`,
  *    no extra pass over the data).
  *  - '''GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY''': writers
  *    allocate values past the table's replayed high-water-mark in
  *    per-task bands (`base + step * (1 + taskBand)`), so allocation
  *    is one narrow projection — no global ordering, no second pass.
  *    Values are unique and follow `step`'s direction but may have
  *    gaps (the contract every distributed identity implementation
  *    documents). The observed extreme is folded from the written
  *    files' own min/max stats and committed as [[LakeLog.IdentityHwm]]
  *    under a commit guard, so concurrent allocators can never hand
  *    out overlapping ranges.
  *
  * Spark boundary: specs surface as the analyzer's field-metadata keys
  * (`CURRENT_DEFAULT`/`EXISTS_DEFAULT`, `GENERATION_EXPRESSION`,
  * `identity.*`) via [[decorate]], and are recovered from a v2 CREATE
  * TABLE definition via [[fromV2Columns]]. The log's schema DDL stays
  * plain — [[strip]] removes the keys before `toDDL` (whose output
  * `fromDDL` could not re-parse with DEFAULT clauses attached).
  */
object LakeColumns {

  val KindDefault = "default"
  val KindGenerated = "generated"
  val KindIdentity = "identity"

  // Spark's field-metadata keys (ResolveDefaultColumns / GeneratedColumn
  // / IdentityColumn constants, referenced by name to pin the contract)
  private val CurrentDefaultKey = "CURRENT_DEFAULT"
  private val ExistsDefaultKey = "EXISTS_DEFAULT"
  private val GenerationKey = org.apache.spark.sql.catalyst.util
    .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY
  private val IdStartKey = org.apache.spark.sql.catalyst.util
    .IdentityColumn.IDENTITY_INFO_START
  private val IdStepKey = org.apache.spark.sql.catalyst.util
    .IdentityColumn.IDENTITY_INFO_STEP
  private val IdExplicitKey = org.apache.spark.sql.catalyst.util
    .IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT

  /** Identity allocation lane width: task N of a write hands out ids
    * `hwm + step*(1 + N*2^33 + rowInTask)`. 2^33 rows per task is far
    * above any real task's row count (task outputs are ~128 MB), and
    * 2^30 tasks per write keeps the whole allocation inside a Long.
    */
  private[lake] val IdentityBand = 1L << 33

  // ---- extraction (catalog boundary) --------------------------------

  /** Specs declared by a v2 CREATE/REPLACE TABLE column list. Defaults
    * carry both the current-default SQL and the pre-evaluated exists
    * literal Spark computed at parse time.
    */
  def fromV2Columns(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : Seq[ColSpec] =
    cols.toSeq.flatMap { c =>
      val d = Option(c.defaultValue()).map { dv =>
        ColSpec(c.name(), KindDefault,
          Map("current" -> dv.getSql(), "exists" -> literalSql(dv.getValue())))
      }
      val g = Option(c.generationExpression()).map(e =>
        ColSpec(c.name(), KindGenerated, Map("expr" -> e)))
      val i = Option(c.identityColumnSpec()).map(s =>
        ColSpec(c.name(), KindIdentity, Map(
          "start" -> s.getStart.toString, "step" -> s.getStep.toString,
          "allowExplicit" -> s.isAllowExplicitInsert.toString)))
      d.toSeq ++ g.toSeq ++ i.toSeq
    }

  /** Render a connector Literal back to SQL text (the catalyst
    * `Literal.sql` printer — round-trips strings/dates/timestamps with
    * proper quoting and typed literals).
    */
  private[lake] def literalSql(
      l: org.apache.spark.sql.connector.expressions.Literal[_]): String =
    org.apache.spark.sql.catalyst.expressions.Literal(l.value(), l.dataType())
      .sql

  // ---- schema (de)coration -------------------------------------------

  /** Inject the semantics as Spark's field-metadata keys. Used for the
    * catalog `Table.schema()` (the analyzer resolves INSERT omission /
    * DEFAULT keyword / DESCRIBE from these) and for READ schemas
    * (where `EXISTS_DEFAULT` makes the parquet reader backfill files
    * that predate the column).
    */
  def decorate(schema: StructType,
               specs: Map[String, ColSpec]): StructType =
    if (specs.isEmpty) schema
    else StructType(schema.fields.map { f =>
      val mine = specs.values.filter(_.col == f.name)
      if (mine.isEmpty) f
      else {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        mine.foreach { cs =>
          cs.kind match {
            case KindDefault =>
              // current may be absent after DROP DEFAULT (the exists
              // default survives so old files keep reading correctly)
              cs.spec.get("current")
                .foreach(mb.putString(CurrentDefaultKey, _))
              cs.spec.get("exists")
                .foreach(mb.putString(ExistsDefaultKey, _))
            case KindGenerated =>
              mb.putString(GenerationKey, cs.spec("expr"))
            case KindIdentity =>
              mb.putLong(IdStartKey, cs.spec("start").toLong)
              mb.putLong(IdStepKey, cs.spec("step").toLong)
              mb.putBoolean(IdExplicitKey,
                cs.spec("allowExplicit").toBoolean)
          }
        }
        f.copy(metadata = mb.build())
      }
    })

  /** EXISTS_DEFAULT-only decoration for READ schemas: the single key
    * the parquet readers act on (a file whose footer lacks the column
    * fills the declared default instead of null). The other keys are
    * write-resolution concerns and stay off scan schemas.
    */
  def decorateExists(schema: StructType,
                     specs: Map[String, ColSpec]): StructType = {
    val exists = specs.collect {
      case (c, cs) if cs.kind == KindDefault && cs.spec.contains("exists") =>
        c -> cs.spec("exists")
    }
    if (exists.isEmpty) schema
    else StructType(schema.fields.map { f =>
      exists.get(f.name) match {
        case Some(sql) => f.copy(metadata =
          new MetadataBuilder().withMetadata(f.metadata)
            .putString(ExistsDefaultKey, sql).build())
        case None => f
      }
    })
  }

  /** Remove the semantics keys (before `toDDL`: a DDL string carrying
    * `DEFAULT 7` does not round-trip through `fromDDL`).
    */
  def strip(schema: StructType): StructType = {
    val keys = Set(CurrentDefaultKey, ExistsDefaultKey, GenerationKey,
      IdStartKey, IdStepKey, IdExplicitKey)
    StructType(schema.fields.map { f =>
      if (keys.forall(k => !f.metadata.contains(k))) f
      else f.copy(metadata = Metadata.fromJson(
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
            org.json4s.jackson.JsonMethods.parse(f.metadata.json)
              .asInstanceOf[org.json4s.JObject].obj
              .filterNot { case (k, _) => keys.contains(k) })))))
    })
  }

  /** Human/DESCRIBE rendering of the active specs — also the value of
    * the `columnSemantics` table property, which CREATE TABLE verifies
    * against the declared column list (a `SHOW CREATE TABLE` paste
    * cannot carry GENERATED/IDENTITY clauses in Spark's column
    * printer, and silently weakening semantics on re-create is
    * refused).
    */
  def describe(specs: Iterable[ColSpec]): String =
    specs.toSeq.sortBy(_.col).map { cs =>
      cs.kind match {
        case KindDefault =>
          cs.spec.get("current") match {
            case Some(c) => s"${cs.col} DEFAULT $c"
            case None => s"${cs.col} DEFAULT dropped (exists " +
              s"${cs.spec("exists")} retained)"
          }
        case KindGenerated =>
          s"${cs.col} GENERATED ALWAYS AS (${cs.spec("expr")})"
        case _ =>
          val how = if (cs.spec("allowExplicit").toBoolean) "BY DEFAULT"
            else "ALWAYS"
          s"${cs.col} GENERATED $how AS IDENTITY (START WITH " +
            s"${cs.spec("start")} INCREMENT BY ${cs.spec("step")})"
      }
    }.mkString("; ")

  // ---- validation ------------------------------------------------------

  /** Create-time validation: names exist, kinds don't conflict,
    * expressions parse/cast, generated expressions are deterministic
    * and reference only non-generated, non-identity columns, and
    * nothing semantic lands on a partition column (whose value comes
    * from the directory path, not the written content — a default or
    * allocation there would fight the injection; a GENERATED partition
    * column is the one supported combination, handled by the writers).
    */
  def validate(spark: SparkSession, schema: StructType,
               specs: Seq[ColSpec], partitionBy: Seq[String]): Unit = {
    val byCol = specs.groupBy(_.col)
    byCol.foreach { case (c, ss) =>
      require(schema.fieldNames.contains(c),
        s"column semantics on unknown column '$c'")
      require(ss.map(_.kind).distinct.size == ss.size,
        s"duplicate semantics for column '$c'")
      require(ss.size == 1,
        s"column '$c' declares ${ss.map(_.kind).sorted.mkString("+")} — " +
          "DEFAULT, GENERATED and IDENTITY are mutually exclusive")
      val f = schema(c)
      ss.head.kind match {
        case KindDefault =>
          require(!partitionBy.contains(c),
            s"DEFAULT on partition column '$c' is not supported — the " +
              "value comes from the directory path")
          val e = parse(spark, ss.head.spec("current"))
          require(e.deterministic && e.foldable,
            s"DEFAULT for '$c' must be a constant expression: " +
              ss.head.spec("current"))
          checkCast(spark, ss.head.spec("current"), f.dataType, c, "DEFAULT")
        case KindGenerated =>
          val sql = ss.head.spec("expr")
          val e = parse(spark, sql)
          require(e.deterministic,
            s"GENERATED expression for '$c' must be deterministic: $sql")
          val refs = e.collect {
            case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.name
          }
          // reference matching uses the SESSION RESOLVER, not == —
          // the analyzer that later evaluates this expression resolves
          // case-insensitively by default, so `month(D)` over column
          // `d` is legal SQL and must validate here too
          val resolver = spark.sessionState.analyzer.resolver
          refs.foreach { r =>
            require(schema.fieldNames.exists(resolver(_, r)),
              s"GENERATED expression for '$c' references unknown " +
                s"column '$r'")
            require(!resolver(r, c),
              s"GENERATED expression for '$c' is circular")
            val rk = byCol.collectFirst {
              case (col, s) if resolver(col, r) => s.head.kind }
            require(!rk.contains(KindGenerated) && !rk.contains(KindIdentity),
              s"GENERATED expression for '$c' may not reference " +
                s"generated/identity column '$r'")
          }
        case KindIdentity =>
          require(!partitionBy.contains(c),
            s"IDENTITY on partition column '$c' is not supported")
          // banded allocation spans task-sized lanes (2^33 apart) —
          // only BIGINT holds them; INT identity would wrap silently
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"IDENTITY column '$c' must be BIGINT, is ${f.dataType.sql}")
          require(ss.head.spec("step").toLong != 0L,
            s"IDENTITY step for '$c' must be non-zero")
        case other =>
          throw new IllegalArgumentException(
            s"unknown column-semantics kind '$other' for '$c'")
      }
    }
  }

  private def parse(spark: SparkSession, sql: String)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  /** A DEFAULT expression must evaluate and cast to the column type —
    * probe it once on the driver against an empty frame.
    */
  private def checkCast(spark: SparkSession, sql: String, dt: DataType,
                        c: String, what: String): Unit =
    try spark.range(1).select(expr(sql).cast(dt)).collect()
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"$what for '$c' ($sql) does not evaluate as ${dt.sql}: " +
          e.getMessage)
    }

  // ---- write-side application ------------------------------------------

  /** What a writer must do AFTER the data files land: record the
    * identity extremes it allocated (folded from the written files'
    * stats) and guard its base watermark at commit.
    */
  final case class IdentityAllocation(
      /** identity columns present in this write: col -> (step, base) */
      cols: Map[String, (Long, Long)],
      /** snapshot watermark the allocation was computed against —
        * pass as `expectIdentityHwm` so racing allocators abort */
      baseHwm: Map[String, Long]) {
    def isEmpty: Boolean = cols.isEmpty

    /** [[LakeLog.IdentityHwm]] actions for the commit, from the
      * written files' per-file stats (the identity column is forced
      * into the measured stats set by [[statsColsFor]]). Only advances
      * in step direction — explicit inserts below the watermark never
      * move it backward.
      */
    def hwmActions(adds: Seq[LakeLog.Add]): Seq[LakeLog.Action] =
      cols.toSeq.sorted.flatMap { case (c, (step, base)) =>
        val observed = adds.flatMap { a =>
          val s = if (step > 0) a.stats.max.get(c) else a.stats.min.get(c)
          s.collect { case l: Long => l }
        }
        if (observed.isEmpty) None
        else {
          val ext = if (step > 0) observed.max else observed.min
          if (step > 0 && ext > base) Some(LakeLog.IdentityHwm(c, ext))
          else if (step < 0 && ext < base) Some(LakeLog.IdentityHwm(c, ext))
          else None
        }
      }
  }

  /** Stats columns a write must measure: the caller's set plus every
    * identity column (the watermark is folded from file stats — no
    * second pass).
    */
  def statsColsFor(statsCols: Seq[String],
                   specs: Map[String, ColSpec]): Seq[String] =
    statsCols ++ specs.values.collect {
      case cs if cs.kind == KindIdentity && !statsCols.contains(cs.col) =>
        cs.col
    }

  /** Apply the write-time semantics to an incoming batch:
    *
    *  1. columns ABSENT from the frame: defaulted columns fill with
    *     the current default; generated/identity columns join as null
    *     (computed/allocated in the next steps) — so the library API
    *     accepts the same omissions SQL INSERT does;
    *  2. generated columns: compute; refuse (inside the projection,
    *     `raise_error`) any supplied non-null value that disagrees;
    *  3. identity columns: allocate banded values for null slots;
    *     GENERATED ALWAYS (allowExplicit=false) refuses supplied
    *     non-null values.
    *
    * Returns the rewritten frame in TABLE column order (original frame
    * order for its extra evolution columns) and the allocation record
    * the commit needs. Columns in the frame but not in `specs`' table
    * schema pass through untouched (mergeSchema evolution).
    */
  def applyWriteSemantics(spark: SparkSession, schema: StructType,
                          specs: Map[String, ColSpec],
                          identityHwm: Map[String, Long],
                          df: DataFrame,
                          rewrite: Boolean = false)
      : (DataFrame, IdentityAllocation) = {
    if (specs.isEmpty) return (df, IdentityAllocation(Map.empty, Map.empty))
    val present = df.columns.toSet
    // 1. fill absent semantic columns — APPEND paths only: a rewrite
    // frame missing a column writes files without it, and the per-file
    // read contract (null / exists-default) supplies the values;
    // materializing the CURRENT default into rewritten old rows would
    // silently change them after a later SET DEFAULT
    var out = df
    if (!rewrite) specs.values.toSeq.sortBy(_.col).foreach { cs =>
      if (!present.contains(cs.col)) {
        val dt = schema(cs.col).dataType
        val filler = cs.kind match {
          case KindDefault =>
            cs.spec.get("current").map(expr(_).cast(dt))
              .getOrElse(lit(null).cast(dt))
          case _ => lit(null).cast(dt)
        }
        out = out.withColumn(cs.col, filler)
      }
    }
    // 2. generated columns — compute, and fail the write on conflict.
    // REWRITE mode (UPDATE/MERGE survivors+changes): recompute
    // unconditionally instead — an UPDATE that changed a source
    // column must refresh the generated value, and recomputation is
    // idempotent for untouched rows
    specs.values.toSeq.sortBy(_.col)
      .filter(_.kind == KindGenerated)
      .filter(cs => !rewrite || present.contains(cs.col)).foreach { cs =>
      val dt = schema(cs.col).dataType
      val computed = expr(cs.spec("expr")).cast(dt)
      val supplied = col(cs.col)
      out = out.withColumn(cs.col,
        if (rewrite) computed
        else when(supplied.isNull || (supplied <=> computed), computed)
          .otherwise(raise_error(concat(
            lit(s"GENERATED column '${cs.col}' = ${cs.spec("expr")}: " +
              "supplied value "),
            supplied.cast("string"),
            lit(" does not match computed "),
            computed.cast("string")))).cast(dt))
    }
    // 3. identity columns — allocate past the watermark
    val idSpecs = specs.values.toSeq.sortBy(_.col)
      .filter(_.kind == KindIdentity)
      .filter(cs => !rewrite || present.contains(cs.col))
    val allocated = idSpecs.map { cs =>
      val dt = schema(cs.col).dataType
      val start = cs.spec("start").toLong
      val step = cs.spec("step").toLong
      val allowExplicit = cs.spec("allowExplicit").toBoolean
      // base = last allocated value, or one step before `start`
      val base = identityHwm.getOrElse(cs.col, start - step)
      // banded allocation must stay inside Long for any plausible
      // write (mono ids reach taskIndex*2^33 + row, so allow 2^53 ≈
      // one million tasks before refusing): reject near the domain
      // edge rather than wrap silently
      require(math.abs(step) <= (Long.MaxValue / 4) / (1L << 53) &&
        math.abs(base) < Long.MaxValue / 2,
        s"identity watermark for '${cs.col}' ($base, step $step) too " +
          "close to the Long domain edge for banded allocation")
      val supplied = col(cs.col)
      val fresh = (lit(base) +
        lit(step) * (monotonically_increasing_id() + lit(1L))).cast(dt)
      // REWRITE mode: the frame mixes surviving rows (ids already
      // allocated, kept verbatim) with MERGE-inserted rows (null ids,
      // allocated here) — GENERATED ALWAYS refusal only applies to
      // user-supplied values on the append paths
      val value =
        if (allowExplicit || rewrite)
          when(supplied.isNull, fresh).otherwise(supplied)
        else when(supplied.isNull, fresh).otherwise(raise_error(concat(
          lit(s"IDENTITY column '${cs.col}' is GENERATED ALWAYS — " +
            "explicit value "),
          supplied.cast("string"), lit(" refused"))).cast(dt))
      out = out.withColumn(cs.col, value)
      cs.col -> (step, base)
    }.toMap
    // table column order first (INSERT semantics), frame extras after
    val tableCols = schema.fieldNames.filter(out.columns.contains)
    val extras = out.columns.filterNot(schema.fieldNames.contains)
    out = out.select((tableCols ++ extras).map(col): _*)
    (out, IdentityAllocation(allocated,
      if (allocated.isEmpty) Map.empty else identityHwm))
  }
}
