package graft.lake

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException,
  NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange,
  SupportsDelete, SupportsNamespaces, SupportsPartitionManagement,
  SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog,
  TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsOverwrite, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter,
  InsertableRelation}
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 `TableCatalog` over a warehouse directory of
  * [[LakeTable]]s — the SQL-text surface of the lake:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", "graft.lake.LakeCatalog")
  *   spark.conf.set("spark.sql.catalog.lake.warehouse", "/data/lake")
  *   CREATE TABLE lake.corpus.docs (id BIGINT, text STRING)
  *     TBLPROPERTIES (statsCols = 'id', clusterBy = 'id')
  *   INSERT INTO lake.corpus.docs SELECT ...
  *   SELECT * FROM lake.corpus.docs VERSION AS OF 3
  *   DELETE FROM lake.corpus.docs WHERE id BETWEEN 10 AND 99  -- metadata-only
  *   ALTER TABLE lake.corpus.docs ADD COLUMNS (lang STRING)
  * }}}
  *
  * An identifier `ns1.ns2.t` maps to `<warehouse>/ns1/ns2/t`; a table
  * is any such directory holding a [[LakeLog]]. Namespaces are plain
  * directories. `CREATE TABLE` honors three table properties:
  * `statsCols` (comma list; default = every column of a
  * stats-supported type), `clusterBy` (a column, or the `z:`/`h:`
  * curve specs [[LakeTable.zCluster]] emits), and `nFiles`. The table
  * keeps the first two; `nFiles` shapes the CREATE commit only (an
  * `INSERT INTO` writes [[LakeTable.append]]'s default 4 files).
  *
  * Reads: `loadTable` pins a snapshot (and `VERSION AS OF` /
  * `TIMESTAMP AS OF` resolve through the log), then the
  * [[LakeMorExpansion]] rule replaces the analyzed
  * `DataSourceV2Relation` with the native vectorized scan —
  * stats-pruned [[LakeFileIndex]], deletion vectors applied as the
  * codegen'd broadcast anti-join. SQL reads therefore REQUIRE
  * `spark.sql.extensions=graft.GraftSparkExtensions`; the scan
  * builder refuses loudly otherwise rather than shipping a second,
  * slower read implementation.
  *
  * Writes ride the V1 fallback ([[TableCapability.V1_BATCH_WRITE]]):
  * `INSERT INTO` → [[LakeTable.append]] (one transactional commit),
  * `INSERT OVERWRITE` → [[LakeTable.overwrite]]. `DELETE FROM` plans
  * through [[SupportsDelete]] (a metadata-only [[LakeTable.deleteWhere]])
  * when [[LakeRanges.exact]] translates its predicate to conjunctive
  * ranges; otherwise [[LakeMorExpansion]] routes it, by the same
  * function, to the general row-level rewrite [[LakeDeleteCommand]]
  * (a partial translation would delete MORE rows than asked).
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  override def capabilities():
      util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    util.EnumSet.of(SUPPORT_TABLE_CONSTRAINT, SUPPORT_COLUMN_DEFAULT_VALUE,
      SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)
  }

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs = LakeLog.fileSystem(warehouse,
    spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): Path =
    (ident.namespace() :+ ident.name())
      .foldLeft(warehouse)((p, seg) => new Path(p, seg))

  /** Table root for the maintenance SQL statements (OPTIMIZE/VACUUM/
    * DESCRIBE HISTORY|DETAIL).
    */
  private[lake] def tableRoot(ident: Identifier): Path = {
    val r = rootOf(ident)
    if (!isTable(r)) throw new NoSuchTableException(ident)
    r
  }

  /** Root for a table a statement is about to CREATE (`SHALLOW
    * CLONE` destinations) — must not exist yet.
    */
  private[lake] def newTableRoot(ident: Identifier): Path = {
    val r = rootOf(ident)
    if (isTable(r)) throw new TableAlreadyExistsException(ident)
    r
  }

  private def isTable(p: Path): Boolean =
    fs.exists(LakeLog.logDir(p))

  override def tableExists(ident: Identifier): Boolean =
    isTable(rootOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(warehouse)((p, s) => new Path(p, s))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      name() +: namespace.toSeq)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table =
    loadAsOf(ident, None)

  /** `VERSION AS OF <v>` time travel. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAsOf(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF <ts>` time travel (micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    loadAsOf(ident,
      Some(LakeLog.versionAtTimestamp(fs, root, timestamp / 1000L)))
  }

  private def loadAsOf(ident: Identifier, version: Option[Long]): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    new LakeTableV2(spark, root,
      (name() +: ident.namespace() :+ ident.name()).mkString("."), version)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTable(ident, schema, partitions, properties, Nil, Nil)

  private def createTable(ident: Identifier, schema: StructType,
                          partitions: Array[Transform],
                          properties: util.Map[String, String],
                          checks: Seq[(String, String)],
                          colSpecs: Seq[LakeLog.ColSpec]): Table = {
    val root = rootOf(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala
    // `SHOW CREATE TABLE` output carries the semantics summary as the
    // 'columnSemantics' TBLPROPERTY, but Spark's column-list printer
    // cannot render GENERATED/IDENTITY clauses — so a pasted re-run
    // arrives with the property and WITHOUT the clauses. Silently
    // creating a table with weaker semantics than the statement
    // declares is the one thing this catalog never does: the property
    // must match what the column list actually declared.
    props.get("columnSemantics").foreach { declared =>
      val actual = LakeColumns.describe(colSpecs)
      require(actual == declared,
        s"TBLPROPERTIES columnSemantics declares '$declared' but the " +
          s"column list carries '${if (actual.isEmpty) "nothing" else actual}'" +
          " — GENERATED/IDENTITY clauses cannot be expressed in " +
          "SHOW CREATE TABLE's column list; re-declare them explicitly " +
          "(e.g. `id BIGINT GENERATED ALWAYS AS IDENTITY`) or drop the " +
          "property")
    }
    val statsCols = props.get("statsCols") match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => schema.fields.collect {
        case f if statsSupported(f) => f.name
      }.toSeq
    }
    val empty = spark.createDataFrame(
      new util.ArrayList[org.apache.spark.sql.Row](), schema)
    LakeTable.create(spark, root.toString, empty, statsCols,
      nFiles = props.get("nFiles").map(_.toInt).getOrElse(1),
      clusterBy = props.get("clusterBy"),
      partitionBy = partitionCols(partitions),
      checks = checks,
      colSpecs = colSpecs)
    loadTable(ident)
  }

  /** `CREATE TABLE ... CHECK (...)`: the interface default delegates
    * to the columns/partitions/properties overload and DISCARDS
    * `TableInfo.constraints()` — with SUPPORT_TABLE_CONSTRAINT
    * advertised, the statement would succeed while the gate silently
    * vanished. ATOMIC: non-CHECK constraints refuse BEFORE anything
    * is created (never a metadata promise this format cannot
    * enforce), and the CHECKs land inside the CREATE commit itself —
    * a crash can never leave a created table missing (some of) its
    * declared constraints, which a post-create ADD CONSTRAINT loop
    * allowed.
    */
  override def createTable(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table =
    createTable(ident, info.schema(), info.partitions(),
      info.properties(), checksOf(info),
      LakeColumns.fromV2Columns(info.columns()))

  private def statsSupported(f: StructField): Boolean = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType => true
    case _ => false
  }

  /** `PARTITIONED BY (a, b)` arrives as identity transforms; anything
    * computed (bucket/days/truncate) refuses — this lake partitions by
    * stored column values only.
    */
  private[lake] def partitionCols(partitions: Array[Transform])
      : Seq[String] =
    partitions.toSeq.map { t =>
      val id = t.name() == "identity" && t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1
      require(id,
        s"unsupported partition transform $t — PARTITIONED BY takes " +
          "plain top-level columns (for time bucketing, store the " +
          "bucket as a column)")
      t.references()(0).fieldNames()(0)
    }

  // ---- atomic CTAS / REPLACE TABLE (StagingTableCatalog) -------------

  /** Inline constraints a staged statement carries: only CHECK is
    * enforceable; anything else refuses (never a silent promise).
    */
  private def checksOf(
      info: org.apache.spark.sql.connector.catalog.TableInfo):
      Seq[(String, String)] =
    info.constraints().toSeq.map {
      case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
        chk.name() -> chk.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are enforceable here; $other is a " +
          "catalog-metadata promise this format refuses to fake")
    }

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    checks: Seq[(String, String)],
                    mode: String,
                    colSpecs: Seq[LakeLog.ColSpec] = Nil):
      org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = rootOf(ident)
    // same paste-safety gate as the plain create path
    Option(properties.get("columnSemantics")).foreach { declared =>
      val actual = LakeColumns.describe(colSpecs)
      require(actual == declared,
        s"TBLPROPERTIES columnSemantics declares '$declared' but the " +
          s"column list carries '${if (actual.isEmpty) "nothing" else actual}'" +
          " — re-declare the GENERATED/IDENTITY clauses explicitly or " +
          "drop the property")
    }
    val exists = isTable(root)
    val replacing = mode match {
      case "create" =>
        if (exists) throw new TableAlreadyExistsException(ident)
        None
      case "replace" =>
        if (!exists) throw new NoSuchTableException(ident)
        Some(LakeLog.snapshot(fs, root, None))
      case _ => // createOrReplace
        if (exists) Some(LakeLog.snapshot(fs, root, None)) else None
    }
    new LakeStagedTable(spark, root,
      (name() +: ident.namespace() :+ ident.name()).mkString("."),
      schema, properties, checks, replacing, partitionCols(partitions),
      colSpecs)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, Nil, "create")

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info.schema(), info.partitions(), info.properties(),
      checksOf(info), "create", LakeColumns.fromV2Columns(info.columns()))

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, Nil, "replace")

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info.schema(), info.partitions(), info.properties(),
      checksOf(info), "replace", LakeColumns.fromV2Columns(info.columns()))

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, Nil, "createOrReplace")

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo):
      org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info.schema(), info.partitions(), info.properties(),
      checksOf(info), "createOrReplace", LakeColumns.fromV2Columns(info.columns()))

  /** `ALTER TABLE ... ADD COLUMNS` → [[LakeTable.addColumns]];
    * `RENAME COLUMN` / `DROP COLUMN` → the column-mapping metadata
    * commits ([[LakeTable.renameColumn]]/[[LakeTable.dropColumn]] —
    * files never move). Anything else is a rewrite in this format and
    * refused loudly.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    def single(names: Array[String]): String = {
      require(names.length == 1,
        s"nested column ${names.mkString(".")} not supported")
      names.head
    }
    val addSpecs = changes.collect {
      // ALTER TABLE ... ADD COLUMN c T DEFAULT e: the current default
      // fills future INSERTs; the pre-evaluated exists literal makes
      // every EXISTING file read the default back — metadata-only
      case a: TableChange.AddColumn if a.defaultValue() != null =>
        LakeLog.ColSpec(single(a.fieldNames()), LakeColumns.KindDefault,
          Map("current" -> a.defaultValue().getSql(),
            "exists" -> LakeColumns.literalSql(a.defaultValue().getValue())))
    }
    val adds = changes.flatMap {
      case a: TableChange.AddColumn =>
        Some(StructField(single(a.fieldNames()), a.dataType(),
          nullable = true))
      case r: TableChange.RenameColumn =>
        LakeTable.renameColumn(spark, root.toString,
          single(r.fieldNames()), r.newName())
        None
      case d: TableChange.DeleteColumn =>
        LakeTable.dropColumn(spark, root.toString, single(d.fieldNames()))
        None
      // ALTER TABLE ... ADD CONSTRAINT <n> CHECK (<expr>): validated
      // against existing rows, then gates every later write (the
      // check-constraints feature the library API already carries)
      case c: TableChange.AddConstraint =>
        c.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
            LakeTable.addConstraint(spark, root.toString, chk.name(),
              chk.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are enforceable here; $other is a " +
              "catalog-metadata promise this format refuses to fake")
        }
        None
      case dc: TableChange.DropConstraint =>
        LakeTable.dropConstraint(spark, root.toString, dc.name())
        None
      // ALTER COLUMN <c> TYPE <wider>: metadata-only lossless widening
      // (the parquet reader upcasts old files); anything else refuses
      // inside widenColumn
      case t: TableChange.UpdateColumnType =>
        LakeTable.widenColumn(spark, root.toString,
          single(t.fieldNames()), t.newDataType())
        None
      // ALTER COLUMN c SET DEFAULT e / DROP DEFAULT (drop arrives as
      // an empty-string default; the exists default is preserved so
      // pre-column files keep reading their declared value)
      case d: TableChange.UpdateColumnDefaultValue =>
        LakeTable.setColumnDefault(spark, root.toString,
          single(d.fieldNames()),
          Option(d.newCurrentDefault()).map(_.getSql())
            .filter(_.trim.nonEmpty))
        None
      // SET TBLPROPERTIES: the two write-governing knobs are metadata
      // commits (existing files untouched); unknown keys refuse rather
      // than silently dropping a property the user thinks is set
      case sp: TableChange.SetProperty =>
        sp.property() match {
          case "clusterBy" =>
            LakeTable.setClusterBy(spark, root.toString, sp.value())
          case "statsCols" =>
            LakeTable.setStatsCols(spark, root.toString,
              sp.value().split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          case other => throw new UnsupportedOperationException(
            s"table property '$other' is not settable here (writable: " +
              "clusterBy, statsCols)")
        }
        None
      case other => throw new UnsupportedOperationException(
        s"graft-lake evolution is additive; $other needs a table rewrite")
    }
    if (adds.nonEmpty)
      LakeTable.addColumns(spark, root.toString, adds, addSpecs)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    isTable(root) && fs.delete(root, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = rootOf(oldIdent)
    val to = rootOf(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // ---- namespaces = warehouse subdirectories ------------------------

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => Array(p.getName))

  override def listNamespaces(namespace: Array[String]):
      Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = namespace.foldLeft(warehouse)((p, s) => new Path(p, s))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      name() +: namespace.toSeq)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = namespace.foldLeft(warehouse)((p, s) => new Path(p, s))
    namespace.isEmpty || (fs.exists(dir) && !isTable(dir))
  }

  override def loadNamespaceMetadata(namespace: Array[String]):
      util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val dir = namespace.foldLeft(warehouse)((p, s) => new Path(p, s))
    if (fs.exists(dir))
      throw new NamespaceAlreadyExistsException(
        (name() +: namespace.toSeq).toArray)
    require(fs.mkdirs(dir), s"mkdirs $dir failed")
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-lake namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = namespace.foldLeft(warehouse)((p, s) => new Path(p, s))
    if (!fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(s"namespace $dir not empty")
    fs.delete(dir, true)
  }
}

/** The catalog's table handle: a root + an optional pinned version.
  * Reads are spliced to the native plan by [[LakeMorExpansion]];
  * writes ride the V1 `InsertableRelation` fallback into
  * [[LakeTable.append]]/[[LakeTable.overwrite]]; `DELETE FROM` and
  * REPLACE WHERE map predicates [[LakeRanges.exact]] translates onto
  * [[LakeTable.deleteWhere]] / [[LakeTable.replaceWhere]].
  */
private[lake] class LakeTableV2(spark: SparkSession,
                                private[lake] val root: Path,
                                ident: String,
                                private[lake] val versionAsOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement {

  private def fs = LakeLog.fileSystem(root,
    spark.sparkContext.hadoopConfiguration)

  /** Snapshot pinned at load time — one query, one version. */
  private[lake] lazy val snap: LakeLog.Snapshot =
    LakeLog.snapshot(fs, root, versionAsOf)

  override def name(): String = ident

  /** Decorated with the column-semantics metadata keys: the analyzer
    * resolves INSERT column omission / the DEFAULT keyword from
    * `CURRENT_DEFAULT`, and accepts omission of generated/identity
    * columns from their keys (the writers then compute/allocate).
    */
  override def schema(): StructType =
    LakeColumns.decorate(StructType.fromDDL(snap.schemaDdl), snap.colSpecs)

  /** Full-fidelity v2 columns: Spark's metadata codec round-trips
    * DEFAULT but NOT generation/identity — without this override,
    * `SHOW CREATE TABLE` prints a column list whose re-run silently
    * loses those clauses.
    */
  override def columns():
      Array[org.apache.spark.sql.connector.catalog.Column] = {
    val base = org.apache.spark.sql.graft.ColumnSemanticsBridge
      .toV2Columns(schema())
    base.map { c =>
      snap.colSpecs.get(c.name()) match {
        case Some(cs) if cs.kind == LakeColumns.KindGenerated =>
          org.apache.spark.sql.connector.catalog.Column.create(
            c.name(), c.dataType(), c.nullable(), null,
            cs.spec("expr"), null)
        case Some(cs) if cs.kind == LakeColumns.KindIdentity =>
          org.apache.spark.sql.connector.catalog.Column.create(
            c.name(), c.dataType(), c.nullable(), null,
            new org.apache.spark.sql.connector.catalog.IdentityColumnSpec(
              cs.spec("start").toLong, cs.spec("step").toLong,
              cs.spec("allowExplicit").toBoolean), null)
        case _ => c // DEFAULT rides the metadata codec already
      }
    }
  }

  /** DESCRIBE / SHOW surfaces — and the analyzer's by-name INSERT
    * resolution — see the real partition spec.
    */
  override def partitioning(): Array[Transform] =
    snap.partitionBy.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        : Transform).toArray

  override def version(): String =
    versionAsOf.map(_.toString).getOrElse(snap.version.toString)

  /** Surfaced by `DESCRIBE [EXTENDED] TABLE`: the snapshot's real
    * metadata, not just provider/location.
    */
  override def properties(): util.Map[String, String] =
    (Map("provider" -> "graft-lake", "location" -> root.toString,
      "version" -> snap.version.toString,
      "numFiles" -> snap.files.size.toString,
      "statsCols" -> snap.statsCols.mkString(",")) ++
      (if (snap.partitionBy.isEmpty) Map.empty
       else Map("partitionBy" -> snap.partitionBy.mkString(","))) ++
      snap.clusterBy.map("clusterBy" -> _) ++
      (if (snap.features.isEmpty) Map.empty
       else Map("features" -> snap.features.toSeq.sorted.mkString(","))) ++
      (if (snap.constraints.isEmpty) Map.empty
       else Map("constraints" -> snap.constraints.toSeq.sortBy(_._1)
         .map { case (n, e) => s"$n CHECK ($e)" }.mkString("; "))) ++
      (if (snap.colSpecs.isEmpty) Map.empty
       else Map("columnSemantics" ->
         LakeColumns.describe(snap.colSpecs.values)))).asJava

  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snap.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  // AUTOMATIC_SCHEMA_EVOLUTION lets the stock
  // ResolveMergeIntoSchemaEvolution rule apply MERGE ... WITH SCHEMA
  // EVOLUTION's source-only columns / widenings through this catalog's
  // alterTable (addColumns / widenColumn metadata commits) before the
  // merge resolves
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // dynamic INSERT OVERWRITE: honest to advertise — the
      // LakeMorExpansion rule converts OverwritePartitionsDynamic to
      // LakeDynamicOverwriteCommand during analysis (Spark ships no
      // V1-fallback exec for the node, so without extensions the
      // statement fails loudly at toBatch, like catalog reads)
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Read-position relations never reach scan EXECUTION — the
    * [[LakeMorExpansion]] rule replaces them during analysis. The
    * optimizer still builds a scan for DML targets (`DELETE FROM`
    * pushdown bookkeeping runs before the metadata-only-delete
    * conversion), so the scan must construct; only `toBatch` — which
    * fires solely when the extension rule is missing — refuses.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap):
      ScanBuilder = () => new org.apache.spark.sql.connector.read.Scan {
    override def readSchema(): StructType = LakeTableV2.this.schema()
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      throw new UnsupportedOperationException(
        "graft-lake catalog reads plan through the LakeMorExpansion rule " +
          "— run with spark.sql.extensions=graft.GraftSparkExtensions")
  }

  /** The WriteBuilder advertises
    * [[org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend]]
    * so `writeStream.outputMode("update").toTable(...)` is accepted:
    * with `.option("mergeKey", k)` each epoch upserts by key (a real
    * keyed MERGE — what update mode means against a keyed table);
    * without it, update rows APPEND — the marker's documented
    * contract and exactly Delta's behavior, giving a CDC-style log
    * table (keys may repeat across epochs by construction).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty, "cannot write to a time-travel snapshot")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend {
      private var overwriteAll = false
      private var replaceRanges: Seq[LakeTable.ColRange] = Nil
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        // REPLACE WHERE: one atomic delete-range-and-insert commit.
        // Only EXACT translations are safe (a dropped conjunct would
        // delete a superset of what the insert replaces)
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) overwriteAll = true
        else replaceRanges = LakeRanges.exact(filters).getOrElse(
          throw new UnsupportedOperationException(
            s"REPLACE WHERE ${filters.mkString(" AND ")} does not " +
              "translate exactly to column ranges"))
        this
      }
      override def build(): V1Write = new V1Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        // batch INSERTs ride the V1 fallback exactly as before
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              if (replaceRanges.nonEmpty)
                LakeTable.replaceWhere(spark, root.toString,
                  replaceRanges, data)
              else if (overwriteAll)
                LakeTable.overwrite(spark, root.toString, data)
              else LakeTable.append(spark, root.toString, data)
              ()
            }
          }

        // `writeStream.toTable` — the engine builds a fresh Write per
        // micro-batch and calls toStreaming on it; appId defaults to
        // the checkpoint-stable streaming query id
        @volatile private var streaming = false
        override def toStreaming:
            org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(replaceRanges.isEmpty,
            "REPLACE WHERE is a batch statement, not a streaming sink")
          streaming = true
          new LakeStreamingWrite(spark, root.toString,
            Option(info.options.get("appId")).getOrElse(info.queryId()),
            info.schema(), truncateAll = overwriteAll,
            mergeSchema = Option(info.options.get("mergeSchema"))
              .exists(_.toBoolean),
            mergeKey = Option(info.options.get("mergeKey")))
        }

        // STREAMING-ONLY output-file control: with .option("nFiles", n)
        // each epoch repartitions to exactly n files — range-partitioned
        // and sorted on the table's cluster column when it has a plain
        // one (streamed files then carry the same tight disjoint
        // min/max bounds as batch-clustered files), hash-spread over
        // all columns otherwise. Gated on the `streaming` flag: on the
        // micro-batch path toStreaming runs BEFORE prepareQuery
        // (pinned in LakeStreamToTableSpec), while batch V1 writes
        // never call toStreaming, so batch INSERT plans are untouched
        // (LakeTable.append does its own nFiles arrangement).
        private def streamNFiles: Int =
          if (!streaming) 0
          else Option(info.options.get("nFiles")).map(_.toInt).getOrElse(0)
        private def clusterCol: Option[String] = {
          val sb = snap.clusterBy.filterNot(c =>
            c.startsWith("z:") || c.startsWith("h:"))
          sb.filter(c => info.schema().fieldNames.contains(c))
        }
        // PARTITIONED append epochs sort each task on (partition cols
        // ++ cluster col) so the rolling writers emit one file per
        // (task, value) — a LOCAL sort, no forced shuffle; nFiles
        // additionally range-partitions on the same keys (values
        // contiguous across tasks, big values split at cluster-col
        // boundaries — the batch writer's exact shape). The mergeKey
        // changelog staging needs neither.
        private def streamPartCols: Seq[String] =
          if (!streaming || info.options.containsKey("mergeKey")) Nil
          else snap.partitionBy
            .filter(c => info.schema().fieldNames.contains(c))
        private def orderKeys: Seq[String] =
          streamPartCols ++
            clusterCol.filterNot(streamPartCols.contains).toSeq
        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution = {
          import org.apache.spark.sql.connector.distributions.Distributions
          import org.apache.spark.sql.connector.expressions.Expressions
          if (streamNFiles <= 0) Distributions.unspecified()
          else if (streamPartCols.nonEmpty || clusterCol.isDefined)
            Distributions.ordered(orderKeys.map(c =>
              Expressions.sort(Expressions.column(c),
                org.apache.spark.sql.connector.expressions.SortDirection
                  .ASCENDING)).toArray)
          else Distributions.clustered(
            info.schema().fieldNames
              .map(Expressions.column(_)
                : org.apache.spark.sql.connector.expressions.Expression))
        }
        override def requiredNumPartitions(): Int = streamNFiles
        override def requiredOrdering():
            Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
          import org.apache.spark.sql.connector.expressions.Expressions
          if (streamNFiles <= 0 && streamPartCols.isEmpty) Array.empty
          else orderKeys.map(c => Expressions.sort(Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING)).toArray
        }
      }
    }
  }

  // ---- DELETE FROM ---------------------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    LakeRanges.exact(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val ranges = LakeRanges.exact(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicate ${filters.mkString(" AND ")} does not " +
          "translate exactly to column ranges"))
    if (ranges.isEmpty) { // unconditional DELETE / TRUNCATE
      val empty = spark.createDataFrame(
        new util.ArrayList[org.apache.spark.sql.Row](), schema())
      LakeTable.overwrite(spark, root.toString, empty)
    } else LakeTable.deleteWhere(spark, root.toString, ranges): Unit
  }

  // ---- partition management (SHOW PARTITIONS / DROP PARTITION) --------
  //
  // Partitions in this format are IMPLICIT — a partition exists exactly
  // while live files carry its value (recorded as min==max stats in the
  // log), so listing is a driver-side fold over snapshot metadata (zero
  // FS calls) and DROP/TRUNCATE PARTITION is the 100 TB retention
  // operation done right: ONE commit removing the partition's file
  // references, no data read, no data written — vacuum reclaims the
  // bytes past the retention horizon, and time travel still sees them.

  override def partitionSchema(): StructType =
    StructType(snap.partitionBy.map(c =>
      StructType.fromDDL(snap.schemaDdl)(c)))

  /** Catalyst-internal partition value of one file (same conversion as
    * LakeFileIndex.partValues — stats normalize to Long/String).
    */
  private def partRowOf(a: LakeLog.Add): Seq[Any] = {
    val ps = partitionSchema()
    snap.partitionBy.zipWithIndex.map { case (c, i) =>
      a.stats.min.get(c) match {
        case None => null
        case Some(v) => ps(i).dataType match {
          case ByteType    => v.asInstanceOf[Long].toByte
          case ShortType   => v.asInstanceOf[Long].toShort
          case IntegerType => v.asInstanceOf[Long].toInt
          case LongType    => v.asInstanceOf[Long]
          case StringType  =>
            org.apache.spark.unsafe.types.UTF8String
              .fromString(v.asInstanceOf[String])
          case dt => throw new IllegalStateException(
            s"partition column '$c' of unsupported type $dt")
        }
      }
    }
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    require(names.length == ident0.numFields,
      s"${names.length} names but ${ident0.numFields} values")
    val ps = partitionSchema()
    val tuples = snap.files.map(partRowOf).distinct.sortBy(_.toString)
    tuples.filter { t =>
      names.zipWithIndex.forall { case (n, i) =>
        val pi = ps.fieldIndex(n)
        val want = ident0.get(i, ps(pi).dataType)
        val have = t(pi)
        (want == null && have == null) ||
          (want != null && want.equals(have))
      }
    }.map(t =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(t)).toArray
  }

  /** Stats-domain tuple of a caller partition identifier. */
  private def statsTuple(
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Seq[Option[Any]] = {
    val ps = partitionSchema()
    ps.fields.zipWithIndex.map { case (f, i) =>
      if (ident0.isNullAt(i)) None
      else Some(LakeTable.normalizeStat(f.dataType match {
        case ByteType    => ident0.getByte(i)
        case ShortType   => ident0.getShort(i)
        case IntegerType => ident0.getInt(i)
        case LongType    => ident0.getLong(i)
        case StringType  => ident0.getUTF8String(i).toString
        case dt => throw new IllegalStateException(
          s"unsupported partition type $dt")
      }))
    }.toSeq
  }

  /** `ALTER TABLE ... DROP PARTITION (p=v)`: metadata-only — one
    * guarded commit removing the partition's live file references.
    * Returns false when the partition holds no live files (the exec
    * raises NoSuchPartition unless IF EXISTS).
    */
  override def dropPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    require(versionAsOf.isEmpty,
      "cannot drop partitions of a time-travel snapshot")
    require(snap.partitionBy.nonEmpty, "table is not partitioned")
    val want = statsTuple(ident0)
    val f = fs
    val cur = LakeLog.snapshot(f, root, None)
    val cands = cur.files.filter(a =>
      snap.partitionBy.map(c => a.stats.min.get(c)) == want)
    if (cands.isEmpty) return false
    // guardPartitions, not just guardFiles: DROP PARTITION claims "no
    // live file remains in this partition", which a concurrent commit
    // ADDING a file into it would silently falsify (guardFiles only
    // pins the files being removed). Same non-serializable race
    // dynamicOverwrite guards; the racing add aborts the drop and the
    // caller re-reads.
    LakeLog.commit(f, root,
      (LakeLog.Meta("droppartition", cur.schemaDdl, cur.statsCols, None,
        None, System.currentTimeMillis(),
        partitionBy = cur.partitionBy) +:
        cands.map(a => LakeLog.Remove(a.path))),
      guardFiles = cands, baseVersion = cur.version,
      guardPartitions = Some((cur.partitionBy, Set(want))))
    true
  }

  /** `TRUNCATE TABLE ... PARTITION (p=v)` — same metadata-only commit
    * (partitions are implicit, so "empty partition" and "dropped
    * partition" are the same state).
    */
  override def truncatePartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    if (!dropPartition(ident0))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(name(), ident0, partitionSchema())
    true
  }

  override def createPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partitions are implicit in this format — they appear when a " +
        "write lands rows carrying the value (ADD PARTITION has " +
        "nothing to create)")

  override def replacePartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partition-level metadata is not stored in this format")

  override def loadPartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = util.Collections.emptyMap()
}
