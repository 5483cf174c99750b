package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 catalog over [[SnapTable]] directories: registers the
  * snapshot-table format with Spark SQL so every `table_*` capability is
  * reachable from plain SQL —
  *
  * {{{
  *   spark.sql.catalog.snap      = graft.sources.SnapCatalog
  *   spark.sql.catalog.snap.root = /warehouse
  *
  *   SELECT ... FROM snap.db.t                      -- head snapshot
  *   SELECT ... FROM snap.db.t VERSION AS OF 2      -- time travel
  *   INSERT INTO snap.db.t SELECT ...               -- ACID append commit
  *   INSERT OVERWRITE snap.db.t SELECT ...          -- replace-contents commit
  *   CREATE TABLE snap.db.t (...) PARTITIONED BY (c)-- empty v1 + spec
  * }}}
  *
  * An identifier `snap.db.t` maps to the directory `<root>/db/t`; the
  * table's manifests stay the single source of truth (the catalog adds no
  * state of its own, like a path-based Delta catalog). Reads go through
  * the NATIVE [[SnapBatchScan]]: the builder prunes FILES on the driver
  * from manifest [min,max] stats using the pushed-down predicates — so
  * `WHERE k BETWEEN a AND b` over SQL skips the same files
  * `SnapTable.readRange` would — then hands the surviving file list to
  * Spark's own vectorized parquet reader (all pushed filters are also
  * kept as residuals, so row-level exactness never depends on the
  * pruning). Un-filtered COUNT/MIN/MAX pushes down COMPLETELY and is
  * answered from the manifest without opening a file. At 100 TB the
  * pruning step is manifest-sized driver work, identical to the API
  * path.
  */
class SnapCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  // -------------------------------------------------------- procedures
  // `CALL snap.system.<proc>(…)` — Spark 4's stored-procedure surface
  // over the same SnapTable maintenance verbs the parser extension's
  // OPTIMIZE/VACUUM/RESTORE statements run (see [[SnapProcedures]]).

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    SnapProcedures.load(base, ident)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] = SnapProcedures.list(namespace)

  // ------------------------------------------------------------- views
  // DSv2 ViewCatalog: CREATE/SHOW/DROP/ALTER/RENAME VIEW against this
  // catalog. Storage + resolution live in [[SnapViews]]; Spark itself
  // re-parses the stored SQL in the stored analysis context.

  override def listViews(namespace: String*)
      : Array[org.apache.spark.sql.connector.catalog.Identifier] =
    SnapViews.list(base, namespace.toArray)

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!SnapViews.exists(base, ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    SnapViews.load(base, ident)
  }

  override def viewExists(ident: Identifier): Boolean =
    SnapViews.exists(base, ident)

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    if (isTable(tableDir(info.ident())))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(info.ident())
    try SnapViews.write(base, info, replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(info.ident())
    }
    SnapViews.load(base, info.ident())
  }

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!orCreate && !SnapViews.exists(base, info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident())
    SnapViews.write(base, info, replace = true)
    SnapViews.load(base, info.ident())
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val v = loadView(ident)
    val props = new java.util.HashMap[String, String](v.properties())
    changes.foreach {
      case s: ViewChange.SetProperty => props.put(s.property, s.value)
      case r: ViewChange.RemoveProperty => props.remove(r.property)
      case other => throw new IllegalArgumentException(
        s"unsupported view change $other")
    }
    SnapViews.write(base,
      new org.apache.spark.sql.connector.catalog.ViewInfo(ident,
        v.query(), v.currentCatalog(), v.currentNamespace(), v.schema(),
        v.queryColumnNames(), v.columnAliases(), v.columnComments(),
        props),
      replace = true)
    SnapViews.load(base, ident)
  }

  override def dropView(ident: Identifier): Boolean =
    java.nio.file.Files.deleteIfExists(SnapViews.path(base, ident))

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!SnapViews.exists(base, oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    if (SnapViews.exists(base, newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    val dst = SnapViews.path(base, newIdent)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(SnapViews.path(base, oldIdent), dst)
    ()
  }

  /** The catalog's V2 functions: just `bucket` — resolving the bucket
    * transform reported by co-bucketed scans is what enables
    * storage-partitioned joins.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = options.get("root")
    require(base != null,
      s"spark.sql.catalog.$name.root must point to the warehouse directory")
  }

  override def name(): String = catalogName

  /** Declared SQL-DDL surfaces the analyzer gates on capability:
    * `ALTER TABLE … ADD COLUMN … DEFAULT v` (forwarded through
    * `TableChange.AddColumn`), CHECK constraints (`CREATE TABLE (…,
    * CONSTRAINT n CHECK (…))` / `ALTER TABLE … ADD/DROP CONSTRAINT`),
    * and `GENERATED ALWAYS AS (…)` columns at CREATE TABLE.
    */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** An absolute-path name resolves to that path (`resolve("/abs")` is
    * `/abs`), so ``snap.`/abs/path` `` reaches a path-only table — the
    * streaming read of tables outside the warehouse relies on it.
    */
  private def tableDir(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(Paths.get(base))(_.resolve(_)).toString

  private def isTable(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, "_log"))

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(Paths.get(base))(_.resolve(_))
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val st = Files.list(dir)
    try st.iterator().asScala
      .filter(p => isTable(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally st.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      // `db.t.changes` — the CHANGES companion table (the Iceberg
      // metadata-table idea): parses as Identifier([db, t], "changes"),
      // so when no real table shadows that name, serve the change feed
      // of the base table the namespace denotes
      val metaNames = Set("changes", "files", "history", "refs")
      if (metaNames.contains(ident.name()) && ident.namespace().nonEmpty) {
        val baseIdent = Identifier.of(ident.namespace().dropRight(1),
          ident.namespace().last)
        val baseDir = tableDir(baseIdent)
        if (isTable(baseDir))
          return ident.name() match {
            case "changes" => new SnapChangesTable(ident, baseDir)
            case "files" => new SnapFilesTable(ident, baseDir)
            case "history" => new SnapHistoryTable(ident, baseDir)
            case _ => new SnapRefsTable(ident, baseDir)
          }
      }
      throw new NoSuchTableException(ident)
    }
    new SnapV2Table(ident, dir, SnapTable.latestVersion(dir))
  }

  /** `VERSION AS OF v` time travel. */
  /** `VERSION AS OF` accepts a version number, a TAG name (resolves to
    * its pinned version), or a BRANCH name (resolves to the branch head —
    * the branch root substitutes for the table root so branch-written
    * files are read too).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    if (version.forall(_.isDigit) && version.nonEmpty)
      new SnapV2Table(ident, dir, version.toInt)
    else if (java.nio.file.Files.exists(java.nio.file.Paths.get(
        dir, "_log", "refs", s"$version.json")))
      new SnapV2Table(ident, dir, SnapTable.tagVersion(dir, version))
    else {
      val b = SnapTable.branchRoot(dir, version)
      if (!isTable(b)) throw new NoSuchTableException(ident)
      new SnapV2Table(ident, b, SnapTable.latestVersion(b))
    }
  }

  /** `TIMESTAMP AS OF t` time travel: Spark hands the timestamp in
    * MICROseconds since epoch; the newest manifest committed at or
    * before it is the snapshot (manifest `ts`, driver-side resolution).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new SnapV2Table(ident, dir,
      SnapTable.versionAsOf(dir, Math.floorDiv(timestamp, 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    doCreate(ident, schema, partitions, properties, Map.empty)

  private def doCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      idents: Map[String, (Long, Long, Boolean)]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // `CLUSTER BY (cols)` arrives as a cluster_by transform: declared
    // clustering metadata, not a partition spec — stored as the
    // snap.clusterBy property the write paths and OPTIMIZE consult
    val (clusterT, specT) =
      partitions.toSeq.partition(_.name == "cluster_by")
    val clusterCols = clusterT.flatMap(
      _.references.map(_.fieldNames.mkString(".")))
    val spec = specT.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"only identity partitioning is supported, got $t")
    }
    require(clusterCols.isEmpty || spec.isEmpty,
      "CLUSTER BY is exclusive with PARTITIONED BY")
    clusterCols.foreach(c => require(schema.fields.exists(f =>
      f.name == c && f.dataType == LongType),
      s"cluster column '$c' must be a BIGINT column"))
    // stats column drives default clustering: an explicit property wins,
    // else the first partition column, else the first long column
    val statsCol = Option(properties.get("statsCol"))
      .orElse(spec.headOption)
      .orElse(clusterCols.headOption)
      .orElse(schema.fields.find(_.dataType == LongType).map(_.name))
      .getOrElse(schema.fields.head.name)
    // `TBLPROPERTIES (...)` persist in the manifest; Spark-injected
    // reserved keys and writer options are not user metadata
    val userProps = properties.asScala.toMap -- Seq("provider",
      "location", "owner", "comment", "external", "path", "statsCol") --
      properties.asScala.keys.filter(_.startsWith("option."))
    // `GENERATED ALWAYS AS (expr)` rides in as field metadata: the
    // expressions become the manifest's generation map — every write
    // computes an absent generated column and VALIDATES a provided one
    val gen = schema.fields.flatMap(f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(f.name -> _)).toMap
    SnapTable.createEmpty(dir, schema, statsCol, spec,
      userProps ++ (if (clusterCols.isEmpty) Map.empty
        else Map("snap.clusterBy" -> clusterCols.mkString(","))),
      gen, idents)
    new SnapV2Table(ident, dir, 1)
  }

  /** `CREATE TABLE … (…, CONSTRAINT n CHECK (…))` — the constraint-
    * bearing create arrives through the TableInfo overload; the checks
    * land as immediate add-check commits on the empty v1 (vacuously
    * valid), so the table enforces them from its first insert.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    // Spark's own conversion keeps comments and WRITE-side column
    // DEFAULT metadata (EXISTS/CURRENT_DEFAULT ride the schema into
    // the manifest, so INSERTs omitting the column resolve them);
    // `GENERATED ALWAYS AS` is a first-class Column field on this
    // overload only, so it is re-embedded as the metadata key the
    // StructType path extracts from
    val base = org.apache.spark.sql.graftx.Bridge
      .v2ColumnsToStructType(info.columns())
    val byName = info.columns().map(c => c.name() -> c).toMap
    info.constraints().foreach {
      case _: org.apache.spark.sql.connector.catalog.constraints.Check =>
        ()
      case other => throw new UnsupportedOperationException(
        // checked BEFORE doCreate: a failure here must not leave a
        // half-created table behind the failed statement
        s"only CHECK constraints are enforced: ${other.toDDL}")
    }
    val schema = StructType(base.fields.map { f =>
      Option(byName(f.name).generationExpression()) match {
        case Some(e) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(org.apache.spark.sql.catalyst.util.GeneratedColumn
              .GENERATION_EXPRESSION_METADATA_KEY, e)
            .build())
        case None => f
      }
    })
    // `GENERATED ALWAYS AS IDENTITY [(START WITH s INCREMENT BY i)]`
    // (and the BY DEFAULT form) — first-class Column fields here
    val idents = info.columns().flatMap(c =>
      Option(c.identityColumnSpec()).map(sp => c.name() ->
        (sp.getStart, sp.getStep, sp.isAllowExplicitInsert))).toMap
    doCreate(ident, schema, info.partitions(), info.properties(), idents)
    info.constraints().foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        SnapTable.addCheck(SparkSession.active, tableDir(ident),
          c.name(), c.predicateSql())
      case _ => () // pre-validated above
    }
    loadTable(ident)
  }

  /** `ALTER TABLE … ADD COLUMN` — the SQL face of the format's additive
    * schema evolution: one metadata commit, old files null-fill on read.
    * Everything non-additive (drop/rename/retype) is rejected, matching
    * the append-side evolution contract.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "nested ADD COLUMN is not supported")
        require(add.isNullable,
          "ADD COLUMN must be nullable: existing files null-fill it")
        // `... DEFAULT <literal>` becomes an INITIAL default: rows
        // predating the add read the literal (era-decided per file),
        // still a metadata-only commit
        SnapTable.addColumn(dir, add.fieldNames()(0), add.dataType(),
          Option(add.defaultValue()).map(_.getSql))
      case rn: TableChange.RenameColumn =>
        // metadata-only via the column mapping: the physical name in
        // every existing file stays; old and new files both resolve
        require(rn.fieldNames.length == 1,
          "nested RENAME COLUMN is not supported")
        SnapTable.renameColumn(dir, rn.fieldNames()(0), rn.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "nested DROP COLUMN is not supported")
        SnapTable.dropColumn(dir, del.fieldNames()(0))
      case ut: TableChange.UpdateColumnType =>
        // TYPE WIDENING (int→bigint, float→double): metadata-only —
        // parquet's type promotion reads old narrow files under the
        // wide schema, so no data file is rewritten
        require(ut.fieldNames.length == 1,
          "nested ALTER COLUMN TYPE is not supported")
        SnapTable.widenColumn(dir, ut.fieldNames()(0), ut.newDataType())
      case cb: TableChange.ClusterBy =>
        // ALTER TABLE ... CLUSTER BY (cols) | NONE
        SnapTable.setClusterBy(dir,
          cb.clusteringColumns().toSeq
            .map(_.fieldNames.mkString(".")))
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames.length == 1,
          "nested ALTER COLUMN DEFAULT is not supported")
        // empty string = DROP DEFAULT (Spark's encoding); write-side
        // only — the manifest's era-decided INITIAL default is immutable
        SnapTable.setWriteDefault(dir, ud.fieldNames()(0),
          Option(ud.newDefaultValue()).filter(_.nonEmpty))
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints
              .Check =>
            // validates every EXISTING row before the metadata commit
            // (hence reported VALID), then every incoming batch forever
            SnapTable.addCheck(SparkSession.active, dir, c.name,
              c.predicateSql)
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are enforced: ${other.toDDL}")
        }
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists() || SnapTable
            .load(dir, SnapTable.latestVersion(dir))
            .checks.contains(dc.name()))
          SnapTable.dropCheck(dir, dc.name())
      case set: TableChange.SetProperty =>
        // SET TBLPROPERTIES: one metadata-only commit per statement's
        // worth of changes would be ideal; per-change commits keep the
        // code trivial and statements carry few keys. The clusterBy
        // live-config key routes through its VALIDATED verb.
        if (set.property() == "snap.clusterBy")
          SnapTable.setClusterBy(dir,
            set.value().split(",").toSeq.map(_.trim)
              .filter(_.nonEmpty))
        else
          SnapTable.setProperties(dir,
            Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        if (rm.property() == "snap.clusterBy")
          SnapTable.setClusterBy(dir, Seq.empty)
        else
          SnapTable.setProperties(dir, Map.empty,
            unset = Seq(rm.property()))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE ${other.getClass.getSimpleName}: supported " +
          "changes are ADD/RENAME/DROP COLUMN (retype would break " +
          "existing files' read schema)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(tableDir(ident))
    if (!isTable(dir.toString)) false
    else {
      SnapTable.deleteRecursively(dir)
      true
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = Paths.get(tableDir(oldIdent))
    if (!isTable(from.toString)) throw new NoSuchTableException(oldIdent)
    val to = Paths.get(tableDir(newIdent))
    if (isTable(to.toString)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val st = Files.list(Paths.get(base))
    try st.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p.toString))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally st.close()
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      loadNamespaceMetadata(namespace) // throws if absent
      Array.empty
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    val dir = namespace.foldLeft(Paths.get(base))(_.resolve(_))
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(
      namespace.foldLeft(Paths.get(base))(_.resolve(_)))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = namespace.foldLeft(Paths.get(base))(_.resolve(_))
    if (!Files.isDirectory(dir)) false
    else {
      // non-cascade emptiness means NO children at all: direct tables
      // AND nested namespace directories (which listTables can't see) —
      // a nested table must never be deleted without CASCADE
      val hasChildren = {
        val st = Files.list(dir)
        try st.iterator().hasNext finally st.close()
      }
      if (!cascade && hasChildren)
        throw new IllegalStateException(s"namespace not empty")
      SnapTable.deleteRecursively(dir)
      true
    }
  }
}

/** One snapshot of one SnapTable, as a DSv2 table. Reads are served by the
  * snapshot's immutable manifest (so a query holds a consistent view for
  * its whole lifetime, whatever commits land meanwhile); writes commit
  * through the same optimistic protocol as the API.
  */
private[sources] class SnapV2Table(ident: Identifier, root: String,
    version: Int) extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns with TruncatableTable {

  private val snap = SnapTable.load(root, version)

  /** `TRUNCATE TABLE` — one empty-file-list commit against the CURRENT
    * head: no data file is touched (history keeps them until vacuum),
    * outstanding DVs are dropped with the files they referenced.
    */
  override def truncateTable(): Boolean = {
    val parent = SnapTable.load(root, SnapTable.latestVersion(root))
    SnapTable.commitExclusive(root, parent, Seq.empty, "truncate",
      parent.schemaJson, dvs = Seq.empty)
    true
  }

  /** SQL MERGE / UPDATE / non-pushable DELETE: group-based copy-on-write
    * against the CURRENT head (DML never time-travels), with the runtime
    * group filter narrowing the rewrite to files holding a matched row.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new SnapRowLevelBuilder(root,
      SnapTable.load(root, SnapTable.latestVersion(root)), info)

  /** `_file`: the manifest-relative data file a row lives in — the
    * group granularity of the CoW rewrite, and a user-facing audit
    * column (the Delta/Iceberg `_file`/`input_file_name` idiom).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = SnapBatchScan.FileCol
      override def dataType(): DataType =
        org.apache.spark.sql.types.DataTypes.StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "manifest-relative path of the row's data file"
    })

  /** `DELETE FROM snap.db.t WHERE ...` — the SQL surface of the CoW
    * erasure verb. The WHERE clause arrives as pushed v1 filters; any
    * translatable conjunction runs through `SnapTable.deleteWhere`
    * against the CURRENT head (DML never time-travels). Untranslatable
    * predicates make `canDeleteWhere` return false, so Spark reports the
    * unsupported shape instead of deleting the wrong rows.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(SnapV2Table.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.toSeq
      .map(f => SnapV2Table.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(s"DELETE predicate: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // the raw conjuncts ride along: files whose manifest stats PROVE
    // every row matches are dropped metadata-only, never opened
    SnapTable.deleteWhere(SparkSession.active, root, pred, filters.toSeq)
    ()
  }

  override def name(): String = ident.toString

  override def schema(): StructType =
    DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer ADD-COLUMNs the
      // source-only fields through alterTable (a metadata-only commit
      // here), then re-resolves the merge against the widened schema
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def properties(): util.Map[String, String] =
    (snap.props ++ // engine keys win over a same-named user property
      Map("version" -> version.toString, "format" -> "snaptable",
        "spec" -> snap.spec.mkString(","))).asJava

  /** V2 columns with the manifest's GENERATION expressions and
    * IDENTITY specs attached — DESCRIBE and SHOW CREATE TABLE then
    * render `GENERATED ALWAYS AS (…)` / `… AS IDENTITY` and the
    * emitted DDL round-trips through createTable.
    */
  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => VCol}
    org.apache.spark.sql.graftx.Bridge.structTypeToV2Columns(schema())
      .map { c =>
        snap.idents.get(c.name()) match {
          case Some((st, sp, al)) => VCol.create(c.name(), c.dataType(),
            c.nullable(), c.comment(),
            new org.apache.spark.sql.connector.catalog
              .IdentityColumnSpec(st, sp, al), c.metadataInJSON())
          case None => snap.gen.get(c.name()) match {
            case Some(e) => VCol.create(c.name(), c.dataType(),
              c.nullable(), c.comment(), e, c.metadataInJSON())
            case None => c
          }
        }
      }
  }

  /** The manifest's CHECK constraints, reported in the DSv2 shape:
    * enforced (every commit validates its incoming/rewritten rows) and
    * VALID (add-check validated the whole table before linking) — so
    * DESCRIBE shows them and the optimizer may exploit them.
    */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snap.checks.toSeq.sortBy(_._1).map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(e).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def partitioning(): Array[Transform] = snap.bucket match {
    case Some((c, n)) => Array(
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c))
    case None =>
      val cl = SnapTable.clusterProp(snap)
      if (cl.nonEmpty) // SHOW CREATE TABLE renders `CLUSTER BY (…)`
        Array(org.apache.spark.sql.connector.expressions
          .ClusterByTransform(cl.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions
              .column(c))))
      else snap.spec.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c))
        .toArray
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapScanBuilder(root, snap, schema(), options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        /** `df.writeStream.toTable("snap.db.t")` — the native
          * exactly-once streaming sink (one ACID append per epoch,
          * idempotent under restart via the (queryId, epochId) txn).
          * Complete mode arrives here with `truncate()` called: each
          * epoch then REPLACES the contents in one commit — the
          * streaming materialized-view shape.
          */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming
              .StreamingWrite =
          new SnapStreamingWrite(root, info.schema(), info.queryId(),
            replace = overwrite)
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            if (overwrite) {
              // INSERT OVERWRITE: replace the contents in ONE commit —
              // new files only, carried forward from nothing. The
              // replacement is clustered on the partition spec like
              // every other write path, or the overwritten files would
              // carry full-range stats and lose partition pruning.
              val parent = SnapTable.load(root,
                SnapTable.latestVersion(root))
              val fresh = SnapTable.writeData(data.sparkSession, root,
                SnapTable.clusterFor(data, parent),
                parent.statsCol, parent.bucket,
                era = SnapTable.eraHiOf(parent) + 1)
              SnapTable.commitExclusive(root, parent, fresh, "overwrite",
                parent.schemaJson)
            } else SnapTable.append(data.sparkSession, root, data)
            ()
          }
      }
    }
}

private[sources] object SnapV2Table {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col => c, lit}

  /** v1 Filter → Column for the DELETE surface; None = untranslatable
    * (Spark then rejects the DELETE instead of mis-running it).
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(c(a) === lit(v))
    case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
    case GreaterThan(a, v) => Some(c(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case LessThan(a, v) => Some(c(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
    case In(a, vs) => Some(c(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(c(a).isNull)
    case IsNotNull(a) => Some(c(a).isNotNull)
    case StringStartsWith(a, v) => Some(c(a).startsWith(v))
    case StringEndsWith(a, v) => Some(c(a).endsWith(v))
    case StringContains(a, v) => Some(c(a).contains(v))
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(x) => toColumn(x).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** The completely-pushed-aggregate result: ONE row of LONG values (or
  * null for MIN/MAX of an empty table), computed on the driver from the
  * manifest and shipped as the single input partition's payload. No
  * data file is opened — the spec proves it by deleting them first.
  */
private[graft] class SnapAggScan(
    cols: Seq[(String, org.apache.spark.sql.types.DataType, Option[Any])])
  extends Scan with org.apache.spark.sql.connector.read.Batch {

  private def values: Seq[Option[Any]] = cols.map(_._3)

  override def readSchema(): StructType = StructType(
    cols.map { case (n, dt, v) =>
      org.apache.spark.sql.types.StructField(n, dt, nullable = v.isEmpty)
    })

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    Array(SnapAggPartition(values))

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    (p: org.apache.spark.sql.connector.read.InputPartition) => {
      val vs = p.asInstanceOf[SnapAggPartition].values
      new org.apache.spark.sql.connector.read
        .PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        private var done = false
        override def next(): Boolean = !done
        override def get(): org.apache.spark.sql.catalyst.InternalRow = {
          done = true
          org.apache.spark.sql.catalyst.InternalRow
            .fromSeq(vs.map(_.orNull))
        }
        override def close(): Unit = ()
      }
    }
}

private[graft] final case class SnapAggPartition(values: Seq[Option[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition

/** Scan builder carrying the DSv2 pushdowns that matter at manifest
  * level: column pruning (ReadSchema), predicate-driven FILE pruning,
  * and complete COUNT/MIN/MAX aggregate pushdown. Every filter is
  * reported back as residual — the source prunes whole files, Spark's
  * parquet reader + codegen still evaluate rows exactly.
  */
private[graft] class SnapScanBuilder(root: String,
    snap: SnapTable.Snapshot, full: StructType,
    options: CaseInsensitiveStringMap =
      CaseInsensitiveStringMap.empty()) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var required: StructType = full
  private var agg: Option[Aggregation] = None

  /** COMPLETE aggregate pushdown — `COUNT(*)` / `MIN(col)` / `MAX(col)`
    * with no GROUP BY answered from the MANIFEST alone (footer row
    * counts and per-file [min,max] stats): zero data files are opened,
    * so `SELECT count(*) FROM t` on a 100 TB table is driver-side
    * metadata work. Only taken when it is provably exact:
    *
    *  - no outstanding deletion vectors (DV'd rows would be counted),
    *  - no pushed filters (Spark only attempts the pushdown with no
    *    Filter above the scan, since we report every filter residual —
    *    checked anyway),
    *  - MIN/MAX only on columns with INT64 stats in EVERY file
    *    (parquet footer min/max ignore nulls, exactly like SQL MIN/MAX).
    */
  private def answerable(a: Aggregation): Boolean =
    a.groupByExpressions.isEmpty && raw.isEmpty && snap.dvs.isEmpty && {
      def statsCol(e: org.apache.spark.sql.connector.expressions
          .Expression): Option[String] = e match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          val name = f.fieldNames()(0)
          val pc = SnapTable.physName(snap.colmap, name)
          // the stats family must MATCH the declared type, covering
          // EVERY file (both footer families ignore nulls, exactly
          // like SQL MIN/MAX)
          val covered = SnapTable.schemaOf(snap.schemaJson)
            .fields.find(_.name == name).map(_.dataType) match {
            case Some(LongType) =>
              snap.files.forall(_.stats.contains(pc))
            case Some(org.apache.spark.sql.types.DoubleType) =>
              snap.files.forall(_.dstats.contains(pc))
            case _ => false
          }
          if (covered) Some(pc) else None
        case _ => None
      }
      a.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => statsCol(m.column).isDefined
        case m: Max => statsCol(m.column).isDefined
        case _ => false
      }
    }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    answerable(a)

  override def pushAggregation(a: Aggregation): Boolean =
    if (!answerable(a)) false // no partial mode: exact or not at all
    else { agg = Some(a); true }
  /** LIMIT pushdown: a head query needs only a PREFIX of the file list
    * whose manifest row counts cover the limit — `SELECT * FROM t LIMIT
    * 10` on a 100 TB table opens one file. Always reported as PARTIALLY
    * pushed, so Spark keeps its own limit above the scan and the
    * truncation only has to be an upper bound, never an exact cap.
    */
  private var limit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown: `ORDER BY k LIMIT n` keeps only files that can hold
    * a top-n row. Threshold cover: walk files by their FAR bound (max
    * for ASC, min for DESC) accumulating non-null row counts until ≥ the
    * non-null rows needed; every qualifying row is ≤ that threshold τ
    * and any row ≤ τ lives in a file whose NEAR bound ≤ τ, so keeping
    * {near bound ≤ τ} is a proven superset. NULL ordering is honored
    * through the recorded per-file null counts — an ABSENT null count
    * means unknown and disables the truncation (same contract as
    * metadata-only deletes). Like LIMIT, always reported partially
    * pushed: Spark's own TopN stays above the scan, so exactness never
    * rests on the cover.
    */
  private var topN: Option[(String, Boolean, Boolean, Int)] = None
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{
      NullOrdering, SortDirection}
    orders match {
      case Array(o) => o.expression() match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          val name = f.fieldNames()(0)
          val pc = SnapTable.physName(snap.colmap, name)
          val isLong = SnapTable.schemaOf(snap.schemaJson).fields
            .find(_.name == name).exists(_.dataType == LongType)
          // coverage: every file needs a RECORDED null count, and INT64
          // stats unless it is all-null
          val covered = isLong && snap.files.forall(f =>
            f.nulls.contains(pc) &&
              (f.stats.contains(pc) || f.rows == f.nulls(pc)))
          if (!covered) false
          else {
            topN = Some((pc,
              o.direction() == SortDirection.DESCENDING,
              o.nullOrdering() == NullOrdering.NULLS_FIRST, l))
            true
          }
        case _ => false
      }
      case _ => false
    }
  }

  private def topNCover(files: Seq[SnapTable.FileEntry]): Seq[
      SnapTable.FileEntry] = topN match {
    case Some((pc, desc, nullsFirst, n))
        if raw.isEmpty && snap.dvs.isEmpty && snap.bucket.isEmpty =>
      def nn(f: SnapTable.FileEntry): Long = f.rows - f.nulls(pc)
      val totalNulls = files.map(_.nulls(pc)).sum
      val totalNN = files.map(nn).sum
      val needed: Long = if (nullsFirst) (n: Long) - totalNulls else n
      if (nullsFirst && needed <= 0) files.filter(_.nulls(pc) > 0)
      else if (needed >= totalNN) files // every value row qualifies
      else {
        val valueFiles = files.filter(nn(_) > 0)
        val byFar = valueFiles.sortBy(f =>
          if (desc) -f.stats(pc)._1 else f.stats(pc)._2)
        var acc = 0L
        var tau = 0L
        val it = byFar.iterator
        while (acc < needed && it.hasNext) {
          val f = it.next()
          acc += nn(f)
          tau = if (desc) f.stats(pc)._1 else f.stats(pc)._2
        }
        val valueKeep = files.filter(f => nn(f) > 0 &&
          (if (desc) f.stats(pc)._2 >= tau else f.stats(pc)._1 <= tau))
        if (nullsFirst) files.filter(f =>
          f.nulls(pc) > 0 || valueKeep.contains(f))
        else valueKeep
      }
    case _ => files
  }

  private var bounds: Map[String, (Long, Long)] = Map.empty
  // string bounds: None = unbounded on that side. Only consulted
  // against files that RECORDED sstats for the column (short-ASCII
  // guard at write time keeps orderings consistent).
  private var sBounds: Map[String, (Option[String], Option[String])] =
    Map.empty
  // DOUBLE bounds, kept CLOSED on both sides (strict variants keep the
  // closed bound — conservative; the residual filter is row-exact)
  private var dBounds: Map[String, (Double, Double)] = Map.empty
  private var raw: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // strict bounds tighten by ±1 with SATURATING arithmetic: a plain
    // v + 1 on GreaterThan(c, Long.MaxValue) would wrap to MinValue and
    // un-prune everything (conservative keep-at-the-edge is fine — the
    // residual filter still evaluates rows exactly)
    def inc(v: Long): Long = if (v == Long.MaxValue) v else v + 1
    def dec(v: Long): Long = if (v == Long.MinValue) v else v - 1
    // timestamp literals prune like longs: parquet TIMESTAMP(MICROS)
    // footers are INT64 stats in epoch micros, so a time predicate on
    // an event-time-clustered table skips files from the driver — the
    // first-line pruning of every time-series workload. Both literal
    // shapes Spark pushes (java.sql.Timestamp, java.time.Instant)
    // convert exactly; the session is pinned UTC.
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(Math.addExact(Math.multiplyExact(t.getTime, 1000L),
          (t.getNanos % 1000000L) / 1000L))
      case i: java.time.Instant =>
        Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          i.getNano / 1000L))
      case l: java.time.LocalDateTime => // TIMESTAMP_NTZ predicates:
        // parquet NTZ micros encode the local datetime as-if-UTC —
        // the same frame this conversion uses
        micros(l.toInstant(java.time.ZoneOffset.UTC))
      case _ => None
    }
    def walk(f: Filter): Unit = f match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(c, v: Long) => narrow(c, v, v)
      case EqualTo(c, v: Int) => narrow(c, v.toLong, v.toLong)
      // an IN list narrows to its [min,max] envelope — coarse but
      // driver-cheap, and exactness rides the residual filter
      case In(c, vs) if vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
        val ls = vs.map {
          case l: Long => l
          case i: Int => i.toLong
        }
        narrow(c, ls.min, ls.max)
      case In(c, vs) if vs.nonEmpty && vs.forall(micros(_).isDefined) =>
        val ls = vs.flatMap(micros)
        narrow(c, ls.min, ls.max)
      case EqualTo(c, v) if micros(v).isDefined =>
        narrow(c, micros(v).get, micros(v).get)
      case GreaterThan(c, v) if micros(v).isDefined =>
        narrow(c, inc(micros(v).get), Long.MaxValue)
      case GreaterThanOrEqual(c, v) if micros(v).isDefined =>
        narrow(c, micros(v).get, Long.MaxValue)
      case LessThan(c, v) if micros(v).isDefined =>
        narrow(c, Long.MinValue, dec(micros(v).get))
      case LessThanOrEqual(c, v) if micros(v).isDefined =>
        narrow(c, Long.MinValue, micros(v).get)
      case GreaterThan(c, v: Long) => narrow(c, inc(v), Long.MaxValue)
      case GreaterThan(c, v: Int) => narrow(c, v + 1L, Long.MaxValue)
      case GreaterThanOrEqual(c, v: Long) => narrow(c, v, Long.MaxValue)
      case GreaterThanOrEqual(c, v: Int) => narrow(c, v.toLong, Long.MaxValue)
      case LessThan(c, v: Long) => narrow(c, Long.MinValue, dec(v))
      case LessThan(c, v: Int) => narrow(c, Long.MinValue, v - 1L)
      case LessThanOrEqual(c, v: Long) => narrow(c, Long.MinValue, v)
      case LessThanOrEqual(c, v: Int) => narrow(c, Long.MinValue, v.toLong)
      case EqualTo(c, v: Double) => narrowD(c, v, v)
      case GreaterThan(c, v: Double) =>
        narrowD(c, v, Double.PositiveInfinity)
      case GreaterThanOrEqual(c, v: Double) =>
        narrowD(c, v, Double.PositiveInfinity)
      case LessThan(c, v: Double) =>
        narrowD(c, Double.NegativeInfinity, v)
      case LessThanOrEqual(c, v: Double) =>
        narrowD(c, Double.NegativeInfinity, v)
      case In(c, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Double]) =>
        val ds = vs.map(_.asInstanceOf[Double])
        if (!ds.exists(_.isNaN)) narrowD(c, ds.min, ds.max)
      // string predicates narrow CLOSED bounds (strict variants keep
      // the closed bound — conservative, the residual filter is exact);
      // a prefix match is the range [prefix, prefix + maxChar...]
      case EqualTo(c, v: String) => narrowS(c, Some(v), Some(v))
      case GreaterThan(c, v: String) => narrowS(c, Some(v), None)
      case GreaterThanOrEqual(c, v: String) => narrowS(c, Some(v), None)
      case LessThan(c, v: String) => narrowS(c, None, Some(v))
      case LessThanOrEqual(c, v: String) => narrowS(c, None, Some(v))
      case StringStartsWith(c, v) if v.nonEmpty =>
        // upper bound only correct for data without U+FFFF — which is
        // guaranteed: sstats are recorded only for ASCII bounds, so a
        // file holding U+FFFF strings has no entry and is always read
        narrowS(c, Some(v), Some(v + "￿"))
      case _ => () // unsupported shapes simply don't prune
    }
    def narrow(c: String, lo: Long, hi: Long): Unit = {
      val (a, b) = bounds.getOrElse(c, (Long.MinValue, Long.MaxValue))
      bounds += c -> (math.max(a, lo), math.min(b, hi))
    }
    def narrowD(c: String, lo: Double, hi: Double): Unit =
      if (!lo.isNaN && !hi.isNaN) {
        val (a, b) = dBounds.getOrElse(c,
          (Double.NegativeInfinity, Double.PositiveInfinity))
        dBounds += c -> (math.max(a, lo), math.min(b, hi))
      }
    def narrowS(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (a, b) = sBounds.getOrElse(c,
        (None: Option[String], None: Option[String]))
      def maxO(x: Option[String], y: Option[String]) = (x ++ y)
        .reduceOption((p, q) => if (p >= q) p else q)
      def minO(x: Option[String], y: Option[String]) = (x ++ y)
        .reduceOption((p, q) => if (p <= q) p else q)
      sBounds += c -> (maxO(a, lo), minO(b, hi))
    }
    filters.foreach(walk)
    raw = filters // native scan forwards them for parquet row-group pruning
    filters // all residual: pruning skips files, never rows
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  /** Manifest file pruning from the pushed static predicates — applied
    * to the snapshot's files at build time, and PER MICRO-BATCH by the
    * streaming read (each batch's added files prune the same way).
    * Manifest stats key on PHYSICAL column names; pushed predicates
    * reference logical ones — map before consulting the entries.
    */
  private def pruneByBounds(
      files: Seq[SnapTable.FileEntry]): Seq[SnapTable.FileEntry] =
    files.filter { f =>
      bounds.forall { case (c, (lo, hi)) =>
        f.stats.get(SnapTable.physName(snap.colmap, c))
          .forall { case (mn, mx) => mx >= lo && mn <= hi }
      } &&
      sBounds.forall { case (c, (lo, hi)) =>
        f.sstats.get(SnapTable.physName(snap.colmap, c))
          .forall { case (mn, mx) =>
            lo.forall(mx >= _) && hi.forall(mn <= _)
          }
      } &&
      dBounds.forall { case (c, (lo, hi)) =>
        f.dstats.get(SnapTable.physName(snap.colmap, c))
          .forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }

  override def build(): Scan = {
    agg match {
      case Some(a) =>
        def pc(e: org.apache.spark.sql.connector.expressions
            .Expression): String = e match {
          case f: NamedReference =>
            SnapTable.physName(snap.colmap, f.fieldNames()(0))
          case other => sys.error(s"unexpected agg child $other")
        }
        // the output TYPE comes from the declared schema (an empty
        // table must still answer MIN(double) as a NULL DOUBLE, not a
        // vacuously-chosen BIGINT); stats family follows the type
        val byPhys = SnapTable.schemaOf(snap.schemaJson).fields
          .map(f => SnapTable.physName(snap.colmap, f.name) ->
            f.dataType).toMap
        def minMax(c: String, isMin: Boolean)
            : (org.apache.spark.sql.types.DataType, Option[Any]) = {
          val dt = byPhys(c)
          // empty table → SQL MIN/MAX is NULL
          if (snap.files.isEmpty) (dt, None)
          else if (dt == LongType)
            (LongType, Some(
              if (isMin) snap.files.map(_.stats(c)._1).min
              else snap.files.map(_.stats(c)._2).max))
          else
            (org.apache.spark.sql.types.DoubleType, Some(
              if (isMin) snap.files.map(_.dstats(c)._1).min
              else snap.files.map(_.dstats(c)._2).max))
        }
        val cols = a.aggregateExpressions.toSeq.map {
          case _: CountStar =>
            ("count(*)", LongType,
              Some(snap.files.map(_.rows).sum): Option[Any])
          case m: Min =>
            val (dt, v) = minMax(pc(m.column), isMin = true)
            ("min", dt, v)
          case m: Max =>
            val (dt, v) = minMax(pc(m.column), isMin = false)
            ("max", dt, v)
          case other => sys.error(s"unpushable aggregate $other")
        }
        return new SnapAggScan(cols)
      case None => ()
    }
    val pruned = topNCover(pruneByBounds(snap.files))
    // file-list truncation under a pushed LIMIT is sound only when every
    // manifest row survives to the scan output: no residual filters (a
    // prefix file could match zero rows), no deletion vectors (footer
    // counts overstate live rows), no bucket layout (KeyGrouped
    // partitioning must expose every bucket). Never combined with a
    // pushed TopN — an arbitrary prefix is not a top-n cover.
    val hit = limit match {
      case Some(n) if topN.isEmpty && raw.isEmpty && snap.dvs.isEmpty &&
          snap.bucket.isEmpty =>
        val keep = Seq.newBuilder[SnapTable.FileEntry]
        var acc = 0L
        val it = pruned.iterator
        while (acc < n && it.hasNext) {
          val f = it.next(); keep += f; acc += f.rows
        }
        keep.result()
      case _ => pruned
    }
    // EVERY catalog read goes through the native batch scan: it is the
    // only scan shape whose statistics and partitioning the planner
    // actually consults (a V1Scan gets wrapped in Spark's
    // V1ScanWrapper during pushdown, which hides SupportsReport*, so a
    // V1-bridged table costs defaultSizeInBytes = ∞ and can never be
    // auto-broadcast). Bucket layouts additionally report
    // KeyGroupedPartitioning (storage-partitioned joins); outstanding
    // DVs ride the scan (per-file readers drop deleted positions);
    // unbucketed file lists bin-pack into byte-targeted partitions.
    // The LAYOUT columns are declared runtime-prunable (DPP): a
    // selective join narrows the file list at execution time.
    val prunable = snap.bucket.map(b => Seq(b._1)).getOrElse(
      if (snap.spec.nonEmpty) snap.spec
      else Seq(snap.statsCol).filter(_.nonEmpty))
    new SnapBatchScan(SparkSession.active, root, hit, snap.schemaJson,
      required, raw.toSeq, snap.bucket, snap.dvs, snap.colmap, prunable,
      snap.defaults, Some(options), pruneByBounds)
  }
}

