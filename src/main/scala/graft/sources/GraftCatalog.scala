package graft.sources

import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.delta.{DeltaTable, Snapshot, ValidationException}

/**
 * DataSource V2 `TableCatalog` over graft Delta tables: the SQL front door
 * the reference exposes as a programmatic API (src/index.ts:1-188) —
 * `CREATE/DROP/SHOW TABLE`, `INSERT INTO/OVERWRITE`, `SELECT` (incl.
 * `VERSION AS OF` / `TIMESTAMP AS OF` time travel via the DSv2 time-travel
 * loadTable overloads), plus `DELETE`/`UPDATE`/`MERGE INTO` through
 * [[graft.plans.GraftDmlStrategy]].
 *
 * Layout: `<warehouse>/<namespace...>/<table>` — one directory per table,
 * each a full Delta log + data dir. Register with:
 * {{{
 *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
 *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
 * }}}
 *
 * Reads plan through the native DSv2 batch scan ([[GraftBatchScan]]:
 * snapshot→prune→exact file list→Spark's vectorized parquet reader, with
 * runtime file pruning from join predicates); writes land as transactional
 * table commits through the [[V1Write]] fallback seam (the same bridge
 * Spark's JDBC source uses) plus the predicate-scoped overwrite modes.
 */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) = p.getFileSystem(
    spark.sessionState.newHadoopConf())

  /** Accept `DEFAULT` clauses in CREATE/ALTER: Spark validates the
    * expression (constant-foldable) and delivers it on the v2 `Column` /
    * `TableChange`; without this capability the parser-level check
    * refuses every DEFAULT up front. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new ValidationException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** `<warehouse>/<ns...>/<name>`, with path-traversal characters refused —
    * identifiers come from SQL text and must not escape the warehouse. */
  private def tablePath(ident: Identifier): Path = {
    val parts = ident.namespace.toSeq :+ ident.name
    parts.foreach { p =>
      if (p.contains("/") || p.contains("\\") || p == ".." || p == ".")
        throw new ValidationException(s"illegal identifier segment: $p")
    }
    parts.foldLeft(new Path(warehouse))(new Path(_, _))
  }

  private def isTableDir(p: Path): Boolean =
    fs(p).exists(new Path(p, "_delta_log"))

  override def tableExists(ident: Identifier): Boolean = isTableDir(tablePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (!fs(nsPath).exists(nsPath)) throw new NoSuchNamespaceException(namespace)
    fs(nsPath).listStatus(nsPath).toSeq
      .filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table =
    loadVersioned(ident, None, None)

  /** `VERSION AS OF <v>` — Spark hands the version as text. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        throw new ValidationException(s"illegal version: $version")
    }
    loadVersioned(ident, Some(v), None)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadVersioned(ident, None, Some(Math.floorDiv(timestampMicros, 1000L)))

  private def loadVersioned(ident: Identifier, version: Option[Long],
                            tsMs: Option[Long]): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val dt = DeltaTable.forPath(spark, p.toString)
    if (dt.version < 0) throw new NoSuchTableException(ident)
    new GraftTable(dt, s"$catalogName.${ident.toString}", version, tsMs)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // CLUSTER BY (c1, c2) is a LAYOUT INTENT, not a partitioning: the
    // columns land in `graft.clusterBy` and `graft_zorder(t)` (no column
    // list) Z-orders by them — Delta's liquid-clustering surface shape.
    // Mutually exclusive with PARTITIONED BY, as in Delta.
    val clusterCols = partitions.toSeq.collect {
      case org.apache.spark.sql.connector.expressions.ClusterByTransform(refs) =>
        refs.map(_.fieldNames.mkString("."))
    }.flatten
    val partCols = partitions.toSeq
      .filterNot(_.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform])
      .map {
        case t if t.name == "identity" && t.references.length == 1 =>
          t.references.head.fieldNames.mkString(".")
        case other => throw new ValidationException(
          s"only identity partitioning is supported, got $other")
      }
    if (clusterCols.nonEmpty && partCols.nonEmpty) throw new ValidationException(
      "CLUSTER BY cannot be combined with PARTITIONED BY")
    clusterCols.filterNot(schema.fieldNames.contains).headOption.foreach(c =>
      throw new ValidationException(s"CLUSTER BY column '$c' not in schema"))
    // Identity columns cannot partition (Delta's rule): partition columns
    // are excluded from data-file footer stats, so the high-water mark
    // could never advance and every append would silently re-assign the
    // same values from START WITH.
    partCols.filter(graft.delta.IdentityColumns.names(schema)).headOption
      .foreach(c => throw new ValidationException(
        s"identity column '$c' cannot be a partition column: partition " +
          "columns carry no footer stats, so the high-water mark could " +
          "never advance and appends would re-assign duplicate values"))
    val p = tablePath(ident)
    fs(p).mkdirs(p)
    val dt = DeltaTable.forPath(spark, p.toString)
    // commit 0: protocol + metadata (+ partitioning) via an empty
    // transactional write — CTAS appends the query result right after
    dt.write(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema), "append", partCols)
    val config = properties.asScala.toMap.filter(_._1.startsWith("delta.")) ++
      (if (clusterCols.nonEmpty)
        Map("graft.clusterBy" -> clusterCols.mkString(",")) else Map.empty)
    if (config.nonEmpty) dt.updateConfiguration(config)
    new GraftTable(dt, s"$catalogName.${ident.toString}", None, None)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTable(ident,
      StructType(columns.toSeq.map { c =>
        // A DEFAULT clause rides the schema as the two field-metadata keys
        // Spark's ResolveDefaultColumns reads back from the relation
        // schema — INSERT/UPDATE/MERGE statements that omit the column or
        // name DEFAULT explicitly get the expression substituted at
        // analysis, so the value is MATERIALIZED into every written row
        // (reads never consult it).
        val b = new org.apache.spark.sql.types.MetadataBuilder()
        Option(c.defaultValue()).foreach { dv =>
          val sql = dv.getSql
          b.putString("CURRENT_DEFAULT", sql).putString("EXISTS_DEFAULT", sql)
        }
        Option(c.comment()).filter(_.nonEmpty).foreach(b.putString("comment", _))
        // GENERATED ALWAYS AS (expr) persists under Delta's key; every
        // write path computes/validates it (graft.delta.GeneratedColumns)
        Option(c.generationExpression()).filter(_.nonEmpty).foreach(g =>
          b.putString(graft.delta.GeneratedColumns.MetadataKey, g))
        // GENERATED {ALWAYS|BY DEFAULT} AS IDENTITY persists Delta's
        // identity keys; the append path assigns from the high-water mark
        Option(c.identityColumnSpec()).foreach { spec =>
          if (c.dataType != org.apache.spark.sql.types.LongType)
            throw new ValidationException(
              s"identity column '${c.name}' must be BIGINT, got ${c.dataType.sql}")
          b.putLong(graft.delta.IdentityColumns.StartKey, spec.getStart)
            .putLong(graft.delta.IdentityColumns.StepKey, spec.getStep)
            .putBoolean(graft.delta.IdentityColumns.AllowExplicitKey,
              spec.isAllowExplicitInsert)
        }
        org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable, b.build())
      }),
      partitions, properties)

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTableDir(p)) false
    else fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val dst = tablePath(newIdent)
    fs(dst).mkdirs(dst.getParent)
    if (!fs(dst).rename(tablePath(oldIdent), dst))
      throw new ValidationException(s"rename $oldIdent -> $newIdent failed")
  }

  /** ALTER TABLE: ADD COLUMNS rides the write path's additive schema merge
    * (a metadata-only commit — no data rewritten, old files read the new
    * column as null); column rename/drop ride the column-mapping
    * machinery; SET/UNSET TBLPROPERTIES ride `updateConfiguration`.
    * Anything else (type changes, reordering) is refused. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val dt = DeltaTable.forPath(spark, p.toString)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1, "nested add unsupported")
        // Delta parity: a NEW column with a DEFAULT is refused on a table
        // that may already hold rows — defaults are write-time-materialized
        // here, so pre-existing rows would read null, not the default.
        if (a.defaultValue() != null) throw new ValidationException(
          "ADD COLUMN with DEFAULT is not supported (existing rows would " +
            "read NULL, not the default); add the column, backfill, then " +
            "ALTER COLUMN ... SET DEFAULT")
        val extended = dt.metaSnapshot().schema.add(
          org.apache.spark.sql.types.StructField(
            a.fieldNames.head, a.dataType, a.isNullable))
        dt.write(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], extended), "append")
      // Native SQL constraint verbs (Spark 4.1): ADD CONSTRAINT validates
      // EXISTING rows first (one distributed anti-predicate count; a
      // violated constraint refuses instead of recording a lie), DROP
      // removes the config key. Both land on the same
      // `delta.constraints.*` machinery every write path enforces.
      case a: TableChange.AddConstraint =>
        a.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            dt.addCheckConstraint(c.name, c.predicateSql)
          case other => throw new ValidationException(
            "only CHECK constraints are enforceable here; " +
              s"got ${other.toDDL} (PRIMARY KEY/FOREIGN KEY/UNIQUE are not " +
              "enforced by this engine and are refused rather than recorded)")
        }
      case d: TableChange.DropConstraint =>
        val key = s"delta.constraints.${d.name}"
        val has = dt.metaSnapshot().configuration.contains(key)
        if (has) dt.dropCheckConstraint(d.name)
        else if (!d.ifExists) throw new ValidationException(
          s"no such constraint: ${d.name}")
      case c: TableChange.ClusterBy =>
        // ALTER TABLE ... CLUSTER BY (cols) / CLUSTER BY NONE: updates the
        // layout intent; files re-cluster at the next graft_zorder(t).
        val cols = c.clusteringColumns.toSeq.map(_.fieldNames.mkString("."))
        val schema = dt.metaSnapshot().schema
        cols.filterNot(schema.fieldNames.contains).headOption.foreach(x =>
          throw new ValidationException(s"CLUSTER BY column '$x' not in schema"))
        if (cols.isEmpty) dt.updateConfiguration(Map.empty, remove = Seq("graft.clusterBy"))
        else dt.updateConfiguration(Map("graft.clusterBy" -> cols.mkString(",")))
      case d: TableChange.UpdateColumnDefaultValue =>
        require(d.fieldNames.length == 1, "nested default unsupported")
        // SET DEFAULT → future statements only (write-time semantics);
        // DROP DEFAULT arrives as an empty string.
        dt.setColumnDefault(d.fieldNames.head,
          Option(d.newDefaultValue()).filter(_.nonEmpty))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1, "nested rename unsupported")
        dt.renameColumn(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1, "nested drop unsupported")
        dt.dropColumn(d.fieldNames.head)
      case s: TableChange.SetProperty =>
        dt.updateConfiguration(Map(s.property -> s.value))
      case u: TableChange.RemoveProperty =>
        dt.updateConfiguration(Map.empty, remove = Seq(u.property))
      // COMMENT ON COLUMN / ALTER COLUMN ... COMMENT: metadata-only commit
      case c: TableChange.UpdateColumnComment =>
        require(c.fieldNames.length == 1, "nested comment unsupported")
        dt.setColumnComment(c.fieldNames.head, Option(c.newComment()))
      // ALTER COLUMN ... SET/DROP NOT NULL: relaxing is metadata-only;
      // tightening validates existing rows first (one distributed count)
      case n: TableChange.UpdateColumnNullability =>
        require(n.fieldNames.length == 1, "nested nullability unsupported")
        dt.setColumnNullability(n.fieldNames.head, n.nullable())
      // Same-type "change" is a no-op; a REAL type change would rewrite or
      // upcast-on-read every existing file — refused with the actionable
      // alternative.
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1, "nested type change unsupported")
        val cur = dt.metaSnapshot().schema(u.fieldNames.head).dataType
        if (cur != u.newDataType)
          throw new ValidationException(
            s"type change ${u.fieldNames.head}: $cur -> ${u.newDataType} is not " +
              "supported; cast the written data to the table's type instead")
      case other => throw new ValidationException(
        s"unsupported ALTER TABLE change: $other")
    }
    loadTable(ident)
  }

  // ---- namespaces = warehouse subdirectories -------------------------------

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(new Path(warehouse))(new Path(_, _))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace)
    fs(p).exists(p) && !isTableDir(p)
  }

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs(root).exists(root)) Array.empty
    else fs(root).listStatus(root).toSeq
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = nsPath(namespace)
    if (!fs(p).exists(p)) throw new NoSuchNamespaceException(namespace)
    fs(p).listStatus(p).toSeq
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => namespace :+ s.getPath.getName).toArray
  }

  /** Namespace properties (COMMENT, WITH PROPERTIES, ALTER NAMESPACE SET/
    * UNSET) persist as one small JSON file inside the namespace directory
    * — driver-side metadata, invisible to table listing (which filters to
    * `_delta_log` directories). */
  private val NsPropsFile = "_namespace.json"

  private def readNsProps(p: Path): Map[String, String] = {
    val f = new Path(p, NsPropsFile)
    if (!fs(p).exists(f)) Map.empty
    else {
      val in = fs(p).open(f)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      org.json4s.jackson.JsonMethods.parse(text) match {
        case org.json4s.JObject(fields) =>
          fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
    }
  }

  private def writeNsProps(p: Path, props: Map[String, String]): Unit = {
    val f = new Path(p, NsPropsFile)
    if (props.isEmpty) { fs(p).delete(f, false); () }
    else {
      val json = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JObject(props.toList.sortBy(_._1)
            .map { case (k, v) => k -> (org.json4s.JString(v): org.json4s.JValue) })))
      val out = fs(p).create(f, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    readNsProps(nsPath(namespace)).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    val p = nsPath(namespace)
    fs(p).mkdirs(p)
    val props = metadata.asScala.toMap
    if (props.nonEmpty) writeNsProps(p, props)
    ()
  }

  /** `ALTER NAMESPACE ... SET PROPERTIES / SET COMMENT / UNSET PROPERTIES`
    * — property changes land in the namespace's JSON sidecar. Location
    * changes are refused (a namespace IS its warehouse directory here). */
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val p = nsPath(namespace)
    val updated = changes.foldLeft(readNsProps(p)) { (props, c) =>
      c match {
        case s: NamespaceChange.SetProperty =>
          if (s.property == "location") throw new ValidationException(
            "ALTER NAMESPACE ... SET LOCATION is not supported: a " +
              "namespace is its warehouse directory")
          props + (s.property -> s.value)
        case r: NamespaceChange.RemoveProperty => props - r.property
        case other => throw new ValidationException(
          s"unsupported namespace change: $other")
      }
    }
    writeNsProps(p, updated)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!namespaceExists(namespace)) false
    else {
      val contents = fs(p).listStatus(p)
        .filterNot(_.getPath.getName == NsPropsFile)
      if (!cascade && contents.nonEmpty)
        throw new ValidationException(s"namespace not empty: ${namespace.mkString(".")}")
      fs(p).delete(p, true)
    }
  }
}

/**
 * DSv2 table handle: reads through the native [[GraftBatchScan]] (file
 * pruning via partition values + zone-map stats BEFORE Spark plans, then
 * vectorized parquet with row-group pushdown inside surviving files, and
 * runtime file pruning from join predicates), writes through the engine's
 * task writer — as a DSv2 write, or via a [[V1Write]] into the table API
 * (see [[GraftWriteBuilder]]) — with one transactional commit per
 * statement. `version`/`timestampMs` carry DSv2 time travel; `pinned`
 * reads exactly one snapshot's files ([[DeltaTable.toDF]]). Exposes
 * `_metadata.file_path` / `_metadata.row_index`, which MERGE, DML and the
 * DV build key rows by.
 */
final class GraftTable private[sources] (val delta: DeltaTable, identName: String,
    version: Option[Long], timestampMs: Option[Long], pinned: Option[Snapshot] = None,
    caps: util.Set[TableCapability] = GraftTable.CatalogCapabilities)
  extends Table with SupportsRead with SupportsWrite with TruncatableTable
  with SupportsMetadataColumns {

  /** `TRUNCATE TABLE t`: one overwrite commit carrying zero adds — every
    * active file is removed atomically, schema and history retained (the
    * pre-truncate state stays time-travelable, same as the programmatic
    * overwrite path). */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    delta.write(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], delta.metaSnapshot().schema), "overwrite")
    true
  }

  private[sources] lazy val relation: DeltaRelation =
    new DeltaRelation(SparkSession.active.sqlContext, delta, version, timestampMs, pinned)

  override def name(): String = identName

  override def schema(): StructType = relation.schema

  override def metadataColumns(): Array[MetadataColumn] = Array(GraftTable.Metadata)

  // NOT declared: AUTOMATIC_SCHEMA_EVOLUTION. Spark's
  // ResolveMergeIntoSchemaEvolution proposes UpdateColumnType to the
  // SOURCE's type whenever the two sides' types differ AT ALL (an int
  // literal source against a bigint column proposes narrowing bigint→int)
  // and fails the merge unless the catalog fully applies it — the wrong
  // contract for Delta semantics, where the table keeps the wider type.
  // `MERGE ... WITH SCHEMA EVOLUTION` is instead handled by
  // [[graft.plans.GraftDmlStrategy]], which widens additively (new source
  // columns only) and leaves existing column types alone.
  override def capabilities(): util.Set[TableCapability] = caps

  /** Report the table's identity partitioning so the analyzer accepts
    * static `INSERT OVERWRITE ... PARTITION (p = v)` specs and routes
    * dynamic-mode overwrites; also what `DESCRIBE` shows as partitioning. */
  override def partitioning(): Array[Transform] =
    relation.partitionColumns
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def properties(): util.Map[String, String] =
    delta.configuration.asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(relation, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(delta, info)
}

object GraftTable {

  // BATCH_WRITE rides along with V1_BATCH_WRITE only to satisfy
  // TableCapabilityCheck for dynamic partition overwrite (which has no V1
  // fallback and is planned by GraftDmlStrategy); actual write ROUTING is
  // by the Write object's type: GraftDmlStrategy plans a GraftDirectWrite
  // onto Spark's V2 write execs, a V1Write takes the V1 fallback execs.
  private val CatalogCapabilities: util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)

  /** Path tables: `save`, `readStream` and `writeStream` take the V1
    * interfaces (no BATCH_WRITE, MICRO_BATCH_READ, STREAMING_WRITE);
    * V1_BATCH_WRITE lets `INSERT` into a table `USING graft-delta` reach
    * [[GraftWriteBuilder]]. An unreadable path (no commits, a change-feed
    * read) declares nothing at all. */
  private def pathCapabilities(readable: Boolean): util.Set[TableCapability] =
    if (!readable) util.EnumSet.noneOf(classOf[TableCapability])
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  private val Metadata: MetadataColumn = new MetadataColumn {
    override def name(): String = GraftBatchScan.MetadataColumn
    override def dataType(): DataType = GraftBatchScan.MetadataType
    override def isNullable(): Boolean = false
  }

  /** The table `load(path)` reads, at the latest or a time-travel version. */
  private[sources] def forPath(delta: DeltaTable, version: Option[Long],
                               timestampMs: Option[Long], readable: Boolean): GraftTable =
    new GraftTable(delta, delta.path, version, timestampMs, None, pathCapabilities(readable))

  /** A read-only table over exactly `snap`'s files. */
  private[graft] def pinned(delta: DeltaTable, snap: Snapshot): GraftTable =
    new GraftTable(delta, delta.path, None, None, Some(snap),
      util.EnumSet.of(TableCapability.BATCH_READ))
}

private final class GraftScanBuilder(relation: DeltaRelation,
                                     options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var claimed: Array[Filter] = Array.empty
  private var claimedVersion: Option[Long] = None
  // Some(paths) = driver-memoized claim; None = distributed claim (kept
  // files re-derived by exact per-file eval — see DeltaRelation)
  private var claimedPaths: Option[Set[String]] = None
  private var required: StructType = relation.schema
  private var agg: Option[(StructType, Seq[Seq[Any]])] = None
  private var limit: Option[Int] = None
  private var topN: Option[DeltaRelation.TopN] = None

  /** LIMIT (no predicate — Spark only pushes past an empty filter set)
    * trims the planned file list to a survivor-covering prefix; partial:
    * the scan returns whole files' rows, Spark's Limit trims on top. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  /** ORDER BY col LIMIT k (single key, no predicate) trims the planned
    * file list to the zone-map cover of the top k rows — see
    * [[graft.delta.StatsAggregates.topNPrefix]] for the exactness rules
    * (it refuses with keep-all rather than ever under-covering). Partial:
    * Spark's Sort+Limit still runs on top of the kept files' rows. */
  override def pushTopN(orders: Array[connector.expressions.SortOrder], l: Int): Boolean = {
    import connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (orders.length != 1) return false
    val o = orders.head
    val name = o.expression match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames.head
      case _ => return false
    }
    val fld = relation.schema.fields.find(_.name == name).getOrElse(return false)
    topN = Some(DeltaRelation.TopN(fld,
      o.direction == SortDirection.ASCENDING,
      o.nullOrdering == NullOrdering.NULLS_FIRST, l))
    true
  }

  /** Accept every filter for file/row-group pruning; CLAIM the subset
    * that is EXACTLY decidable per-file on partition values (tri-state
    * evaluation over a version-pinned snapshot — see
    * [[graft.delta.PartitionFilters]]) and return only the rest as
    * post-scan residuals. Claiming removes per-row re-evaluation of
    * partition predicates AND unblocks metadata-only aggregate pushdown
    * under a WHERE clause (Spark only pushes aggregates past an empty
    * residual set). Everything unclaimed keeps the conservative contract:
    * best-effort pruning + Spark re-evaluates post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    claimed = Array.empty
    claimedVersion = None
    claimedPaths = None
    residual = filters
    val partCols = relation.partitionColumnSet
    if (partCols.nonEmpty &&
        filters.exists(graft.delta.PartitionFilters.shapeClaimable(_, partCols))) {
      val candidates = filters.filter(
        graft.delta.PartitionFilters.shapeClaimable(_, partCols))
      relation.claimState() match {
        case Some((v, snap)) =>
          val (ok, keep) = graft.delta.PartitionFilters.claim(
            snap.activeFiles, candidates.toIndexedSeq,
            snap.partitionColumns.toSet, relation.schema)
          if (ok.nonEmpty) {
            claimed = ok.toArray
            claimedVersion = Some(v)
            claimedPaths = Some(keep)
            residual = filters.filterNot(ok.contains)
          }
        case None =>
          // Above the distributed-snapshot threshold: claimability is
          // decided on executors (round 15); the kept set stays implicit
          // (exact per-file re-eval downstream) so nothing O(files) ever
          // lands on the driver.
          relation.distributedClaim(candidates.toIndexedSeq).foreach {
            case (v, ok) if ok.nonEmpty =>
              claimed = ok.toArray
              claimedVersion = Some(v)
              claimedPaths = None
              residual = filters.filterNot(ok.contains)
            case _ => ()
          }
      }
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- metadata-only aggregate pushdown ------------------------------------
  // `SELECT COUNT(*) / COUNT(c) / MIN(c) / MAX(c) FROM t` answered from the
  // log's per-file stats without scheduling a scan (StatsAggregates has the
  // exactness rules). Only COMPLETE pushdown is ever claimed, and only when
  // no filter survives (our filter pushdown is best-effort, so every
  // predicate stays post-scan and blocks aggregation pushdown — which is
  // correct: a filtered count needs the rows). The answer is computed AT
  // PLANNING (it IS the planning work — a metadata fold over the same file
  // list scan planning would enumerate), so push and support answers agree.

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    agg = answerFor(aggregation)
    agg.isDefined
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (agg.isEmpty) agg = answerFor(aggregation)
    agg.isDefined
  }

  private def answerFor(aggregation: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    import graft.delta.StatsAggregates
    // Only CLAIMED (exactly-enforced partition) filters may accompany a
    // metadata-answered aggregate; any residual predicate needs the rows.
    // (Spark only attempts aggregate pushdown when the residual set is
    // empty anyway — this is the defensive twin of that rule.)
    if (residual.nonEmpty) return None
    def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    // GROUP BY is answerable only over partition columns (one value per
    // file in the log) — StatsAggregates.bind enforces that.
    val groupCols: Seq[String] = aggregation.groupByExpressions.toSeq
      .map(e => fieldName(e).getOrElse(return None))
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => StatsAggregates.CountStar
      case c: Count if !c.isDistinct =>
        StatsAggregates.CountCol(fieldName(c.column).getOrElse(return None))
      case m: Min =>
        val n = fieldName(m.column).getOrElse(return None)
        val dt = relation.schema.fields.find(_.name == n).getOrElse(return None).dataType
        StatsAggregates.MinCol(n, dt)
      case m: Max =>
        val n = fieldName(m.column).getOrElse(return None)
        val dt = relation.schema.fields.find(_.name == n).getOrElse(return None).dataType
        StatsAggregates.MaxCol(n, dt)
      case _ => return None // Sum/Avg/UDAF: not derivable from stats
    }
    // Output contract: group-by columns first, then aggregates, in order.
    val groupFields = groupCols.map(n =>
      relation.schema.fields.find(_.name == n).getOrElse(return None))
    val aggFields = specs.zipWithIndex.map {
      case (StatsAggregates.CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (StatsAggregates.CountCol(_), i) => StructField(s"agg_$i", LongType, nullable = false)
      case (StatsAggregates.MinCol(_, dt), i) => StructField(s"agg_$i", dt, nullable = true)
      case (StatsAggregates.MaxCol(_, dt), i) => StructField(s"agg_$i", dt, nullable = true)
    }
    val schema = StructType(groupFields ++ aggFields)
    relation.answerAggregates(groupCols, specs, claimedVersion, claimed, claimedPaths)
      .map(rows => (schema, rows))
  }

  override def build(): Scan = agg match {
    case Some((aggSchema, values)) => new GraftAggScan(aggSchema, values)
    case None => new GraftBatchScan(relation, required, residual, claimed,
      claimedPaths, claimedVersion, limit, topN, options)
  }
}

/** Scan carrying a metadata-answered aggregation result: one row for the
  * global case, one row per surviving partition group for GROUP BY. */
private final class GraftAggScan(aggSchema: StructType, rows: Seq[Seq[Any]])
  extends V1Scan {

  override def readSchema(): StructType = aggSchema

  override def description(): String =
    s"GraftAggScan PushedAggregates (metadata-only): ${aggSchema.fieldNames.mkString(", ")}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] =
        context.sparkContext.parallelize(rows.map(Row.fromSeq), 1)
    }.asInstanceOf[T]
}

/**
 * The catalog's write modes, resolved by Spark's `V2Writes` rule BEFORE
 * planning (so analysis-time errors — an untranslatable REPLACE WHERE
 * expression — surface as analysis errors, Spark's own contract):
 *
 *  - `INSERT INTO t`                          → append commit
 *  - `INSERT OVERWRITE t` (static, no spec)   → truncate-overwrite commit
 *  - `INSERT OVERWRITE t PARTITION (p=v)`     → [[DeltaTable.replaceWhere]]
 *    (Spark lowers the static spec to an overwrite-by-filter `p = v`)
 *  - `INSERT INTO t REPLACE WHERE cond`       → [[DeltaTable.replaceWhere]]
 *  - dynamic-mode `INSERT OVERWRITE` /
 *    `df.writeTo(t).overwritePartitions()`    → one-commit dynamic
 *    partition overwrite (planned by [[graft.plans.GraftDmlStrategy]] —
 *    Spark has no V1 fallback exec for it; declaring
 *    [[SupportsDynamicOverwrite]] here is what lets the plan reach the
 *    strategy instead of dying in `V2Writes`).
 *
 * Every mode is ONE atomic log commit; concurrent writers race through the
 * same OCC the programmatic API uses.
 */
private final class GraftWriteBuilder(delta: DeltaTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private sealed trait Mode
  private case object Append extends Mode
  private case object Truncate extends Mode
  private case object Dynamic extends Mode
  private final case class ReplaceWhere(cond: org.apache.spark.sql.Column)
    extends Mode

  private var mode: Mode = Append

  /** INSERT OVERWRITE arrives as truncate + append (V1 fallback path). */
  override def truncate(): WriteBuilder = { mode = Truncate; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val effective = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    mode =
      if (effective.isEmpty) Truncate
      else ReplaceWhere(effective.map { f =>
        DeltaRelation.toColumn(f).getOrElse(throw new ValidationException(
          s"REPLACE WHERE condition not supported: $f"))
      }.reduce(_ && _))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = Dynamic; this
  }

  /** Writes plan as a DSv2 [[graft.streaming.GraftDirectWrite]]: Spark's
    * own write execs run the engine's task writers, which land parquet
    * under final names in the table layout, and the driver makes one
    * metadata commit. Shapes that write cannot take — identity tables,
    * whose batch values come from the two-phase allocator in
    * [[DeltaTable.write]], and queries the plan refuses (type casts,
    * unknown columns) — take the [[V1Write]] below into the table API,
    * which runs the same task writers. */
  private def directWrite(): Option[Write] =
    if (graft.delta.IdentityColumns.hasAny(delta.metaSnapshot().schema)) None
    else {
      val m = mode match {
        case Append => graft.streaming.GraftDirectWrite.Append
        case Truncate => graft.streaming.GraftDirectWrite.Truncate
        case ReplaceWhere(cond) => graft.streaming.GraftDirectWrite.ReplaceWhere(cond)
        // dynamic mode on an UNPARTITIONED table degrades to a full
        // overwrite (Spark's own semantics) — same shape as Truncate
        case Dynamic =>
          if (delta.metaSnapshot().partitionColumns.isEmpty)
            graft.streaming.GraftDirectWrite.Truncate
          else graft.streaming.GraftDirectWrite.DynamicOverwrite
      }
      try Some(new graft.streaming.GraftDirectWrite(SparkSession.active,
        delta.path, info.queryId(), info.schema(), m))
      catch { case _: ValidationException => None }
    }

  override def build(): Write = directWrite().getOrElse(new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data, overwriteFlag) => mode match {
        case ReplaceWhere(cond) => delta.replaceWhere(data, cond); ()
        case Dynamic => delta.overwritePartitionsDynamic(data); ()
        case Truncate => delta.write(data, "overwrite"); ()
        case Append => delta.write(data, if (overwriteFlag) "overwrite" else "append"); ()
      }

    /** `df.writeStream.toTable(...)` — Append appends per epoch, Complete
      * (arriving as truncate()) overwrite-commits per epoch; exactly-once
      * via the per-epoch Txn action. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      mode match {
        case Append | Truncate =>
          new graft.streaming.GraftDirectWrite(SparkSession.active,
            delta.path, info.queryId(), info.schema(), truncate = mode == Truncate)
        case other => throw new ValidationException(
          s"streaming writes support Append/Complete modes only, got $other")
      }
  })
}
