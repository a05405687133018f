package graft.sql

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.GraftClient
import graft.tx.ColStats

/** DataSourceV2 `TableCatalog` over a graft table store — the SQL surface
  * the reference never had (its whole API is the Go client,
  * deltalakeclient/writes.go:9-30). Register per root:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.g", "graft.sql.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.g.root", "/path/to/store")
  * spark.sql("CREATE TABLE g.t (k BIGINT, v STRING)")
  * spark.sql("INSERT INTO g.t VALUES (1, 'a')")
  * spark.sql("DELETE FROM g.t WHERE k = 1")        // SupportsDelete
  * spark.sql("UPDATE g.t SET v = 'b' WHERE k = 1") // GraftSparkExtensions
  * spark.sql("MERGE INTO g.t ...")                 // GraftSparkExtensions
  * }}}
  *
  * Every operation delegates to [[GraftClient]], so SQL and Scala callers
  * share one commit protocol, one conflict model, one file-skipping stack.
  * Reads are a NATIVE DSv2 `Batch` scan ([[GraftBatchScan]]): pushed
  * filters reach the client's stats/bloom pruning AND the parquet scan's
  * own pushdown, logical statistics come from the log
  * (SupportsReportStatistics — static broadcast planning works), dynamic
  * partition pruning reaches the point-set file-skipping tiers
  * (SupportsRuntimeV2Filtering), and Spark re-applies every filter
  * post-scan (conservative double-evaluation; filters are idempotent).
  * DDL is metadata-only (O(1) log actions, no data rewrite):
  * CREATE/DROP/RENAME table, ADD/RENAME/DROP column.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def withClient[A](f: GraftClient => A): A =
    f(new GraftClient(SparkSession.active, root))

  /** Flat store: the only namespaces are the root `[]` and `[default]`. */
  private def namespaceOk(ns: Array[String]): Boolean =
    ns.isEmpty || ns.sameElements(Array("default"))

  private def tableName(ident: Identifier): String = {
    if (!namespaceOk(ident.namespace()))
      throw new NoSuchTableException(ident)
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceOk(namespace)) throw new NoSuchNamespaceException(namespace)
    withClient { c =>
      c.newTx()
      try c.tables.toArray.sorted.map(t => Identifier.of(namespace, t))
      finally c.rollback()
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceOk(ident.namespace()) && withClient { c =>
      c.newTx()
      try c.tables.contains(ident.name()) finally c.rollback()
    }

  override def loadTable(ident: Identifier): Table =
    GraftTable.load(root, tableName(ident), None)
      .getOrElse(throw new NoSuchTableException(ident))

  /** `SELECT … FROM cat.t VERSION AS OF v` — same convention as the
    * connector's `versionAsOf` option: v is the log version (state after
    * commits with id < v). The table is read-only (writes throw).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = tableName(ident)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft VERSION AS OF takes a log version (long), got '$version'")
      }
    loadAsOf(ident, t, v)
  }

  /** `SELECT … FROM cat.t TIMESTAMP AS OF ts` — Spark hands micros since
    * epoch; resolved to the greatest version whose commit wall-clock is
    * at-or-before it via the log's per-commit `ts` field.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tableName(ident)
    loadAsOf(ident, t, withClient(_.versionAt(timestamp / 1000L)))
  }

  private def loadAsOf(ident: Identifier, t: String, v: Long): Table =
    try GraftTable.load(root, t, Some(v)).get
    catch {
      case _: IllegalArgumentException => throw new NoSuchTableException(ident)
    }

  /** `PARTITIONED BY (a, b, ...)` — identity transforms only: each
    * partition column is marked in its field METADATA with its ordinal
    * (the same log-persisted channel column mapping uses), and every
    * INSERT then routes through insertPartitioned: one self-contained
    * object per VALUE COMBINATION, stats single-valued on every
    * partition column, pruned by the ordinary stats tier (a trailing
    * column alone prunes too — no Hive leading-prefix restriction).
    * Bucket/temporal transforms are not supported. Shared by the plain
    * and the staged (atomic CTAS/RTAS) create paths.
    */
  /** `CREATE TABLE … CLUSTER BY (a, b)` (Spark 4 clusterBy transform) →
    * (non-cluster transforms, declared clustering columns). The columns
    * persist as `graft.cluster.columns` (+ the auto-maintenance default
    * `graft.autoCluster.minObjects`, user-overridable), so every write
    * path folds incremental clustering into its own tipping commit —
    * the declared (liquid) clustering lifecycle.
    */
  private def splitClusterBy(schema: StructType,
      partitions: Array[Transform])
      : (Array[Transform], Option[Seq[String]]) = {
    val (cb, rest) = partitions.partition(t =>
      org.apache.spark.sql.graftshim.SqlShim.clusterByColumns(t).isDefined)
    cb.toSeq match {
      case Nil => (partitions, None)
      case Seq(one) =>
        val cols =
          org.apache.spark.sql.graftshim.SqlShim.clusterByColumns(one).get
        require(cols.nonEmpty, "CLUSTER BY needs at least one column")
        // resolve case-insensitively to the schema's canonical spelling
        // (Spark resolves identifiers case-insensitively: CLUSTER BY (K)
        // over column k must work, and the stored property must carry
        // the canonical name so every later consumer agrees)
        val resolved = cols.map { c =>
          val canon = schema.fieldNames.find(_ == c).orElse {
            val hits = schema.fieldNames.filter(_.equalsIgnoreCase(c))
            if (hits.length == 1) Some(hits.head) else None
          }.getOrElse(throw new IllegalArgumentException(
            s"no such clustering column: $c"))
          require(!canon.contains(",") && !canon.contains(":"),
            s"clustering column names may not contain ',' or ':': $canon")
          canon
        }
        (rest, Some(resolved))
      case _ => throw new IllegalArgumentException(
        "at most one CLUSTER BY clause")
    }
  }

  /** The declared-clustering table properties for `cols` — the
    * threshold default makes CLUSTER BY self-maintaining out of the
    * box; an explicit TBLPROPERTIES value wins.
    */
  private def clusterProps(cols: Seq[String],
      user: Map[String, String]): Map[String, String] =
    Map("graft.cluster.columns" -> cols.mkString(",")) ++
      (if (user.contains("graft.autoCluster.minObjects")) Map.empty
       else Map("graft.autoCluster.minObjects" -> "16"))

  private def partitionedSchema(schema: StructType,
      partitions: Array[Transform]): StructType =
    partitions.toSeq match {
      case Nil => schema
      case ts if ts.forall(t => t.name == "identity" &&
          t.references.length == 1 &&
          t.references()(0).fieldNames().length == 1) =>
        GraftClient.withPartitionSpec(schema,
          ts.map(_.references()(0).fieldNames()(0)))
      case _ =>
        throw new UnsupportedOperationException(
          "graft tables support PARTITIONED BY (identity columns) only; " +
            "use clusterBy/z_order maintenance for other layouts")
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (parts, clusterCols) = splitClusterBy(schema, partitions)
    val schemaWithPart = partitionedSchema(schema, parts)
    val t = tableName(ident)
    withClient { c =>
      c.newTx()
      if (c.tables.contains(t)) {
        c.rollback()
        throw new TableAlreadyExistsException(ident)
      }
      c.createTable(t, schemaWithPart)
      // CREATE TABLE … TBLPROPERTIES: persist user properties with the
      // create commit; Spark-managed bookkeeping keys stay out of the log
      val user = properties.asScala.filterNot { case (k, _) =>
        GraftCatalog.ReservedProps(k) || k.startsWith("option.")
      }.toMap
      val all = user ++
        clusterCols.map(clusterProps(_, user)).getOrElse(Map.empty)
      if (all.nonEmpty) c.setTableProperties(t, all)
      c.commitTxRetrying()
    }
    loadTable(ident)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  // The staged table holds ONE open client transaction: CREATE (and for
  // REPLACE, the retirement of the old incarnation) is staged together
  // with the data objects the query writes, and commitStagedChanges()
  // publishes everything as ONE log commit. Spark's non-atomic fallback
  // (a create commit, then a separate append commit) leaves an EMPTY
  // table behind when the query fails mid-write; here a failure aborts
  // the tx and eagerly reclaims the objects it wrote
  // (GraftClient.abortAndClean), so the store is exactly as before.
  // REPLACE keeps history: the old incarnation's versions stay
  // time-travelable below the one replace commit.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      replace = false, orCreate = false, op = "CREATE TABLE AS SELECT")

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      replace = true, orCreate = false, op = "REPLACE TABLE AS SELECT")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      replace = true, orCreate = true, op = "REPLACE TABLE AS SELECT")

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean, op: String): StagedTable = {
    val t = tableName(ident)
    val (parts, clusterCols) = splitClusterBy(schema, partitions)
    val schemaWithPart = partitionedSchema(schema, parts)
    val user = properties.asScala.filterNot { case (k, _) =>
      GraftCatalog.ReservedProps(k) || k.startsWith("option.")
    }.toMap
    val all = user ++
      clusterCols.map(clusterProps(_, user)).getOrElse(Map.empty)
    val c = new GraftClient(SparkSession.active, root)
    c.newTx()
    try {
      c.tagOperation(op)
      val exists = c.tables.contains(t)
      if (!replace && exists) throw new TableAlreadyExistsException(ident)
      if (replace && !exists && !orCreate) throw new NoSuchTableException(ident)
      if (replace && exists) c.dropTable(t)
      c.createTable(t, schemaWithPart)
      if (all.nonEmpty) c.setTableProperties(t, all)
    } catch { case e: Throwable => c.rollback(); throw e }
    new GraftStagedTable(root, t, schemaWithPart, c)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val t = tableName(ident)
    withClient { c =>
      c.newTx()
      if (!c.tables.contains(t)) {
        c.rollback()
        throw new NoSuchTableException(ident)
      }
      changes.foreach {
        // multi-part field names are IN-STRUCT changes: the client's
        // dotted-path surface handles add (metadata-only, old rows read
        // null) and type widening; drop/rename below the top level
        // refuse inside the client (nested fields are add-only)
        case add: TableChange.AddColumn =>
          c.addColumn(t, org.apache.spark.sql.types.StructField(
            add.fieldNames().mkString("."), add.dataType(),
            add.isNullable))
        case ren: TableChange.RenameColumn =>
          c.renameColumn(t, ren.fieldNames().mkString("."), ren.newName())
        // ALTER TABLE … ALTER COLUMN c TYPE t — metadata-only type
        // widening (narrowing refuses inside widenColumnType)
        case upd: TableChange.UpdateColumnType =>
          c.widenColumnType(t, upd.fieldNames().mkString("."),
            upd.newDataType())
        case del: TableChange.DeleteColumn =>
          c.dropColumn(t, del.fieldNames().mkString("."))
        // ALTER TABLE … ADD CONSTRAINT chk CHECK (expr) — Spark 4.1's
        // constraint DDL, routed into the client's validate-once-then
        // -enforce-in-the-write CHECK machinery
        case add: TableChange.AddConstraint =>
          add.constraint() match {
            case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
              c.addConstraint(t, ck.name(), ck.predicateSql())
            case other => throw new UnsupportedOperationException(
              s"only CHECK constraints are supported, got: ${other.toDDL}")
          }
        case drop: TableChange.DropConstraint =>
          if (!drop.ifExists() || c.constraintsOf(t).contains(drop.name()))
            c.dropConstraint(t, drop.name())
        // ALTER TABLE … SET/UNSET TBLPROPERTIES — Spark bookkeeping keys
        // are skipped here exactly as on the CREATE path, so a key is
        // never reserved on one surface but durable on the other
        case set: TableChange.SetProperty
            if !GraftCatalog.ReservedProps(set.property()) &&
              !set.property().startsWith("option.") =>
          c.setTableProperties(t, Map(set.property() -> set.value()))
        case _: TableChange.SetProperty => () // reserved: ignore
        case rm: TableChange.RemoveProperty =>
          c.unsetTableProperties(t, Seq(rm.property()))
        // ALTER TABLE … CLUSTER BY (a, b) / CLUSTER BY NONE — re-declare
        // or drop the liquid-clustering declaration; the next tipping
        // write re-baselines the grid (maybeCluster requires the stored
        // grid to match the declared columns)
        case cb: TableChange.ClusterBy =>
          val cols = cb.clusteringColumns().toSeq.map { r =>
            require(r.fieldNames().length == 1,
              s"clustering columns must be top-level: ${r.describe()}")
            r.fieldNames()(0)
          }
          if (cols.isEmpty)
            c.unsetTableProperties(t,
              Seq("graft.cluster.columns", "graft.autoCluster.minObjects"))
          else {
            cols.foreach(cn =>
              require(!cn.contains(",") && !cn.contains(":"),
                s"clustering column names may not contain ',' or ':': $cn"))
            c.setTableProperties(t, clusterProps(cols,
              c.tablePropertiesOf(t)))
          }
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change: $other")
      }
      c.commitTxRetrying()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    namespaceOk(ident.namespace()) && withClient { c =>
      c.newTx()
      if (!c.tables.contains(ident.name())) { c.rollback(); false }
      else {
        c.dropTable(ident.name())
        c.commitTxRetrying()
        true
      }
    }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = tableName(oldIdent)
    val to = tableName(newIdent)
    withClient { c =>
      c.newTx()
      if (!c.tables.contains(from)) {
        c.rollback()
        throw new NoSuchTableException(oldIdent)
      }
      if (c.tables.contains(to)) {
        c.rollback()
        throw new TableAlreadyExistsException(newIdent)
      }
      // metadata-only: the clone re-points the SAME data objects under the
      // new name, then the old name is dropped — no data file is touched
      c.shallowClone(from, to)
      c.dropTable(from)
      c.commitTxRetrying()
    }
  }

  // ---- ProcedureCatalog (CALL cat.system.<proc>(...)) ----
  private def procNamespaceOk(ns: Array[String]): Boolean =
    namespaceOk(ns) || ns.sameElements(Array("system"))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!procNamespaceOk(ident.namespace()))
      throw new RuntimeException(
        s"no such procedure namespace: ${ident.namespace().mkString(".")}")
    GraftProcedures.load(ident.name(), root).getOrElse(
      throw new RuntimeException(
        s"no such procedure: ${ident.name()} " +
          s"(available: ${GraftProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (!procNamespaceOk(namespace)) throw new NoSuchNamespaceException(namespace)
    GraftProcedures.names.map(Identifier.of(namespace, _)).toArray
  }

  // ---- SupportsNamespaces (flat) ----
  override def listNamespaces(): Array[Array[String]] =
    Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespaceOk(namespace)
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceOk(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft namespaces are fixed")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces are fixed")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("graft namespaces are fixed")
}

object GraftCatalog {
  /** Number of data objects the most recent [[GraftBatchScan]] opened
    * after stats/bloom/runtime pruning (-1 for time-traveled reads, which
    * scan their full historical live set) — a test observation point for
    * every batch read, SQL and `format("graft")` alike.
    */
  @volatile private[graft] var lastScanObjectCount: Int = -1

  /** TEST observability: whether the last native-scan pipeline served
    * the COLUMNAR fast path (pure parquet lineage → ColumnarBatches)
    * or fell back to the row pipeline.
    */
  @volatile private[graft] var lastScanColumnar: Boolean = false

  /** Spark-managed bookkeeping keys that must not leak into the log as
    * user TBLPROPERTIES.
    */
  private[sql] val ReservedProps: Set[String] =
    Set("provider", "location", "owner", "external", "comment",
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT)
}

object GraftTable {
  /** The table `name` under `root` as the DSv2 planner sees it — the one
    * loader behind the catalog's three `loadTable` overloads and
    * `format("graft")` batch reads. Latest: schema and properties from
    * ONE snapshot (properties() is then a field read per call, not a
    * fresh log replay — DESCRIBE and every plan touch it), None when the
    * snapshot has no such table. `asOf = Some(v)`: the schema at log
    * version v, read-only; a table absent at v throws the client's
    * `no such table at v…` error.
    */
  def load(root: String, name: String,
      asOf: Option[Long]): Option[GraftTable] = {
    val c = new GraftClient(SparkSession.active, root)
    asOf match {
      case Some(v) =>
        Some(new GraftTable(root, name, c.schemaAsOf(name, v), asOf))
      case None =>
        c.newTx()
        try
          if (!c.tables.contains(name)) None
          else Some(new GraftTable(root, name, c.schemaOf(name),
            tableProps = c.tablePropertiesOf(name)))
        finally c.rollback()
    }
  }
}

/** A graft table as seen by Spark's DSv2 planner. Reads and the DELETE
  * path are served here; INSERT rides a [[V1Write]]; UPDATE/MERGE are
  * rewritten by [[GraftSparkExtensions]] into commands that call back
  * into [[GraftClient]].
  *
  * `asOf` pins the table to a historical snapshot (VERSION AS OF /
  * TIMESTAMP AS OF resolution) — reads replay that version's live set,
  * and every mutation path refuses.
  */
final class GraftTable(val root: String, val tableName: String,
    tableSchema: StructType, val asOf: Option[Long] = None,
    tableProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsPartitionManagement
    with TruncatableTable {

  /** `TRUNCATE TABLE` — one metadata-only commit retiring every live
    * object (time travel still sees them until vacuum).
    */
  override def truncateTable(): Boolean = withClient { c =>
    require(asOf.isEmpty,
      s"cannot truncate $tableName VERSION AS OF ${asOf.get}: " +
        "time-traveled tables are read-only")
    c.newTx()
    c.truncate(tableName)
    c.commitTxRetrying()
    true
  }

  private[sql] def withClient[A](f: GraftClient => A): A =
    f(new GraftClient(SparkSession.active, root))

  override def name(): String = tableName
  override def schema(): StructType = tableSchema

  /** Value identity, so the relation a `format("graft")` write re-caches
    * ([[graft.sources.GraftSource]]) matches DataFrames cached over an
    * earlier load of the same table.
    */
  override def equals(other: Any): Boolean = other match {
    case o: GraftTable =>
      root == o.root && tableName == o.tableName && asOf == o.asOf
    case _ => false
  }
  override def hashCode(): Int = (root, tableName, asOf).hashCode()

  /** Durable TBLPROPERTIES from the log, captured at loadTable time
    * (surfaced in DESCRIBE TABLE EXTENDED and SHOW TBLPROPERTIES) — a
    * field read, not a per-call log replay.
    */
  override def properties(): util.Map[String, String] = tableProps.asJava

  /** The DDL-declared partition columns in spec order (field-metadata
    * markers set by `CREATE TABLE … PARTITIONED BY`); empty when
    * unpartitioned.
    */
  private[sql] def partitionCols: Seq[String] =
    GraftClient.partitionSpecOf(tableSchema)

  override def partitioning(): Array[Transform] = {
    val parts = partitionCols.toArray.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
    // declared (liquid) clustering rides the same surface, so DESCRIBE
    // and SHOW CREATE TABLE round-trip CLUSTER BY
    val cluster = tableProps.get("graft.cluster.columns")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
      .map(cols =>
        org.apache.spark.sql.graftshim.SqlShim.clusterByTransform(cols))
    parts ++ cluster
  }

  // ---- SupportsPartitionManagement (SHOW PARTITIONS) ----
  // Partitions are DEFINED BY DATA (one object per value), so listing is
  // a metadata fold over object stats when every object is single-valued
  // on the partition column, and a distinct scan otherwise; explicit
  // partition DDL has nothing to manage and refuses.
  override def partitionSchema(): StructType =
    StructType(partitionCols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        tableSchema(tableSchema.fieldIndex(c)).dataType)))

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionCols
    if (ps.isEmpty) return Array.empty
    val dts = ps.map(c => tableSchema(tableSchema.fieldIndex(c)).dataType)
    // distinct combinations: metadata fold when single-column and every
    // object is single-valued; otherwise one distinct scan (still the
    // partition columns only — pruned to those columns at the reader)
    val combos: Seq[Seq[Any]] = withClient { c =>
      (if (ps.length == 1)
        c.metadataAggregateGrouped(tableName, asOf, ps.head, Nil)
      else None) match {
        case Some(rows) => rows.map(r => Seq(r.head))
        case None =>
          c.scanAsOf(tableName, asOf.getOrElse(c.latestVersion))
            .select(ps.map(col): _*).distinct().collect()
            .map(_.toSeq).toSeq
      }
    }
    val toCatalyst = dts.map(dt =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(dt))
    val all = combos.map(vs =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        vs.zip(toCatalyst).map { case (v, f) => f(v) }))
    // partial-spec filter (SHOW PARTITIONS t PARTITION (a = v, ...)):
    // `names` may be any subset of the partition columns
    if (names.isEmpty) all.toArray
    else if (names.forall(ps.contains)) {
      val sel = names.toSeq.map(n => ps.indexOf(n))
      all.filter { r =>
        sel.zipWithIndex.forall { case (pi, ni) =>
          r.get(pi, dts(pi)) == ident.get(ni, dts(pi))
        }
      }.toArray
    } else Array.empty
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions are defined by data; INSERT creates them")
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "graft partitions are defined by data; DELETE removes them")
  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no metadata")
  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] =
    util.Collections.emptyMap()

  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION enables `MERGE WITH SCHEMA EVOLUTION`:
    // Spark's analyzer (ResolveMergeIntoSchemaEvolution) computes the
    // source-only columns, widens the table through THIS catalog's
    // alterTable (a metadata-only addColumn commit — type conflicts
    // refuse there), reloads the relation, and the merge then runs
    // against the widened schema. Note the SQL shape is TWO commits
    // (analyzer widening, then the merge) unlike the client API's
    // single-commit merge(evolveSchema = true); a crash between them
    // leaves only a nullable added column, which is benign.
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The table's CHECK constraints, surfaced to Spark (4.1 constraint
    * API) as validated+enforced — Spark then also validates DSv2 writes
    * against them, on top of the client's own write-time enforcement.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    withClient { c =>
      c.newTx()
      try c.constraintsOf(tableName).toSeq.sortBy(_._1).map { case (n, e) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(e)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray
      finally c.rollback()
    }

  // ---- read path ----
  /** Time-travel options need no handling here: the table arrives with
    * `asOf` already pinned. SQL `VERSION AS OF` / `TIMESTAMP AS OF`
    * resolve through `GraftCatalog.loadTable(ident, version/timestamp)`;
    * `format("graft")`'s `versionAsOf` / `timestampAsOf` options through
    * [[graft.sources.GraftSource.getTable]]. Both end in
    * [[GraftTable.load]].
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, asOf)

  // ---- insert path ----
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"cannot write to $tableName VERSION AS OF ${asOf.get}: " +
        "time-traveled tables are read-only")
    new GraftWriteBuilder(this)
  }

  // ---- DELETE FROM path ----
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterTranslation.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = withClient { c =>
    require(asOf.isEmpty,
      s"cannot delete from $tableName VERSION AS OF ${asOf.get}: " +
        "time-traveled tables are read-only")
    c.newTx()
    if (filters.isEmpty) c.truncate(tableName) // unconditional DELETE
    else {
      val pred = filters.flatMap(FilterTranslation.toColumn)
        .reduceOption(_ && _).getOrElse(lit(true))
      c.deleteWhere(tableName, pred)
    }
    c.commitTxRetrying()
  }
}

/** Column pruning + filter pushdown, landing in the native
  * [[GraftBatchScan]] whose planning reads the latest committed snapshot
  * through the client (so stats/bloom file skipping, DV masking, and
  * parquet pushdown all engage). All filters are also returned to Spark
  * for post-scan re-evaluation — conservative and always correct.
  *
  * Also [[SupportsPushDownAggregates]] (complete pushdown only):
  * whole-table `COUNT(*)` / `MIN` / `MAX` are answered straight from the
  * transaction log via [[GraftClient.metadataAggregate]] — zero data
  * objects opened. Catalyst only attempts aggregate pushdown when the
  * plan has NO residual filters above the scan, and [[pushFilters]]
  * returns every filter as residual, so any WHERE clause automatically
  * falls back to the scanning path; the log answers exactly the
  * unfiltered shapes it can answer exactly.
  */
final class GraftScanBuilder(table: GraftTable, asOf: Option[Long])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Seq[Row])] = None
  private var aggMemo: Option[(Aggregation, Option[(StructType, Seq[Row])])] =
    None

  /** Top-level column pruning only: Spark may hand a NESTED-pruned
    * schema (`meta` narrowed to the referenced leaves), but this scan
    * returns whole struct values per selected top-level column — so
    * each pruned field is widened back to the table's full column type.
    * Reporting the narrowed struct while producing full rows would make
    * the row re-encoder read fields at wrong ordinals (a Long where the
    * pruned schema says String). Nested I/O pruning still happens one
    * layer down, in the parquet reader, when the residual plan projects
    * the leaves.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val full = table.schema()
    required = StructType(requiredSchema.fields.map { f =>
      if (full.fieldNames.contains(f.name)) full(full.fieldIndex(f.name))
      else f
    })
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterTranslation.toColumn(f).isDefined)
    filters // Spark re-applies everything post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ---- metadata-only aggregate pushdown ----
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metaAnswer(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggAnswer = metaAnswer(agg)
    aggAnswer.isDefined
  }

  /** supportCompletePushDown and pushAggregation both need the answer;
    * memoize per Aggregation instance so the log is read once.
    */
  private def metaAnswer(agg: Aggregation): Option[(StructType, Seq[Row])] =
    aggMemo match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = computeMetaAnswer(agg)
        aggMemo = Some((agg, r))
        r
    }

  private def computeMetaAnswer(
      agg: Aggregation): Option[(StructType, Seq[Row])] = {
    // pushed filters can't actually co-occur with aggregate pushdown
    // (they stay residual in the plan, which blocks the rule) — belt
    // and braces
    if (pushed.nonEmpty) return None
    val schema = table.schema()
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames().length == 1 &&
          schema.fieldNames.contains(n.fieldNames()(0)) =>
        Some(n.fieldNames()(0))
      case _ => None
    }
    val specs = agg.aggregateExpressions().map {
      case _: CountStar =>
        Some(("count(*)",
          GraftClient.MetaCount: GraftClient.MetaAgg,
          org.apache.spark.sql.types.LongType
            : org.apache.spark.sql.types.DataType,
          false))
      case cnt: Count if !cnt.isDistinct => colOf(cnt.column()).map(c =>
        (s"count($c)", GraftClient.MetaCountCol(c): GraftClient.MetaAgg,
          org.apache.spark.sql.types.LongType
            : org.apache.spark.sql.types.DataType,
          false))
      case m: Min => colOf(m.column()).map(c =>
        (s"min($c)", GraftClient.MetaMin(c): GraftClient.MetaAgg,
          schema(c).dataType, true))
      case m: Max => colOf(m.column()).map(c =>
        (s"max($c)", GraftClient.MetaMax(c): GraftClient.MetaAgg,
          schema(c).dataType, true))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    val sp = specs.map(_.get)
    val aggFields = sp.map(s =>
      org.apache.spark.sql.types.StructField(s._1, s._3, nullable = s._4))

    agg.groupByExpressions().toSeq match {
      case Nil =>
        table.withClient(
            _.metadataAggregate(table.tableName, asOf, sp.map(_._2).toSeq))
          .map(values =>
            (StructType(aggFields), Seq(Row.fromSeq(values))))
      case Seq(gexpr) =>
        // single-column GROUP BY: answerable when every live object is
        // single-valued on the group column (the partitioned-write
        // layout) — per-partition rollups from object metadata alone.
        // Complete-pushdown scan output = group column, then agg columns.
        colOf(gexpr).flatMap { g =>
          table.withClient(_.metadataAggregateGrouped(
              table.tableName, asOf, g, sp.map(_._2).toSeq))
            .map { rows =>
              val st = StructType(
                org.apache.spark.sql.types.StructField(g,
                  schema(g).dataType, nullable = true) +: aggFields)
              (st, rows.map(Row.fromSeq))
            }
        }
      case _ => None
    }
  }

  /** Native DSv2 scans (round 15 — previously a V1Scan bridge,
    * which structurally hid logical statistics and runtime filtering
    * behind Spark's `V1ScanWrapper`): the log-answered aggregate ships
    * as a [[GraftRowsScan]], everything else as a [[GraftBatchScan]]
    * with [[org.apache.spark.sql.connector.read.SupportsReportStatistics]]
    * + [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
    * — the pushed filters reach the log's file-skipping tiers (min/max
    * stats + blooms + per-value IN lists), dynamic partition pruning
    * reaches the point-set tiers, and pre-AQE planning sees real table
    * sizes.
    */
  override def build(): Scan = aggAnswer match {
    case Some((aggSchema, answerRows)) =>
      new GraftRowsScan(aggSchema, answerRows)
    case None => new GraftBatchScan(table, asOf, required, pushed)
  }
}

/** INSERT INTO (append), INSERT OVERWRITE (truncate + append), and
  * filter-scoped overwrite (`INSERT OVERWRITE … PARTITION (p = v)` →
  * OverwriteByExpression) — each as ONE client transaction. The scoped
  * form is delete-then-append: with the partition-delete fast path, a
  * whole-partition overwrite retires the old objects metadata-only and
  * writes just the new data.
  */
final class GraftWriteBuilder(table: GraftTable) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite {
  private var truncateFirst = false
  private var overwriteFilters: Array[Filter] = Array.empty

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterTranslation.toColumn(f).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteFilters = filters
    this
  }

  // Write-side distribution note: `RequiresDistributionAndOrdering` is
  // NOT implemented here because Spark's V1-fallback path
  // (AppendDataExecV1) re-plans the ORIGINAL analyzed query and drops
  // the prepared distribution — measured: an 8-task insert stayed
  // 8 part-files per object with the interface declared, strict or
  // not — and on any Spark that did honor it the exchange would
  // duplicate the authoritative one inside
  // GraftClient.insertPartitioned (the "WRITE-SIDE CLUSTERING"
  // repartition), where every insert path funnels. If this builder ever
  // moves to a true BatchWrite, declare the distribution there and drop
  // the client-side repartition.
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          table.withClient { c =>
            c.newTx()
            if (truncateFirst || overwrite) c.truncate(table.tableName)
            else if (overwriteFilters.nonEmpty) {
              val pred = overwriteFilters
                .flatMap(FilterTranslation.toColumn)
                .reduceOption(_ && _).getOrElse(lit(true))
              c.deleteWhere(table.tableName, pred)
            }
            table.partitionCols match {
              case Seq() => c.insert(table.tableName, data)
              case ps => c.insertPartitioned(table.tableName, data, ps)
            }
            // declared-clustering hook: the tipping INSERT folds the
            // incremental re-layout into its own commit
            c.maybeCluster(table.tableName)
            c.commitTxRetrying()
          }
      }
  }
}

/** The in-flight table of an atomic CTAS/RTAS: its write builder inserts
  * into the ONE client transaction the catalog's `stage*` opened (where
  * the CREATE — and for REPLACE, the old incarnation's retirement — is
  * already staged), `commitStagedChanges()` publishes it all as one log
  * commit, and `abortStagedChanges()` rolls back AND eagerly reclaims the
  * data objects the query already wrote. Partition routing matches the
  * plain write path: a `PARTITIONED BY` CTAS clusters by the partition
  * values and writes one self-contained object per value combination.
  */
final class GraftStagedTable(root: String, name0: String,
    tableSchema: StructType, client: GraftClient)
    extends StagedTable with SupportsWrite {
  // schema-derived partition metadata is identical to the committed
  // table's, so a plain GraftTable view answers partitioning questions
  private val view = new GraftTable(root, name0, tableSchema)

  override def name(): String = name0
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = view.partitioning()
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // a staged table is empty by construction; truncate-for-overwrite
      // has nothing to remove
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              view.partitionCols match {
                case Seq() => client.insert(name0, data)
                case ps => client.insertPartitioned(name0, data, ps)
              }
          }
      }
    }

  override def commitStagedChanges(): Unit = client.commitTxRetrying()
  override def abortStagedChanges(): Unit = client.abortAndClean()
}

/** V1 `sources.Filter` translation: to a public `Column` for the
  * pushdown and DELETE paths ([[toColumn]]), and to the client's
  * file-skipping tiers for [[GraftBatchScan]] ([[boundsOf]], [[eqOf]],
  * [[inOf]], [[isNullOf]]).
  */
object FilterTranslation {
  /** Range-shaped conjuncts → inclusive per-column prune bounds for
    * [[GraftClient.prunedObjects]]. Only shapes whose violation PROVES no
    * row in an object can match are eligible; everything else simply
    * doesn't prune.
    */
  def boundsOf(f: Filter): Seq[(String, (Any, Any))] = f match {
    case sources.EqualTo(a, v) => Seq(a -> (v, v))
    // a <=> v with v non-null matches exactly the rows a = v does
    // (null <=> v is false), so it prunes identically; the v = null
    // form is the IS NULL tier's ([[isNullOf]])
    case sources.EqualNullSafe(a, v) if v != null => Seq(a -> (v, v))
    case sources.GreaterThan(a, v) => Seq(a -> (v, null))
    case sources.GreaterThanOrEqual(a, v) => Seq(a -> (v, null))
    case sources.LessThan(a, v) => Seq(a -> (null, v))
    case sources.LessThanOrEqual(a, v) => Seq(a -> (null, v))
    case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      // bound by the value span; exactness comes from Spark's re-apply
      val norm = vs.map(ColStats.normalize)
      if (norm.forall(_.isInstanceOf[Long]))
        Seq(a -> (norm.map(_.asInstanceOf[Long]).min,
          norm.map(_.asInstanceOf[Long]).max))
      else if (norm.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double]))
        Seq(a -> (norm.map(toD).min, norm.map(toD).max))
      else if (norm.forall(_.isInstanceOf[String]))
        Seq(a -> (norm.map(_.asInstanceOf[String]).min,
          norm.map(_.asInstanceOf[String]).max))
      else Nil
    case sources.StringStartsWith(a, v) if v.nonEmpty =>
      // LIKE 'p%' prunes through the string min/max: rows match only in
      // [p, prefixUpperBound(p)] (null upper = unbounded). Parquet's
      // truncated string stats are conservative the same way, so the
      // bound never false-prunes.
      Seq(a -> (v, ColStats.prefixUpperBound(v)))
    case sources.And(l, r) => boundsOf(l) ++ boundsOf(r)
    case _ => Nil
  }

  /** Equality conjuncts → bloom-probe candidates (stats bounds come from
    * [[boundsOf]]; [[GraftClient.prunedObjects]] applies both tiers).
    */
  def eqOf(f: Filter): Seq[(String, Any)] = f match {
    case sources.EqualTo(a, v) if v != null => Seq(a -> v)
    case sources.EqualNullSafe(a, v) if v != null => Seq(a -> v) // see boundsOf
    case sources.And(l, r) => eqOf(l) ++ eqOf(r)
    case _ => Nil
  }

  /** IN-shaped conjuncts → per-value disjunctive prune lists: an object
    * survives only if at least one listed value passes its stats AND
    * bloom, so a scattered IN opens the matching objects, not the whole
    * value span ([[boundsOf]] still emits the span — both are applied,
    * the tighter wins). NO length cap: lists at or under
    * [[graft.table.GraftClient.InListNarrowCap]] take the bounded
    * probe-hash-job path, wider ones the driver-side
    * [[graft.table.WideProbeIndex]] probe (O(log objects + hits) per
    * value) — a 1,000-value point-set query opens the matched objects
    * either way, never the [min,max] span.
    */
  def inOf(f: Filter): Seq[(String, Seq[Any])] = f match {
    case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      Seq(a -> vs.toSeq)
    case sources.And(l, r) => inOf(l) ++ inOf(r)
    // Catalyst pushes `k = 5 OR k = 900` as Or(EqualTo, EqualTo) — it
    // has no or-to-IN rewrite — so without this fold the disjunction
    // pruned NOTHING (boundsOf skips Or too). A same-column OR of
    // point shapes IS an IN list; mixed columns stay unprunable.
    case or: sources.Or => pointSet(or).toSeq
    case _ => Nil
  }

  /** A filter that holds only when ONE column takes a value from a
    * finite set: EqualTo / IN / same-column ORs of those, recursively.
    */
  private def pointSet(f: Filter): Option[(String, Seq[Any])] = f match {
    case sources.EqualTo(a, v) if v != null => Some(a -> Seq(v))
    case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      Some(a -> vs.toSeq)
    case sources.Or(l, r) => (pointSet(l), pointSet(r)) match {
      case (Some((c1, v1)), Some((c2, v2))) if c1 == c2 =>
        Some((c1, v1 ++ v2))
      case _ => None
    }
    case _ => None
  }

  /** Conjuncts probing a column for NULL (`IS NULL`, `<=> NULL`): an
    * object whose footer stats say ZERO nulls for the column can be
    * skipped — at 100 TB a "find rows missing this field" audit opens
    * only the objects that actually hold nulls. Strictly conservative:
    * objects without a null count (no stats entry — including pre-add
    * schema-evolution objects, whose physical absence READS as null)
    * are kept.
    */
  def isNullOf(f: Filter): Seq[String] = f match {
    case sources.IsNull(a) => Seq(a)
    case sources.EqualNullSafe(a, null) => Seq(a)
    case sources.And(l, r) => isNullOf(l) ++ isNullOf(r)
    case _ => Nil
  }

  private def toD(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case other => sys.error(s"unexpected: $other")
  }

  /** None = untranslatable (caller treats it as residual for scans,
    * unsupported for deletes).
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => attr(a).map(_ === lit(v))
    case sources.EqualNullSafe(a, v) => attr(a).map(_ <=> lit(v))
    case sources.GreaterThan(a, v) => attr(a).map(_ > lit(v))
    case sources.GreaterThanOrEqual(a, v) => attr(a).map(_ >= lit(v))
    case sources.LessThan(a, v) => attr(a).map(_ < lit(v))
    case sources.LessThanOrEqual(a, v) => attr(a).map(_ <= lit(v))
    case sources.In(a, vs) =>
      attr(a).map(_.isin(vs.toIndexedSeq.map(lit(_)): _*))
    case sources.IsNull(a) => attr(a).map(_.isNull)
    case sources.IsNotNull(a) => attr(a).map(_.isNotNull)
    case sources.StringStartsWith(a, v) => attr(a).map(_.startsWith(v))
    case sources.StringEndsWith(a, v) => attr(a).map(_.endsWith(v))
    case sources.StringContains(a, v) => attr(a).map(_.contains(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** Dotted names are NESTED field references (DSv2 pushes them for V1
    * `Filter` builders — `meta.source = 'x'` arrives as
    * `EqualTo("meta.source", x)`), and `col` resolves them natively, so
    * they flow into the same bounds/stats pruning as flat columns.
    * Backquoted names are refused: a top-level column literally named
    * `a.b` would be indistinguishable from a nested path here, and not
    * pushing a filter is always safe (Spark re-applies exact semantics).
    */
  private def attr(name: String): Option[Column] =
    if (name.contains("`")) None else Some(col(name))
}
