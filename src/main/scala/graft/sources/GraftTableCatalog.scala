package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.catalog.Lake
import graft.plans.LakeRegistry
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` for the lake: registering
  * `spark.sql.catalog.graft = graft.sources.GraftTableCatalog` makes the
  * built-in DDL commands — `CREATE TABLE graft.t (…)`,
  * `CREATE TABLE graft.t AS SELECT …`, `DROP TABLE`, `ALTER TABLE …
  * RENAME TO`, `CREATE/DROP NAMESPACE` — resolve against the lake without
  * any SQL-string parsing, the same way the reference inherits DDL from
  * its host engine (ducklake_insert.cpp:49-78 CTAS ctor).
  *
  * Writes go through the V1 fallback (`V1Write → InsertableRelation`):
  * Spark hands the finished DataFrame to [[graft.catalog.Lake.append]],
  * which runs the usual distributed write + stats + snapshot commit. Reads
  * and row-level DML stay on the [[graft.plans.GraftExtensions]] placeholder
  * path (installed together with this catalog), which feeds pushed-down
  * predicates to catalog file pruning — a capability the V2 read path
  * could not express over the epoch-mapped multi-format scan.
  *
  * The catalog instance finds its [[Lake]] through [[LakeRegistry]] under
  * the catalog's own name, so `LakeRegistry.register("graft", lake)` wires
  * both surfaces at once. */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  /** LakeRegistry key — defaults to the catalog name; the `alias` option
    * lets a second catalog registration (e.g. the `spj = true` bucketed
    * read surface) share a lake already registered under another name. */
  private var lakeAlias: String = _
  /** `spark.sql.catalog.<name>.spj = true` → loadTable returns
    * read-capable tables whose scans report KeyGroupedPartitioning
    * ([[GraftBucketedScan]]). Off by default: the general read surface
    * stays on the Catalyst-extension path (catalog pruning + deletes +
    * schema evolution), and this flag opts a catalog name into the
    * clean-bucketed-layout fast path. */
  private var spjReads: Boolean = false

  private def lake: Lake = LakeRegistry.get(lakeAlias).getOrElse(
    throw new IllegalStateException(
      s"no lake registered for catalog $catalogName " +
        "(call LakeRegistry.register first)"))

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    lakeAlias = Option(options.get("alias")).getOrElse(name)
    spjReads = options.getBoolean("spj", false)
  }

  override def name(): String = catalogName

  /** empty namespace → the lake's default `main` schema (so `graft.t`
    * and `graft.main.t` are the same table) */
  private def tableName(ident: Identifier): String =
    ident.namespace() match {
      case Array() => ident.name()
      case Array(ns) => s"$ns.${ident.name()}"
      case other => throw new IllegalArgumentException(
        s"nested namespaces unsupported: ${other.mkString(".")}")
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val schema = namespace.headOption.getOrElse("main")
    val snap = lake.meta.currentSnapshot()
    lake.meta.listTables(snap.snapshotId, schema)
      .map(t => Identifier.of(namespace, t.name)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val tbl = tableName(ident)
    val schema =
      try lake.schemaOf(tbl)
      catch { case _: IllegalArgumentException =>
        throw new NoSuchTableException(ident) }
    if (spjReads) new GraftReadableTable(lake, tbl, schema)
    else new GraftTable(lake, tbl, schema)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val tbl = tableName(ident)
    lake.createTable(tbl, schema)
    val specs = partitions.toSeq.map(partitionSpec)
    if (specs.nonEmpty) lake.setPartitionedBy(tbl, specs)
    new GraftTable(lake, tbl, schema)
  }

  /** V2 partition transform → the lake's (column, transform) string spec
    * (reference transform set, ducklake_partition_data.cpp:54-140) */
  private def partitionSpec(t: Transform): (String, String) = {
    val col = t.references() match {
      case Array(r) if r.fieldNames().length == 1 => r.fieldNames()(0)
      case other => throw new IllegalArgumentException(
        s"unsupported partition reference ${other.mkString(",")}")
    }
    // Catalyst emits plural names (years), the SQL parser keeps the
    // user's spelling (year) — accept both
    t.name().toLowerCase(java.util.Locale.ROOT) match {
      case "identity" => (col, "identity")
      case "years" | "year" => (col, "year")
      case "months" | "month" => (col, "month")
      case "days" | "day" => (col, "day")
      case "hours" | "hour" => (col, "hour")
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: Literal[_] => String.valueOf(l.value())
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a width: $t"))
        (col, s"bucket($n)")
      case n => throw new IllegalArgumentException(
        s"unsupported partition transform $n")
    }
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val tbl = tableName(ident)
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        lake.addColumn(tbl, org.apache.spark.sql.types
          .StructField(a.fieldNames()(0), a.dataType(), a.isNullable))
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        lake.dropColumn(tbl, d.fieldNames()(0))
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        lake.renameColumn(tbl, r.fieldNames()(0), r.newName())
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $other (nested-field DDL goes " +
          "through lake.sql)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    try { lake.dropTable(tableName(ident)); true }
    catch { case _: IllegalArgumentException => false }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    lake.renameTable(tableName(oldIdent), tableName(newIdent))

  // ------------------------------------------------------- procedures

  /** Spark 4 native `CALL graft.<proc>(…)` — the reference's table-
    * function maintenance surface as DSv2 stored procedures
    * ([[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql
      .connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(catalogName, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"procedure not found: $catalogName.${ident.name()}"))

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(Identifier.of(namespace, _)).toArray

  // ------------------------------------------------------- functions

  /** The bucket transform as a V2 catalog function, so the planner's
    * storage-partitioned-join machinery (V2ExpressionUtils) can resolve
    * the `bucket(n, col)` keys a [[GraftBucketedScan]] reports — and
    * evaluate them when it shuffles one join side toward the other's
    * layout. */
  override def loadFunction(ident: Identifier): org.apache.spark.sql
      .connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    lake.listSchemas().map(Array(_)).toArray

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespace.length == 1 &&
      lake.listSchemas().contains(namespace(0)))
      new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "nested namespaces unsupported")
    lake.createSchema(namespace(0))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE unsupported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    require(namespace.length == 1, "nested namespaces unsupported")
    try { lake.dropSchema(namespace(0)); true }
    catch { case _: Exception => false }
  }
}

/** V2 table handle: schema + V1-fallback batch write (append/truncate).
  * No V2 read capability on purpose — reads resolve through the
  * placeholder rule so catalog file pruning sees the pushed predicates.
  * (The `spj = true` catalog option swaps in [[GraftReadableTable]],
  * which adds the storage-partitioned V2 read.) */
class GraftTable(lake: Lake, tbl: String, tableSchema: StructType)
    extends Table with SupportsWrite {

  override def name(): String = tbl
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[
      org.apache.spark.sql.connector.expressions.Transform] =
    lake.partitionedBy(tbl).map { case (c, t) =>
      t match {
        case "identity" => Expressions.identity(c)
        case "year" => Expressions.years(c)
        case "month" => Expressions.months(c)
        case "day" => Expressions.days(c)
        case "hour" => Expressions.hours(c)
        case b if b.startsWith("bucket(") =>
          Expressions.bucket(
            b.stripPrefix("bucket(").stripSuffix(")").trim.toInt, c)
        case other => throw new IllegalArgumentException(
          s"unknown transform $other")
      }
    }.toArray
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncateFirst = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              if (truncateFirst || overwrite) lake.insertOverwrite(tbl, data)
              else lake.append(tbl, data)
            }
          }
      }
    }
}

/** [[GraftTable]] + the storage-partitioned V2 batch read
  * ([[GraftBucketedScan]]): scans report KeyGroupedPartitioning over the
  * table's bucket transform, so co-bucketed joins plan with zero
  * exchange. Enabled per catalog name via the `spj = true` option.
  *
  * The snapshot is PINNED at table resolution (= DataFrame
  * construction): scan-build evaluates layout fitness and the file list
  * as of this snapshot, so DML committed between constructing a
  * DataFrame and executing it is snapshot-isolated away instead of
  * failing the scan build — MVCC reader semantics, same as the generic
  * [[Lake.table]] path's snapshot read. */
final class GraftReadableTable(lake: Lake, tbl: String,
    tableSchema: StructType) extends GraftTable(lake, tbl, tableSchema)
    with SupportsRead {

  private val pinnedSnapshot: Long =
    lake.meta.currentSnapshot().snapshotId

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector
      .read.ScanBuilder =
    new GraftScanBuilder(lake.spark, lake, tbl, Some(pinnedSnapshot))
}
