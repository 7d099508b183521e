package graft

import org.apache.spark.sql.SparkSession

import graft.catalog._
import graft.io.{FileIO, HadoopFileIO}
import graft.spec._
import graft.table.Table

/** Client configuration mirroring the reference's `config.go:46-100`:
  * catalog selection, write mode, file sizing, and the retry policy
  * (which here is actually wired — `config.go` declares it unused). */
final case class GraftConfig(
    catalogType: String = "rest", // "rest" | "local"
    catalogUri: String = "",
    warehouse: String = "",
    token: Option[String] = None,
    /** OAuth2 client credential (`config.go` WithCredential): used to
      * fetch a bearer from `/v1/oauth/tokens` when no static token. */
    credential: Option[String] = None,
    /** OAuth2 scope (`config.go` WithScope). */
    oauthScope: String = "catalog",
    /** CoW rewrites vs MoR delete files (`config.go:33-44`). */
    writeMode: String = GraftConfig.CopyOnWrite,
    targetFileSizeBytes: Long = 512L * 1024 * 1024, // config.go:92
    maxRetries: Int = 3, // config.go:93
    retryBackoffMs: Long = 100L) // config.go:94

object GraftConfig {
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"
  def default: GraftConfig = GraftConfig()
  def local(warehouse: String): GraftConfig =
    GraftConfig(catalogType = "local", warehouse = warehouse)
}

class TableNotFoundException(ns: String, name: String)
    extends RuntimeException(s"table not found: $ns.$name")

/** Top-level client facade (`iceberg.go:62-292`): the entry point a
  * user of the reference would recognize — dotted-namespace strings,
  * table/namespace DDL, and accessors to the underlying catalog and
  * FileIO for advanced use. All data movement still runs through
  * Spark via the returned [[graft.table.Table]] handles. */
class GraftClient(val config: GraftConfig,
    val spark: Option[SparkSession] = None) {

  val fileIO: FileIO = new HadoopFileIO()

  val catalog: Catalog = config.catalogType match {
    case "local" => new LocalCatalog(config.warehouse)
    case "rest" => new RestCatalog(config.catalogUri, config.token,
      Option(config.warehouse).filter(_.nonEmpty),
      config.credential, oauthScope = config.oauthScope)
    case other =>
      throw new IllegalArgumentException(s"unknown catalog type: $other")
  }

  private def id(namespace: String, name: String) =
    TableIdentifier(namespace.split('.').toSeq, name)

  // ------------------------------------------------------- namespaces

  def createNamespace(namespace: String,
      properties: Map[String, String] = Map.empty): Unit =
    catalog.createNamespace(namespace.split('.').toSeq, properties)

  def dropNamespace(namespace: String): Unit =
    catalog.dropNamespace(namespace.split('.').toSeq)

  def namespaceExists(namespace: String): Boolean =
    catalog.namespaceExists(namespace.split('.').toSeq)

  def listNamespaces(): Seq[String] =
    catalog.listNamespaces().map(_.mkString("."))

  // ----------------------------------------------------------- tables

  /** Open an existing table (`iceberg.go:116-131`). */
  def table(namespace: String, name: String): Table =
    try Table.load(catalog, id(namespace, name), fileIO)
    catch {
      case _: NoSuchTableException =>
        throw new TableNotFoundException(namespace, name)
    }

  /** Create a table (`iceberg.go:133-172`). */
  def createTable(namespace: String, name: String, schema: Schema,
      partitionSpec: PartitionSpec = PartitionSpec.unpartitioned,
      sortOrder: SortOrder = SortOrder.unsorted,
      properties: Map[String, String] = Map.empty): Table = {
    val meta = catalog.createTable(id(namespace, name), schema,
      partitionSpec, sortOrder, properties)
    new Table(catalog, id(namespace, name), meta, fileIO)
  }

  def dropTable(namespace: String, name: String,
      purge: Boolean = false): Unit =
    catalog.dropTable(id(namespace, name), purge)

  def renameTable(fromNs: String, fromName: String, toNs: String,
      toName: String): Unit =
    catalog.renameTable(id(fromNs, fromName), id(toNs, toName))

  def tableExists(namespace: String, name: String): Boolean =
    catalog.tableExists(id(namespace, name))

  /** Expose a catalog table to `spark.sql` / `spark.table` under
    * `viewName` (defaults to the table name): a temp view over the
    * table's DSv2 relation ([[graft.sources.GraftSQL]]) — each query
    * sees the latest commit, prunes files by its filters and applies
    * MoR deletes in the reader. */
  def registerSql(spark: org.apache.spark.sql.SparkSession,
      namespace: String, name: String, viewName: String = ""): Unit =
    graft.sources.GraftSQL.registerTable(spark, table(namespace, name),
      if (viewName.isEmpty) name else viewName)

  def listTables(namespace: String): Seq[String] =
    catalog.listTables(namespace.split('.').toSeq).map(_.name)
}

object GraftClient {
  /** Local-filesystem client — the offline path the reference lacks. */
  def local(warehouse: String): GraftClient =
    new GraftClient(GraftConfig.local(warehouse))

  /** REST-catalog client (`iceberg.go:62-98`). */
  def rest(uri: String, token: Option[String] = None,
      warehouse: String = ""): GraftClient =
    new GraftClient(GraftConfig(catalogType = "rest", catalogUri = uri,
      token = token, warehouse = warehouse))
}
