package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table => ConnectorTable, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory,
  Scan => V2Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec.{FileContent, SchemaConverters}
import graft.table.{Expr, FileScanTask, Scan, Table}

/** DataSource V2 provider: `spark.read`/`spark.readStream
  * .format("graft")` over a catalog table (SURVEY "what's missing #1",
  * round-3 verdict top item). Offsets are snapshot ids; micro-batches
  * are planned with [[graft.table.Scan.appendsBetween]] — the exact
  * contract the checkpointed `TableTailer` proves — and files are read
  * by Spark's own vectorized parquet path ([[ParquetShim]]), so the
  * stream shares the batch engine's decode, pruning, and stats code.
  *
  * Options: `warehouse` (local catalog root), `namespace` (dot-
  * separated), `table`; optional `skip-overwrites=true` to skip
  * overwrite snapshots in the incremental range (default: fail loud,
  * matching Iceberg's streaming source), `starting-offset=latest` to
  * begin at the current snapshot instead of delivering the full table
  * as the first micro-batch.
  *
  * Batch AND streaming reads apply MoR position/equality deletes per
  * task and remap files written under older schema ids, so
  * upsert-maintained or renamed tables read (and stream from scratch)
  * correctly. Delete-free partitions read COLUMNAR with pushed filters
  * reaching parquet row-group skipping; a per-task delete filter or
  * schema remap falls back to the row path.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** `df.write.format("graft").save()` — the V1 bridge DataFrameWriter
    * uses for providers whose connector table only declares
    * V1_BATCH_WRITE. Append adds one snapshot, Overwrite swaps table
    * content atomically; both run the engine's partitioned writer and
    * honor `option("branch", ...)` (write-audit-publish). */
  override def createRelation(
      ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    // DataFrameWriter semantics on a MISSING table: every mode creates
    // it from the DataFrame schema (ErrorIfExists only errors when the
    // table already exists; Ignore only no-ops then). Without this,
    // ErrorIfExists could never succeed and Ignore threw instead of
    // no-opping.
    var created = false
    val t = try load(opts) catch {
      case _: graft.catalog.NoSuchTableException =>
        if (Option(opts.get("branch")).exists(_.nonEmpty))
          throw new IllegalArgumentException(
            "graft source: cannot create a table via save() with a " +
              "'branch' option — create the table first, then branch")
        val cat = new LocalCatalog(opts.get("warehouse"))
        val id = TableIdentifier(
          opts.get("namespace").split('.').toSeq, opts.get("table"))
        created = true
        Table.create(cat, id,
          graft.spec.SchemaConverters.fromSparkSchema(data.schema),
          io = new HadoopFileIO())
    }
    pinOf(t, opts).foreach(sid => throw new UnsupportedOperationException(
      s"graft source: cannot write to a snapshot-pinned table (@$sid)"))
    mode match {
      case SaveMode.Append => graft.table.TableOps.append(t, data)
      case SaveMode.Overwrite =>
        graft.table.Mutations.overwrite(t, data.sparkSession, data)
      case SaveMode.Ignore =>
        // no-op ONLY when the table pre-existed; a fresh create writes
        if (created) graft.table.TableOps.append(t, data)
      case SaveMode.ErrorIfExists =>
        if (created) graft.table.TableOps.append(t, data)
        else throw new IllegalArgumentException(
          s"graft source: table ${t.id} already exists " +
            "(mode ErrorIfExists); use Append or Overwrite")
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  /** `writeStream.format("graft")` — the connector table deliberately
    * omits STREAMING_WRITE so Spark routes here (v1 sink), keeping the
    * whole micro-batch on the engine's driver-orchestrated distributed
    * write path (PartitionedWriter + snapshot commit) instead of a
    * second executor-side writer. See [[GraftStreamSinkV1]] for the
    * epoch-idempotence contract. */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val table = load(opts)
    pinOf(table, opts).foreach(sid =>
      throw new UnsupportedOperationException(
        s"graft source: cannot stream into a snapshot-pinned table " +
          s"(@$sid)"))
    val complete = outputMode == OutputMode.Complete()
    if (!complete && outputMode != OutputMode.Append())
      throw new UnsupportedOperationException(
        "graft sink: Update output mode has no table semantics without " +
          "key columns — use foreachBatch with Mutations.upsert")
    val streamId = Option(opts.get("stream-id"))
      .orElse(Option(opts.get("checkpointLocation")))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: set option 'stream-id' (or a checkpointLocation) " +
          "so replayed batches can be detected"))
    new GraftStreamSinkV1(table, streamId, complete)
  }

  private def load(options: CaseInsensitiveStringMap): Table = {
    def req(k: String): String = {
      val v = options.get(k)
      if (v == null || v.isEmpty) throw new IllegalArgumentException(
        s"graft source: option '$k' is required " +
          "(warehouse, namespace, table)")
      v
    }
    val cat = new LocalCatalog(req("warehouse"))
    val t = Table.load(cat,
      TableIdentifier(req("namespace").split('.').toSeq, req("table")),
      new HadoopFileIO())
    // option("branch", name): reads resolve the branch head and writes
    // (batch or streaming sink) advance the branch ref only — the DSv2
    // face of the write-audit-publish path. The branch must already
    // exist (create it via forBranch / CALL set_ref): a read of a
    // missing branch silently serving main's content would defeat the
    // audit, so fail loud instead (an empty table is exempt — there is
    // no content to leak and the first write creates the ref).
    Option(options.get("branch")).filter(_.nonEmpty) match {
      case Some(b) =>
        if (t.metadata.ref(b).isEmpty && t.currentSnapshot.isDefined)
          throw new IllegalArgumentException(
            s"graft source: branch '$b' does not exist; create it by " +
              "writing to it via the Table API (forBranch) or CALL " +
              "set_ref, then retry")
        t.forBranch(b)
      case None => t
    }
  }

  /** Read-pin options (Iceberg reader parity): `snapshot-id`,
    * `as-of-timestamp` (epoch millis), `tag`. Mutually exclusive with
    * each other and with `branch`. Pinned reads serve the SNAPSHOT's
    * schema (the catalog's VERSION/TIMESTAMP AS OF behavior) and
    * reject writes and streaming. */
  private def pinOf(t: Table,
      options: CaseInsensitiveStringMap): Option[Long] = {
    def long(k: String): Option[Long] =
      Option(options.get(k)).map { v =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"graft source: option '$k' must be a long, got '$v'")
        }
      }
    val sid = long("snapshot-id")
    val asOf = long("as-of-timestamp")
    val tag = Option(options.get("tag")).filter(_.nonEmpty)
    val branch = Option(options.get("branch")).filter(_.nonEmpty)
    val named = Seq(sid.map(_ => "snapshot-id"),
      asOf.map(_ => "as-of-timestamp"), tag.map(_ => "tag"),
      branch.map(_ => "branch")).flatten
    if (named.size > 1) throw new IllegalArgumentException(
      s"graft source: options ${named.mkString(", ")} are mutually " +
        "exclusive")
    sid.map { id =>
      if (t.snapshotById(id).isEmpty) throw new IllegalArgumentException(
        s"graft source: snapshot $id not found in ${t.id}")
      id
    }.orElse(asOf.map(ts => t.snapshotAsOf(ts).getOrElse(
      throw new IllegalArgumentException(
        s"graft source: no snapshot at or before timestamp $ts " +
          s"in ${t.id}")).snapshotId))
      .orElse(tag.map(n => t.metadata.ref(n).getOrElse(
        throw new IllegalArgumentException(
          s"graft source: ref '$n' not found in ${t.id}")).snapshotId))
  }

  private def pinnedSchema(t: Table, sid: Long): graft.spec.Schema =
    t.metadata.schemaForSnapshot(sid)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = load(options)
    SchemaConverters.toSparkSchema(
      pinOf(t, options).map(pinnedSchema(t, _)).getOrElse(t.schema))
  }

  /** The write path hands us the query's schema directly instead of
    * calling [[inferSchema]] — required for `save()` to reach
    * [[createRelation]] (which can CREATE the table) when the table
    * does not exist yet. Reads without a user schema still infer. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): ConnectorTable = {
    val opts = new CaseInsensitiveStringMap(properties)
    val t = try load(opts) catch {
      case e: graft.catalog.NoSuchTableException =>
        // a missing table can still be the TARGET of save(): surface a
        // V1_BATCH_WRITE-only stub so DataFrameWriter falls back to
        // createRelation (create-from-DataFrame-schema); any read of
        // the stub fails loud with the original error
        return new GraftMissingTable(opts, schema, e)
    }
    pinOf(t, opts) match {
      case Some(sid) =>
        // honor a user-specified schema on PINNED reads too: resolve
        // the requested names against the pinned snapshot's schema
        // (pinned types win — the user schema only selects/orders)
        val full = SchemaConverters.toSparkSchema(pinnedSchema(t, sid))
        val byLower = full.fields.map(f => f.name.toLowerCase -> f).toMap
        val projected = StructType(schema.fields.map(f =>
          byLower.getOrElse(f.name.toLowerCase, f)))
        new GraftConnectorTable(t, projected, Some(sid))
      case None => new GraftConnectorTable(t, schema)
    }
  }
}

/** Placeholder for a not-yet-existing save() target: declares only the
  * V1 write capability so `DataFrameWriter.save` routes to
  * [[GraftDataSource.createRelation]], which performs the actual
  * create + write. Every other use fails with the original
  * table-not-found error — including reads: BATCH_READ and
  * MICRO_BATCH_READ are advertised (a user-specified schema makes
  * Spark reach getTable with a read in mind, batch or streaming)
  * precisely so the scan builder can throw `notFound` instead of
  * Spark's generic "table does not support reads" capability error. */
private[sources] class GraftMissingTable(
    opts: CaseInsensitiveStringMap, sparkSchema: StructType,
    notFound: graft.catalog.NoSuchTableException)
    extends ConnectorTable with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"${opts.get("namespace")}.${opts.get("table")} (missing)"
  override def schema(): StructType = sparkSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw notFound
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    throw notFound
}

private[sources] class GraftConnectorTable(
    private[sources] val gtable: Table, sparkSchema: StructType,
    /** `VERSION AS OF` / `TIMESTAMP AS OF` pin: reads resolve this
      * snapshot, writes and row-level deletes are rejected. */
    private[sources] val pinnedSnapshot: Option[Long] = None,
    /** Staged read (the shape of Iceberg's `SparkStagedScan`): scans
      * read exactly these tasks, with names resolved through this
      * schema — never a refresh or a re-plan. Read-only. */
    private[sources] val staged: Option[(graft.spec.Schema,
      Seq[FileScanTask])] = None)
    extends ConnectorTable with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String =
    (gtable.id.namespace :+ gtable.id.name).mkString(".") +
      pinnedSnapshot.map(s => s"@$s").getOrElse("")
  override def schema(): StructType = sparkSchema
  override def partitioning():
      Array[org.apache.spark.sql.connector.expressions.Transform] =
    GraftSparkCatalog.toTransforms(gtable.spec, gtable.schema)
  override def properties(): JMap[String, String] =
    gtable.metadata.properties.asJava
  override def capabilities(): JSet[TableCapability] =
    if (staged.isDefined) Set(TableCapability.BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava

  /** The schema the relation's column names resolve through: the
    * staged schema, the pinned snapshot's, else the table's schema as
    * loaded — `sparkSchema` was built from it, so a column renamed
    * after loading still reaches its field id instead of null-filling
    * (a registered SQL view outlives many commits). */
  private[sources] val querySchema: graft.spec.Schema =
    staged.map(_._1)
      .orElse(pinnedSnapshot.map(gtable.metadata.schemaForSnapshot))
      .getOrElse(gtable.schema)

  private[sources] def newScan(t: Table, pushed: Option[Expr]): Scan = {
    val base = pinnedSnapshot.foldLeft(Scan(t, SparkSession.active))(
      _ useSnapshot _)
    pushed.foldLeft(base)(_ filter _)
  }

  /** The one source of a scan's (table, tasks): the staged list as
    * given, else refresh + `planFiles` under the pin and the pushed
    * filter. A row-level operation in flight on this instance reads
    * its pinned snapshot instead of refreshing (see [[mutationPin]]).
    * A refresh that moved the schema is read through [[querySchema]]
    * by field id when [[readableThrough]] allows, else the scan reads
    * the table as loaded: a stale read beats a column null-filled or
    * mis-decoded, or an equality delete applied on part of its key. */
  private[sources] def planTasks(
      pushed: Option[Expr]): (Table, Seq[FileScanTask]) = staged match {
    case Some((_, tasks)) => (gtable, tasks)
    case None =>
      val pin = mutationPin
      val t = pin.getOrElse(
        try gtable.refresh() catch { case _: Exception => gtable })
      if (pin.isDefined || pinnedSnapshot.isDefined ||
          t.schema.schemaId == querySchema.schemaId)
        (t, newScan(t, pushed).planFiles())
      else readableThrough(t)
        .getOrElse((gtable, newScan(gtable, pushed).planFiles()))
  }

  /** `t`'s tasks when `t`, whose schema moved past [[querySchema]],
    * still reads correctly through it: every query column is still
    * there without a type change (renames and added columns are fine),
    * and no planned equality delete keys on a column the query schema
    * lacks (the reader could not decode that key). Planned without the
    * pushed filter, whose names are the query schema's, not `t`'s:
    * Spark applies every pushed filter to the rows anyway. */
  private def readableThrough(
      t: Table): Option[(Table, Seq[FileScanTask])] = {
    val carried = querySchema.fields.forall(q =>
      t.schema.fields.find(_.id == q.id).exists(f =>
        BatchPlanning.promotionFree(
          SchemaConverters.toSparkType(q.fieldType), q.fieldType,
          f.fieldType)))
    lazy val tasks = newScan(t, None).planFiles()
    if (carried && tasks.forall(_.deleteFiles.forall(d =>
        d.file.content != FileContent.EqualityDeletes ||
          d.file.equalityIds.forall(querySchema.field(_).isDefined))))
      Some((t, tasks))
    else None
  }

  /** Set when a row-level operation (UPDATE/MERGE/DELETE) is planned on
    * this table instance: subsequent scans of the SAME instance — in
    * particular the runtime group-filter subquery Spark builds over the
    * original relation — read the operation's pinned snapshot instead
    * of refreshing. A concurrent commit landing between the subquery's
    * planning and the row-level scan's planning could otherwise make
    * the matched-file set disagree with the pinned candidates and
    * silently skip rows (the connector-table instance is per-statement,
    * so the pin never leaks to other queries). */
  @volatile private[sources] var mutationPin: Option[Table] = None

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // User-specified schemas (supportsExternalMetadata) reach READS
    // here: a typo'd name would silently null-fill into every row, so
    // fail loud. A subset/reordering of real columns is legitimate
    // manual pruning. Writes never pass this point (V1 bridge), so
    // SaveMode semantics on mismatched frames are unaffected.
    val known = querySchema.fields.map(_.name.toLowerCase).toSet
    val unknown = sparkSchema.fieldNames.filterNot(n =>
      known.contains(n.toLowerCase))
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"graft source: schema names ${unknown.mkString(", ")} not in " +
        s"table ${gtable.id} (columns: ${querySchema.fields.map(_.name)
          .mkString(", ")})")
    new GraftScanBuilder(this, sparkSchema, options)
  }

  /** SQL write path: `INSERT INTO` appends a snapshot through the
    * engine's partitioned writer; `INSERT OVERWRITE` (truncate) swaps
    * the table content atomically. The V1Write bridge hands the whole
    * micro-plan to the driver-side writer — the same code path as the
    * programmatic API, so SQL writes get stats harvesting, sort-order,
    * and partition fan-out for free. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    rejectIfPinned("write to")
    new GraftWriteBuilder(gtable, truncateFirst = false)
  }

  private def rejectIfPinned(what: String): Unit = {
    pinnedSnapshot.foreach(s => throw new UnsupportedOperationException(
      s"graft: cannot $what a time-travel (VERSION/TIMESTAMP AS OF " +
        s"$s) table"))
    if (staged.isDefined) throw new UnsupportedOperationException(
      s"graft: cannot $what a staged read of ${gtable.id}")
  }

  /** `_file` metadata column (rows report their data file; feeds the
    * row-level operations' runtime group filtering). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftMetaColumns.Columns

  /** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` — group-based
    * copy-on-write through [[GraftRowLevelOperation]]. Exact-filter
    * DELETEs still take the metadata path via [[deleteWhere]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    rejectIfPinned("mutate")
    () => {
      val op = new GraftRowLevelOperation(gtable, info.command)
      mutationPin = Some(op.pinned)
      op
    }
  }

  /** `DELETE FROM graft.ns.tbl WHERE ...`: filters convert EXACTLY (no
    * pruning over-approximation — a partial predicate would delete too
    * much) and run through the engine's copy-on-write delete with its
    * 3VL handling and conflict retry. */
  override def canDeleteWhere(
      filters: Array[sources.Filter]): Boolean =
    pinnedSnapshot.isEmpty && staged.isEmpty &&
      filters.forall(FilterToExpr.exact(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    rejectIfPinned("delete from")
    val expr = filters.map(f => FilterToExpr.exact(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft: cannot express filter $f exactly")))
      .reduceOption(_ and _).getOrElse(graft.table.AlwaysTrue)
    graft.table.Mutations.deleteCoW(gtable.refresh(),
      SparkSession.active, expr)
    ()
  }

  /** `TRUNCATE TABLE graft.ns.tbl`: one atomic overwrite-with-empty
    * snapshot (history stays; time travel still sees old data). */
  override def truncateTable(): Boolean = {
    rejectIfPinned("truncate")
    val spark = SparkSession.active
    val t = gtable.refresh()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SchemaConverters.toSparkSchema(t.schema))
    graft.table.Mutations.overwrite(t, spark, empty)
    true
  }
}

private[sources] class GraftWriteBuilder(
    gtable: Table, truncateFirst: Boolean,
    overwriteExpr: Option[Expr] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  override def truncate():
      org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(gtable, truncateFirst = true)

  /** `INSERT OVERWRITE ... PARTITION (...)` / filtered overwrite:
    * delete-matching + append in ONE atomic overwrite snapshot via the
    * engine's selective overwrite. Filters must convert EXACTLY — an
    * over-approximated predicate would delete rows the unconvertible
    * part should have kept. */
  override def canOverwrite(
      filters: Array[sources.Filter]): Boolean =
    filters.forall(FilterToExpr.exact(_).isDefined)

  override def overwrite(filters: Array[sources.Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val expr = filters.map(f => FilterToExpr.exact(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft: cannot express overwrite filter $f exactly")))
      .reduceOption(_ and _).getOrElse(graft.table.AlwaysTrue)
    new GraftWriteBuilder(gtable, truncateFirst = false, Some(expr))
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              overwrite: Boolean): Unit = {
            val t = gtable.refresh()
            // align by NAME with casts: SQL inserts arrive in query
            // column order/types
            val target = graft.spec.SchemaConverters
              .toSparkSchema(t.schema)
            val aligned = data.select(target.fields.map(f =>
              org.apache.spark.sql.functions.col(f.name)
                .cast(f.dataType).as(f.name)).toSeq: _*)
            overwriteExpr match {
              case Some(graft.table.AlwaysTrue) =>
                graft.table.Mutations.overwrite(t, data.sparkSession,
                  aligned)
              case Some(expr) =>
                graft.table.Mutations.overwriteWhere(t, data.sparkSession,
                  expr, aligned)
              case None =>
                if (truncateFirst || overwrite)
                  graft.table.Mutations.overwrite(t, data.sparkSession,
                    aligned)
                else graft.table.TableOps.append(t, aligned)
            }
            ()
          }
        }
    }
}

/** Pruning-only pushdown: convertible filters drive manifest/file
  * pruning (and show as `pushedFilters` in explain); ALL filters are
  * returned as residuals so Catalyst re-applies them row-level above
  * the scan — partial conversion is always sound. Column pruning feeds
  * the parquet `requiredSchema` (ReadSchema in explain). */
private[sources] class GraftScanBuilder(
    private[sources] val source: GraftConnectorTable, full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var required: StructType = full
  private var pushedExpr: Option[Expr] = None
  private var accepted: Array[sources.Filter] = Array.empty
  private var allPushed: Array[sources.Filter] = Array.empty
  private var emitFile = false
  private var aggResult: Option[(StructType, Array[Any], String)] = None

  // ------------------------------------------------ aggregate pushdown

  /** Metadata-answered aggregates: a global (no GROUP BY, no WHERE)
    * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over a delete-free
    * snapshot is computed ENTIRELY from manifest statistics — at 100 TB
    * that is the difference between a catalog lookup and a full scan.
    * The SQL face of the Scan API's metadata `count()` (A1), extended
    * to bounds.
    *
    * Exactness guards (any failure → no pushdown, ordinary scan):
    *   - any MoR delete file attached → counts and extremes unsafe;
    *   - float/double MIN/MAX need a recorded `nan_value_counts` of 0
    *     (NaN is excluded from parquet bounds but sorts HIGHEST in
    *     Spark, so a NaN-carrying file makes the stats lie);
    *   - string bounds ≥ 16 chars may be truncated by the writer →
    *     refused (shorter bounds are verbatim);
    *   - every contributing file must carry the needed stat (all-null
    *     files contribute nothing to MIN/MAX and may omit bounds).
    * The files are the scan source's tasks, so a staged read answers
    * from exactly its staged files. */
  private lazy val aggTasks: Option[Seq[graft.spec.DataFile]] = try {
    val tasks = source.planTasks(None)._2
    if (tasks.forall(_.deleteFiles.isEmpty)) Some(tasks.map(_.file))
    else None
  } catch { case _: Exception => None }

  private def topField(name: Array[String]): Option[graft.spec.NestedField] =
    if (name.length != 1) None
    else source.querySchema.fields.find(_.name == name(0))

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[graft.spec.NestedField] = e match {
    case f: org.apache.spark.sql.connector.expressions.NamedReference =>
      topField(f.fieldNames())
    case _ => None
  }

  private def boundAgg(files: Seq[graft.spec.DataFile],
      f: graft.spec.NestedField, isMin: Boolean)
      : Option[(org.apache.spark.sql.types.DataType, Any)] = {
    import graft.spec._
    val ice = f.fieldType
    val supported = ice match {
      case BooleanType | IntType | LongType | FloatType | DoubleType |
           DateType | TimestampType | TimestampTzType | StringType |
           DecimalType(_, _) => true
      case _ => false
    }
    if (!supported) return None
    def allNull(df: DataFile): Boolean =
      df.valueCounts.get(f.id).exists(vc =>
        df.nullValueCounts.get(f.id).contains(vc))
    val contributing = files.filterNot(allNull)
    val floatHazard = ice == FloatType || ice == DoubleType
    if (floatHazard && !contributing.forall(
        _.nanValueCounts.get(f.id).contains(0L))) return None
    def bounds(df: DataFile): Map[Int, Array[Byte]] =
      if (isMin) df.lowerBounds else df.upperBounds
    if (!contributing.forall(df => bounds(df).contains(f.id))) return None
    val vals = contributing.map(df => Bounds.deserialize(bounds(df)(f.id), ice))
    if (vals.contains(null)) return None
    if (ice == StringType &&
        vals.exists(_.asInstanceOf[String].length >= 16)) return None
    val extreme0 =
      if (vals.isEmpty) null
      else vals.reduce((a, b) =>
        if ((Bounds.compare(a, b, ice) <= 0) == isMin) a else b)
    // parquet footer stats normalize a +0.0 minimum to -0.0 (the
    // conservative total-order bound); ±0.0 compare EQUAL under SQL
    // semantics, so answer the aggregate with the canonical +0.0 — a
    // row-level MIN over the same data returns +0.0 and the two paths
    // must not diverge on sign-of-zero
    val extreme = extreme0 match {
      case d: java.lang.Double if d == 0.0 => java.lang.Double.valueOf(0.0)
      case fl: java.lang.Float if fl == 0.0f => java.lang.Float.valueOf(0.0f)
      case other => other
    }
    val sparkType = SchemaConverters.toSparkType(ice)
    val catalyst = extreme match {
      case null => null
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case bd: java.math.BigDecimal =>
        val DecimalType(p, s) = ice: @unchecked
        org.apache.spark.sql.types.Decimal(bd, p, s)
      case other => other
    }
    Some((sparkType, catalyst))
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any], String)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types.{LongType => SLongType, StructField}
    if (agg.groupByExpressions.nonEmpty || allPushed.nonEmpty ||
        pushedExpr.isDefined) return None
    aggTasks.flatMap { files =>
      val per = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(("count_star", SLongType,
            files.map(_.recordCount).sum: Any))
        case c: Count if !c.isDistinct => colOf(c.column).flatMap { f =>
          val ok = files.forall(df => df.valueCounts.contains(f.id) &&
            df.nullValueCounts.contains(f.id))
          if (!ok) None
          else Some((s"count_${f.name}", SLongType,
            files.map(df =>
              df.valueCounts(f.id) - df.nullValueCounts(f.id)).sum: Any))
        }
        case m: Min => colOf(m.column).flatMap(f =>
          boundAgg(files, f, isMin = true).map { case (dt, v) =>
            (s"min_${f.name}", dt, v) })
        case m: Max => colOf(m.column).flatMap(f =>
          boundAgg(files, f, isMin = false).map { case (dt, v) =>
            (s"max_${f.name}", dt, v) })
        case _ => None
      }
      if (per.exists(_.isEmpty)) None
      else {
        val rs = per.map(_.get)
        Some((StructType(rs.map(r =>
            StructField(r._1, r._2, nullable = true))),
          rs.map(_._3).toArray,
          agg.aggregateExpressions.mkString(", ")))
      }
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (aggResult.isEmpty) aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  // ---------------------------------------------------- limit pushdown

  private var limitHint: Option[Int] = None

  /** `SELECT ... LIMIT n` plans only enough FILES to cover n rows
    * (cumulative manifest record counts) instead of one task per live
    * file — on a million-file table a LIMIT 10 launches one task.
    * Spark only pushes a limit with no intervening Filter, and the
    * scan truncates only when that file-count→row-count equivalence is
    * exact (no residual filter, no MoR deletes); `isPartiallyPushed`
    * stays true so Spark's own Limit still caps rows. */
  override def pushLimit(limit: Int): Boolean = {
    limitHint = Some(limit)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    val converted = filters.map(f => f -> FilterToExpr(f))
    accepted = converted.collect { case (f, Some(_)) => f }
    pushedExpr = converted.flatMap(_._2).reduceOption(_ and _)
    // keep EVERYTHING for parquet row-group skipping — ParquetFilters
    // converts what it can, and dropping rows early is sound because
    // every filter is also a Catalyst residual
    allPushed = filters
    filters // everything is residual: row semantics stay with Catalyst
  }
  override def pushedFilters(): Array[sources.Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // the `_file` metadata column is synthesized by the reader, not read
    emitFile = requiredSchema.fieldNames.contains(GraftMetaColumns.FileName)
    // intersect with the table schema (Spark may append metadata cols)
    required = StructType(
      requiredSchema.fields.filter(f => full.fieldNames.contains(f.name)))
  }

  override def build(): V2Scan = aggResult match {
    case Some((schema, row, desc)) => new GraftAggScan(schema, row, desc)
    case None =>
      new GraftV2Scan(source, full, required, pushedExpr, options,
        emitFile, allPushed.toSeq, limitHint)
  }
}

/** A fully-pushed-down aggregate: the answer was computed from manifest
  * statistics at plan time, so the "scan" is one partition emitting one
  * pre-computed row — zero file I/O regardless of table size. */
private[sources] class GraftAggScan(schema: StructType,
    values: Array[Any], pushedDesc: String) extends V2Scan {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-agg PushedAggregates: [$pushedDesc]"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(GraftAggPartition(values))
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(p: InputPartition)
            : PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private val vals = p.asInstanceOf[GraftAggPartition].values
            private var emitted = false
            override def next(): Boolean =
              if (emitted) false else { emitted = true; true }
            override def get(): InternalRow =
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(vals)
            override def close(): Unit = ()
          }
      }
  }
}

private[sources] final case class GraftAggPartition(values: Array[Any])
    extends InputPartition

/** v1 `sources.Filter` → engine [[Expr]], for stats pruning only.
  * Literal values arrive as external JVM types (String, numbers,
  * java.sql/java.time date-times) — exactly what `Pruning.coerce`
  * normalizes to bound representations. */
private[sources] object FilterToExpr {
  import graft.table._

  def apply(f: sources.Filter): Option[Expr] = f match {
    case sources.EqualTo(a, v) => Some(Eq(a, v))
    case sources.GreaterThan(a, v) => Some(Gt(a, v))
    case sources.GreaterThanOrEqual(a, v) => Some(Gte(a, v))
    case sources.LessThan(a, v) => Some(Lt(a, v))
    case sources.LessThanOrEqual(a, v) => Some(Lte(a, v))
    case sources.In(a, vs) => Some(In(a, vs.toSeq))
    case sources.IsNull(a) => Some(IsNull(a))
    case sources.IsNotNull(a) => Some(NotNull(a))
    case sources.StringStartsWith(a, v) => Some(StartsWith(a, v))
    case sources.And(l, r) => (apply(l), apply(r)) match {
      case (Some(a), Some(b)) => Some(a.and(b))
      case (one @ Some(_), None) => one // over-approximation: sound
      case (None, one @ Some(_)) => one
      case _ => None
    }
    case sources.Or(l, r) => for { a <- apply(l); b <- apply(r) }
      yield a.or(b)
    case sources.Not(c) => apply(c).map(e => Not(e).simplify)
    case _ => None
  }

  /** EXACT conversion — for row-level DELETE predicates, where the
    * pruning variant's one-sided AND over-approximation would delete
    * rows the unconvertible side should have kept. */
  def exact(f: sources.Filter): Option[Expr] = f match {
    case sources.And(l, r) => for { a <- exact(l); b <- exact(r) }
      yield a.and(b)
    case sources.Or(l, r) => for { a <- exact(l); b <- exact(r) }
      yield a.or(b)
    case sources.Not(c) => exact(c).map(e => Not(e))
    case sources.EqualNullSafe(a, null) => Some(IsNull(a))
    case sources.EqualNullSafe(a, v) => Some(Eq(a, v))
    case sources.AlwaysTrue() => Some(AlwaysTrue)
    case sources.AlwaysFalse() => Some(AlwaysFalse)
    case sources.EqualTo(_, _) | sources.GreaterThan(_, _) |
         sources.GreaterThanOrEqual(_, _) | sources.LessThan(_, _) |
         sources.LessThanOrEqual(_, _) | sources.In(_, _) |
         sources.IsNull(_) | sources.IsNotNull(_) |
         sources.StringStartsWith(_, _) => apply(f)
    case _ => None
  }
}

/** Shared delete-aware batch planning, used by the plain batch scan and
  * the row-level (COW) scan. */
private[sources] object BatchPlanning {

  private def keyNamesOf(schema: graft.spec.Schema,
      ids: Seq[Int]): Seq[String] =
    ids.flatMap(id => schema.field(id)).map(_.name)

  /** A field name guaranteed ABSENT from the file's fields, so a
    * parquet by-name projection null-fills it. Null-filling an added
    * field by its CURRENT name is wrong when a rename freed that name
    * and the file still physically carries a column under it (older
    * field id) — the request would surface the old column's values.
    * Collision checks are case-insensitive, matching Spark's default
    * name resolution. */
  private def absentName(base: String,
      fileFields: Seq[graft.spec.NestedField]): String = {
    val taken = fileFields.map(_.name)
    if (!taken.exists(_.equalsIgnoreCase(base))) base
    else graft.util.Names.fresh(taken)(i => s"__graft_null_fill_${i}__$base")
  }

  /** The Spark type to REQUEST from a pre-evolution file so the values
    * come back POSITIONALLY aligned with the PRUNED read type `pruned`
    * (Spark's nested schema pruning may have dropped inner struct
    * fields from the current type — the request must mirror exactly
    * the pruned shape or inner ordinals misalign): struct requests
    * rebuild from the PRUNED fields, each mapped by current name →
    * field id → file field — file names, pruned order, inner fields
    * added since the file null-filled by requesting a name guaranteed
    * absent from the file. List elements and map entries recurse (the
    * parquet reader clips nested requests by name through repeated
    * levels exactly as it does through groups), so evolution inside
    * `list<struct>` / `map<k, struct>` aligns too. Primitive leaves
    * pass `pruned` through — requesting the CURRENT (possibly wider)
    * leaf type under the file's name makes the reader widen promoted
    * physicals in place. */
  private[sources] def requestType(
      pruned: org.apache.spark.sql.types.DataType,
      qt: graft.spec.IcebergType, ft: graft.spec.IcebergType)
      : org.apache.spark.sql.types.DataType =
    (pruned, qt, ft) match {
      case (ps: StructType,
          graft.spec.StructType(qfs), graft.spec.StructType(ffs)) =>
        StructType(ps.fields.map { pf =>
          qfs.find(_.name == pf.name) match {
            case Some(qf) => ffs.find(_.id == qf.id) match {
              case Some(ff) => org.apache.spark.sql.types.StructField(
                ff.name, requestType(pf.dataType, qf.fieldType, ff.fieldType),
                pf.nullable)
              case None => // added since this file: null-fill by a
                // name the file does not carry (see [[absentName]])
                org.apache.spark.sql.types.StructField(
                  absentName(qf.name, ffs), pf.dataType, nullable = true)
            }
            case None => throw new IllegalStateException(
              s"graft source: pruned field '${pf.name}' is absent from " +
                "the table's current schema — cannot align the request " +
                "for a pre-evolution file")
          }
        })
      case (pa: org.apache.spark.sql.types.ArrayType,
          graft.spec.ListType(_, qe, _), graft.spec.ListType(_, fe, _)) =>
        pa.copy(elementType = requestType(pa.elementType, qe, fe))
      case (pm: org.apache.spark.sql.types.MapType,
          graft.spec.MapType(_, qk, _, qv, _),
          graft.spec.MapType(_, fk, _, fv, _)) =>
        pm.copy(keyType = requestType(pm.keyType, qk, fk),
          valueType = requestType(pm.valueType, qv, fv))
      case _ => pruned
    }

  /** Whether reading a file written as `ft` under the pruned current
    * request carries NO leaf type promotion — promotions (int→long,
    * float→double, decimal widening) need the row path's [[ReaderConv]]
    * and must stay off the columnar remap. Compares the FILE leaf type
    * against the current one (recursing through struct fields by id),
    * so it actually fires on promoted files. */
  private[sources] def promotionFree(
      pruned: org.apache.spark.sql.types.DataType,
      qt: graft.spec.IcebergType, ft: graft.spec.IcebergType): Boolean =
    (pruned, qt, ft) match {
      case (ps: StructType,
          graft.spec.StructType(qfs), graft.spec.StructType(ffs)) =>
        ps.fields.forall { pf =>
          qfs.find(_.name == pf.name).forall { qf =>
            ffs.find(_.id == qf.id).forall(ff =>
              promotionFree(pf.dataType, qf.fieldType, ff.fieldType))
          }
        }
      case (pa: org.apache.spark.sql.types.ArrayType,
          graft.spec.ListType(_, qe, _), graft.spec.ListType(_, fe, _)) =>
        // recurse so rename/add/drop INSIDE a list element (whose Spark
        // types differ only by inner names) keeps columnar eligibility
        promotionFree(pa.elementType, qe, fe)
      case (pm: org.apache.spark.sql.types.MapType,
          graft.spec.MapType(_, qk, _, qv, _),
          graft.spec.MapType(_, fk, _, fv, _)) =>
        promotionFree(pm.keyType, qk, fk) &&
          promotionFree(pm.valueType, qv, fv)
      case _ =>
        SchemaConverters.toSparkType(ft) == SchemaConverters.toSparkType(qt)
    }

  /** Batch partitions CARRY their MoR delete files; the reader applies
    * them per task (position bitmap + equality key sets — the same
    * per-task shape as Iceberg's Spark DeleteFilter). */
  def partitions(t: Table, tasks: Seq[FileScanTask],
      querySchema: Option[graft.spec.Schema] = None)
      : Array[InputPartition] = {
    val resolution = querySchema.getOrElse(t.schema)
    tasks.map { task =>
      val pos = task.deleteFiles
        .filter(_.file.content == FileContent.PositionDeletes)
        .map(d => DeleteFileInfo(d.file.filePath, d.file.fileSizeInBytes))
      val eqs = task.deleteFiles
        .filter(_.file.content == FileContent.EqualityDeletes)
        .map(d => EqDeleteInfo(d.file.filePath, d.file.fileSizeInBytes,
          keyNamesOf(resolution, d.file.equalityIds), d.schemaId))
        .filter(_.keyNames.nonEmpty)
      GraftInputPartition(task.file.filePath, task.file.fileSizeInBytes,
        pos, eqs, task.schemaId): InputPartition
    }.toArray
  }

  /** @param filters the query's pushed `sources.Filter`s, forwarded to
    *   parquet row-group/page skipping for tasks where dropping
    *   non-matching rows early is sound. Position-delete-carrying tasks
    *   always read unfiltered (delete application counts file row
    *   positions); copy-on-write scans must pass `Nil` (a rewrite keeps
    *   non-matching rows). */
  def readerFactory(spark: SparkSession, t: Table,
      tasks: Seq[FileScanTask], full: StructType, required: StructType,
      emitFile: Boolean,
      filters: Seq[sources.Filter] = Nil,
      eqSetMaxBytes: Long =
        GraftReaderFactory.DefaultEqSetMaxBytes,
      /** The schema the `full`/`required` NAMES were resolved from —
        * the PINNED snapshot's schema for time-travel scans (a column
        * renamed or dropped after the pin must still resolve to its
        * field id under the pinned names, not null-fill against the
        * current schema). None = current table schema. */
      querySchema: Option[graft.spec.Schema] = None)
      : PartitionReaderFactory = {
    val current = querySchema.getOrElse(t.schema)
    // A task whose write-schema id is unknown to the table metadata
    // cannot be remapped — and falling back to a by-name read would
    // silently null-fill renamed columns. Metadata retains every
    // schema, so this is corruption: fail loud.
    val unknownSids = tasks.map(_.schemaId).distinct
      .filter(sid => sid != current.schemaId && sid >= 0 &&
        t.metadata.schemaById(sid).isEmpty)
    if (unknownSids.nonEmpty) throw new IllegalStateException(
      s"graft source: data files were written under schema id(s) " +
        s"${unknownSids.mkString(", ")} which table metadata does not " +
        "record — cannot remap columns safely")
    val eqKeySets = tasks.flatMap(_.deleteFiles)
      .filter(_.file.content == FileContent.EqualityDeletes)
      .map(d => keyNamesOf(current, d.file.equalityIds))
      .filter(_.nonEmpty).distinct
    // the data reader must decode equality-key columns even when the
    // query projection pruned them; surviving rows are projected back
    // down to readSchema before they leave the reader
    val extraCols = eqKeySets.flatten.distinct
      .filterNot(required.fieldNames.contains)
      .filter(full.fieldNames.contains)
    val extended = StructType(
      required.fields ++ extraCols.map(n => full(full.fieldIndex(n))))
    val hasPos = tasks.exists(_.deleteFiles
      .exists(_.file.content == FileContent.PositionDeletes))
    val posFunc =
      if (hasPos)
        Some(ParquetShim.buildReaderFunc(spark,
          GraftReaderFactory.PosDeleteSchema,
          GraftReaderFactory.PosDeleteSchema))
      else None
    // (delete write-schema id, key names) → reader of key columns by
    // the names/types of THAT schema, with positional promotion up to
    // the current key types. A delete file written before a key rename
    // or promotion stores the OLD column — reading by current name
    // would null-fill and silently resurrect its deleted rows. The
    // current schema id is always included: it doubles as the
    // data-file key reader for the memory-bounded pre-pass.
    val eqDeleteSids = tasks.flatMap(_.deleteFiles)
      .filter(_.file.content == FileContent.EqualityDeletes)
      .map(_.schemaId).distinct
    val eqFuncs: Map[(Int, Seq[String]),
        (PartitionedFile => Iterator[InternalRow], Array[ReaderConv])] =
      (for {
        dsid <- (eqDeleteSids :+ current.schemaId).distinct
        names <- eqKeySets
      } yield {
        val delSchema =
          if (dsid >= 0 && dsid != current.schemaId)
            t.metadata.schemaById(dsid).getOrElse(
              throw new IllegalStateException(
                s"graft source: equality-delete files were written " +
                  s"under schema id $dsid which table metadata does " +
                  "not record — cannot resolve their key columns"))
          else current
        val pairs = names.map { n =>
          val cur = current.fieldByName(n).get
          val ff = delSchema.field(cur.id).getOrElse(
            throw new IllegalStateException(
              s"graft source: equality-delete key '$n' (field id " +
                s"${cur.id}) is missing from the delete file's write " +
                s"schema (id $dsid)"))
          val fileSpark = SchemaConverters.toSparkType(ff.fieldType)
          val curSpark = full(full.fieldIndex(n)).dataType
          (org.apache.spark.sql.types.StructField(ff.name, fileSpark,
            nullable = true), ReaderConv.of(fileSpark, curSpark))
        }
        val keySchema = StructType(pairs.map(_._1))
        val convs0 = pairs.map(_._2).toArray
        (dsid, names) -> (ParquetShim.buildReaderFunc(spark, keySchema,
          keySchema), if (convs0.forall(_.code == 0)) null else convs0)
      }).toMap

    // columnar batches — the zero-copy handoff whole-stage codegen
    // consumes — require EVERY task to qualify (Spark forbids mixing
    // columnar and row partitions in one scan). Qualification is wider
    // than "delete-free current-schema" (one stray file must not drop
    // the ENTIRE scan to the row path):
    //  - rename-only schema evolution reads the file by its OWN column
    //    names (same Spark types, `required`'s order) — the batch is
    //    positionally valid under the current schema;
    //  - position deletes apply as a zero-copy selection vector over
    //    the batch ([[ColumnarDeletes]]);
    //  - equality deletes key-filter the batch through the same
    //    selection-vector machinery (reading the extended schema and
    //    projecting back down), so upsert-maintained tables stay
    //    columnar too.
    // `_file` emission and type-promoting evolution stay on the row
    // path; rename-only evolution (with or without equality deletes)
    // stays columnar via per-write-schema remapped batch readers.
    val remappableSids = tasks.map(_.schemaId).distinct
      .filter(sid => sid != current.schemaId && sid >= 0 &&
        t.metadata.schemaById(sid).isDefined)
    // Map a target (current-name) projection onto a pre-evolution
    // file's own names, None when any leaf needs a type promotion
    // (those keep the row path's ReaderConv).
    def remapOnto(target: StructType,
        fileSchema: graft.spec.Schema): Option[StructType] = {
      val mapped = target.fields.map { f =>
        current.fieldByName(f.name).map(cur =>
          (cur, fileSchema.field(cur.id))) match {
          case Some((cur, Some(ff))) =>
            // leaf type promotions need the row path's ReaderConv;
            // renames (top-level or nested) and nested add/drop are
            // positionally clean in batches
            if (promotionFree(f.dataType, cur.fieldType, ff.fieldType))
              Some(org.apache.spark.sql.types.StructField(
                ff.name,
                requestType(f.dataType, cur.fieldType, ff.fieldType),
                f.nullable))
            else None
          case _ => // added since file: null-fill via a name the
            // file does not carry (see [[absentName]])
            Some(org.apache.spark.sql.types.StructField(
              absentName(f.name, fileSchema.fields),
              f.dataType, nullable = true))
        }
      }
      if (mapped.forall(_.isDefined))
        Some(StructType(mapped.map(_.get)))
      else None
    }
    val batchRemapSchemas: Map[Int, StructType] =
      remappableSids.flatMap(sid =>
        remapOnto(required, t.metadata.schemaById(sid).get)
          .map(sid -> _)).toMap
    val anyEq = tasks.exists(_.deleteFiles.exists(
      _.file.content == FileContent.EqualityDeletes))
    // Extended-schema (required + decoded equality-key columns) remap
    // per write schema: an eq-delete task on a pre-evolution file
    // batch-reads its OWN names, the selection-vector key filter then
    // runs over the positionally-valid batch — upsert-maintained
    // tables keep codegen across renames. A key column that post-dates
    // the file null-fills (null keys never match — exact).
    val batchRemapExtSchemas: Map[Int, StructType] =
      if (!anyEq) Map.empty
      else remappableSids.flatMap(sid =>
        remapOnto(extended, t.metadata.schemaById(sid).get)
          .map(sid -> _)).toMap
    def taskColumnar(task: FileScanTask): Boolean = {
      val remapNeeded =
        task.schemaId != current.schemaId && task.schemaId >= 0
      val hasEqT = task.deleteFiles.exists(
        _.file.content == FileContent.EqualityDeletes)
      task.deleteFiles.forall(d =>
        d.file.content == FileContent.PositionDeletes ||
          d.file.content == FileContent.EqualityDeletes) &&
      (!hasEqT || !remapNeeded ||
        batchRemapExtSchemas.contains(task.schemaId)) &&
      (!remapNeeded || batchRemapSchemas.contains(task.schemaId))
    }
    val batchEnabled = !emitFile && tasks.forall(taskColumnar) &&
      ParquetShim.supportsBatch(spark, required) &&
      (!anyEq || ParquetShim.supportsBatch(spark, extended))
    // Row readers serve only scans that cannot go columnar, and every
    // reader build broadcasts the Hadoop conf — a columnar scan (the
    // common point lookup) builds none.
    val defaultFunc =
      if (batchEnabled) null
      else ParquetShim.buildReaderFunc(spark, full, extended)
    // row-group-skipping variant for tasks where early row drop is
    // sound (no position deletes — those count file row positions)
    val filteredFunc =
      if (batchEnabled || filters.isEmpty) defaultFunc
      else ParquetShim.buildReaderFunc(spark, full, extended, filters)
    val batchFunc =
      if (!batchEnabled) None
      else Some(ParquetShim.buildBatchReaderFunc(spark, full, required,
        filters))
    // position-delete tasks must read WITHOUT pushed filters: parquet
    // row-group/page skipping would desynchronize file row positions
    val batchFuncUnfiltered =
      if (!batchEnabled || !tasks.exists(_.deleteFiles.nonEmpty)) None
      else if (filters.isEmpty) batchFunc
      else Some(ParquetShim.buildBatchReaderFunc(spark, full, required,
        Nil))
    // equality-delete tasks batch-read the EXTENDED schema so pruned
    // key columns are decodable; pushed filters stay legal (key
    // filtering is content-based, not position-based) except when the
    // task ALSO carries position deletes
    val batchExtFunc =
      if (!batchEnabled || !anyEq) None
      else Some(ParquetShim.buildBatchReaderFunc(spark, full, extended,
        filters))
    val batchExtFuncUnfiltered =
      if (!batchEnabled || !anyEq) None
      else if (filters.isEmpty) batchExtFunc
      else Some(ParquetShim.buildBatchReaderFunc(spark, full, extended,
        Nil))
    // rename-only evolved files batch-read by the FILE's names; pushed
    // filters carry CURRENT names, so they are not forwarded there
    val batchRemapFuncs: Map[Int, PartitionedFile =>
        Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] =
      if (!batchEnabled) Map.empty
      else batchRemapSchemas.map { case (sid, fileReq) =>
        val fileFull =
          SchemaConverters.toSparkSchema(t.metadata.schemaById(sid).get)
        sid -> ParquetShim.buildBatchReaderFunc(spark, fileFull, fileReq,
          Nil)
      }
    // extended-schema variant for eq-delete tasks on remapped files
    val batchRemapExtFuncs: Map[Int, PartitionedFile =>
        Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] =
      if (!batchEnabled || !anyEq) Map.empty
      else batchRemapExtSchemas.map { case (sid, fileExt) =>
        val fileFull =
          SchemaConverters.toSparkSchema(t.metadata.schemaById(sid).get)
        sid -> ParquetShim.buildBatchReaderFunc(spark, fileFull, fileExt,
          Nil)
      }
    // Field-ID remapped read per write schema: files written before a
    // rename/widen are read with their OWN column names and types, rows
    // then promote positionally to the current schema, so reads survive
    // schema evolution instead of tripping a rename guard.
    val oldSchemaIds = tasks.map(_.schemaId).distinct
      .filter(sid => sid != current.schemaId &&
        t.metadata.schemaById(sid).isDefined)
    val remapped: Map[Int, (PartitionedFile => Iterator[InternalRow],
        Array[ReaderConv])] =
      oldSchemaIds.map { sid =>
        val fileSchema = t.metadata.schemaById(sid).get
        val pairs = extended.fields.map { f =>
          current.fieldByName(f.name).map(cur =>
            (cur, fileSchema.field(cur.id))) match {
            case Some((cur, Some(ff))) =>
              val fileSpark = SchemaConverters.toSparkType(ff.fieldType)
              val conv = ReaderConv.of(fileSpark, f.dataType)
              // no positional promotion needed → request the file's
              // OWN names in the CURRENT structure (recursively, by
              // inner field id): top-level and nested renames read the
              // real column, nested drops are omitted, additions
              // null-fill by (absent) name. Rows come back positionally
              // valid under the current type.
              val reqType =
                if (conv.code == 0)
                  requestType(f.dataType, cur.fieldType, ff.fieldType)
                else fileSpark
              (org.apache.spark.sql.types.StructField(ff.name, reqType,
                f.nullable), conv)
            case _ => // added since this file: null-fill by a name the
              // file does not carry (see [[absentName]])
              (org.apache.spark.sql.types.StructField(
                absentName(f.name, fileSchema.fields),
                f.dataType, nullable = true),
                ReaderConv.of(f.dataType, f.dataType))
          }
        }
        val fileRequired = StructType(pairs.map(_._1))
        val convs = pairs.map(_._2)
        val fileFull = SchemaConverters.toSparkSchema(fileSchema)
        // a columnar scan only asks WHICH ids remap (see defaultFunc)
        sid -> (if (batchEnabled) null
          else ParquetShim.buildReaderFunc(spark, fileFull, fileRequired),
          convs)
      }.toMap

    // Memory-bounded equality-delete support for pre-evolution files:
    // the bounded path's pre-pass reads the DATA file's key columns,
    // which there live under their OLD names/types — so each
    // (write-schema, key-set) pair gets a reader requesting the FILE
    // names plus positional promotions up to the current key types.
    // None = some key column post-dates the file entirely (added
    // later): every data row's key is null there, null keys never
    // match, the delete set for such a task is empty.
    val eqRemapKeyFuncs: Map[(Int, Seq[String]),
        Option[(PartitionedFile => Iterator[InternalRow],
          Array[ReaderConv])]] =
      (for { sid <- oldSchemaIds; names <- eqKeySets } yield {
        val fileSchema = t.metadata.schemaById(sid).get
        val resolved = names.map(n =>
          current.fieldByName(n).flatMap(cur =>
            fileSchema.field(cur.id).map(ff => (cur, ff))))
        val entry =
          if (resolved.contains(None)) None
          else {
            val pairs = resolved.flatten.map { case (cur, ff) =>
              val fileSpark = SchemaConverters.toSparkType(ff.fieldType)
              val curSpark = SchemaConverters.toSparkType(cur.fieldType)
              (org.apache.spark.sql.types.StructField(ff.name, fileSpark,
                nullable = true), ReaderConv.of(fileSpark, curSpark))
            }
            val fileFull = SchemaConverters.toSparkSchema(fileSchema)
            Some((ParquetShim.buildReaderFunc(spark, fileFull,
              StructType(pairs.map(_._1).toArray)),
              pairs.map(_._2).toArray))
          }
        (sid, names) -> entry
      }).toMap

    new GraftReaderFactory(
      defaultFunc, remapped,
      extended,
      required.fieldNames.map(extended.fieldIndex),
      posFunc, eqFuncs, emitFile, filteredFunc, batchFunc, eqSetMaxBytes,
      batchFuncUnfiltered, batchRemapFuncs, eqRemapKeyFuncs,
      batchExtFunc, batchExtFuncUnfiltered, batchRemapExtFuncs,
      current.schemaId)
  }
}

/** Positional value promotion for remapped reads. `code`: 0 identity,
  * 1 int→long, 2 float→double, 3 decimal precision widening (the file's
  * compact long-backed decimal must be re-declared at the current
  * precision — handing a long-backed decimal(18,2) upward as
  * decimal(20,2) would make binary-decimal accessors misread it). */
private[sources] final case class ReaderConv(
    code: Int, fileType: org.apache.spark.sql.types.DataType,
    curType: org.apache.spark.sql.types.DataType = null)
private[sources] object ReaderConv {
  import org.apache.spark.sql.types._
  def of(file: DataType, cur: DataType): ReaderConv = (file, cur) match {
    case (IntegerType, LongType) => ReaderConv(1, file)
    case (FloatType, DoubleType) => ReaderConv(2, file)
    case (f: DecimalType, c: DecimalType) if f != c =>
      ReaderConv(3, file, cur)
    case _ => ReaderConv(0, file)
  }
}

private[sources] class GraftV2Scan(
    /** The owning connector table: the scan's one source of (table,
      * tasks) — refresh + plan, or a staged task list — and of the
      * schema its names resolve through. */
    private[sources] val source: GraftConnectorTable,
    full: StructType,
    required: StructType,
    private[sources] val pushed: Option[Expr],
    options: CaseInsensitiveStringMap,
    emitFile: Boolean = false,
    /** EVERY filter Spark pushed (not just the pruning-convertible
      * subset) — forwarded to parquet row-group skipping, where
      * ParquetFilters converts what it can. */
    allFilters: Seq[sources.Filter] = Nil,
    /** Pushed LIMIT: plan only enough delete-free files to cover it. */
    limitHint: Option[Int] = None) extends V2Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Value equality over the scan's logical description: Spark's
    * exchange/subquery REUSE (and with it dynamic pruning — a
    * `DynamicPruningSubquery` whose build side can't `sameResult` the
    * join's broadcast collapses to `true`) compares scan instances from
    * independent plannings of the same relation. Same fix Iceberg's
    * SparkBatchQueryScan ships. Runtime-filter state is deliberately
    * excluded — canonicalization happens before runtime filtering. A
    * staged scan's key carries every staged data and delete file: two
    * staged reads of the same data files under different delete sets
    * (a changelog's before/after pair) must never compare equal. */
  private lazy val eqKey = (
    source.gtable.metadata.location,
    source.gtable.metadata.currentSnapshot.map(_.snapshotId),
    source.pinnedSnapshot,
    source.staged.map { case (schema, tasks) =>
      (schema.schemaId, tasks.map(t =>
        (t.file.filePath, t.deleteFiles.map(_.file.filePath))))
    },
    emitFile,
    required.fieldNames.toSeq,
    pushed.map(_.toString),
    allFilters.map(_.toString),
    limitHint)
  override def equals(o: Any): Boolean = o match {
    case g: GraftV2Scan => eqKey == g.eqKey
    case _ => false
  }
  override def hashCode(): Int = eqKey.hashCode

  /** Manifest-derived stats over the PRUNED file set — drives Spark's
    * broadcast-join planning for catalog tables without any data I/O
    * (a staged scan reports its staged files). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val tasks = batchTasks
    val size = tasks.map(_.file.fileSizeInBytes).sum
    val rows = tasks.map(_.file.recordCount).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(size, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Dynamic pruning: joins against a filtered dimension hand the scan
    * runtime predicates over the fact table's partition SOURCE columns;
    * file-level stats + partition-value pruning then drop files before
    * any is opened — Iceberg's runtime filtering shape. Only partition
    * source columns are advertised (classic DPP); a runtime predicate
    * that fails to convert prunes nothing, which is always sound. Only
    * columns the scan OUTPUTS qualify: Spark resolves every advertised
    * name against the pruned output, and an unresolvable one fails the
    * query. */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    val t = source.mutationPin.getOrElse(source.gtable)
    t.spec.fields
      .flatMap(pf => source.querySchema.field(pf.sourceId))
      .map(_.name).distinct
      .filter(n => required.fieldNames.contains(n))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  @volatile private var runtimeExpr: Option[Expr] = None

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val expr = predicates.toSeq
      .flatMap(p => org.apache.spark.sql.graftshim.Bridge.toV1Filter(p))
      .flatMap(f => FilterToExpr(f))
      .reduceOption(_ and _)
    if (expr.isDefined) runtimeExpr = expr
  }

  override def readSchema(): StructType =
    if (emitFile) StructType(required.fields :+ GraftMetaColumns.FileField)
    else required
  override def description(): String =
    s"graft:${(source.gtable.id.namespace :+ source.gtable.id.name)
      .mkString(".")} " +
      s"pushed=[${pushed.getOrElse("")}]"

  override def toBatch: Batch = new GraftBatch(this)
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(source.gtable, this, options)

  private def spark: SparkSession = SparkSession.active

  /** Batch reads take their tasks ONCE from the source (table + task
    * list shared between planInputPartitions and createReaderFactory
    * so the reader knows which equality-key columns it must decode). */
  private[sources] lazy val (batchTable, batchTasks) = {
    val (t, tasks) = source.planTasks(pushed)
    // LIMIT n with no filter: recordCount is exact per delete-free
    // file, so files beyond the first n cumulative rows can never
    // contribute — a LIMIT 10 on a million-file table plans one task.
    val truncated = limitHint match {
      case Some(n) if pushed.isEmpty && allFilters.isEmpty &&
          tasks.forall(_.deleteFiles.isEmpty) =>
        var acc = 0L
        val keep = Vector.newBuilder[FileScanTask]
        val it = tasks.iterator
        while (acc < n && it.hasNext) {
          val task = it.next(); keep += task; acc += task.file.recordCount
        }
        keep.result()
      case _ => tasks
    }
    (t, truncated)
  }

  /** Post-runtime-filter task set. BatchScanExec replans partitions
    * (and builds the reader factory) after `filter()` ran, so both
    * entry points below resolve through here. Runtime filters only
    * NARROW the source's tasks (file bounds + partition tuple), never
    * re-plan — a staged list stays the staged list. */
  private def effectiveTasks: Seq[FileScanTask] = runtimeExpr match {
    case None => batchTasks
    case Some(re) =>
      val pred = re.simplify
      batchTasks.filter(task => Scan.fileMightMatch(pred, task.file,
        source.querySchema, batchTable.metadata.specById(task.specId)))
  }

  /** Storage-partitioned joins: a per-task partition KEY extractor,
    * defined when every partition field's transform result is a
    * key-safe primitive (null-safe value equality in an InternalRow).
    * The key row's values are the manifest partition tuple in spec
    * order, converted to catalyst representations — exactly what
    * Spark's `KeyGroupedPartitioning` groups and co-locates on, so two
    * graft tables with the same layout join with ZERO shuffles
    * (`spark.sql.sources.v2.bucketing.enabled=true`). */
  private[sources] lazy val spjKeyer: Option[FileScanTask => Array[Any]] = {
    import graft.spec._
    val t = batchTable
    val fields: Seq[Option[(String, IcebergType)]] = t.spec.fields.map { pf =>
      t.schema.field(pf.sourceId).flatMap { src =>
        val rt = graft.spec.Transform.resultType(pf.transform, src.fieldType)
        val keySafe = rt match {
          case BooleanType | IntType | LongType | FloatType |
               DoubleType | StringType | DateType | TimeType |
               TimestampType | TimestampTzType => true
          case _ => false // bytes-valued (decimal/binary/uuid/fixed)
        }
        if (keySafe && pf.transform != graft.spec.Transform.Void)
          Some((pf.name, rt)) else None
      }
    }
    if (t.spec.fields.isEmpty || fields.exists(_.isEmpty)) None
    else {
      val prepared = fields.flatten
      Some { task =>
        prepared.map { case (pname, _) =>
          task.file.partition.getOrElse(pname, null) match {
            case null => null
            case s: String =>
              org.apache.spark.unsafe.types.UTF8String.fromString(s)
            case other => other
          }
        }.toArray
      }
    }
  }

  /** Report `KeyGroupedPartitioning` over the spec's transforms when
    * every planned task lives in the CURRENT spec (a spec-evolved
    * table's old-layout files cannot be grouped under the new keys).
    * Honored by Spark only when v2 bucketing is enabled; otherwise it
    * degrades to `UnknownPartitioning`, so reporting is always safe. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val reportable = spjKeyer.isDefined && batchTasks.nonEmpty &&
      batchTasks.forall(_.specId == batchTable.spec.specId) && !emitFile
    if (!reportable)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(batchTasks.size)
    else {
      val keyer = spjKeyer.get
      val distinct = batchTasks.map(t => keyer(t).toSeq).distinct.size
      val keys: Array[org.apache.spark.sql.connector.expressions.Expression] =
        GraftSparkCatalog.toTransforms(batchTable.spec, batchTable.schema)
          .map(x => x: org.apache.spark.sql.connector.expressions.Expression)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(keys, distinct)
    }
  }

  private[sources] def batchPartitions(): Array[InputPartition] = {
    val tasks = effectiveTasks
    val parts = BatchPlanning.partitions(batchTable, tasks,
      Some(source.querySchema))
    spjKeyer match {
      case Some(keyer) if !emitFile &&
          tasks.forall(_.specId == batchTable.spec.specId) =>
        parts.zip(tasks).map { case (p, task) =>
          GraftKeyedInputPartition(
            p.asInstanceOf[GraftInputPartition], keyer(task)): InputPartition
        }
      case _ => parts
    }
  }

  /** The factory built for the current runtime filter. Planning asks
    * for it on every copy of the scan's `BatchScanExec` (each copy
    * re-evaluates its lazy factory), and every build broadcasts the
    * Hadoop conf once per reader function. */
  @volatile private var factoryMemo
      : Option[(Option[Expr], PartitionReaderFactory)] = None

  private[sources] def batchReaderFactory(): PartitionReaderFactory = {
    val re = runtimeExpr
    factoryMemo match {
      case Some((memoRe, f)) if memoRe == re => f
      case _ =>
        val f = newBatchReaderFactory()
        factoryMemo = Some((re, f))
        f
    }
  }

  private def newBatchReaderFactory(): PartitionReaderFactory =
    BatchPlanning.readerFactory(spark, batchTable, effectiveTasks, full,
      required, emitFile, allFilters,
      eqSetMaxBytes = Option(options.get("eq-delete-set-max-bytes"))
        .map { v =>
          val parsed =
            try v.trim.toLong
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  "graft source: option 'eq-delete-set-max-bytes' must be " +
                    s"a byte count (long), got '$v'")
            }
          if (parsed <= 0) throw new IllegalArgumentException(
            "graft source: option 'eq-delete-set-max-bytes' must be " +
              s"a positive byte count, got '$v'")
          parsed
        }
        .getOrElse(GraftReaderFactory.DefaultEqSetMaxBytes),
      querySchema = Some(source.querySchema))

  /** Last-planned micro-batch (table + tasks), shared between
    * `planInputPartitions` and `createReaderFactory` exactly like the
    * batch path — the factory must know the batch's delete-key columns
    * and write-schema ids. Structured Streaming calls them in that
    * order for every micro-batch. */
  @volatile private[sources] var streamPlanned: (Table, Seq[FileScanTask]) =
    null

  /** Streaming factory: built from the last planned micro-batch via the
    * SAME delete-aware, schema-remapping machinery as batch reads — an
    * upsert-maintained (MoR) or renamed table streams from scratch
    * correctly instead of being rejected. */
  private[sources] def readerFactory(): PartitionReaderFactory = {
    val planned = streamPlanned
    if (planned == null)
      new GraftReaderFactory(
        ParquetShim.buildReaderFunc(spark, full, required), Map.empty,
        required, required.fieldNames.indices.toArray, None, Map.empty)
    else
      BatchPlanning.readerFactory(spark, planned._1, planned._2, full,
        required, emitFile = false,
        querySchema = Some(source.querySchema))
  }

  private[sources] def toStreamPartitions(
      t: Table, tasks: Seq[FileScanTask]): Array[InputPartition] = {
    streamPlanned = (t, tasks)
    BatchPlanning.partitions(t, tasks, Some(source.querySchema))
  }
}

/** Case class: `BatchScanExec.equals` compares `scan.toBatch` results,
  * and `toBatch` constructs a fresh instance per call — value equality
  * here (delegating to [[GraftV2Scan]]'s eqKey equality) is what lets
  * exchange reuse and dynamic pruning recognize two plannings of the
  * same scan. */
private[sources] case class GraftBatch(scan: GraftV2Scan) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    scan.batchPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    scan.batchReaderFactory()
}

final case class DeleteFileInfo(path: String, length: Long)
final case class EqDeleteInfo(path: String, length: Long,
    keyNames: Seq[String],
    /** Schema id the delete file was written under: its key columns
      * are stored under THAT schema's names/types, so a post-delete
      * rename or promotion must resolve by field id through it. */
    schemaId: Int = -1)
final case class GraftInputPartition(path: String, length: Long,
    posDeletes: Seq[DeleteFileInfo], eqDeletes: Seq[EqDeleteInfo],
    schemaId: Int = -1)
    extends InputPartition

/** A file task carrying its partition-tuple KEY (catalyst values in
  * spec-field order): Spark groups tasks with equal keys into one
  * input split (`HasPartitionKey`), which is what makes the scan's
  * reported `KeyGroupedPartitioning` realizable — the substrate of
  * storage-partitioned joins. */
final case class GraftKeyedInputPartition(p: GraftInputPartition,
    keyValues: Array[Any])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(keyValues)
}

private[sources] object UnwrapPartition {
  def apply(p: InputPartition): GraftInputPartition = p match {
    case k: GraftKeyedInputPartition => k.p
    case g: GraftInputPartition => g
  }
}

/** Executor-side reader. Per task: position deletes for THIS file load
  * into a row-index hash set (row order = file order because each task
  * reads one whole file with no pushed parquet filters); equality
  * deletes load their key columns into per-key-set hash sets; data rows
  * stream through both filters and project down to the query schema. */
/** Row-survival predicate over equality-delete key sets, shared by the
  * row and columnar readers and specialized for the dominant upsert
  * shape — a single LONG key column — so the per-row hot path is one
  * primitive-hash probe instead of an allocated, boxed key array. */
private[sources] final class EqFilter(
    eqSets: Array[(Array[Int], Array[org.apache.spark.sql.types.DataType],
      java.util.HashSet[Seq[Any]])],
    normVal: Any => Any) {

  private val (fast, generic) = eqSets.filter(!_._3.isEmpty).partition {
    case (ords, types, _) => ords.length == 1 &&
      types(0) == org.apache.spark.sql.types.LongType
  }
  private val fastOrds: Array[Int] = fast.map(_._1(0))
  private val fastSets: Array[java.util.HashSet[java.lang.Long]] =
    fast.map { case (_, _, s) =>
      val ls = new java.util.HashSet[java.lang.Long](s.size * 2)
      s.forEach(k => ls.add(k.head.asInstanceOf[java.lang.Long]))
      ls
    }

  def isEmpty: Boolean = fastOrds.length == 0 && generic.length == 0

  /** True when the row survives every equality-delete set. */
  def keep(row: InternalRow): Boolean = {
    var i = 0
    while (i < fastOrds.length) {
      if (!row.isNullAt(fastOrds(i)) &&
          fastSets(i).contains(row.getLong(fastOrds(i)))) return false
      i += 1
    }
    i = 0
    while (i < generic.length) {
      val (ords, types, set) = generic(i)
      val key = Array.tabulate(ords.length) { j =>
        if (row.isNullAt(ords(j))) null
        else normVal(row.get(ords(j), types(j)))
      }
      // null keys never match (SQL equality semantics)
      if (!key.contains(null) &&
          set.contains(ArraySeq.unsafeWrapArray(key))) return false
      i += 1
    }
    true
  }
}

private[sources] class GraftReaderFactory(
    /** Row read of the extended schema; null when the scan is
      * columnar (`batchReadFunc` defined — no row reader is asked). */
    readFunc: PartitionedFile => Iterator[InternalRow],
    /** Per-write-schema remapped readers + positional promotions for
      * files written under an older schema id. */
    remappedFuncs: Map[Int, (PartitionedFile => Iterator[InternalRow],
      Array[ReaderConv])],
    extendedSchema: StructType,
    outputOrdinals: Array[Int],
    posReadFunc: Option[PartitionedFile => Iterator[InternalRow]],
    /** Keyed by (write-schema id, key names): reads that schema's key
      * column names/types with positional promotion (`null` convs =
      * identity) up to the current key types. The CURRENT schema id's
      * entry doubles as the data-file key reader for the
      * memory-bounded pre-pass on non-remapped tasks. */
    eqReadFuncs: Map[(Int, Seq[String]),
      (PartitionedFile => Iterator[InternalRow], Array[ReaderConv])],
    /** Append the task's file path as a trailing `_file` string column
      * (Spark metadata column; drives row-level runtime group filtering). */
    appendFilePath: Boolean = false,
    /** Row-group-skipping variant of `readFunc` (pushed filters applied
      * by the parquet reader). Used for partitions WITHOUT position
      * deletes — position-delete application counts file row positions,
      * which filter-skipped rows would desynchronize. */
    filteredReadFunc: PartitionedFile => Iterator[InternalRow] = null,
    /** Vectorized columnar read (required schema, pushed filters) for
      * delete-free non-remapped partitions. */
    batchReadFunc: Option[PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None,
    /** Above this summed-bytes threshold a task's equality-delete files
      * are applied MEMORY-BOUNDED: the retained key set bounds by the
      * task's own data file, not the delete files. */
    eqSetMaxBytes: Long = GraftReaderFactory.DefaultEqSetMaxBytes,
    /** Filter-free columnar read for position-delete tasks (row-group
      * skipping would desynchronize file row positions). */
    batchReadFuncUnfiltered: Option[PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None,
    /** Columnar readers per OLD schema id for rename-only evolution:
      * read by the file's names, batch positionally valid under the
      * current schema. */
    batchRemapFuncs: Map[Int, PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = Map.empty,
    /** Data-file KEY-column readers per (old schema id, eq-key names)
      * for the memory-bounded equality-delete pre-pass on remapped
      * tasks: request by the FILE's names, promote positionally to the
      * current key types. A `None` value records that a key column
      * post-dates that schema (all keys null there → nothing matches). */
    eqRemapKeyFuncs: Map[(Int, Seq[String]),
      Option[(PartitionedFile => Iterator[InternalRow],
        Array[ReaderConv])]] = Map.empty,
    /** Columnar readers over the EXTENDED schema (required + decoded
      * equality-key columns) for equality-delete tasks: rows are
      * key-filtered through a zero-copy selection vector, the batch is
      * then projected back down to `required` — so MoR tables keep the
      * whole-stage-codegen columnar handoff. Filtered and
      * filter-free (position-delete-safe) variants. */
    batchExtReadFunc: Option[PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None,
    batchExtReadFuncUnfiltered: Option[PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None,
    /** Extended-schema columnar readers per OLD schema id: eq-delete
      * tasks on rename-only-evolved files batch-read by the file's
      * names (keys included), stay positionally valid under the
      * current extended schema, and key-filter through the same
      * selection-vector machinery as current-schema tasks. */
    batchRemapExtFuncs: Map[Int, PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = Map.empty,
    /** The query-resolution schema's id: selects the `eqReadFuncs`
      * entry used for the data-file key pre-pass on non-remapped
      * tasks. */
    currentSchemaId: Int = -1)
    extends PartitionReaderFactory {

  private def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  private def columnarEligible(gp: GraftInputPartition): Boolean =
    !appendFilePath &&
      (gp.eqDeletes.isEmpty ||
        batchRemapExtFuncs.contains(gp.schemaId) ||
        (batchExtReadFunc.isDefined &&
          !remappedFuncs.contains(gp.schemaId))) &&
      (gp.posDeletes.isEmpty || posReadFunc.isDefined) &&
      (!remappedFuncs.contains(gp.schemaId) ||
        batchRemapFuncs.contains(gp.schemaId))

  /** Factory-level columnar opt-in (Spark forbids mixed columnar/row
    * partitions in one scan): the batch funcs are only constructed when
    * EVERY task of the scan qualifies, so this is constant-true or
    * constant-false per scan. */
  override def supportColumnarReads(p: InputPartition): Boolean =
    batchReadFunc.isDefined

  /** Row positions of `gp.path` removed by the task's position-delete
    * files; null when the task carries none. */
  private def buildPosSet(gp: GraftInputPartition)
      : java.util.HashSet[java.lang.Long] =
    if (gp.posDeletes.isEmpty) null
    else {
      val myPath = normPath(gp.path)
      val s = new java.util.HashSet[java.lang.Long]()
      val f = posReadFunc.getOrElse(throw new IllegalStateException(
        "graft source: partition has position deletes but the factory " +
          "was built without a delete reader"))
      gp.posDeletes.foreach { d =>
        f(ParquetShim.partitionedFile(d.path, d.length)).foreach { r =>
          if (normPath(r.getUTF8String(0).toString) == myPath)
            s.add(r.getLong(1))
        }
      }
      s
    }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val gp = UnwrapPartition(p)
    require(columnarEligible(gp), s"non-columnar partition ${gp.path}")
    val hasEq = gp.eqDeletes.nonEmpty
    // equality-delete tasks read the EXTENDED schema (key columns
    // decoded even when the projection pruned them) and project back
    // down after filtering; others read `required` directly
    val func =
      if (hasEq)
        // remapped files read their own names (filter-free — pushed
        // filters carry current names); others the current extended
        // schema, filter-free when position deletes count positions
        batchRemapExtFuncs.get(gp.schemaId).orElse(
          if (gp.posDeletes.nonEmpty) batchExtReadFuncUnfiltered
          else batchExtReadFunc).getOrElse(throw new IllegalStateException(
          s"graft source: no extended columnar reader for ${gp.path}"))
      else batchRemapFuncs.get(gp.schemaId).orElse(
        if (gp.posDeletes.nonEmpty) batchReadFuncUnfiltered
        else batchReadFunc).getOrElse(throw new IllegalStateException(
          s"graft source: no columnar reader for ${gp.path}"))
    val posSet = buildPosSet(gp)
    val eqFilter = new EqFilter(
      if (hasEq) buildEqSets(gp) else Array.empty, normVal)
    val needProject = hasEq &&
      !outputOrdinals.sameElements(extendedSchema.fields.indices)
    val it = func(ParquetShim.partitionedFile(gp.path, gp.length))
    if ((posSet == null || posSet.isEmpty) && eqFilter.isEmpty &&
        !needProject)
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
        override def next(): Boolean =
          if (it.hasNext) { cur = it.next(); true } else false
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          cur
        override def close(): Unit = ()
      }
    else
      new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
        private var rowsSeen = 0L // file position of the next batch

        override def next(): Boolean = {
          while (it.hasNext) {
            val b = it.next()
            val start = rowsSeen
            rowsSeen += b.numRows()
            var filtered =
              if (posSet == null || posSet.isEmpty) b
              else ColumnarDeletes.filterBatch(b, start, posSet)
            if (!eqFilter.isEmpty) {
              val fb = filtered
              filtered = ColumnarDeletes.filterBatchRows(
                fb, i => eqFilter.keep(fb.getRow(i)))
            }
            if (filtered.numRows() > 0) {
              cur =
                if (needProject)
                  ColumnarDeletes.projectColumns(filtered, outputOrdinals)
                else filtered
              return true
            }
          }
          false
        }
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          cur
        override def close(): Unit = ()
      }
  }

  /** Internal values → set-friendly: copies out of reused buffers and
    * normalizes to types with value equality. */
  private def normVal(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** Per-key-set equality-delete state for this task: (extended-schema
    * ordinals, key types, deleted keys). Shared by the row reader and
    * the columnar key filter. */
  private def buildEqSets(gp: GraftInputPartition)
      : Array[(Array[Int], Array[org.apache.spark.sql.types.DataType],
        java.util.HashSet[Seq[Any]])] =
    gp.eqDeletes.groupBy(_.keyNames).map { case (names, files) =>
        val keyTypes = names.map(n =>
          extendedSchema(extendedSchema.fieldIndex(n)).dataType).toArray
        // reader for key columns written under `dsid`'s names/types
        def readerFor(dsid: Int) = eqReadFuncs.getOrElse((dsid, names),
          throw new IllegalStateException(
            s"graft source: no delete reader for key set $names under " +
              s"write schema $dsid"))
        // Key of a row read under write-schema convs (`null` =
        // current types). Null keys never match (SQL equality).
        def keyOf(r: InternalRow, kcs: Array[ReaderConv]): Seq[Any] = {
          val key = Array.tabulate(names.length) { i =>
            if (r.isNullAt(i)) null
            else if (kcs == null) normVal(r.get(i, keyTypes(i)))
            else kcs(i).code match {
              case 1 => java.lang.Long.valueOf(r.getInt(i).toLong)
              case 2 => java.lang.Double.valueOf(r.getFloat(i).toDouble)
              case _ => normVal(r.get(i, kcs(i).fileType))
            }
          }
          if (key.contains(null)) null else ArraySeq.unsafeWrapArray(key)
        }
        val set = new java.util.HashSet[Seq[Any]]()
        val summedBytes = files.map(_.length).sum
        // The reader for THIS data file's key columns: current-schema
        // tasks use the current schema's key reader (projection is by
        // name); schema-remapped tasks use the per-write-schema key
        // reader (the file's OLD names + positional promotion to the
        // current key types). None = a key column post-dates the file —
        // all its keys are null there, null keys never match, so no
        // delete with this key set can touch this task at all.
        val dataKeyReader: Option[(PartitionedFile => Iterator[InternalRow],
            Array[ReaderConv])] =
          if (!remappedFuncs.contains(gp.schemaId))
            Some(readerFor(currentSchemaId))
          else eqRemapKeyFuncs.getOrElse((gp.schemaId, names), None)
        if (dataKeyReader.isEmpty) {
          // remapped task missing a key column entirely: the empty set
          // is exact — skip reading the delete files altogether
          ()
        } else if (summedBytes > eqSetMaxBytes) {
          // Memory-bounded application: a multi-GB delete file must not
          // materialize as a per-task heap set. Read THIS data file's
          // key columns first (column-pruned parquet read), then STREAM
          // each delete file and retain only keys that occur in this
          // task — the kept set bounds by the task's file size, not the
          // delete files.
          val (df, kcs) = dataKeyReader.get
          val present = new java.util.HashSet[Seq[Any]]()
          df(ParquetShim.partitionedFile(gp.path, gp.length)).foreach { r =>
            val k = keyOf(r, kcs)
            if (k != null) present.add(k)
          }
          files.foreach { d =>
            val (f, kcs2) = readerFor(d.schemaId)
            f(ParquetShim.partitionedFile(d.path, d.length)).foreach { r =>
              val k = keyOf(r, kcs2)
              if (k != null && present.contains(k)) set.add(k)
            }
          }
          GraftReaderFactory.boundedEqApplications.incrementAndGet()
        } else {
          files.foreach { d =>
            val (f, kcs2) = readerFor(d.schemaId)
            f(ParquetShim.partitionedFile(d.path, d.length)).foreach { r =>
              val k = keyOf(r, kcs2)
              if (k != null) set.add(k)
            }
          }
        }
        val ords = names.map(extendedSchema.fieldIndex).toArray
        (ords, keyTypes, set)
      }.toArray

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val gp = UnwrapPartition(p)

    val posSet: java.util.HashSet[java.lang.Long] = buildPosSet(gp)
    val eqFilter = new EqFilter(buildEqSets(gp), normVal)

    val (func, convs) = remappedFuncs.get(gp.schemaId) match {
      case Some((f, cs)) if cs.exists(_.code != 0) => (f, cs)
      case Some((f, _)) => (f, null) // names remapped, types unchanged
      case None =>
        // no position deletes → parquet may skip row groups on the
        // pushed filters (eq-delete filtering is key-based, unaffected)
        if (gp.posDeletes.isEmpty && filteredReadFunc != null)
          (filteredReadFunc, null)
        else (readFunc, null)
    }
    val it = func(ParquetShim.partitionedFile(gp.path, gp.length))
    val identityProjection = !appendFilePath && convs == null &&
      outputOrdinals.sameElements(extendedSchema.fields.indices)
    val extTypes = extendedSchema.fields.map(_.dataType)
    val filePathValue =
      org.apache.spark.unsafe.types.UTF8String.fromString(gp.path)

    /** Promote a remapped row positionally to the current types. */
    def promote(row: InternalRow): InternalRow = {
      val vals = new Array[Any](convs.length)
      var i = 0
      while (i < vals.length) {
        val c = convs(i)
        vals(i) =
          if (row.isNullAt(i)) null
          else c.code match {
            case 1 => row.getInt(i).toLong
            case 2 => row.getFloat(i).toDouble
            case 3 =>
              // re-declare the file's decimal at the CURRENT precision:
              // reading it out with the file's (precision, scale) is
              // storage-correct (compact long vs binary follows the
              // FILE type), and a fresh Decimal at the current
              // precision is storage-correct for downstream accessors
              val fd = c.fileType
                .asInstanceOf[org.apache.spark.sql.types.DecimalType]
              val cd = c.curType
                .asInstanceOf[org.apache.spark.sql.types.DecimalType]
              org.apache.spark.sql.types.Decimal(
                row.getDecimal(i, fd.precision, fd.scale).toJavaBigDecimal,
                cd.precision, cd.scale)
            case _ => row.get(i, c.fileType)
          }
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(vals)
    }

    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      private var rowIdx: Long = -1L

      private def deleted(row: InternalRow, idx: Long): Boolean =
        (posSet != null && posSet.contains(idx)) || !eqFilter.keep(row)

      override def next(): Boolean = {
        while (it.hasNext) {
          val raw = it.next()
          val row = if (convs == null) raw else promote(raw)
          rowIdx += 1
          if (!deleted(row, rowIdx)) {
            cur =
              if (identityProjection) row
              else {
                val n = outputOrdinals.length
                val vals =
                  new Array[Any](if (appendFilePath) n + 1 else n)
                var i = 0
                while (i < n) {
                  val o = outputOrdinals(i)
                  vals(i) = if (row.isNullAt(o)) null
                    else row.get(o, extTypes(o))
                  i += 1
                }
                if (appendFilePath) vals(n) = filePathValue
                new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(vals)
              }
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

private[sources] object GraftReaderFactory {
  val PosDeleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** Eager per-task equality-delete key sets cap out here; above it the
    * reader switches to the data-side-bounded application. Overridable
    * per read via option `eq-delete-set-max-bytes`. */
  val DefaultEqSetMaxBytes: Long = 64L * 1024 * 1024

  /** Telemetry: how many (task, key-set) applications took the bounded
    * path. Monotonic per JVM; tests read it to assert routing. */
  val boundedEqApplications =
    new java.util.concurrent.atomic.AtomicLong(0L)
}

/** File-position stream offset. `snapshotId = -1` = nothing consumed
  * yet. `pos` is the number of files consumed of `snapshotId`'s plan
  * (`-1` = snapshot fully consumed — also what legacy `{"snapshotId"}`
  * checkpoints decode to, so old checkpoints resume seamlessly).
  * `initial = true` marks the anchor snapshot, whose plan is the FULL
  * table rather than one snapshot's appends — a restart mid-initial
  * batch must replan the same file list. Plans are path-sorted, so a
  * position is stable across restarts. */
final case class GraftOffset(snapshotId: Long, pos: Int = -1,
    initial: Boolean = false) extends Offset {
  override def json(): String =
    s"""{"snapshotId":$snapshotId,"pos":$pos,"initial":$initial}"""
}
object GraftOffset {
  private val P =
    ("""\{\s*"snapshotId"\s*:\s*(-?\d+)\s*(?:,\s*"pos"\s*:\s*(-?\d+)\s*""" +
      """,\s*"initial"\s*:\s*(true|false)\s*)?\}""").r
  def fromJson(j: String): GraftOffset = j.trim match {
    case P(id, pos, init) => GraftOffset(id.toLong,
      Option(pos).map(_.toInt).getOrElse(-1),
      Option(init).exists(_.toBoolean))
    case other => throw new IllegalArgumentException(
      s"not a graft offset: $other")
  }
}

/** Micro-batch source with admission control: option
  * `max-files-per-trigger` caps each micro-batch (Iceberg's
  * `streaming-max-files-per-micro-batch`), so a stream catching up on
  * a huge table backfills in bounded batches instead of planning the
  * entire table into one. Offsets carry (snapshot, file position); the
  * per-snapshot plans are path-sorted and memoized, so a restart
  * resumes mid-snapshot deterministically. */
private[sources] class GraftMicroBatchStream(
    initial: Table,
    scan: GraftV2Scan,
    options: CaseInsensitiveStringMap) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{
    ReadLimit, ReadMaxFiles}

  @volatile private var tableRef: Table = initial
  private val skipOverwrites =
    options.getBoolean("skip-overwrites", false)
  private val startLatest =
    "latest".equalsIgnoreCase(options.get("starting-offset"))
  private val maxFilesPerTrigger =
    Option(options.get("max-files-per-trigger")).map(_.toInt)

  /** Memoized per-(snapshot, initial) plans; tiny (only snapshots the
    * stream is actively crossing), cleared when it grows. */
  private val plans = scala.collection.concurrent.TrieMap
    .empty[(Long, Boolean), Seq[FileScanTask]]

  private def refreshed(): Table = {
    tableRef = try tableRef.refresh() catch { case _: Exception => tableRef }
    tableRef
  }

  private def planFor(t: Table, sid: Long,
      isInitial: Boolean): Seq[FileScanTask] = {
    if (plans.size > 8) plans.clear()
    plans.getOrElseUpdate((sid, isInitial), {
      val base =
        if (isInitial) scan.source.newScan(t, scan.pushed).useSnapshot(sid)
        else t.snapshotById(sid).flatMap(_.parentSnapshotId) match {
          case Some(p) =>
            val sc =
              scan.source.newScan(t, scan.pushed).appendsBetween(p, sid)
            if (skipOverwrites)
              sc.option("incremental-skip-overwrites", "true")
            else sc
          case None => // root snapshot: its appends ARE its content
            scan.source.newScan(t, scan.pushed).useSnapshot(sid)
        }
      base.planFiles().sortBy(_.file.filePath)
    })
  }

  /** Ancestry ids strictly after `fromExclusive` up to `to`,
    * oldest-first. */
  private def chainTo(t: Table, fromExclusive: Long,
      to: Long): Seq[Long] = {
    val out = scala.collection.mutable.ListBuffer.empty[Long]
    var cur: Option[Long] = Some(to)
    while (cur.isDefined && cur.get != fromExclusive) {
      out.prepend(cur.get)
      cur = t.snapshotById(cur.get).flatMap(_.parentSnapshotId)
    }
    if (cur.isEmpty) throw new IllegalStateException(
      s"graft source: snapshot $fromExclusive is no ancestor of $to " +
        "(expired or rolled back) — restart the stream from scratch")
    out.toSeq
  }

  override def initialOffset(): Offset =
    if (startLatest)
      GraftOffset(refreshed().currentSnapshot
        .map(_.snapshotId).getOrElse(-1L))
    else GraftOffset(-1L)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** `Trigger.AvailableNow`: pin the drain target to the snapshot
    * current at query start. Micro-batches still respect
    * `max-files-per-trigger`, so a huge backfill drains in bounded
    * steps and the query stops at the pinned snapshot even if writers
    * keep committing. */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(refreshed().currentSnapshot
      .map(_.snapshotId).getOrElse(-1L))

  override def reportLatestOffset(): Offset =
    GraftOffset(refreshed().currentSnapshot
      .map(_.snapshotId).getOrElse(-1L))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t = refreshed()
    val so = start.asInstanceOf[GraftOffset]
    val cur = availableNowTarget.getOrElse(
      t.currentSnapshot.map(_.snapshotId).getOrElse(-1L))
    if (cur == -1L) return so
    var remaining = limit match {
      case m: ReadMaxFiles => m.maxFiles()
      case _ => Int.MaxValue
    }
    if (so.snapshotId == -1L) {
      val size = planFor(t, cur, isInitial = true).size
      val n = math.min(size, remaining)
      return GraftOffset(cur, if (n == size) -1 else n, initial = true)
    }
    var sid = so.snapshotId
    var pos = so.pos
    var init = so.initial
    if (pos >= 0) { // resume a partially-consumed snapshot
      val plan = planFor(t, sid, init)
      val n = math.min(plan.size - pos, remaining)
      pos += n; remaining -= n
      if (pos >= plan.size) pos = -1
    }
    while (pos == -1 && remaining > 0 && sid != cur) {
      val nxt = chainTo(t, sid, cur).head
      val plan = planFor(t, nxt, isInitial = false)
      val n = math.min(plan.size, remaining)
      sid = nxt; init = false
      pos = if (n == plan.size) -1 else n
      remaining -= n
    }
    GraftOffset(sid, pos, init)
  }

  override def deserializeOffset(json: String): Offset =
    GraftOffset.fromJson(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[GraftOffset]
    val eo = end.asInstanceOf[GraftOffset]
    if (eo.snapshotId == -1L || so == eo) return Array.empty
    val t = tableRef
    val tasks = Seq.newBuilder[FileScanTask]
    def upTo(plan: Seq[FileScanTask], pos: Int): Seq[FileScanTask] =
      if (pos == -1) plan else plan.take(pos)
    if (so.snapshotId == -1L) { // anchor: full table at eo's snapshot
      tasks ++= upTo(planFor(t, eo.snapshotId, isInitial = true), eo.pos)
    } else if (so.snapshotId == eo.snapshotId) {
      val plan = planFor(t, so.snapshotId, so.initial)
      val from = if (so.pos == -1) plan.size else so.pos
      val to = if (eo.pos == -1) plan.size else eo.pos
      tasks ++= plan.slice(from, to)
    } else {
      if (so.pos >= 0) // finish the partially-consumed start snapshot
        tasks ++= planFor(t, so.snapshotId, so.initial).drop(so.pos)
      val ids = chainTo(t, so.snapshotId, eo.snapshotId)
      ids.dropRight(1).foreach(m =>
        tasks ++= planFor(t, m, isInitial = false))
      tasks ++= upTo(planFor(t, eo.snapshotId, isInitial = false), eo.pos)
    }
    scan.toStreamPartitions(t, tasks.result())
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
