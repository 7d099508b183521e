package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.Bridge

import graft.spec.{Schema, SchemaConverters}
import graft.table.{FileScanTask, Table}

/** The SQL surface over engine tables: a temp view over the table's
  * DSv2 relation. Each query plans afresh through [[GraftConnectorTable]]
  * — refresh (commits after registration are visible), manifest/file
  * pruning from the pushed filters, statistics from the pruned files
  * for broadcast planning — and reads through the graft reader, which
  * applies MoR deletes. The view's column names resolve through the
  * schema at registration, by field id, so renames since then read
  * through; a drop or type change of a view column (or an equality
  * delete keyed on a column the view lacks) reads the table as
  * registered. Self-joins work: the relation is a
  * `MultiInstanceRelation`. */
object GraftSQL {

  /** A DataFrame over the table's DSv2 relation. */
  def tableDF(spark: SparkSession, table: Table): DataFrame =
    Bridge.ofRows(spark, DataSourceV2Relation.create(
      new GraftConnectorTable(table,
        SchemaConverters.toSparkSchema(table.schema)), None, None))

  /** Expose `table` to `spark.sql` / `spark.table` as `viewName`. */
  def registerTable(spark: SparkSession, table: Table,
      viewName: String): Unit =
    tableDF(spark, table).createOrReplaceTempView(viewName)
}

/** A staged read: the DSv2 relation over exactly `tasks` of `table`,
  * column names resolved through `querySchema` (the shape of Iceberg's
  * `SparkStagedScan`). The scan applies each task's MoR delete files
  * and remaps files written under older schemas in
  * [[GraftReaderFactory]], and never refreshes the table or re-plans:
  * pushed filters reach only parquet row-group skipping, runtime
  * filters, LIMIT and aggregate pushdown only narrow or answer from the
  * staged tasks. `Scan.toDF`, mutation rewrites, compaction and the
  * changelog read through here. */
private[graft] object StagedRelation {
  def apply(spark: SparkSession, table: Table, querySchema: Schema,
      tasks: Seq[FileScanTask]): DataFrame =
    Bridge.ofRows(spark, DataSourceV2Relation.create(
      new GraftConnectorTable(table,
        SchemaConverters.toSparkSchema(querySchema),
        staged = Some((querySchema, tasks))), None, None))
}
