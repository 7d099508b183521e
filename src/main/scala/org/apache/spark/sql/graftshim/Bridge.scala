package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal shim into the `private[sql]` Column↔Expression converters
  * (Spark 4 moved Column onto ColumnNode, hiding the Expression
  * constructor). Lives under org.apache.spark.sql so the package-private
  * access resolves — the standard extension-library technique. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`; this shim re-exports it for the graft relations). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** V2 connector `Predicate` → v1 `sources.Filter` (the
    * `private[sql]` converter Spark itself uses) — lets runtime
    * (dynamic pruning) predicates reuse the engine's v1-filter
    * pruning path. */
  def toV1Filter(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Re-plannable copy of a micro-batch DataFrame for v1 `Sink.addBatch`:
    * the incoming frame is bound to the stream's IncrementalExecution, so
    * building new plans over it (select/repartition — anything a writer
    * does) is unsafe. Wrap the executed RDD in a LogicalRDD exactly as
    * Spark's own ForeachBatchSink does, yielding a frame arbitrary batch
    * code can consume. */
  def materializedBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      classic.queryExecution.toRdd, classic, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(classic.sparkSession, node)
  }
}
