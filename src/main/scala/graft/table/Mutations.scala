package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spec._

/** Full CRUD over Iceberg tables (SURVEY §2.7), Spark-first:
  * candidate files come from the pruned scan plan, rewrites are single
  * Spark jobs over just those files, and the swap commits atomically
  * through [[SnapshotWriter]].
  *
  * Row-level semantics: DELETE removes rows where the predicate is TRUE
  * (survivors = `pred IS NOT TRUE`, i.e. FALSE or NULL — SQL MERGE/
  * DELETE semantics, 3VL-correct unlike the reference's row loop).
  */
object Mutations {

  /** Re-plan-and-rerun loop around a rewrite whose commit can hit a
    * rebase conflict (a concurrent commit rewrote our candidate files):
    * the WHOLE operation re-executes against the refreshed table, so
    * the new rewrite reads the concurrent changes instead of
    * recommitting stale survivors. */
  private[table] def withConflictRetry(table: Table, maxAttempts: Int = 3)(
      op: Table => Table): Table = {
    var t = table
    var attempt = 0
    while (true) {
      try return op(t)
      catch {
        case _: graft.catalog.CommitConflictException
            if attempt < maxAttempts =>
          attempt += 1
          t = t.refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def survivorFilter(pred: Expr): Column =
    !coalesce(pred.toColumn, lit(false))

  private def matchFilter(pred: Expr): Column =
    coalesce(pred.toColumn, lit(false))

  private def readFiles(table: Table, spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read
      .schema(graft.spec.SchemaConverters.toSparkSchema(table.schema))
      .parquet(paths: _*)

  /** Read candidate tasks THROUGH the MoR-applying reader: a CoW
    * rewrite that read raw parquet would resurrect rows already removed
    * by delete files. Applied deletes also get retired: the rewritten
    * files carry a fresh (higher) sequence number, so old position/
    * equality deletes no longer apply to them. */
  private def readCandidates(table: Table, spark: SparkSession,
      candidates: Seq[FileScanTask]): DataFrame =
    Scan(table, spark).readTasks(table.schema, candidates)

  /** Copy-on-write delete (T4, `table/delete.go:82-183`): rewrite only
    * the pruned candidate files without their matching rows, swap both
    * sets in one snapshot. */
  def deleteCoW(table: Table, spark: SparkSession, pred0: Expr): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      if (candidates.isEmpty) t
      else {
        val survivors = readCandidates(t, spark, candidates)
          .where(survivorFilter(pred))
        val newFiles = PartitionedWriter.writeDataFiles(t.metadata, survivors)
        t.commitSnapshot(PendingSnapshot(Operation.Delete,
          addedDataFiles = newFiles,
          deletedFilePaths = candidates.map(_.file.filePath).toSet))
      }
    }

  /** Merge-on-read position delete (T5, `table/delete.go:400-464`):
    * record matching (file, pos) pairs; the scan applies them (J2). */
  def deleteMoR(table: Table, spark: SparkSession, pred0: Expr): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      if (candidates.isEmpty) t
      else {
        val deletes = readFiles(t, spark, candidates.map(_.file.filePath))
          .withColumn("file_path",
            Scan.decodedMetaPath(col("_metadata.file_path")))
          .withColumn("pos", col("_metadata.row_index"))
          .where(matchFilter(pred))
          .select("file_path", "pos")
        // partition-scoped delete files: the plan knows each candidate's
        // partition tuple, so deletes route into per-partition files and
        // later scans of other partitions never touch them. Candidates
        // written under an OLDER spec have tuples whose field names don't
        // line up with the default spec — routing them through it would
        // scope the delete to a partition the planner never matches and
        // the rows would silently resurface; those go through the global
        // (empty-tuple) writer instead, which attaches everywhere.
        val defaultSpecId = t.metadata.defaultSpecId
        val pathToPartition =
          if (candidates.forall(_.specId == defaultSpecId))
            candidates.map(c => c.file.filePath -> c.file.partition).toMap
          else Map.empty[String, Map[String, Any]]
        // ONE pass: no isEmpty probe (it would run the same
        // predicate-matching scan twice) — write, then drop zero-row
        // delete files from the commit; an all-empty write commits
        // nothing (the stray empty parquet is orphan-GC food, the
        // same as any abort path)
        val delFiles = DeleteFileWriter.writePositionDeletesPartitioned(
          t.metadata, deletes, pathToPartition)
          .filter(_.recordCount > 0)
        if (delFiles.isEmpty) t
        else t.commitSnapshot(PendingSnapshot(Operation.Delete,
          addedDeleteFiles = delFiles,
          // position deletes target these paths; a concurrent rewrite
          // of one must fail the rebase, not silently no-op the delete
          referencedDataPaths = candidates.map(_.file.filePath).toSet))
      }
    }

  /** Merge-on-read equality delete (T6 — the reference returns "not yet
    * fully implemented", `table/delete.go:494-501`): write the key
    * values; reads drop matching rows from OLDER sequence numbers.
    *
    * Partition scoping: when every partition source column is among the
    * key columns AND every live data manifest was written under the
    * default spec, each key row's partition tuple is derivable and the
    * delete files are written per-partition — scans of other partitions
    * never touch them. Otherwise global (empty-tuple) files, which
    * attach everywhere. */
  def deleteByKeys(table: Table, spark: SparkSession, keys: DataFrame):
      Table = {
    val fieldIds = keys.columns.toSeq.map(c =>
      table.schema.fieldByName(c).getOrElse(throw new IllegalArgumentException(
        s"key column $c not in schema")).id)
    val spec = table.spec
    val canScope = !spec.isUnpartitioned &&
      spec.fields.forall(pf => table.schema.field(pf.sourceId)
        .exists(f => keys.columns.contains(f.name))) && {
        // older-spec data files have tuples the scoped index can't
        // match — scoping would silently skip them
        val liveSpecs = table.currentSnapshot.toSeq
          .flatMap(table.manifestList)
          .filter(_.content == ManifestContent.Data)
          .map(_.partitionSpecId).toSet
        liveSpecs.subsetOf(Set(spec.specId))
      }
    val delFiles =
      if (canScope)
        DeleteFileWriter.writeEqualityDeletesPartitioned(table.metadata,
          keys, fieldIds)
      else
        DeleteFileWriter.writeEqualityDeletes(table.metadata, keys, fieldIds)
    table.commitSnapshot(PendingSnapshot(Operation.Delete,
      addedDeleteFiles = delFiles))
  }

  /** CoW update (T7, `table/update.go:29-238`): rewrite candidates with
    * per-column `when(pred, value)` replacements. */
  def update(table: Table, spark: SparkSession, pred0: Expr,
      assignments: Map[String, Any]): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      if (candidates.isEmpty) t
      else {
        var df = readCandidates(t, spark, candidates)
        val hit = matchFilter(pred)
        val sparkSchema = graft.spec.SchemaConverters.toSparkSchema(t.schema)
        assignments.foreach { case (name, value) =>
          val target = sparkSchema(name).dataType
          df = df.withColumn(name,
            when(hit, lit(value).cast(target)).otherwise(col(name)))
        }
        val newFiles = PartitionedWriter.writeDataFiles(t.metadata, df)
        t.commitSnapshot(PendingSnapshot(Operation.Overwrite,
          addedDataFiles = newFiles,
          deletedFilePaths = candidates.map(_.file.filePath).toSet))
      }
    }

  /** Per-key-column [min, max] of the incoming rows as a pruning
    * predicate: any file whose bounds lie wholly outside the incoming
    * key range cannot contain a matched row, so it survives untouched.
    * Sound because pruning is only ever an over-approximation — rows in
    * kept candidates that don't match a key survive the anti-join. */
  private def keyBoundsPrune(keysDf: DataFrame,
      keyColumns: Seq[String]): Option[Expr] = {
    val aggs = keyColumns.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    val row = keysDf.agg(aggs.head, aggs.tail: _*).collect().head
    val parts = keyColumns.zipWithIndex.flatMap { case (c, i) =>
      val (mn, mx) = (row.get(2 * i), row.get(2 * i + 1))
      if (mn == null || mx == null) None // empty/all-null incoming keys
      else Some(Col(c).between(mn, mx))
    }
    if (parts.isEmpty) None else Some(Expr.and(parts: _*))
  }

  /** Upsert / MERGE (T8/J1, `table/update.go:360-650`): key-matched
    * rows are replaced by the incoming row, unmatched incoming rows are
    * appended — as one join-based rewrite. The incoming side of the
    * anti-join is broadcast (it is usually the small side). */
  def upsert(table: Table, spark: SparkSession, incoming: DataFrame,
      keyColumns0: Seq[String]): Table =
    withConflictRetry(table)(upsertOnce(_, spark, incoming, keyColumns0))

  private def upsertOnce(table: Table, spark: SparkSession,
      incoming: DataFrame, keyColumns0: Seq[String]): Table = {
    // default to the schema's identifier fields (primary-key-ish,
    // spec/schema.go:25-31) when no explicit keys are given
    val keyColumns =
      if (keyColumns0.nonEmpty) keyColumns0
      else table.schema.identifierFieldIds
        .flatMap(id => table.schema.field(id)).map(_.name)
    require(keyColumns.nonEmpty,
      "upsert requires key columns (or schema identifier-field-ids)")
    val schemaCols = table.schema.columnNames
    val incomingAligned = incoming.select(schemaCols.map(col): _*)

    // candidate pruning: point-lookup In() when the key set is small;
    // otherwise (multi-column keys or large sets) prune by the incoming
    // keys' min/max per column against file bounds — one single-row agg
    // job, never a collect of raw keys, never a full-table rewrite
    val keysDf = incomingAligned.select(keyColumns.map(col): _*).distinct()
    val smallKeys: Option[Seq[Any]] =
      if (keyColumns.size == 1) {
        val values = keysDf.limit(10001).collect().map(_.get(0)).toSeq
        if (values.size <= 10000) Some(values) else None
      } else None
    val keyPrune: Option[Expr] = smallKeys match {
      case Some(values) => Some(In(keyColumns.head, values))
      case None => keyBoundsPrune(keysDf, keyColumns)
    }

    val scan = keyPrune.foldLeft(Scan(table, spark))(_ filter _)
    val candidates = scan.planFiles()

    // broadcast the key set only when provably small (we counted it);
    // a forced broadcast of an unbounded incoming side would OOM
    val keySide = if (smallKeys.isDefined) broadcast(keysDf) else keysDf
    val survivors =
      if (candidates.isEmpty) None
      else Some(readCandidates(table, spark, candidates)
        .join(keySide, keyColumns, "left_anti"))

    val merged = survivors match {
      case Some(s) => s.unionByName(incomingAligned)
      case None => incomingAligned
    }
    val newFiles = PartitionedWriter.writeDataFiles(table.metadata, merged)
    table.commitSnapshot(PendingSnapshot(Operation.Overwrite,
      addedDataFiles = newFiles,
      deletedFilePaths = candidates.map(_.file.filePath).toSet))
  }

  /** Full overwrite (T2, `table/insert.go:173-182`): all live files
    * deleted, new content appended, one `overwrite` snapshot. */
  def overwrite(table: Table, spark: SparkSession, df: DataFrame): Table = {
    val allFiles = Scan(table, spark).planFiles().map(_.file.filePath)
    val newFiles = PartitionedWriter.writeDataFiles(table.metadata, df)
    table.commitSnapshot(PendingSnapshot(Operation.Overwrite,
      addedDataFiles = newFiles,
      deletedFilePaths = allFiles.toSet))
  }

  /** Selective overwrite (T3, `table/insert.go:40-46,185-252`): delete
    * rows matching the filter AND append `df`, atomically. */
  def overwriteWhere(table: Table, spark: SparkSession, pred0: Expr,
      df: DataFrame): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      val rewritten =
        if (candidates.isEmpty) Nil
        else PartitionedWriter.writeDataFiles(t.metadata,
          readCandidates(t, spark, candidates)
            .where(survivorFilter(pred)))
      val appended = PartitionedWriter.writeDataFiles(t.metadata, df)
      t.commitSnapshot(PendingSnapshot(Operation.Overwrite,
        addedDataFiles = rewritten ++ appended,
        deletedFilePaths = candidates.map(_.file.filePath).toSet))
    }
}

/** Fluent mutation facades (T9, `table/insert.go:300-368`,
  * `table/delete.go:503-547`, `table/update.go:307-356,652-686`). */
final class InsertBuilder(table: Table, spark: SparkSession) {
  private var data: Option[DataFrame] = None
  private var overwriteAll = false
  def withData(df: DataFrame): InsertBuilder = { data = Some(df); this }
  def withOverwrite(b: Boolean): InsertBuilder = { overwriteAll = b; this }
  def execute(): Table = {
    val df = data.getOrElse(throw new IllegalArgumentException("no data"))
    if (overwriteAll) Mutations.overwrite(table, spark, df)
    else TableOps.append(table, df)
  }
}

final class DeleteBuilder(table: Table, spark: SparkSession) {
  private var pred: Option[Expr] = None
  private var mor = false
  def where(e: Expr): DeleteBuilder = { pred = Some(e); this }
  /** CoW is the default mode (`config.go:36-44`). */
  def withMergeOnRead(b: Boolean): DeleteBuilder = { mor = b; this }
  def execute(): Table = {
    val p = pred.getOrElse(throw new IllegalArgumentException("no filter"))
    if (mor) Mutations.deleteMoR(table, spark, p)
    else Mutations.deleteCoW(table, spark, p)
  }
}

final class UpdateBuilder(table: Table, spark: SparkSession) {
  private var pred: Option[Expr] = None
  private val sets = Map.newBuilder[String, Any]
  def where(e: Expr): UpdateBuilder = { pred = Some(e); this }
  def set(column: String, value: Any): UpdateBuilder = {
    sets += column -> value; this
  }
  def execute(): Table = Mutations.update(table, spark,
    pred.getOrElse(AlwaysTrue), sets.result())
}

final class UpsertBuilder(table: Table, spark: SparkSession) {
  private var data: Option[DataFrame] = None
  private var keys: Seq[String] = Nil
  def withData(df: DataFrame): UpsertBuilder = { data = Some(df); this }
  def withKeyColumns(cols: String*): UpsertBuilder = { keys = cols; this }
  def execute(): Table = Mutations.upsert(table, spark,
    data.getOrElse(throw new IllegalArgumentException("no data")), keys)
}

/** BulkWriter (T10, `table/insert.go:370-461`): accumulates data files
  * across writes and commits one snapshot per `maxPendingFiles` batch;
  * abort() deletes orphaned files. */
final class BulkWriter(initial: Table, spark: SparkSession,
    maxPendingFiles: Int = 100) {
  private var table = initial
  private val pending = collection.mutable.Buffer[DataFile]()

  def write(df: DataFrame): BulkWriter = {
    pending ++= PartitionedWriter.writeDataFiles(table.metadata, df)
    if (pending.size >= maxPendingFiles) flush()
    this
  }

  def flush(): BulkWriter = {
    if (pending.nonEmpty) {
      table = table.commitSnapshot(PendingSnapshot(Operation.Append,
        addedDataFiles = pending.toSeq))
      pending.clear()
    }
    this
  }

  def commit(): Table = { flush(); table }

  /** Delete uncommitted files (`table/insert.go:444-461`). */
  def abort(): Unit = {
    table.io.deleteFiles(pending.map(_.filePath.stripPrefix("file:")).toSeq)
    pending.clear()
  }

  def currentTable: Table = table
  def pendingCount: Int = pending.size
}
