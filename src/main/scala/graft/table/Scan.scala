package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.spec._

/** A delete file attached to a scan task, with the metadata MoR
  * application needs beyond the file itself: its commit sequence number
  * (equality deletes apply only to OLDER data) and the spec its
  * partition scope was written under. */
final case class DeleteFileRef(
    file: DataFile,
    sequenceNumber: Long,
    specId: Int,
    /** Schema id the delete MANIFEST was written under: an
      * equality-delete file stores its key columns under the NAMES of
      * that schema, so a key column renamed after the delete was
      * written must resolve by field id through it — reading by
      * current name would null-fill and silently resurrect rows. */
    schemaId: Int = -1)

/** One unit of scan work (`table/scan.go:193-199`) — a data file plus
  * the delete files that apply to it under MoR sequence rules, and the
  * schema id the file was written under (drives field-ID remapping). */
final case class FileScanTask(
    file: DataFile,
    sequenceNumber: Long,
    specId: Int,
    deleteFiles: Seq[DeleteFileRef],
    schemaId: Int)

/** Fluent scan (`table/scan.go:17-77`): snapshot/as-of/filter/select/
  * limit configure a driver-side plan; execution is a Spark DataFrame.
  *
  * Planning = snapshot-resolve → manifest-list read → manifest prune
  * (partition summaries) → entry prune (column bounds) → tasks with MoR
  * delete files attached (the step `table/scan.go:146-149` skips).
  * Execution = a staged DSv2 relation over exactly the planned tasks
  * ([[graft.sources.StagedRelation]]): the graft reader applies each
  * task's position and equality deletes and remaps files written under
  * older schemas by field id; Catalyst then filters and projects.
  */
class Scan private (
    table: Table,
    spark: SparkSession,
    snapshotId: Option[Long] = None,
    asOfMs: Option[Long] = None,
    refName: Option[String] = None,
    filterExpr: Option[Expr] = None,
    selected: Seq[String] = Nil,
    limitN: Option[Int] = None,
    caseSensitive: Boolean = true,
    options: Map[String, String] = Map.empty) {

  def this(table: Table, spark: SparkSession) = this(table, spark, None)

  private def copy2(
      snapshotId: Option[Long] = snapshotId,
      asOfMs: Option[Long] = asOfMs,
      refName: Option[String] = refName,
      filterExpr: Option[Expr] = filterExpr,
      selected: Seq[String] = selected,
      limitN: Option[Int] = limitN,
      caseSensitive: Boolean = caseSensitive,
      options: Map[String, String] = options): Scan =
    new Scan(table, spark, snapshotId, asOfMs, refName, filterExpr,
      selected, limitN, caseSensitive, options)

  def useSnapshot(id: Long): Scan = copy2(snapshotId = Some(id))
  def asOf(tsMs: Long): Scan = copy2(asOfMs = Some(tsMs))
  /** Read a named branch or tag (SURVEY M5's read side; reference
    * declares refs at `spec/snapshot.go:64-70` but has no scan-by-ref). */
  def useRef(name: String): Scan = copy2(refName = Some(name))
  /** Incremental append scan: only rows ADDED by snapshots in
    * `(fromExclusive, toInclusive]` along the parent chain — the
    * incremental-consumption surface (CDC-ish reads, micro-batch
    * tailing). Delete files are ignored, matching Iceberg's
    * incremental append scan semantics. */
  def appendsBetween(fromExclusive: Long, toInclusive: Long): Scan =
    copy2(snapshotId = Some(toInclusive),
      options = options + ("incremental-from" -> fromExclusive.toString))
  def filter(e: Expr): Scan =
    copy2(filterExpr = Some(filterExpr.map(_.and(e)).getOrElse(e)))
  def select(cols: String*): Scan = copy2(selected = cols)
  def limit(n: Int): Scan = copy2(limitN = Some(n))
  def withCaseSensitive(b: Boolean): Scan = copy2(caseSensitive = b)
  /** Free-form scan options (`table/scan.go:73-77`). */
  def option(key: String, value: String): Scan =
    copy2(options = options + (key -> value))

  /** Snapshot resolution (`table/scan.go:80-98`), extended with named
    * refs: a branch/tag resolves through `metadata.refs` to its pinned
    * snapshot id. */
  def resolveSnapshot(): Option[Snapshot] =
    snapshotId.map(id => table.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(s"snapshot $id not found")))
      .orElse(refName.map { n =>
        val r = table.metadata.ref(n).getOrElse(
          throw new IllegalArgumentException(s"ref $n not found"))
        table.snapshotById(r.snapshotId).getOrElse(
          throw new IllegalArgumentException(
            s"ref $n points at missing snapshot ${r.snapshotId}"))
      })
      .orElse(asOfMs.map(ts => table.snapshotAsOf(ts).getOrElse(
        throw new IllegalArgumentException(s"no snapshot as of $ts"))))
      .orElse(table.currentSnapshot)

  /** Current-snapshot reads use the table's CURRENT schema (so schema
    * evolution is visible immediately); explicit time travel — snapshot
    * id, as-of timestamp, or named ref — reads with the snapshot's own
    * schema, Iceberg's documented behavior. */
  private def schemaForSnapshot(s: Snapshot): Schema =
    if (snapshotId.isDefined || asOfMs.isDefined || refName.isDefined)
      s.schemaId.flatMap(table.metadata.schemaById).getOrElse(table.schema)
    else table.schema

  /** Case-insensitive name resolution (`table/scan.go:68-71`'s
    * CaseSensitive option, actually honored). */
  private def resolve(schema: Schema, name: String): String =
    if (caseSensitive) name
    else schema.fields.map(_.name)
      .find(_.equalsIgnoreCase(name)).getOrElse(name)

  private def resolvedFilter(schema: Schema): Option[Expr] =
    filterExpr.map(_.simplify.mapColumns(resolve(schema, _)))

  /** Incremental plan: Added entries of the snapshots in
    * `(fromExclusive, to]` along the parent chain, pruned as usual,
    * no delete attachment. Manifests not written by the snapshot under
    * inspection are skipped via `addedSnapshotId` without reading. */
  private def planIncremental(fromExclusive: Long): Seq[FileScanTask] = {
    val to = resolveSnapshot().getOrElse(return Nil)
    if (to.snapshotId == fromExclusive) return Nil
    val schema = schemaForSnapshot(to)
    val pred = resolvedFilter(schema)
    val chain = Seq.newBuilder[Snapshot]
    var cur: Option[Snapshot] = Some(to)
    var found = false
    while (cur.isDefined && !found) {
      val s = cur.get
      chain += s
      cur = s.parentSnapshotId.flatMap(table.snapshotById)
      found = s.parentSnapshotId.contains(fromExclusive)
      if (cur.isEmpty && !found && s.parentSnapshotId.isDefined)
        throw new IllegalArgumentException(
          s"ancestor ${s.parentSnapshotId.get} of ${to.snapshotId} expired")
    }
    if (!found)
      throw new IllegalArgumentException(
        s"snapshot $fromExclusive is not an ancestor of ${to.snapshotId}")
    // Only operation=append snapshots contribute: Replace (compaction),
    // Overwrite (update/upsert/overwriteWhere) and Delete snapshots add
    // manifests whose Added entries are REWRITES of pre-existing rows —
    // consuming them would re-deliver the whole rewritten file set as if
    // it were new data (e.g. one compaction between tailer polls would
    // duplicate the entire table downstream).
    //
    // Replace and Delete skip SILENTLY: neither can carry rows that did
    // not exist before (compaction rewrites; delete rewrites-minus-rows),
    // so an append consumer loses nothing. Overwrite is different —
    // upsert/merge commits GENUINELY NEW rows under Overwrite
    // (Mutations upsert path), so silently skipping one would lose data
    // downstream forever. Fail loud by default, matching Iceberg's
    // streaming source, with an explicit opt-out mirroring its
    // streaming-skip-overwrite-snapshots option.
    val skipOverwrites =
      options.get("incremental-skip-overwrites").contains("true")
    chain.result()
      .filter { s =>
        s.summary.map(_.operation) match {
          case None | Some(Operation.Append) => true
          case Some(Operation.Replace) | Some(Operation.Delete) => false
          case Some(Operation.Overwrite) =>
            if (skipOverwrites) false
            else throw new UnsupportedOperationException(
              s"snapshot ${s.snapshotId} in the incremental range is an " +
                "overwrite (upsert/update/overwriteWhere) — its rewritten " +
                "files cannot be told apart from new data, and upserted " +
                "rows WOULD be new data. Re-read from a full scan, or set " +
                "option incremental-skip-overwrites=true to skip such " +
                "snapshots (accepting that upserted rows are not delivered)")
        }
      }
      .flatMap { s =>
      table.manifestList(s)
        .filter(mf => mf.content == ManifestContent.Data &&
          mf.addedSnapshotId == s.snapshotId)
        .flatMap { mf =>
          val manifest = table.readManifest(mf)
          val mfSpec = table.metadata.specById(mf.partitionSpecId)
          manifest.entries
            .filter(e => e.status == EntryStatus.Added &&
              e.snapshotId.forall(_ == s.snapshotId))
            .filter(e => pred.forall(p =>
              Scan.fileMightMatch(p, e.dataFile, schema, mfSpec)))
            .map(e => FileScanTask(e.dataFile,
              e.sequenceNumber.getOrElse(0L), mf.partitionSpecId, Nil,
              manifest.schemaId))
        }
    }
  }

  /** Plan files with real pruning (`table/scan.go:101-190` + the stubs
    * of `table/insert.go:255-266` implemented). */
  def planFiles(): Seq[FileScanTask] = {
    options.get("incremental-from").foreach(f =>
      return planIncremental(f.toLong))
    val snap = resolveSnapshot().getOrElse(return Nil)
    val schema = schemaForSnapshot(snap)
    val pred = resolvedFilter(schema)
    val manifests = table.manifestList(snap)

    def manifestSurvives(mf: ManifestFile): Boolean = pred.forall { e =>
      table.metadata.specById(mf.partitionSpecId) match {
        case Some(spec) => Pruning.manifestMightMatch(e, mf, spec, schema)
        case None => true
      }
    }

    // delete manifests are routed separately, never skipped (fixes J2)
    val (deleteManifests, dataManifests) =
      manifests.partition(_.content == ManifestContent.Deletes)

    val deleteEntries = deleteManifests
      .flatMap { mf =>
        val m = table.readManifest(mf)
        m.liveEntries.map(e => (mf.partitionSpecId, m.schemaId, e))
      }

    // Partition-scoped delete index (the shape of Iceberg's
    // DeleteFileIndex, which keys by (specId, partition)): empty-tuple
    // delete files are global, tuple-scoped ones attach only to data
    // files written under the SAME spec with the same tuple — tuples
    // from different specs that happen to be value-equal must not
    // cross-attach. Applicability is memoized per (specId, tuple,
    // dataSeq) — distinct data sequence numbers are O(#snapshots) —
    // so planning is O(#files + #combos × #deletes-in-scope), not
    // O(#files × #deletes).
    val (scopedDeletes, globalDeletes) =
      deleteEntries.partition(_._3.dataFile.partition.nonEmpty)
    val scopedIndex = scopedDeletes.groupBy {
      case (sid, _, e) => (sid, e.dataFile.partition)
    }
    val attachMemo = collection.mutable.Map
      .empty[(Int, Map[String, Any], Long), Seq[DeleteFileRef]]
    def applicableDeletes(specId: Int, partition: Map[String, Any],
        seq: Long): Seq[DeleteFileRef] =
      if (deleteEntries.isEmpty) Nil
      else attachMemo.getOrElseUpdate((specId, partition, seq), {
        // MoR applicability: position deletes with deleteSeq >= dataSeq,
        // equality deletes with deleteSeq > dataSeq (Iceberg spec rule)
        (globalDeletes ++ scopedIndex.getOrElse((specId, partition), Nil))
          .filter { case (_, _, d) =>
            val dSeq = d.sequenceNumber.getOrElse(0L)
            d.dataFile.content match {
              case FileContent.PositionDeletes => dSeq >= seq
              case FileContent.EqualityDeletes => dSeq > seq
              case _ => false
            }
          }.map { case (sid, schemaId, d) =>
            DeleteFileRef(d.dataFile, d.sequenceNumber.getOrElse(0L), sid,
              schemaId)
          }
      })

    // Entry-level planning: below the threshold, read+prune manifests
    // on the driver; above it, fan the reads out to EXECUTORS (Iceberg's
    // distributed planning). At 100 TB a table holds thousands of
    // manifests — a serial driver loop over them is the planning
    // bottleneck, while each executor task ships back only the pruned
    // (DataFile, seq, specId, schemaId) survivors. Delete attachment
    // stays driver-side: the delete index is already in hand and
    // memoized per (specId, partition, seq).
    val surviving = dataManifests.filter(manifestSurvives)
    val planThreshold = options.get("distributed-plan-threshold")
      .map(_.toInt).getOrElse(Scan.DistributedPlanThreshold)

    val pruned: Seq[(DataFile, Long, Int, Int)] =
      if (surviving.size < planThreshold)
        surviving.flatMap(mf => Scan.pruneManifest(table.readManifest(mf),
          mf.partitionSpecId, pred, schema,
          table.metadata.specById(mf.partitionSpecId)))
      else {
        val specById = table.metadata.partitionSpecs
          .map(s => (s.specId, s)).toMap
        val predL = pred; val schemaL = schema // don't capture `this`
        val inputs = surviving.map(mf => (mf.manifestPath, mf.partitionSpecId))
        val slices = math.max(1, math.min(inputs.size,
          spark.sparkContext.defaultParallelism * 2))
        // Executor-side manifest reads must see the session's
        // spark.hadoop.* settings (credentials, endpoints) — a default
        // Configuration() silently diverges from the driver path on any
        // non-default filesystem, which is exactly where this branch
        // activates (>=64 manifests). Ship the driver conf.
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        spark.sparkContext.parallelize(inputs, slices)
          .flatMap { case (path, specId) =>
            val manifest = graft.avro.ManifestAvro.readManifest(
              new graft.io.HadoopFileIO(confBc.value.value)
                .readAllBytes(path))
            Scan.pruneManifest(manifest, specId, predL, schemaL,
              specById.get(specId))
          }.collect().toSeq
      }

    pruned.map { case (df, seq, specId, schemaId) =>
      FileScanTask(df, seq, specId,
        applicableDeletes(specId, df.partition, seq), schemaId)
    }
  }

  /** Metadata-only count (`table/scan.go:234-250`): exact when no row
    * filter and no applicable delete files; falls back to executing. */
  def count(): Long = {
    val tasks = planFiles()
    if (filterExpr.isEmpty && tasks.forall(_.deleteFiles.isEmpty)) {
      val total = tasks.map(_.file.recordCount).sum
      limitN.map(l => math.min(total, l.toLong)).getOrElse(total)
    } else toDF.count()
  }

  /** Execute: assemble the DataFrame (`table/scan.go:202-231`, the part
    * the reference returns empty). */
  def toDF: DataFrame =
    applyProjection(readTasks(resolveSnapshot().map(schemaForSnapshot)
      .getOrElse(table.schema), planFiles()))

  /** Raw read of a task subset with MoR deletes applied and schemas
    * remapped — no filter/select/limit. Mutation rewrites use this so
    * rows already removed by delete files are NOT resurrected into
    * rewritten files. */
  private[table] def readTasks(schema: Schema,
      tasks: Seq[FileScanTask]): DataFrame =
    graft.sources.StagedRelation(spark, table, schema, tasks)

  /** Equality-key columns resolved BY FIELD ID through the write
    * schema of the files that store them: (query field, file field)
    * pairs. A key renamed or type-promoted after the files were
    * written still applies — reading by current name would miss the
    * stored column. */
  private def eqKeyPairs(schema: Schema, fieldIds: Seq[Int],
      writeSchemaId: Int): Seq[(NestedField, NestedField)] = {
    val written = table.metadata.schemaById(writeSchemaId).getOrElse(schema)
    fieldIds.flatMap(id => schema.field(id)).map { qf =>
      val ff = written.field(qf.id).getOrElse(
        throw new IllegalStateException(
          s"graft: equality-delete key (field id ${qf.id}) is missing " +
            s"from the write schema (id $writeSchemaId) of its files"))
      (qf, ff)
    }
  }

  /** `paths`' stored key columns surfaced under the query fields'
    * names and types, then `extra`. */
  private def eqKeyDf(pairs: Seq[(NestedField, NestedField)],
      paths: Seq[String], extra: Column*): DataFrame = {
    import graft.spec.SchemaConverters.toSparkType
    val fileKeySchema = org.apache.spark.sql.types.StructType(pairs.map {
      case (_, ff) => org.apache.spark.sql.types.StructField(
        ff.name, toSparkType(ff.fieldType), nullable = true)
    })
    spark.read.schema(fileKeySchema).parquet(paths: _*)
      .select(pairs.map { case (qf, ff) =>
        col(ff.name).cast(toSparkType(qf.fieldType)).as(qf.name) } ++
        extra: _*)
  }

  /** Positions of live data rows matched by the scan's EQUALITY
    * deletes, as a `(file_path, pos)` frame — the data-side half of
    * [[Maintenance.rewriteEqualityDeletes]]' eq→position conversion.
    * Sequence gating is inherited from [[planFiles]] (a delete only
    * ever attaches to strictly-older data files), so grouping tasks by
    * their exact attached key-set applies each delete to exactly the
    * files it gates — a semi-join per (write schema, key set) group.
    * Cost: reads ONLY the key columns of data files that carry
    * equality deletes (column-pruned parquet scan), never full rows,
    * and files without an equality delete attached are skipped
    * entirely. */
  private[table] def equalityMatchedPositions(): DataFrame = {
    import org.apache.spark.sql.types.{LongType => SparkLong,
      StringType => SparkString, StructField => SField,
      StructType => SStruct}
    val schema = resolveSnapshot().map(schemaForSnapshot)
      .getOrElse(table.schema)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SStruct(Seq(SField("file_path", SparkString),
        SField("pos", SparkLong))))
    def eqSetOf(t: FileScanTask) = t.deleteFiles
      .filter(_.file.content == FileContent.EqualityDeletes)
      .map(d => (d.file.filePath, d.file.equalityIds, d.schemaId)).toSet
    val parts = planFiles().groupBy(t => (t.schemaId, eqSetOf(t))).toSeq
      .filter(_._1._2.nonEmpty)
      .flatMap { case ((fileSchemaId, eqSet), groupTasks) =>
        eqSet.groupBy(e => (e._2, e._3)).toSeq.flatMap {
          case ((fieldIds, deleteSchemaId), files) =>
            val pairs = eqKeyPairs(schema, fieldIds, deleteSchemaId)
            if (pairs.isEmpty) None
            else {
              val data = eqKeyDf(eqKeyPairs(schema, fieldIds, fileSchemaId),
                groupTasks.map(_.file.filePath),
                Scan.decodedMetaPath(col("_metadata.file_path"))
                  .as("file_path"),
                col("_metadata.row_index").as("pos"))
              val delDf = eqKeyDf(pairs, files.map(_._1).toSeq).distinct()
              Some(data.join(delDf, pairs.map(_._1.name), "left_semi")
                .select(col("file_path"), col("pos")))
            }
        }
      }
    parts.foldLeft(empty)(_ unionAll _)
  }

  private def applyProjection(df0: DataFrame): DataFrame = {
    val schema = resolveSnapshot().map(schemaForSnapshot)
      .getOrElse(table.schema)
    var df = df0
    resolvedFilter(schema).foreach(e => df = df.where(e.toColumn))
    if (selected.nonEmpty)
      df = df.select(selected.map(s => col(resolve(schema, s))): _*)
    limitN.foreach(n => df = df.limit(n))
    df
  }
}

object Scan {
  /** `file:`-scheme-insensitive path equality: `_metadata.file_path`
    * reports `file:///x` while manifests may carry `/x` or `file:/x`.
    * THE one normalizer for path-set membership (maintenance's orphan
    * GC); the codebase's other normalizer, `DataWriter.normalizePath`,
    * serves the opposite purpose (producing the `file:`-prefixed form
    * `_metadata` reports) and must stay distinct. */
  private[table] def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** `_metadata.file_path` is the URI-ENCODED form ("__p_c=a%20b")
    * while manifests carry the raw filesystem path ("__p_c=a b") —
    * they differ exactly when a partition value contains a space, %,
    * or other URI-reserved char. Every _metadata-derived path decodes
    * through here AT CAPTURE, so all persisted delete-file paths and
    * every path comparison use the ONE raw form. Backed by the
    * codegen'd [[graft.functions.MetaPathDecodeExpr]] (see its
    * scaladoc for why neither `url_decode` nor `URLDecoder` fits).
    * No-op for ordinary paths. */
  private[table] def decodedMetaPath(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.MetaPathDecodeExpr.column(c)

  /** Surviving data manifests at/above which planFiles reads them on
    * executors instead of serially on the driver (Iceberg's
    * distributed planning). Overridable per scan via
    * `option("distributed-plan-threshold", n)`. */
  val DistributedPlanThreshold = 64

  /** Whether `pred` may match rows of `file`, written under `spec`:
    * column bounds, then the partition tuple. The one file-level test
    * of planning and of narrowing an already-planned task list. */
  private[graft] def fileMightMatch(pred: Expr, file: DataFile,
      schema: Schema, spec: Option[PartitionSpec]): Boolean =
    Pruning.fileMightMatch(pred, file, schema) &&
      spec.forall(Pruning.partitionTupleMightMatch(pred, file, _, schema))

  /** Read-side pruning of one manifest's live entries — a pure
    * function of shipped values so it can run inside an executor task
    * (no Table/SparkSession capture). Returns
    * (dataFile, dataSequenceNumber, partitionSpecId, schemaId). */
  private[table] def pruneManifest(manifest: graft.spec.Manifest,
      specId: Int, pred: Option[Expr], schema: Schema,
      spec: Option[PartitionSpec]): Seq[(DataFile, Long, Int, Int)] =
    manifest.liveEntries.flatMap { e =>
      if (pred.forall(fileMightMatch(_, e.dataFile, schema, spec)))
        Some((e.dataFile, e.sequenceNumber.getOrElse(0L), specId,
          manifest.schemaId))
      else None
    }

  def apply(table: Table, spark: SparkSession): Scan = new Scan(table, spark)
}
