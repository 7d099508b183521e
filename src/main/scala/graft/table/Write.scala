package graft.table

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.column.statistics.{Statistics => PStats}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.spec._

/** Executor-parallel data writing with REAL per-file stats harvested
  * from parquet footers — fixing the reference's approximations
  * (`table/writer.go:144-167`: sizes guessed as fileSize/numCols, bounds
  * left empty). Stats feed the pruner, so they must round-trip through
  * [[graft.spec.Bounds]] exactly.
  */
object DataWriter {

  /** Normalize to the URI form Spark's `_metadata.file_path` reports
    * ("file:/abs/path", no authority — verified empirically) so MoR
    * position deletes join exactly. Textual, NOT `java.net.URI`: URI
    * parsing rejects raw spaces (URISyntaxException), and Hive-style
    * partition dirs put spaces and other reserved chars in the path
    * ("__p_c=a b", timestamp values) — a filesystem path is not an
    * encoded URI. */
  def normalizePath(p: String): String = {
    val colon = p.indexOf(':')
    val scheme =
      if (colon <= 0) None
      else {
        val s = p.substring(0, colon)
        if (s.forall(c => c.isLetterOrDigit || c == '+' || c == '-' ||
            c == '.')) Some(s)
        else None
      }
    scheme match {
      case None => "file:" + p
      case Some("file") =>
        "file:/" + p.substring(5).dropWhile(_ == '/')
      case Some(_) => p
    }
  }

  /** Write `df` as Snappy parquet into a fresh directory under the
    * table's data/ prefix; returns harvested [[DataFile]]s. */
  def writeDataFiles(meta: TableMetadata, df: DataFrame,
      maxRecordsPerFile: Long = 0L): Seq[DataFile] = {
    val spark = df.sparkSession
    // µs timestamps (Iceberg physical semantics, SURVEY §1.2); INT96 has
    // no usable min/max for pruning. Scoped save/restore: leaking this
    // conf would silently flip OTHER writers' outputs to tz-aware µs.
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      val dir = meta.location.stripSuffix("/") + "/data/" +
        UUID.randomUUID().toString
      var w = df.write.option("compression", "snappy")
      if (maxRecordsPerFile > 0)
        w = w.option("maxRecordsPerFile", maxRecordsPerFile)
      w.parquet(dir)
      harvestDataFiles(spark.sessionState.newHadoopConf(), dir,
        meta.currentSchema,
        nanCounts =
          if (nanStatsEnabled(meta))
            nanCountsByFile(spark, dir, meta.currentSchema)
          else Map.empty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Per-file NaN counts for float/double columns — Parquet footers
    * can't provide them (NaN is excluded from, or poisons, min/max
    * stats), so one aggregation job re-reads ONLY the float/double
    * columns of the just-written files (column-pruned, page-cache-warm)
    * and counts `isnan` per file. Skipped entirely when the schema has
    * no float/double fields. Real Iceberg counts NaNs inline in its own
    * parquet writer; with Spark's writer this second pass is the
    * equivalent, and without it float/double bounds pruning is unsound
    * (a Gt prune would drop files whose NaN rows match, since NaN sorts
    * greatest in both Spark and DuckDB). */
  /** NaN harvesting is on by default; tables whose float/double columns
    * provably never carry NaN can opt out with table property
    * `graft.write.nan-stats=false` — writes then skip the second pass
    * (cost: the pruner stops using Gt/Gte bounds on those columns,
    * which is the sound trade in the other direction). */
  private[graft] def nanStatsEnabled(meta: TableMetadata): Boolean =
    meta.properties.getOrElse("graft.write.nan-stats", "true") != "false"

  private[table] def nanCountsByFile(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: Schema): Map[String, Map[Int, Long]] =
    nanCountsByPaths(spark, Seq(dir), schema)

  private[graft] def nanCountsByPaths(
      spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      schema: Schema): Map[String, Map[Int, Long]] = {
    import org.apache.spark.sql.functions.{col, isnan, sum, when}
    val fp = schema.fields.filter(f =>
      f.fieldType == FloatType || f.fieldType == DoubleType)
    if (fp.isEmpty || paths.isEmpty) return Map.empty
    val aggs = fp.map(f =>
      sum(when(isnan(col(f.name)), 1L).otherwise(0L)).as("n" + f.id))
    // explicit schema: an all-rows-rewritten-away overwrite leaves an
    // EMPTY output dir, where schema inference would throw
    spark.read.schema(SchemaConverters.toSparkSchema(schema))
      .parquet(paths: _*)
      .groupBy(Scan.decodedMetaPath(col("_metadata.file_path"))
        .as("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        normalizePath(r.getString(0)) ->
          fp.indices.map(i => fp(i).id -> r.getLong(i + 1)).toMap
      }.toMap
  }

  /** Read back parquet footers under `dir` and build stats-complete
    * DataFile entries (SURVEY S7's "harvest real per-file row counts &
    * min/max from Parquet footers"). Zero-row files are dropped: Spark's
    * first write task emits a file even when its partition is empty,
    * and committing it would leave an unprunable, bounds-less entry
    * every later scan plans. The stray file is left to orphan GC. */
  def harvestDataFiles(conf: Configuration, dir: String, schema: Schema,
      partition: Map[String, Any] = Map.empty,
      nanCounts: Map[String, Map[Int, Long]] = Map.empty): Seq[DataFile] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val statuses = fs.listStatus(dirPath)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    harvestStatuses(conf, statuses.toSeq, schema, partition, nanCounts)
      .filter(_.recordCount > 0)
  }

  /** Harvest an EXPLICIT file list (executor-written row-level rewrites
    * commit only the files named in their commit messages — stray files
    * from failed/speculative task attempts must not be harvested). */
  def harvestFiles(conf: Configuration, paths: Seq[String], schema: Schema,
      partition: Map[String, Any] = Map.empty,
      nanCounts: Map[String, Map[Int, Long]] = Map.empty): Seq[DataFile] =
    harvestStatuses(conf,
      paths.sorted.map { p =>
        val hp = new Path(p)
        hp.getFileSystem(conf).getFileStatus(hp)
      }, schema, partition, nanCounts)

  private def harvestStatuses(conf: Configuration,
      statuses: Seq[org.apache.hadoop.fs.FileStatus], schema: Schema,
      partition: Map[String, Any],
      nanCounts: Map[String, Map[Int, Long]]): Seq[DataFile] = {
    statuses.map { st =>
      val footer = {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getFooter finally r.close()
      }
      val blocks = footer.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val splitOffsets = blocks.map(_.getStartingPos).sorted

      val columnSizes = collection.mutable.Map[Int, Long]()
      val valueCounts = collection.mutable.Map[Int, Long]()
      val nullCounts = collection.mutable.Map[Int, Long]()
      val mins = collection.mutable.Map[Int, Any]()
      val maxs = collection.mutable.Map[Int, Any]()

      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val name = chunk.getPath.toDotString
        // dotted chunk paths resolve into struct leaves, so nested
        // primitive columns get stats too (ref keys stats by field ID
        // at any depth, spec/manifest.go:120-148)
        schema.fieldByPath(name).foreach { field =>
          val fid = field.id
          columnSizes(fid) =
            columnSizes.getOrElse(fid, 0L) + chunk.getTotalSize
          valueCounts(fid) =
            valueCounts.getOrElse(fid, 0L) + chunk.getValueCount
          val stats = chunk.getStatistics
          if (stats != null && !stats.isEmpty) {
            if (stats.isNumNullsSet)
              nullCounts(fid) = nullCounts.getOrElse(fid, 0L) + stats.getNumNulls
            if (stats.hasNonNullValue) {
              statsValue(stats, field.fieldType, isMin = true).foreach { v =>
                mins(fid) = mins.get(fid) match {
                  case Some(cur) if Bounds.compare(cur, v, field.fieldType) <= 0 => cur
                  case _ => v
                }
              }
              statsValue(stats, field.fieldType, isMin = false).foreach { v =>
                maxs(fid) = maxs.get(fid) match {
                  case Some(cur) if Bounds.compare(cur, v, field.fieldType) >= 0 => cur
                  case _ => v
                }
              }
            }
          }
        }
      }

      // String bounds truncate to 16 CODE POINTS (SURVEY §7 risk 3 —
      // the reference truncates nothing, which would embed whole
      // documents in every manifest entry): lower truncates to a
      // prefix (still a valid lower bound); upper truncates then
      // increments the last code point so it stays an upper bound;
      // un-incrementable -> no bound. Code-point arithmetic, never
      // char: a char-level truncate can split a surrogate pair and a
      // char-level increment can step INTO the surrogate range — an
      // unpaired surrogate UTF-8-serializes as '?', silently writing
      // an upper bound BELOW the file's real data (unsound pruning).
      // Incrementing U+D7FF skips the surrogate gap to U+E000.
      val MaxBound = 16
      def truncated(v: Any, isUpper: Boolean): Option[Any] = v match {
        case s: String if s.codePointCount(0, s.length) > MaxBound =>
          val prefix = s.substring(0, s.offsetByCodePoints(0, MaxBound))
          if (!isUpper) Some(prefix)
          else {
            val cps = prefix.codePoints.toArray
            val idx = cps.lastIndexWhere(_ != Character.MAX_CODE_POINT)
            if (idx < 0) None
            else {
              val next = if (cps(idx) == 0xD7FF) 0xE000 else cps(idx) + 1
              val sb = new java.lang.StringBuilder
              var i = 0
              while (i < idx) { sb.appendCodePoint(cps(i)); i += 1 }
              sb.appendCodePoint(next)
              Some(sb.toString)
            }
          }
        case other => Some(other)
      }
      def boundsOf(m: collection.Map[Int, Any],
          isUpper: Boolean): Map[Int, Array[Byte]] =
        m.flatMap { case (fid, v) =>
          for {
            f <- schema.field(fid)
            tv <- truncated(v, isUpper)
          } yield fid -> Bounds.serialize(tv, f.fieldType)
        }.toMap

      val normalized = normalizePath(st.getPath.toString)
      DataFile(
        filePath = normalized,
        recordCount = rowCount,
        fileSizeInBytes = st.getLen,
        partition = partition,
        columnSizes = columnSizes.toMap,
        valueCounts = valueCounts.toMap,
        nullValueCounts = nullCounts.toMap,
        nanValueCounts = nanCounts.getOrElse(normalized, Map.empty),
        lowerBounds = boundsOf(mins, isUpper = false),
        upperBounds = boundsOf(maxs, isUpper = true),
        splitOffsets = splitOffsets,
        sortOrderId = Some(0))
    }
  }

  /** Parquet chunk statistics → Iceberg-typed scalar. */
  private def statsValue(stats: PStats[_], t: IcebergType,
      isMin: Boolean): Option[Any] = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.io.api.Binary
    def raw: Any = stats match {
      case s: IntStatistics => if (isMin) s.getMin else s.getMax
      case s: LongStatistics => if (isMin) s.getMin else s.getMax
      case s: FloatStatistics => if (isMin) s.getMin else s.getMax
      case s: DoubleStatistics => if (isMin) s.getMin else s.getMax
      case s: BooleanStatistics => if (isMin) s.getMin else s.getMax
      case s: BinaryStatistics =>
        val b: Binary = if (isMin) s.genericGetMin else s.genericGetMax
        b
      case _ => null
    }
    (t, raw) match {
      case (_, null) => None
      case (IntType | DateType, i: Int) => Some(i)
      case (LongType | TimeType | TimestampType | TimestampTzType, l: Long) =>
        Some(l)
      case (IntType, l: Long) => Some(l.toInt)
      case (LongType, i: Int) => Some(i.toLong)
      // NaN poisons float/double min/max in some parquet writers
      // (PARQUET-1225); a NaN bound is meaningless for pruning — drop it
      case (FloatType, f: Float) => if (f.isNaN) None else Some(f)
      case (DoubleType, d: Double) => if (d.isNaN) None else Some(d)
      case (BooleanType, b: Boolean) => Some(b)
      case (StringType, b: org.apache.parquet.io.api.Binary) =>
        Some(b.toStringUsingUTF8)
      case (BinaryType | UUIDType | _: FixedType,
          b: org.apache.parquet.io.api.Binary) => Some(b.getBytes)
      case (DecimalType(_, s), b: org.apache.parquet.io.api.Binary) =>
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(b.getBytes), s))
      case (DecimalType(_, s), i: Int) =>
        Some(java.math.BigDecimal.valueOf(i.toLong, s))
      case (DecimalType(_, s), l: Long) =>
        Some(java.math.BigDecimal.valueOf(l, s))
      case _ => None
    }
  }
}

/** Partition-aware write (SURVEY S8 — the reference lands everything in
  * one "__default__" group, `table/writer.go:247-266`). Partition values
  * are computed as derived Spark columns from the spec's transforms, the
  * data is repartitioned so each partition tuple is written by one task
  * (no small-file explosion), written with `partitionBy` (Hive-style
  * dirs; original columns stay IN the files — only derived `__p_*`
  * columns are folded into directory names), then each leaf directory is
  * harvested with its parsed partition tuple.
  */
object PartitionedWriter {
  import org.apache.spark.sql.functions.col

  private val partPrefix = "__p_"

  def writeDataFiles(meta: TableMetadata, df: DataFrame,
      /** transient cluster keys (name → expr): sorted by AFTER the
        * partition dirs but BEFORE the declared sort order, dropped
        * before the bytes hit parquet — z-order rewrites ride here. */
      extraSortCols: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      /** >0 splits each partition's output into files of at most this
        * many rows (file-size control); 0 = one file per partition
        * tuple per task. Sequential split of already-sorted data, so
        * each chunk keeps a contiguous (tight) sort/z-key range. */
      maxRecordsPerFile: Long = 0L)
      : Seq[DataFile] = {
    // Fail loud on frames that don't fit the table: an unknown column
    // (typo) would land in the parquet bytes and silently null-fill
    // the real column at read; a missing REQUIRED column would
    // null-fill a NOT NULL field. Missing OPTIONAL columns are fine
    // (Iceberg semantics: readers null-fill by field id).
    locally {
      val known = meta.currentSchema.fields.map(_.name.toLowerCase).toSet
      val have = df.columns.map(_.toLowerCase).toSet
      val unknown = df.columns.filterNot(c => known.contains(c.toLowerCase))
      val missingReq = meta.currentSchema.fields
        .filter(f => f.required && !have.contains(f.name.toLowerCase))
      if (unknown.nonEmpty || missingReq.nonEmpty)
        throw new IllegalArgumentException(
          s"graft: DataFrame does not fit table schema — " +
            (if (unknown.nonEmpty)
              s"unknown columns: ${unknown.mkString(", ")}; " else "") +
            (if (missingReq.nonEmpty)
              s"missing required columns: ${missingReq.map(_.name)
                .mkString(", ")}; " else "") +
            s"table columns: ${meta.currentSchema.fields.map(_.name)
              .mkString(", ")}")
    }
    val spec = meta.defaultPartitionSpec
    if (spec.isUnpartitioned)
      return DataWriter.writeDataFiles(meta, df, maxRecordsPerFile)
    val spark = df.sparkSession
    val schema = meta.currentSchema

    val partCols = spec.fields.map { pf =>
      val src = schema.field(pf.sourceId).getOrElse(
        throw new IllegalArgumentException(
          s"partition source ${pf.sourceId} missing"))
      (partPrefix + pf.name,
        Transforms.applyToColumn(pf.transform, col(src.name), src.fieldType,
          df.schema.find(_.name == src.name).map(_.dataType)))
    }
    var df2 = df
    partCols.foreach { case (n, c) => df2 = df2.withColumn(n, c) }
    extraSortCols.foreach { case (n, c) => df2 = df2.withColumn(n, c) }
    val names = partCols.map(_._1)
    // co-locate each partition tuple in one task before the dir split
    df2 = df2.repartition(names.map(col): _*)
    val sortCols = meta.defaultSortOrder.fields.flatMap(sf =>
      schema.field(sf.sourceId).map(f => sortColumn(sf, f.name)))
    // partition columns FIRST: FileFormatWriter requires ordering by the
    // partition columns and re-sorts (unstably) if it isn't satisfied,
    // which would destroy the declared sort order within files
    df2 = df2.sortWithinPartitions(names.map(col) ++
      extraSortCols.map(p => col(p._1)) ++ sortCols: _*)
    // drop AFTER the sort: a projection keeps intra-partition order and
    // the partition-column ordering stays satisfied, so no re-sort
    if (extraSortCols.nonEmpty) df2 = df2.drop(extraSortCols.map(_._1): _*)

    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    val dir = meta.location.stripSuffix("/") + "/data/" +
      java.util.UUID.randomUUID().toString
    try {
      var w = df2.write.option("compression", "snappy")
      if (maxRecordsPerFile > 0)
        w = w.option("maxRecordsPerFile", maxRecordsPerFile)
      w.partitionBy(names: _*).parquet(dir)
    }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }

    harvestPartitionDirs(spark.sessionState.newHadoopConf(), dir, meta, spec,
      if (DataWriter.nanStatsEnabled(meta))
        DataWriter.nanCountsByFile(spark, dir, meta.currentSchema)
      else Map.empty)
  }

  private def sortColumn(sf: SortField,
      name: String): org.apache.spark.sql.Column = {
    val c = col(name)
    (sf.direction, sf.nullOrder) match {
      case (SortDirection.Asc, NullOrder.NullsFirst) => c.asc_nulls_first
      case (SortDirection.Asc, NullOrder.NullsLast) => c.asc_nulls_last
      case (SortDirection.Desc, NullOrder.NullsFirst) => c.desc_nulls_first
      case (SortDirection.Desc, NullOrder.NullsLast) => c.desc_nulls_last
    }
  }

  /** Walk Hive-style partition dirs, decode each tuple with the spec's
    * RESULT types, harvest per-file stats per leaf. */
  private def harvestPartitionDirs(
      conf: org.apache.hadoop.conf.Configuration,
      root: String, meta: TableMetadata,
      spec: PartitionSpec,
      nanCounts: Map[String, Map[Int, Long]] = Map.empty): Seq[DataFile] = {
    val schema = meta.currentSchema
    val partitionType = spec.partitionType(schema)
    PartitionDirs.leaves(conf, root, partitionType).flatMap {
      case (leaf, values) =>
        DataWriter.harvestDataFiles(conf, leaf.toString, schema, values,
          nanCounts)
    }
  }
}

/** Shared Hive-style partition-directory walker: finds parquet leaf
  * dirs under `root` and decodes each `name=value` segment to the
  * partition type's RESULT types (strip the writer's `__p_` prefix). */
private[graft] object PartitionDirs {
  private val partPrefix = "__p_"

  /** Decode one RELATIVE `name=value/...` segment path (the executor
    * row-level writers name files this way so the commit can recover
    * each file's partition tuple through the exact same parse the
    * Hive-dir walker uses). */
  def decodeSegments(relDir: String,
      partitionType: StructType): Map[String, Any] =
    relDir.split('/').filter(s => s.nonEmpty && s.contains('=')).map { seg =>
      val idx = seg.indexOf('=')
      val colName = seg.substring(0, idx).stripPrefix(partPrefix)
      val raw = unescapePathName(seg.substring(idx + 1))
      val typed: Any =
        if (raw == "__HIVE_DEFAULT_PARTITION__") null
        else partitionType.fieldByName(colName).map(f =>
          parseValue(raw, f.fieldType)).getOrElse(raw)
      colName -> typed
    }.toMap

  def leaves(conf: org.apache.hadoop.conf.Configuration, root: String,
      partitionType: StructType): Seq[(Path, Map[String, Any])] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)

    def walk(dir: Path,
        values: Map[String, Any]): Seq[(Path, Map[String, Any])] = {
      val entries = fs.listStatus(dir).toSeq
      val subdirs = entries.filter(_.isDirectory)
      if (subdirs.isEmpty) {
        if (entries.exists(e =>
            e.isFile && e.getPath.getName.endsWith(".parquet")))
          Seq(dir -> values)
        else Nil
      } else subdirs.flatMap { sd =>
        val name = sd.getPath.getName
        val idx = name.indexOf('=')
        if (idx < 0) walk(sd.getPath, values)
        else {
          val colName = name.substring(0, idx).stripPrefix(partPrefix)
          val raw = unescapePathName(name.substring(idx + 1))
          val typed: Any =
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else partitionType.fieldByName(colName).map(f =>
              parseValue(raw, f.fieldType)).getOrElse(raw)
          walk(sd.getPath, values + (colName -> typed))
        }
      }
    }
    walk(rootPath, Map.empty)
  }

  def parseValue(raw: String, t: IcebergType): Any = t match {
    case IntType => raw.toInt
    // identity-partitioned dates/timestamps come back in Spark's
    // calendar rendering ("2020-01-01", "2020-01-01 00:00:00[.f]");
    // transform-derived partition values stay integral. Manifests
    // store days/micros ints either way.
    case DateType =>
      try raw.toInt
      catch { case _: NumberFormatException =>
        java.time.LocalDate.parse(raw).toEpochDay.toInt }
    case TimestampType | TimestampTzType =>
      try raw.toLong
      catch { case _: NumberFormatException =>
        // sessions pin UTC (SURVEY §7), so the rendered wall clock IS
        // the UTC instant for tz-aware values and the literal fields
        // for NTZ — both serialize to the same epoch-micros long
        val ldt = java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L }
    case LongType | TimeType => raw.toLong
    case FloatType => raw.toFloat
    case DoubleType => raw.toDouble
    case BooleanType => raw.toBoolean
    case DecimalType(_, s) => new java.math.BigDecimal(raw).setScale(s)
    case _ => raw
  }

  /** Hive/Spark partition-dir unescape: ONLY `%XX` hex sequences
    * decode (Spark's `ExternalCatalogUtils.unescapePathName`
    * semantics). `java.net.URLDecoder` is the WRONG tool here — it
    * also turns a literal `+` into a space, silently corrupting any
    * string partition value containing `+` (Hive escaping never
    * encodes a space as `+`; it writes spaces raw). */
  private[table] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** MoR delete-file writers (SURVEY S9/S10; `table/writer.go:268-419`).
  *
  * Scale design: the pairs are range-partitioned (so one data file's
  * deletes cluster into one task) and each task emits its own delete
  * file — the Iceberg spec allows many delete files per snapshot, so
  * there is no single-task funnel. Without an explicit `numFiles`, the
  * range shuffle is left to AQE, which coalesces small deletes into few
  * files and fans large ones out across the cluster.
  */
object DeleteFileWriter {
  import org.apache.spark.sql.functions.{broadcast, col}

  /** Position-delete files: `(file_path string, pos long)`, each file
    * sorted by (file_path, pos) as the Iceberg spec requires
    * (`table/writer.go:290-293`). */
  def writePositionDeletes(meta: TableMetadata, deletes: DataFrame,
      numFiles: Int = 0): Seq[DataFile] = {
    val base = deletes
      .select(col("file_path").cast("string"), col("pos").cast("long"))
    val ranged =
      if (numFiles > 0)
        base.repartitionByRange(numFiles, col("file_path"), col("pos"))
      else base.repartitionByRange(col("file_path"), col("pos"))
    writeDeleteParquet(meta, ranged.sortWithinPartitions("file_path", "pos"),
      FileContent.PositionDeletes, Nil)
  }

  /** Partition-scoped position deletes: `pathToPartition` maps each
    * candidate data file to its partition tuple (known to the scan plan,
    * driver-side). Deletes are routed into per-partition delete files so
    * [[Scan.planFiles]] attaches them partition-locally — a read of one
    * partition no longer drags in every delete file in the table.
    * Falls back to global files when the spec is unpartitioned or any
    * candidate predates partitioning (empty tuple = applies-everywhere
    * in our planner's index). */
  def writePositionDeletesPartitioned(meta: TableMetadata,
      deletes: DataFrame,
      pathToPartition: Map[String, Map[String, Any]],
      numFiles: Int = 0): Seq[DataFile] = {
    val spec = meta.defaultPartitionSpec
    if (spec.isUnpartitioned || pathToPartition.isEmpty ||
        pathToPartition.values.exists(_.isEmpty))
      return writePositionDeletes(meta, deletes, numFiles)
    val spark = deletes.sparkSession
    val partitionType = spec.partitionType(meta.currentSchema)
    val partNames = partitionType.fields.map(f => "__p_" + f.name)

    // file_path → partition values, as STRINGS: the Hive-style dir
    // encoding round-trips them and harvest re-types via partitionType
    // (same discipline as PartitionedWriter).
    import org.apache.spark.sql.types.{StringType => SStr, StructField => SF, StructType => ST}
    val mappingSchema = ST(SF("file_path", SStr) +: partNames.map(SF(_, SStr)))
    val mappingRows = pathToPartition.toSeq.map { case (p, tuple) =>
      org.apache.spark.sql.Row.fromSeq(p +: partitionType.fields.map { f =>
        tuple.get(f.name).flatMap(Option(_)).map {
          case d: java.math.BigDecimal => d.toPlainString
          case other => other.toString
        }.orNull
      })
    }
    val mapping = spark.createDataFrame(
      spark.sparkContext.parallelize(mappingRows, 1), mappingSchema)

    // LEFT join + fail-on-unmatched: an inner join would silently drop
    // any delete row whose path doesn't exactly match the stored
    // normalized path (scheme/authority drift) — rows that should be
    // deleted would quietly survive. Coalesce short-circuits, so the
    // raise_error only fires for unmatched rows.
    import org.apache.spark.sql.functions.{coalesce, lit, raise_error, concat}
    val base = deletes
      .select(col("file_path").cast("string"), col("pos").cast("long"))
      .join(broadcast(mapping.withColumn("__matched", lit(true))),
        Seq("file_path"), "left")
      .where(coalesce(col("__matched"), raise_error(concat(
        lit("position-delete path matched no candidate data file " +
          "(path normalization drift?): "), col("file_path")))
        .cast("boolean")))
      .drop("__matched")
    val ranged =
      if (numFiles > 0) base.repartitionByRange(numFiles, col("file_path"), col("pos"))
      else base.repartitionByRange(col("file_path"), col("pos"))
    // partition cols lead the sort so FileFormatWriter doesn't re-sort
    // (unstably) and (file_path, pos) order inside each file survives
    val sorted = ranged.sortWithinPartitions(
      partNames.map(col) ++ Seq(col("file_path"), col("pos")): _*)

    val dir = meta.location.stripSuffix("/") + "/data/deletes-" +
      java.util.UUID.randomUUID().toString
    sorted.write.option("compression", "snappy")
      .partitionBy(partNames: _*).parquet(dir)

    val conf = spark.sessionState.newHadoopConf()
    PartitionDirs.leaves(conf, dir, partitionType).flatMap {
      case (leaf, tuple) => harvestDeleteDir(conf, leaf.toString,
        FileContent.PositionDeletes, Nil, tuple)
    }
  }

  /** Partition-scoped equality deletes: when every partition source
    * column is among the key columns, each key row's partition tuple is
    * computed through the spec's transforms and the delete files land
    * per-partition — [[Scan.planFiles]]' (specId, partition) index then
    * attaches them partition-locally instead of to every older file in
    * the table. Caller must ensure all candidate data files were
    * written under the default spec (see [[graft.table.Mutations]]). */
  def writeEqualityDeletesPartitioned(meta: TableMetadata,
      keys: DataFrame, equalityFieldIds: Seq[Int]): Seq[DataFile] = {
    val spec = meta.defaultPartitionSpec
    val schema = meta.currentSchema
    val spark = keys.sparkSession
    val partitionType = spec.partitionType(schema)
    val partCols = spec.fields.map { pf =>
      val src = schema.field(pf.sourceId).getOrElse(
        throw new IllegalArgumentException(
          s"partition source ${pf.sourceId} missing"))
      ("__p_" + pf.name,
        Transforms.applyToColumn(pf.transform, col(src.name), src.fieldType,
          keys.schema.find(_.name == src.name).map(_.dataType)))
    }
    val partNames = partCols.map(_._1)
    var dk = keys.distinct()
    partCols.foreach { case (n, c) => dk = dk.withColumn(n, c) }
    val keyCols = keys.columns.toSeq.map(col)
    dk = dk.repartition(partNames.map(col): _*)
      .sortWithinPartitions(partNames.map(col) ++ keyCols: _*)

    val dir = meta.location.stripSuffix("/") + "/data/deletes-" +
      java.util.UUID.randomUUID().toString
    dk.write.option("compression", "snappy")
      .partitionBy(partNames: _*).parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    PartitionDirs.leaves(conf, dir, partitionType).flatMap {
      case (leaf, tuple) => harvestDeleteDir(conf, leaf.toString,
        FileContent.EqualityDeletes, equalityFieldIds, tuple)
    }
  }

  /** Equality-delete files: key-column values identify deleted rows
    * (`table/writer.go:360-419`); range-clustered by key, one file per
    * task. */
  def writeEqualityDeletes(meta: TableMetadata, keys: DataFrame,
      equalityFieldIds: Seq[Int], numFiles: Int = 0): Seq[DataFile] = {
    val keyCols = keys.columns.toSeq.map(col)
    val dk = keys.distinct()
    val ranged =
      if (numFiles > 0) dk.repartitionByRange(numFiles, keyCols: _*)
      else dk.repartitionByRange(keyCols: _*)
    writeDeleteParquet(meta, ranged.sortWithinPartitions(keyCols: _*),
      FileContent.EqualityDeletes, equalityFieldIds)
  }

  private def writeDeleteParquet(meta: TableMetadata, df: DataFrame,
      content: FileContent, eqIds: Seq[Int]): Seq[DataFile] = {
    val spark = df.sparkSession
    val dir = meta.location.stripSuffix("/") + "/data/deletes-" +
      java.util.UUID.randomUUID().toString
    df.write.option("compression", "snappy").parquet(dir)
    harvestDeleteDir(spark.sessionState.newHadoopConf(), dir, content,
      eqIds, Map.empty)
  }

  /** Delete files carry their own schema; only row counts are harvested. */
  private def harvestDeleteDir(conf: Configuration, dir: String,
      content: FileContent, eqIds: Seq[Int],
      partition: Map[String, Any]): Seq[DataFile] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.listStatus(dirPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { st =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(st, conf))
        val rows = try {
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        } finally reader.close()
        DataFile(
          content = content,
          filePath = DataWriter.normalizePath(st.getPath.toString),
          recordCount = rows,
          fileSizeInBytes = st.getLen,
          partition = partition,
          equalityIds = eqIds)
      }
  }
}

/** Convenience write ops on a table (fluent facades in M7 widen this). */
object TableOps {
  /** Append honoring the table's partition spec
    * (`table/insert.go:49-170`). `props`, when given, are set in the
    * SAME commit as the data — the atomic data+bookkeeping shape the
    * streaming sinks' batch watermark needs. `summary` entries land in
    * the SNAPSHOT's summary (not table properties): per-commit facts a
    * reader may need to find this specific commit again later (the
    * streaming sinks stamp the micro-batch id there so a crash-restart
    * heal can resolve which sink snapshot carried a given batch). */
  def append(table: Table, df: DataFrame,
      props: Map[String, String] = Map.empty,
      summary: Map[String, String] = Map.empty): Table = {
    val files = PartitionedWriter.writeDataFiles(table.metadata, df)
    table.commitSnapshot(PendingSnapshot(Operation.Append,
      addedDataFiles = files, summaryExtra = summary),
      extraProps = props)
  }

  /** [[append]] with properties recomputed from refreshed metadata on
    * every conflict-retry attempt ([[Table.commitSnapshotComputed]]) —
    * the shape for read-modify-write stamp arithmetic (the streaming
    * sinks' additive corpus stats), which a stale precomputed map
    * would silently corrupt under concurrent writers. */
  def appendComputed(table: Table, df: DataFrame,
      propsFn: TableMetadata => Map[String, String]): Table = {
    val files = PartitionedWriter.writeDataFiles(table.metadata, df)
    table.commitSnapshotComputed(PendingSnapshot(Operation.Append,
      addedDataFiles = files), extraPropsFn = propsFn)
  }

  /** Property-only stamp with the map recomputed from refreshed
    * metadata on every conflict-retry attempt — the metadata-only twin
    * of [[appendComputed]]. Deliberately implemented as an EMPTY
    * append snapshot through [[Table.commitSnapshotComputed]] rather
    * than a bare property transaction: the snapshot commit's branch-ref
    * assertion serializes it against EVERY concurrent commit —
    * including other property-only stamps, which
    * [[Transaction.commit]]'s requirement (a ref check that a pure
    * property commit never trips) cannot see, so a bare transaction
    * could re-apply stale read-modify-write arithmetic and silently
    * lose a concurrent writer's increment even with zero local delta.
    * Cost: one data-less snapshot in the history per stamp (no data
    * manifests are rewritten; expiry reclaims them like any other). */
  def stampComputed(table: Table,
      propsFn: TableMetadata => Map[String, String]): Table =
    table.commitSnapshotComputed(PendingSnapshot(Operation.Append),
      extraPropsFn = propsFn)

  /** Register EXISTING parquet files as table data — Iceberg's
    * `add_files` import (the migration path the reference's catalog
    * layer implies but never ships: its writer always copies rows,
    * `table/writer.go:57-59`). The files are NOT rewritten or moved;
    * one footer read per file harvests the same stats-complete
    * [[graft.spec.DataFile]] entries a native write produces (stats
    * resolve by column name, so files written by any engine prune
    * identically to native ones), and one Append snapshot commits them.
    *
    * Files land in the table's CURRENT default partition spec: for a
    * partitioned table the caller states the partition values shared
    * by every file in this call (add each partition's files in its own
    * call, exactly like Iceberg's `partition_filter`); an empty map is
    * only legal on an unpartitioned spec. `checkDuplicates` rejects
    * paths the current snapshot already references — re-adding a live
    * file would double-count its rows (Iceberg's
    * `check_duplicate_files`). Footer reads are driver-side and
    * bounded by the file count of ONE import call, the same planning
    * budget `append` itself spends. */
  def addFiles(table: Table, spark: SparkSession, paths: Seq[String],
      partition: Map[String, Any] = Map.empty,
      checkDuplicates: Boolean = true): Table =
    addFilesDetailed(table, spark, paths, partition, checkDuplicates)._1

  /** [[addFiles]] returning the committed [[graft.spec.DataFile]]
    * entries alongside the updated table, so callers (the `add_files`
    * procedure) can report added-file/added-record counts from what
    * was actually committed rather than from input-path arity. */
  def addFilesDetailed(table: Table, spark: SparkSession,
      paths: Seq[String], partition: Map[String, Any] = Map.empty,
      checkDuplicates: Boolean = true): (Table, Seq[DataFile]) = {
    require(paths.nonEmpty, "addFiles: empty path list")
    val meta = table.metadata
    val spec = meta.defaultPartitionSpec
    val specNames = spec.fields.map(_.name)
    val missing = specNames.filterNot(partition.contains)
    require(missing.isEmpty,
      s"addFiles: partition values required for spec fields " +
        s"${missing.mkString(", ")} (one call per partition)")
    val stray = partition.keys.filterNot(specNames.contains)
    require(stray.isEmpty,
      s"addFiles: ${stray.mkString(", ")} not in the default partition " +
        s"spec (fields: ${specNames.mkString(", ")})")
    val schema = meta.currentSchema
    val files = DataWriter.harvestFiles(
      spark.sessionState.newHadoopConf(), paths, schema, partition)
    // the caller STATES the partition tuple — cross-check it against
    // the harvested column bounds wherever the transform lets us
    // (identity: every row must equal the stated value, so min = max =
    // value). A wrong tuple would silently mis-prune forever; bounds
    // are already in hand, so fail loud at import instead.
    for {
      pf <- spec.fields if pf.transform == Transform.Identity
      f <- schema.field(pf.sourceId)
      stated = partition(pf.name)
      df <- files
      loB <- df.lowerBounds.get(pf.sourceId)
      hiB <- df.upperBounds.get(pf.sourceId)
    } {
      val lo = Bounds.deserialize(loB, f.fieldType)
      val hi = Bounds.deserialize(hiB, f.fieldType)
      // the stated value must sit inside the file's bounds (sound even
      // under the 16-char string-bound truncation, which only WIDENS)
      require(Bounds.compare(stated, lo, f.fieldType) >= 0 &&
          Bounds.compare(stated, hi, f.fieldType) <= 0,
        s"addFiles: ${df.filePath} has ${f.name} in [$lo, $hi] but the " +
          s"stated identity partition ${pf.name} = $stated lies outside")
      // non-string bounds are exact: lo != hi proves the column is not
      // constant, which an identity partition requires. (String bounds
      // may differ only because of truncation, so strings get just the
      // range check above.)
      require(f.fieldType == StringType ||
          Bounds.compare(lo, hi, f.fieldType) == 0,
        s"addFiles: ${df.filePath} has ${f.name} in [$lo, $hi] — not " +
          s"constant, so it cannot carry identity partition " +
          s"${pf.name} = $stated")
    }
    // schema fit: a required top-level primitive column absent from a
    // file would read back null — fail loud at import time instead
    val requiredIds = schema.fields
      .filter(f => f.required && f.fieldType.isInstanceOf[PrimitiveType])
      .map(f => f.id -> f.name)
    files.foreach { f =>
      val absent = requiredIds.collect {
        case (id, name) if !f.valueCounts.contains(id) => name
      }
      require(absent.isEmpty, s"addFiles: ${f.filePath} lacks required " +
        s"column(s) ${absent.mkString(", ")}")
    }
    if (checkDuplicates) {
      val live = Scan(table, spark).planFiles()
        .map(t => DataWriter.normalizePath(t.file.filePath)).toSet
      val dup = files.map(f => DataWriter.normalizePath(f.filePath))
        .filter(live.contains)
      require(dup.isEmpty,
        s"addFiles: already referenced by the current snapshot: " +
          s"${dup.mkString(", ")}")
    }
    (table.commitSnapshot(PendingSnapshot(Operation.Append,
      addedDataFiles = files)), files)
  }
}
