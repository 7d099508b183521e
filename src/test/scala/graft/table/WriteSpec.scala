package graft.table

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._

class PartitionedWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String, spec: PartitionSpec,
      sortOrder: SortOrder = SortOrder.unsorted): Table = {
    val dir = Files.createTempDirectory("graft-pw-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name),
      Fixtures4.usersSchema, spec, sortOrder, io = new HadoopFileIO())
  }

  private def usersDf(ids: Range, dayOf: Int => Int): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val day = dayOf(i)
      (i.toLong, s"user_$i", if (i % 2 == 1) null else s"u$i@x.com",
        new java.sql.Timestamp(86400000L * day + i * 1000L))
    }.toDF("id", "name", "email", "created_at")
  }

  test("appends never commit zero-row data files") {
    def liveFiles(t: Table) = Scan(t, spark).planFiles().map(_.file)
    def parquetOnDisk(t: Table): Int = {
      val data = new java.io.File(
        Scan.normPath(t.metadata.location).stripSuffix("/") + "/data")
      Files.walk(data.toPath).filter(_.toString.endsWith(".parquet"))
        .count().toInt
    }
    // partition 0 of the frame (ids 0..9) is empty after the filter;
    // an unpartitioned write's first task still emits a 0-row file
    val frame = spark.range(0, 40, 1, 4).where(col("id") >= 10)
      .select(col("id"), concat(lit("user_"), col("id")).as("name"),
        lit(null).cast("string").as("email"),
        timestamp_seconds(col("id") + 1704067200L).as("created_at"))
    for ((name, spec) <- Seq(
        "zero_unpart" -> PartitionSpec.unpartitioned,
        "zero_daily" -> PartitionSpec.builder(0).day(4, "created_day")
          .build())) {
      val t = TableOps.append(freshTable(name, spec), frame)
      val files = liveFiles(t)
      assert(files.nonEmpty && files.forall(_.recordCount > 0),
        s"$name: committed a 0-row file: ${files.map(_.recordCount)}")
      assert(files.map(_.recordCount).sum == 30)
      assert(Scan(t, spark).toDF.count() == 30)
      if (spec.isUnpartitioned)
        assert(parquetOnDisk(t) > files.size,
          s"$name: precondition — the writer left a 0-row file behind")
    }
  }

  test("day-partitioned append: one file per day, tuple recorded (S8)") {
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    var t = freshTable("daily", spec)
    t = TableOps.append(t, usersDf(1 to 30, i => 19800 + (i % 3)))
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.size == 3, s"one file per day partition: $tasks")
    assert(tasks.map(_.file.partition("created_day")).toSet ==
      Set(19800, 19801, 19802))
    // all original columns survive in the data files
    val df = Scan(t, spark).toDF
    assert(df.columns.toSeq == Seq("id", "name", "email", "created_at"))
    assert(df.count() == 30)
    // manifest partition summaries filled
    val mf = t.manifestList(t.currentSnapshot.get)
      .find(_.content == ManifestContent.Data).get
    assert(mf.partitions.nonEmpty)
    assert(mf.partitions.head.lowerBound.map(
      Bounds.deserialize(_, IntType)).contains(19800))
  }

  test("partition-tuple pruning on day partitions") {
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    var t = freshTable("daily2", spec)
    t = TableOps.append(t, usersDf(1 to 30, i => 19800 + (i % 3)))
    // equality on the raw timestamp projects onto day partition
    val tsInDay1 = new java.sql.Timestamp(86400000L * 19801 + 4000L)
    val pruned = Scan(t, spark)
      .filter(Col("created_at").eqTo(tsInDay1)).planFiles()
    assert(pruned.size == 1)
    assert(pruned.head.file.partition("created_day") == 19801)
    // range predicate keeps only later days
    val hi = new java.sql.Timestamp(86400000L * 19802)
    val ge = Scan(t, spark).filter(Col("created_at").gte(hi)).planFiles()
    assert(ge.map(_.file.partition("created_day")).toSet == Set(19802))
  }

  test("bucket-partitioned append prunes by hash, not bounds") {
    val spec = PartitionSpec.builder(0).bucket(1, "id_bucket", 4).build()
    var t = freshTable("bucketed", spec)
    t = TableOps.append(t, usersDf(1 to 100, _ => 19800))
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.size == 4, s"4 bucket files: ${tasks.size}")
    // id bounds overlap across buckets — only the tuple can prune
    val target = 42L
    val expectedBucket = Transforms.bucketHash(target, LongType)
      .map(h => (h & Int.MaxValue) % 4).get
    val pruned = Scan(t, spark).filter(Col("id").eqTo(target)).planFiles()
    assert(pruned.size == 1)
    assert(pruned.head.file.partition("id_bucket") == expectedBucket)
    assert(Scan(t, spark).filter(Col("id").eqTo(target)).toDF.count() == 1)
  }

  test("truncate-partitioned strings") {
    val spec = PartitionSpec.builder(0).truncate(2, "name_t", 6).build()
    var t = freshTable("trunc", spec)
    t = TableOps.append(t, usersDf(1 to 20, _ => 19800))
    // user_1..user_20 truncate[6] -> "user_1" and "user_2" (6 chars)
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.map(_.file.partition("name_t")).toSet ==
      Set("user_1", "user_2", "user_3", "user_4", "user_5", "user_6",
        "user_7", "user_8", "user_9"))
    val pruned = Scan(t, spark)
      .filter(Col("name").eqTo("user_17")).planFiles()
    assert(pruned.size == 1)
    assert(pruned.head.file.partition("name_t") == "user_1")
  }

  test("calendar transforms are timezone-independent (UTC projection)") {
    val spec = PartitionSpec.builder(0).day(4, "d").build()
    var t = freshTable("tzday", spec)
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      // with a non-UTC session, year()/month()/cast("date") on a
      // tz-aware column follow the session zone; tuples must stay UTC
      spark.conf.set(tzKey, "America/Los_Angeles")
      // instants just past UTC midnight: LA-local date is the PREVIOUS day
      t = TableOps.append(t, usersDf(1 to 9, i => 19800 + (i % 3)))
      val tasks = Scan(t, spark).planFiles()
      assert(tasks.map(_.file.partition("d")).toSet ==
        Set(19800, 19801, 19802),
        s"tuples must be UTC epoch days: ${tasks.map(_.file.partition)}")
      // pruning projections agree with the written tuples
      val ts = java.time.LocalDateTime.ofEpochSecond(
        86400L * 19801 + 1, 0, java.time.ZoneOffset.UTC)
      val pruned = Scan(t, spark)
        .filter(Col("created_at").eqTo(ts)).planFiles()
      assert(pruned.size == 1 && pruned.head.file.partition("d") == 19801)
      assert(Scan(t, spark).filter(Col("created_at").eqTo(ts))
        .toDF.count() == 1)
    } finally spark.conf.set(tzKey, prev)
  }

  test("sort order applied within partition files") {
    val spec = PartitionSpec.builder(0).day(4, "d").build()
    val order = SortOrder(1, Seq(SortField(1,
      direction = SortDirection.Desc, nullOrder = NullOrder.NullsLast)))
    var t = freshTable("sorted", spec, order)
    t = TableOps.append(t, usersDf(1 to 10, _ => 19800))
    val ids = Scan(t, spark).toDF.select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == (10 to 1 by -1).map(_.toLong))
  }

  test("append with extraProps: data + properties land in ONE commit") {
    val t0 = freshTable("propped", PartitionSpec.unpartitioned)
    val before = t0.metadata.metadataLog.size
    val t1 = TableOps.append(t0, usersDf(1 to 5, _ => 19800),
      props = Map("graft.test.stamp" -> "7"))
    // exactly one metadata version was written: the snapshot AND the
    // property are atomic (the streaming sinks' watermark contract —
    // no crash window between a data append and its stamp)
    assert(t1.metadata.metadataLog.size == before + 1,
      s"one commit, got ${t1.metadata.metadataLog.size - before}")
    assert(t1.metadata.properties.get("graft.test.stamp").contains("7"))
    assert(t1.metadata.snapshots.size == t0.metadata.snapshots.size + 1)
    assert(Scan(t1, spark).toDF.count() == 5)
  }

  test("appendComputed recomputes read-modify-write props on a " +
      "conflict retry (concurrent-writer CAS)") {
    var t = freshTable("casprops", PartitionSpec.unpartitioned)
    t = t.newTransaction()
      .setProperties(Map("graft.test.cnt" -> "10")).commit()
    // STALE handle A reads cnt = 10
    val a = Table.load(t.catalog, t.id, t.io)
    // writer B lands an append that moves the ref AND sets cnt = 25
    TableOps.append(t.refresh(), usersDf(1 to 3, _ => 19800),
      props = Map("graft.test.cnt" -> "25"))
    // A increments by 5 FROM WHATEVER IS CURRENT: its first attempt
    // CAS-fails (B moved the ref) and the retry must recompute from
    // the refreshed metadata — a stale precomputed map would commit
    // 15 and silently erase B's update
    val committed = TableOps.appendComputed(a,
      usersDf(4 to 6, _ => 19800),
      m => Map("graft.test.cnt" ->
        (m.properties("graft.test.cnt").toLong + 5).toString))
    assert(committed.metadata.properties("graft.test.cnt") == "30",
      s"lost update: ${committed.metadata.properties("graft.test.cnt")}")
    assert(Scan(committed, spark).toDF.count() == 6)
  }

  test("stampComputed serializes property-only stamps against " +
      "concurrent property-only stamps (no lost increment)") {
    var t = freshTable("casstamp", PartitionSpec.unpartitioned)
    t = TableOps.append(t, usersDf(1 to 3, _ => 19800),
      props = Map("graft.test.cnt" -> "10"))
    // STALE handle A reads cnt = 10
    val a = Table.load(t.catalog, t.id, t.io)
    // writer B lands a PROPERTY-ONLY stamp setting cnt = 25. A bare
    // property transaction would not move any ref, so a concurrent
    // writer's ref assertion could not see it — the empty-snapshot
    // stamp moves main, making B's commit visible to A's CAS.
    val b = TableOps.stampComputed(t.refresh(),
      _ => Map("graft.test.cnt" -> "25"))
    assert(b.metadata.properties("graft.test.cnt") == "25")
    assert(Scan(b, spark).toDF.count() == 3,
      "a stamp snapshot must carry the data forward unchanged")
    // A increments by 5 FROM WHATEVER IS CURRENT, property-only: its
    // first attempt must CAS-fail on B's stamp snapshot and the retry
    // must recompute — the lost-increment class ADVICE r19 flagged for
    // the streaming sinks' no-payload batches
    val committed = TableOps.stampComputed(a,
      m => Map("graft.test.cnt" ->
        (m.properties("graft.test.cnt").toLong + 5).toString))
    assert(committed.metadata.properties("graft.test.cnt") == "30",
      s"lost update: ${committed.metadata.properties("graft.test.cnt")}")
    // both stamps are data-less appends: rows unchanged, history grew
    assert(Scan(committed, spark).toDF.count() == 3)
    assert(committed.metadata.snapshots.size == 3,
      s"append + 2 stamp snapshots: ${committed.metadata.snapshots.size}")
  }
}

class DeleteFileWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("position deletes round-trip and apply at scan (J2)") {
    val dir = Files.createTempDirectory("graft-mor-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "mor"),
      Fixtures4.usersSchema, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"u$i", s"e$i",
      new java.sql.Timestamp(1704067200000L + i))).toDF(
      "id", "name", "email", "created_at")
    t = TableOps.append(t, df.coalesce(1))

    val dataPath = Scan(t, spark).planFiles().head.file.filePath
    // delete positions 0 and 1 (ids 1, 2 in write order)
    val deletes = Seq((dataPath, 0L), (dataPath, 1L)).toDF("file_path", "pos")
    val delFiles = DeleteFileWriter.writePositionDeletes(t.metadata, deletes)
    assert(delFiles.size == 1)
    assert(delFiles.head.content == FileContent.PositionDeletes)
    assert(delFiles.head.recordCount == 2)
    t = t.commitSnapshot(PendingSnapshot(Operation.Delete,
      addedDeleteFiles = delFiles))

    val remaining = Scan(t, spark).toDF.select("id")
      .collect().map(_.getLong(0)).toSet
    assert(remaining == (3 to 10).map(_.toLong).toSet,
      s"positions 0,1 must be anti-joined away: $remaining")
    // metadata count must NOT shortcut when delete files apply
    assert(Scan(t, spark).count() == 8)
  }

  test("equality deletes apply to older sequence numbers only") {
    val dir = Files.createTempDirectory("graft-eqd-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "eq"),
      Fixtures4.usersSchema, io = new HadoopFileIO())
    import spark.implicits._
    def rows(ids: Range) = ids.map(i => (i.toLong, s"u$i", s"e$i",
      new java.sql.Timestamp(1704067200000L + i))).toDF(
      "id", "name", "email", "created_at")
    t = TableOps.append(t, rows(1 to 5))
    // equality-delete ids 2 and 4 (seq 2 > data seq 1)
    val delFiles = DeleteFileWriter.writeEqualityDeletes(t.metadata,
      Seq(2L, 4L).toDF("id"), equalityFieldIds = Seq(1))
    t = t.commitSnapshot(PendingSnapshot(Operation.Delete,
      addedDeleteFiles = delFiles))
    assert(Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L))
    // re-insert id 2 AFTER the delete: newer sequence, must survive
    t = TableOps.append(t, rows(2 to 2))
    assert(Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 5L))
  }

  test("large position delete fans out over many files (no coalesce(1))") {
    val dir = Files.createTempDirectory("graft-morbig-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "morbig"),
      Fixtures4.usersSchema, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, s"u$i", s"e$i",
      new java.sql.Timestamp(1704067200000L + i))).toDF(
      "id", "name", "email", "created_at")
    t = TableOps.append(t, df.repartition(4))

    val dataPaths = Scan(t, spark).planFiles().map(_.file.filePath)
    val deletes = spark.read.parquet(dataPaths: _*)
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .where(col("id") % 2 === 0)
      .select("file_path", "pos")
    // explicit fan-out: one delete file per range partition
    val delFiles = DeleteFileWriter.writePositionDeletes(t.metadata,
      deletes, numFiles = 4)
    assert(delFiles.size > 1,
      s"expected multiple delete files, got ${delFiles.size}")
    assert(delFiles.map(_.recordCount).sum == 2500)
    t = t.commitSnapshot(PendingSnapshot(Operation.Delete,
      addedDeleteFiles = delFiles))
    val ids = Scan(t, spark).toDF.select("id").collect().map(_.getLong(0))
    assert(ids.length == 2500 && ids.forall(_ % 2 == 1))
  }

  test("partition-scoped MoR delete attaches only within its partition") {
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    val dir = Files.createTempDirectory("graft-morpart-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "morpart"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 30).map { i =>
      val day = 19800 + (i % 3)
      (i.toLong, s"u$i", s"e$i", new java.sql.Timestamp(86400000L * day + i))
    }.toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df)

    // MoR-delete rows that live ONLY in day 19801 (i % 3 == 1)
    t = Mutations.deleteMoR(t, spark, Col("id").in(1L, 4L, 7L))
    val tasks = Scan(t, spark).planFiles()
    val byDay = tasks.groupBy(_.file.partition("created_day"))
    assert(byDay(19801).forall(_.deleteFiles.nonEmpty),
      "delete file must attach to its own partition")
    assert(byDay(19800).forall(_.deleteFiles.isEmpty) &&
      byDay(19802).forall(_.deleteFiles.isEmpty),
      s"deletes must NOT attach to disjoint partitions: $byDay")
    // delete files themselves carry the partition tuple
    val delFiles = tasks.flatMap(_.deleteFiles).distinct
    assert(delFiles.nonEmpty &&
      delFiles.forall(_.file.partition("created_day") == 19801))
    // correctness: only the three rows are gone
    assert(Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet ==
      (1 to 30).map(_.toLong).toSet -- Set(1L, 4L, 7L))
  }

  test("partition-scoped equality deletes attach only within their partition") {
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    val dir = Files.createTempDirectory("graft-eqpart-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "eqpart"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 30).map { i =>
      val day = 19800 + (i % 3)
      (i.toLong, s"u$i", s"e$i", new java.sql.Timestamp(86400000L * day + i))
    }.toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df)

    // keys include the partition source column (created_at) → scoped.
    // ids 1, 4 live in day 19801
    val keys = df.filter(col("id").isin(1L, 4L))
      .select("id", "created_at")
    t = Mutations.deleteByKeys(t, spark, keys)

    val tasks = Scan(t, spark).planFiles()
    val byDay = tasks.groupBy(_.file.partition("created_day"))
    assert(byDay(19801).forall(_.deleteFiles.nonEmpty),
      "scoped equality delete must attach in its partition")
    assert(byDay(19800).forall(_.deleteFiles.isEmpty) &&
      byDay(19802).forall(_.deleteFiles.isEmpty),
      s"equality deletes must NOT attach to disjoint partitions: $byDay")
    val delFiles = tasks.flatMap(_.deleteFiles).distinct
    assert(delFiles.nonEmpty &&
      delFiles.forall(_.file.partition("created_day") == 19801))
    assert(Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet ==
      (1 to 30).map(_.toLong).toSet -- Set(1L, 4L))

    // keys WITHOUT the partition source fall back to global files
    var t2 = Table.create(cat, TableIdentifier(Seq("db"), "eqpart2"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    t2 = TableOps.append(t2, df)
    t2 = Mutations.deleteByKeys(t2, spark,
      df.filter(col("id") === 2L).select("id"))
    val del2 = Scan(t2, spark).planFiles().flatMap(_.deleteFiles).distinct
    assert(del2.nonEmpty && del2.forall(_.file.partition.isEmpty),
      s"unscopable keys must produce global delete files: $del2")
    assert(Scan(t2, spark).toDF.count() == 29)
  }

  test("MoR delete after partition-spec evolution stays correct (global fallback)") {
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    val dir = Files.createTempDirectory("graft-morspec-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "morspec"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 30).map { i =>
      val day = 19800 + (i % 3)
      (i.toLong, s"u$i", s"e$i", new java.sql.Timestamp(86400000L * day + i))
    }.toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df)

    // evolve the default spec: candidates now predate it, so their
    // tuples ({created_day -> X}) don't line up with the new spec's
    // field names ({id_b -> ...})
    val spec2 = PartitionSpec.builder(1).bucket(1, "id_b", 4).build()
    t = t.newTransaction().addPartitionSpec(spec2).commit()
    assert(t.metadata.defaultSpecId == 1)

    t = Mutations.deleteMoR(t, spark, Col("id").in(2L, 5L, 8L))
    // the writer must have fallen back to GLOBAL (empty-tuple) delete
    // files — routing through the new spec would orphan the deletes
    val delFiles = Scan(t, spark).planFiles().flatMap(_.deleteFiles).distinct
    assert(delFiles.nonEmpty && delFiles.forall(_.file.partition.isEmpty),
      s"old-spec candidates must take the global delete path: $delFiles")
    assert(Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet ==
      (1 to 30).map(_.toLong).toSet -- Set(2L, 5L, 8L),
      "MoR-deleted rows must not resurface after spec evolution")
  }

  test("partitioned delete write fails loudly on unmatched file_path") {
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    val dir = Files.createTempDirectory("graft-mordrift-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "mordrift"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 9).map { i =>
      val day = 19800 + (i % 3)
      (i.toLong, s"u$i", s"e$i", new java.sql.Timestamp(86400000L * day + i))
    }.toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df)
    val tasks = Scan(t, spark).planFiles()
    val pathToPartition =
      tasks.map(x => x.file.filePath -> x.file.partition).toMap
    // one real path, one drifted path that matches no candidate
    val deletes = Seq(
      (tasks.head.file.filePath, 0L),
      ("file:/drifted/nonexistent.parquet", 1L)).toDF("file_path", "pos")
    val ex = intercept[Exception] {
      DeleteFileWriter.writePositionDeletesPartitioned(
        t.metadata, deletes, pathToPartition)
    }
    def messages(e: Throwable): Seq[String] =
      if (e == null) Nil
      else Option(e.getMessage).toSeq ++ messages(e.getCause)
    assert(messages(ex).exists(_.contains("matched no candidate")),
      s"expected the path-drift raise_error, got: $ex")
  }
}
