package graft.table

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._

class PruningSpec extends AnyFunSuite {
  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "name", StringType, required = false)))

  private def file(lo: Long, hi: Long, nulls: Long = 0, rows: Long = 100,
      nameLo: String = "aaa", nameHi: String = "zzz") = DataFile(
    filePath = s"file:///d/$lo-$hi.parquet",
    recordCount = rows,
    valueCounts = Map(1 -> rows, 2 -> rows),
    nullValueCounts = Map(1 -> 0L, 2 -> nulls),
    lowerBounds = Map(1 -> Bounds.serialize(lo, LongType),
      2 -> Bounds.serialize(nameLo, StringType)),
    upperBounds = Map(1 -> Bounds.serialize(hi, LongType),
      2 -> Bounds.serialize(nameHi, StringType)))

  private def m(e: Expr, f: DataFile) = Pruning.fileMightMatch(e, f, schema)

  test("Eq prunes by [lower, upper]") {
    assert(m(Col("id").eqTo(15L), file(10, 20)))
    assert(!m(Col("id").eqTo(25L), file(10, 20)))
    assert(m(Col("id").eqTo(10), file(10, 20)), "int literal vs long bounds")
    assert(!m(Col("id").eqTo(9), file(10, 20)))
  }

  test("range ops prune at edges") {
    assert(!m(Col("id").lt(10L), file(10, 20)))
    assert(m(Col("id").lte(10L), file(10, 20)))
    assert(!m(Col("id").gt(20L), file(10, 20)))
    assert(m(Col("id").gte(20L), file(10, 20)))
    assert(m(Col("id").between(18L, 30L), file(10, 20)))
    assert(!m(Col("id").between(21L, 30L), file(10, 20)))
  }

  test("In prunes when no value in range") {
    assert(m(Col("id").in(1L, 15L), file(10, 20)))
    assert(!m(Col("id").in(1L, 9L, 21L), file(10, 20)))
  }

  test("null-count pruning") {
    assert(!m(Col("name").isNull, file(10, 20, nulls = 0)))
    assert(m(Col("name").isNull, file(10, 20, nulls = 5)))
    assert(m(Col("name").notNull, file(10, 20, nulls = 5)))
    // all-null column: NotNull and comparisons prune
    val allNull = file(10, 20).copy(
      nullValueCounts = Map(1 -> 0L, 2 -> 100L))
    assert(!Pruning.fileMightMatch(Col("name").notNull, allNull, schema))
    assert(!Pruning.fileMightMatch(Col("name").eqTo("x"), allNull, schema))
  }

  test("StartsWith prunes via string bounds") {
    assert(m(Col("name").startsWith("m"), file(1, 2)))
    assert(!m(Col("name").startsWith("m"),
      file(1, 2, nameLo = "aaa", nameHi = "ccc")))
    assert(m(Col("name").startsWith("bob"),
      file(1, 2, nameLo = "alpha", nameHi = "carol")))
  }

  test("And/Or compose; Not degrades to keep") {
    assert(!m(Col("id").gt(20L) and Col("name").startsWith("m"), file(10, 20)))
    assert(m(Col("id").gt(25L).or(Col("id").lt(15L)), file(10, 20)))
    assert(m(Expr.not(Col("id").eqTo(15L)), file(10, 20)))
  }

  test("missing stats keep the file") {
    val bare = DataFile(filePath = "file:///d/bare.parquet", recordCount = 1)
    assert(Pruning.fileMightMatch(Col("id").eqTo(999L), bare, schema))
  }
}

class ScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String,
      schema: Schema = Fixtures4.usersSchema): Table = {
    val dir = Files.createTempDirectory("graft-scan-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name), schema,
      io = new HadoopFileIO())
  }

  private def usersDf(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"user_$i",
        if (i % 2 == 1) null else s"u$i@x.com",
        new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "name", "email", "created_at")
  }

  test("create -> append -> scan round-trips rows (t1 smoke shape)") {
    var t = freshTable("smoke")
    val df = usersDf(1 to 10)
    t = TableOps.append(t, df)
    val scanned = Scan(t, spark).toDF
    assert(scanned.count() == 10)
    assert(scanned.schema.fieldNames.toSeq ==
      Seq("id", "name", "email", "created_at"))
    // filter + select + limit through the engine ops
    val got = Scan(t, spark)
      .filter(Col("id").gt(5L))
      .select("id", "name")
      .toDF.orderBy("id").collect().map(r => r.getLong(0))
    assert(got.toSeq == Seq(6L, 7L, 8L, 9L, 10L))
    assert(Scan(t, spark).limit(3).toDF.count() == 3)
  }

  test("metadata-only count (S5/A1) and limit clamp") {
    var t = freshTable("cnt")
    t = TableOps.append(t, usersDf(1 to 10))
    t = TableOps.append(t, usersDf(11 to 30))
    assert(Scan(t, spark).count() == 30)
    assert(Scan(t, spark).limit(7).count() == 7)
    // with a filter it must execute, not estimate
    assert(Scan(t, spark).filter(Col("id").lte(12L)).count() == 12)
  }

  test("file pruning cuts planned files by id bounds") {
    var t = freshTable("prune")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    t = TableOps.append(t, usersDf(21 to 30).coalesce(1))
    assert(Scan(t, spark).planFiles().size == 3)
    val pruned = Scan(t, spark).filter(Col("id").gt(25L)).planFiles()
    assert(pruned.size == 1, s"expected 1 surviving file, got $pruned")
    val prunedEq = Scan(t, spark).filter(Col("id").eqTo(15L)).planFiles()
    assert(prunedEq.size == 1)
    // correctness unaffected
    assert(Scan(t, spark).filter(Col("id").gt(25L)).toDF.count() == 5)
  }

  test("null pruning: email IS NULL keeps files, odd ids null") {
    var t = freshTable("nulls")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    val nullRows = Scan(t, spark).filter(Col("email").isNull).toDF
    assert(nullRows.count() == 5)
  }

  test("time travel: snapshot id and as-of (M4 surface via scan)") {
    var t = freshTable("tt")
    t = TableOps.append(t, usersDf(1 to 10))
    val s1 = t.currentSnapshot.get
    Thread.sleep(5)
    t = TableOps.append(t, usersDf(11 to 20))
    val s2 = t.currentSnapshot.get
    assert(Scan(t, spark).useSnapshot(s1.snapshotId).toDF.count() == 10)
    assert(Scan(t, spark).useSnapshot(s2.snapshotId).toDF.count() == 20)
    assert(Scan(t, spark).asOf(s1.timestampMs).toDF.count() == 10)
    assert(Scan(t, spark).asOf(s2.timestampMs).toDF.count() == 20)
    intercept[IllegalArgumentException] {
      Scan(t, spark).asOf(s1.timestampMs - 10000).resolveSnapshot()
    }
  }

  test("harvested stats carry real bounds and counts") {
    var t = freshTable("stats")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    val files = Scan(t, spark).planFiles().map(_.file)
    assert(files.size == 1)
    val f = files.head
    assert(f.recordCount == 10)
    assert(Bounds.deserialize(f.lowerBounds(1), LongType) == 1L)
    assert(Bounds.deserialize(f.upperBounds(1), LongType) == 10L)
    assert(f.nullValueCounts(3) == 5) // odd-id emails are null
    assert(f.valueCounts(1) == 10)
    assert(f.fileSizeInBytes > 0)
    assert(f.splitOffsets.nonEmpty)
    // string bounds round-trip
    assert(Bounds.deserialize(f.lowerBounds(2), StringType) == "user_1")
  }

  test("scan of empty table returns empty DF with table schema") {
    val t = freshTable("empty")
    val df = Scan(t, spark).toDF
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq ==
      Seq("id", "name", "email", "created_at"))
  }

  test("incremental append scan reads only the snapshot range") {
    var t = freshTable("incr")
    t = TableOps.append(t, usersDf(1 to 10))
    val s1 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(11 to 20))
    val s2 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(21 to 30))
    val s3 = t.currentSnapshot.get.snapshotId

    def idsOf(sc: Scan): Set[Long] =
      sc.toDF.select("id").collect().map(_.getLong(0)).toSet
    assert(idsOf(Scan(t, spark).appendsBetween(s1, s3)) ==
      (11 to 30).map(_.toLong).toSet)
    assert(idsOf(Scan(t, spark).appendsBetween(s2, s3)) ==
      (21 to 30).map(_.toLong).toSet)
    assert(Scan(t, spark).appendsBetween(s1, s2).count() == 10,
      "incremental count stays metadata-only")
    assert(Scan(t, spark).appendsBetween(s3, s3).count() == 0)
    // filters prune within the increment
    assert(idsOf(Scan(t, spark).appendsBetween(s1, s3)
      .filter(Col("id").lte(12L))) == Set(11L, 12L))
    intercept[IllegalArgumentException] {
      Scan(t, spark).appendsBetween(999L, s2).planFiles()
    }
  }

  test("scan by ref: tags and branches resolve to their snapshot (M5)") {
    var t = freshTable("refscan")
    t = TableOps.append(t, usersDf(1 to 10))
    val s1 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(11 to 20))
    t = t.newTransaction()
      .setRef("audit-tag", s1, "tag")
      .setRef("dev", t.currentSnapshot.get.snapshotId, "branch")
      .commit()
    assert(Scan(t, spark).useRef("audit-tag").toDF.count() == 10)
    assert(Scan(t, spark).useRef("dev").toDF.count() == 20)
    assert(Scan(t, spark).useRef("main").toDF.count() == 20)
    // a filter composes with the ref read
    assert(Scan(t, spark).useRef("audit-tag")
      .filter(Col("id").lte(3L)).toDF.count() == 3)
    intercept[IllegalArgumentException] {
      Scan(t, spark).useRef("nope").resolveSnapshot()
    }
  }
}

/** Nested-column stats: struct leaves get footer-harvested bounds keyed
  * by their own field IDs, and dotted-path predicates prune on them. */
class NestedStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nestedSchema: Schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "profile", StructType(Seq(
      NestedField(3, "age", IntType, required = false),
      NestedField(4, "city", StringType, required = false))),
      required = false)))

  test("struct leaf bounds harvested; dotted predicate prunes files") {
    val dir = Files.createTempDirectory("graft-nested-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "nested"),
      nestedSchema, io = new HadoopFileIO())
    import spark.implicits._
    def batch(ids: Range, ageOf: Int => Int) =
      ids.map(i => (i.toLong, (ageOf(i), s"city_$i")))
        .toDF("id", "profile")
        .select(col("id"), col("profile").cast(
          "struct<age:int,city:string>"))
    t = TableOps.append(t, batch(1 to 10, i => 20 + i).coalesce(1))
    t = TableOps.append(t, batch(11 to 20, i => 60 + i).coalesce(1))

    val files = Scan(t, spark).planFiles().map(_.file)
    assert(files.size == 2)
    // nested leaf 'age' (field id 3) carries real bounds
    val ageBounds = files.map(f =>
      Bounds.deserialize(f.lowerBounds(3), IntType).asInstanceOf[Int])
      .sorted
    assert(ageBounds == Seq(21, 71), s"harvested nested bounds: $ageBounds")
    assert(files.forall(_.lowerBounds.contains(4)), "city bounds too")

    // dotted predicate prunes to the one matching file and evaluates
    val kept = Scan(t, spark).filter(Col("profile.age").gt(50)).planFiles()
    assert(kept.size == 1, s"nested bounds must prune: $kept")
    assert(Scan(t, spark).filter(Col("profile.age").gt(50)).toDF
      .count() == 10)
    assert(Scan(t, spark).filter(Col("profile.city").eqTo("city_3")).toDF
      .count() == 1)
  }
}

/** NaN stats (verdict #8): harvested nan_value_counts + NaN-sound
  * float/double bounds pruning. NaN sorts greater than every value in
  * Spark and DuckDB, and parquet min/max exclude it — so Gt/Gte prunes
  * must keep NaN-bearing files. */
class NaNStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val scoreSchema: Schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "score", DoubleType, required = false)))

  private def freshTable(name: String): Table = {
    val dir = Files.createTempDirectory("graft-nan-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name),
      scoreSchema, io = new HadoopFileIO())
  }

  test("nan counts harvested; Gt/Gte keep NaN-bearing files") {
    var t = freshTable("nans")
    import spark.implicits._
    // file A: small scores + a NaN; file B: mid scores, no NaN
    t = TableOps.append(t, Seq((1L, 1.0), (2L, 2.0), (3L, Double.NaN))
      .toDF("id", "score").coalesce(1))
    t = TableOps.append(t, Seq((4L, 5.0), (5L, 6.0))
      .toDF("id", "score").coalesce(1))
    val files = Scan(t, spark).planFiles().map(_.file)
    val nanByFile = files.map(f => f.nanValueCounts.getOrElse(2, -1L)).sorted
    assert(nanByFile == Seq(0L, 1L),
      s"nan_value_counts must be harvested per file: $files")

    // score > 100 matches ONLY file A's NaN row — A must survive the
    // prune, B must go
    val kept = Scan(t, spark).filter(Col("score").gt(100.0)).planFiles()
    assert(kept.size == 1 && kept.head.file.nanValueCounts(2) == 1L,
      s"NaN-bearing file must not be pruned by Gt: $kept")
    assert(Scan(t, spark).filter(Col("score").gt(100.0)).toDF
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(3L),
      "the NaN row satisfies score > 100 in Spark semantics")

    // a NaN-bearing file matches EVERY Gt — and the row count proves it
    val gtMid = Scan(t, spark).filter(Col("score").gt(5.5)).toDF
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gtMid == Set(3L, 5L),
      s"NaN (id 3) and 6.0 (id 5) both satisfy > 5.5: $gtMid")

    // Lt is NaN-insensitive: bounds prune still cuts file B
    val keptLt = Scan(t, spark).filter(Col("score").lt(1.5)).planFiles()
    assert(keptLt.size == 1,
      s"Lt prune keeps only the low file: $keptLt")
  }

  test("graft.write.nan-stats=false skips the pass; pruning stays sound") {
    val dir = Files.createTempDirectory("graft-nanoff-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "nanoff"),
      scoreSchema, io = new HadoopFileIO())
    t = t.newTransaction()
      .setProperties(Map("graft.write.nan-stats" -> "false")).commit()
    import spark.implicits._
    t = TableOps.append(t, Seq((1L, 1.0), (2L, Double.NaN))
      .toDF("id", "score").coalesce(1))
    t = TableOps.append(t, Seq((3L, 5.0)).toDF("id", "score").coalesce(1))
    val files = Scan(t, spark).planFiles().map(_.file)
    assert(files.forall(_.nanValueCounts.isEmpty), "pass skipped")
    // without counts, Gt cannot prune float/double files — sound
    assert(Scan(t, spark).filter(Col("score").gt(100.0))
      .planFiles().size == 2)
    assert(Scan(t, spark).filter(Col("score").gt(100.0)).toDF
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("NaN literal predicates: Eq/Gte keep only NaN-bearing files") {
    var t = freshTable("nanlit")
    import spark.implicits._
    t = TableOps.append(t, Seq((1L, 1.0), (2L, Double.NaN))
      .toDF("id", "score").coalesce(1))
    t = TableOps.append(t, Seq((3L, 5.0)).toDF("id", "score").coalesce(1))
    assert(Scan(t, spark).filter(Col("score").eqTo(Double.NaN))
      .planFiles().size == 1)
    assert(Scan(t, spark).filter(Col("score").gt(Double.NaN))
      .planFiles().isEmpty, "nothing sorts above NaN")
  }

  test("equality-delete group fan-out is capped: plan size stays " +
      "bounded at 30 per-partition delete sets, results exact") {
    import spark.implicits._
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "day", LongType, required = true),
      NestedField(3, "name", StringType, required = false)))
    val spec = PartitionSpec.builder(0).identity(2, "day").build()
    val dir = Files.createTempDirectory("graft-eqcap-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "eqcap"),
      schema, spec, io = new HadoopFileIO())

    val nDays = 30
    def rows(ids: Seq[(Long, Long)]) =
      ids.map { case (id, day) => (id, day, s"n$id") }
        .toDF("id", "day", "name")
    // 5 rows per day across 30 days
    t = TableOps.append(t, rows(for {
      d <- 0L until nDays; i <- 0L until 5L } yield (d * 100 + i, d)))
    // per-partition SCOPED equality deletes: key includes the partition
    // source, so each day gets its own delete file / scope
    t = Mutations.deleteByKeys(t, spark, rows(
      (0L until nDays).map(d => (d * 100, d))).select("id", "day"))
    // re-insert two deleted keys AFTER the delete: higher sequence
    // number, so the `deleteSeq > dataSeq` rule must keep them
    t = TableOps.append(t, rows(Seq((0L, 0L), (500L, 5L))))

    val tasks = Scan(t, spark).planFiles()
    val distinctSets = tasks.map(_.deleteFiles
      .filter(_.file.content == FileContent.EqualityDeletes)
      .map(_.file.filePath).toSet).filter(_.nonEmpty).distinct.size
    assert(distinctSets > 8,
      s"precondition: $distinctSets scoped delete sets")

    // every task, whatever its delete set, reads in ONE graft scan
    val df = Scan(t, spark).toDF
    val scans = df.queryExecution.executedPlan.collectLeaves()
    assert(scans.size == 1 && scans.forall {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description().startsWith("graft:")
      case _ => false
    }, s"one graft BatchScanExec expected, got $scans")

    val got = df.select("id").collect().map(_.getLong(0)).toSet
    val expected = (for {
      d <- 0L until nDays; i <- 0L until 5L } yield (d * 100 + i))
      .toSet -- (0L until nDays).map(_ * 100).toSet ++ Set(0L, 500L)
    assert(got == expected,
      "deletes applied, re-inserted keys survive the sequence rule")
  }
}

class DistributedPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String): Table = {
    val dir = Files.createTempDirectory("graft-dp-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name),
      Fixtures4.usersSchema, io = new HadoopFileIO())
  }

  private def usersDf(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"user_$i",
        if (i % 2 == 1) null else s"u$i@x.com",
        new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "name", "email", "created_at")
  }

  test("distributed manifest planning agrees with the driver path") {
    var t = freshTable("distplan")
    // 5 appends → 5 data manifests; plus a MoR delete for attachment
    for (k <- 0 until 5)
      t = TableOps.append(t, usersDf(k * 10 + 1 to k * 10 + 10).coalesce(1))
    t = Mutations.deleteMoR(t, spark, Col("id").eqTo(7L))

    def canon(tasks: Seq[FileScanTask]) = tasks
      .map(ts => (ts.file.filePath, ts.sequenceNumber, ts.specId,
        ts.schemaId, ts.deleteFiles.map(_.file.filePath).sorted))
      .sortBy(_._1)

    val driver = Scan(t, spark)
      .option("distributed-plan-threshold", "1000").planFiles()
    val dist = Scan(t, spark)
      .option("distributed-plan-threshold", "1").planFiles()
    assert(canon(dist) == canon(driver),
      "executor-parallel planning must yield identical tasks")

    // pruning happens inside the executor tasks too
    val distPruned = Scan(t, spark)
      .option("distributed-plan-threshold", "1")
      .filter(Col("id").between(21L, 29L)).planFiles()
    assert(distPruned.size == 1,
      s"bounds pruning must survive fan-out, got ${distPruned.size} files")
    // and the scan still reads correctly through the distributed plan
    val got = Scan(t, spark).option("distributed-plan-threshold", "1")
      .toDF.select("id").collect().map(_.getLong(0)).toSet
    assert(got == (1 to 50).map(_.toLong).toSet - 7L)
  }

  test("executor-side planning sees the session's spark.hadoop.* configuration") {
    var t = freshTable("distconf")
    for (k <- 0 until 3)
      t = TableOps.append(t, usersDf(k * 10 + 1 to k * 10 + 10).coalesce(1))

    def canon(tasks: Seq[FileScanTask]) = tasks
      .map(ts => (ts.file.filePath, ts.sequenceNumber, ts.specId,
        ts.schemaId)).sortBy(_._1)
    val expected = canon(Scan(t, spark)
      .option("distributed-plan-threshold", "1000").planFiles())

    // Rewrite the manifest list so every manifest path uses a scheme that
    // resolves ONLY through keys set on sparkContext.hadoopConfiguration
    // (what spark.hadoop.* settings land on). A `new Configuration()`
    // built inside the executor closure has no fs.graftmkr.impl and no
    // marker key, so planning would fail — this test passing proves the
    // driver conf is actually shipped to the executor-side reads.
    val io = new HadoopFileIO()
    val mlPath = t.metadata.currentSnapshot.get.manifestList
    val entries = graft.avro.ManifestAvro.readManifestList(
      io.readAllBytes(mlPath))
    val rewritten = entries.map(e => e.copy(
      manifestPath = "graftmkr://" + e.manifestPath.stripPrefix("file:")))
    io.writeAllBytes(mlPath,
      graft.avro.ManifestAvro.writeManifestList(rewritten), overwrite = true)

    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftmkr.impl", classOf[MarkerFileSystem].getName)
    // Keep marker-fs instances out of the JVM-wide FileSystem cache: a
    // cached instance would let a conf-less executor closure piggyback on
    // one created with the good conf, masking the regression under test.
    hc.set("fs.graftmkr.impl.disable.cache", "true")
    hc.set("graft.test.marker", "r8")
    try {
      val dist = Scan(t, spark)
        .option("distributed-plan-threshold", "1").planFiles()
      assert(canon(dist) == expected,
        "distributed planning through the marker scheme must match the " +
          "driver plan taken before the rewrite")
    } finally {
      hc.unset("fs.graftmkr.impl")
      hc.unset("fs.graftmkr.impl.disable.cache")
      hc.unset("graft.test.marker")
    }
  }
}

/** Resolvable only when the session's Hadoop configuration reaches the
  * file-system lookup; asserts the marker key rode along. */
class MarkerFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftmkr"
  override def getUri: java.net.URI = java.net.URI.create("graftmkr:///")
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    if (conf.get("graft.test.marker") != "r8")
      throw new java.io.IOException(
        "session Hadoop conf (graft.test.marker) missing at FS init")
    super.initialize(uri, conf)
  }
}

object Fixtures4 {
  val usersSchema: Schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "name", StringType, required = true),
    NestedField(3, "email", StringType, required = false),
    NestedField(4, "created_at", TimestampType, required = true)))
}
