package graft.table

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._

/** Differential net over the MoR fixtures: the read path that turns
  * `FileScanTask`s into rows must produce exactly the rows a plain
  * Spark computation of the same table state produces — position
  * deletes, sequence-scoped and partition-scoped equality deletes,
  * renamed and promoted columns (including an equality key renamed
  * after its delete was written), `list<struct>` element evolution,
  * time travel under an older schema, a changelog before/after pair in
  * one plan, and a metadata-answerable count of an old snapshot. */
class ReadPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The one path that reads tasks into rows: the staged DSv2 relation
    * behind `Scan.readTasks`. */
  private def read(t: Table, schema: Schema,
      tasks: Seq[FileScanTask]): DataFrame =
    Scan(t, spark).readTasks(schema, tasks)

  private def freshTable(name: String, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned): Table = {
    val dir = Files.createTempDirectory("graft-readpath-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name), schema, spec,
      io = new HadoopFileIO())
  }

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  /** Read `tasks`; the rows must equal `expected`. */
  private def assertRead(what: String, t: Table, schema: Schema,
      tasks: Seq[FileScanTask], expected: DataFrame): Unit = {
    val want = rowsOf(expected)
    assert(want.nonEmpty, s"$what: fixture must expect rows")
    val got = rowsOf(read(t, schema, tasks))
    assert(got == want, s"$what:\n got ${got.mkString(
      "\n     ")}\nwant ${want.mkString("\n     ")}")
  }

  private def usersDf(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"user_$i",
      if (i % 2 == 1) null else s"u$i@x.com",
      new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "name", "email", "created_at")
      .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
  }

  test("position deletes") {
    var t = freshTable("pos", Fixtures4.usersSchema)
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    t = t.newDelete(spark).where(Col("id").lte(3L).or(Col("id").eqTo(15L)))
      .withMergeOnRead(true).execute()
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.exists(_.deleteFiles.exists(
      _.file.content == FileContent.PositionDeletes)))
    assertRead("position deletes", t, t.schema, tasks,
      usersDf((4 to 20).filterNot(_ == 15)))
  }

  test("sequence-scoped equality deletes across > 8 partition-scoped " +
      "delete sets, keys re-inserted after the delete survive") {
    import spark.implicits._
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "day", LongType, required = true),
      NestedField(3, "name", StringType, required = false)))
    var t = freshTable("eqscoped", schema,
      PartitionSpec.builder(0).identity(2, "day").build())
    val nDays = 30L
    def rows(ids: Seq[(Long, Long)]) =
      ids.map { case (id, day) => (id, day, s"n$id") }
        .toDF("id", "day", "name")
    val all = for { d <- 0L until nDays; i <- 0L until 5L }
      yield (d * 100 + i, d)
    t = TableOps.append(t, rows(all))
    val deleted = (0L until nDays).map(d => (d * 100, d))
    t = Mutations.deleteByKeys(t, spark, rows(deleted).select("id", "day"))
    val reinserted = Seq((0L, 0L), (500L, 5L))
    t = TableOps.append(t, rows(reinserted))

    val tasks = Scan(t, spark).planFiles()
    val distinctSets = tasks.map(_.deleteFiles
      .filter(_.file.content == FileContent.EqualityDeletes)
      .map(_.file.filePath).toSet).filter(_.nonEmpty).distinct.size
    assert(distinctSets > 8, s"precondition: $distinctSets delete sets")
    assertRead("partition-scoped eq deletes", t, t.schema, tasks,
      rows(all.filterNot(deleted.contains) ++ reinserted))
  }

  /** id, k (int, the equality key), name, score (float); an equality
    * delete on k=3, then k renamed to `key` and promoted to long, name
    * renamed, score promoted to double, a position delete, and new rows
    * under the evolved schema — one re-inserting key 3. */
  private def evolvedTable(): (Table, Long) = {
    import spark.implicits._
    val pre = (1 to 20).map(i => (i.toLong, i % 10, s"n$i", i * 0.5f))
      .toDF("id", "k", "name", "score")
    var t = freshTable("evolved", SchemaConverters.fromSparkSchema(pre.schema))
    t = TableOps.append(t, pre.coalesce(2))
    t = Mutations.deleteByKeys(t, spark, Seq(3).toDF("k"))
    val beforeEvolution = t.currentSnapshot.get.snapshotId
    t = t.updateSchema().renameColumn("k", "key")
      .renameColumn("name", "label").commit()
    t = t.updateSchema().updateColumnType("key", LongType)
      .updateColumnType("score", DoubleType).commit()
    t = Mutations.deleteMoR(t, spark, Col("id").eqTo(5L))
    t = TableOps.append(t,
      (21 to 25).map(i => (i.toLong, (i % 10).toLong, s"n$i", i * 0.5))
        .toDF("id", "key", "label", "score"))
    (t, beforeEvolution)
  }

  test("renamed and promoted columns, equality key renamed after its " +
      "delete was written") {
    import spark.implicits._
    val (t, _) = evolvedTable()
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.exists(_.deleteFiles.exists(
      _.file.content == FileContent.EqualityDeletes)))
    assert(tasks.map(_.schemaId).distinct.size == 2,
      "precondition: files under the original and the evolved schema")
    val want = (1 to 25).filterNot(Set(3, 5, 13))
      .map(i => (i.toLong, (i % 10).toLong, s"n$i", i * 0.5))
      .toDF("id", "key", "label", "score")
    assertRead("evolved", t, t.schema, tasks, want)
  }

  test("time travel reads an older snapshot under its own schema") {
    import spark.implicits._
    val (t, old) = evolvedTable()
    val scan = Scan(t, spark).useSnapshot(old)
    val oldSchema = t.metadata.schemaForSnapshot(old)
    assert(oldSchema.fieldByName("k").isDefined, "precondition")
    val want = (1 to 20).filterNot(Set(3, 13))
      .map(i => (i.toLong, i % 10, s"n$i", i * 0.5f))
      .toDF("id", "k", "name", "score")
    assertRead("time travel", t, oldSchema, scan.planFiles(), want)
    assert(rowsOf(scan.toDF) == rowsOf(want))
  }

  test("list<struct> element evolution") {
    import spark.implicits._
    val pre = (1 to 6).map(i => (i.toLong, Seq((i, i * 1.5, i), (i + 1,
        i * 2.5, i + 10)))).toDF("id", "tags")
      .select(col("id"), transform(col("tags"), e => struct(
        e.getField("_1").as("a"), e.getField("_2").as("b"),
        e.getField("_3").as("n"))).as("tags"))
    var t = freshTable("listevo", SchemaConverters.fromSparkSchema(pre.schema))
    t = TableOps.append(t, pre)
    t = t.updateSchema()
      .renameColumnAt(Seq("tags", "element", "a"), "qty")
      .addNestedColumn(Seq("tags", "element", "c"), DoubleType)
      .updateColumnTypeAt(Seq("tags", "element", "n"), LongType)
      .commit()
    def evolved(ids: Seq[Int], withC: Boolean) =
      ids.map(i => (i.toLong, Seq((i, i * 1.5, i.toLong,
          if (withC) Some(i * 3.0) else None),
        (i + 1, i * 2.5, (i + 10).toLong,
          if (withC) Some(i * 4.0) else None))))
        .toDF("id", "tags")
        .select(col("id"), transform(col("tags"), e => struct(
          e.getField("_1").as("qty"), e.getField("_2").as("b"),
          e.getField("_3").as("n"), e.getField("_4").as("c"))).as("tags"))
    t = TableOps.append(t, evolved(7 to 9, withC = true))
    val tasks = Scan(t, spark).planFiles()
    assert(tasks.map(_.schemaId).distinct.size == 2, "precondition")
    assertRead("list<struct> evolution", t, t.schema, tasks,
      evolved(1 to 6, withC = false).unionByName(evolved(7 to 9, true)))
  }

  test("changelog MoR before/after pair reads in one plan") {
    var t = freshTable("cdc", Fixtures4.usersSchema)
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    val s0 = t.currentSnapshot.get.snapshotId
    t = Mutations.deleteMoR(t, spark, Col("id").eqTo(3L))
    val s1 = t.currentSnapshot.get.snapshotId
    val before = Scan(t, spark).useSnapshot(s0).planFiles()
    val after = Scan(t, spark).useSnapshot(s1).planFiles()
    assert(before.map(_.file.filePath) == after.map(_.file.filePath) &&
      after.exists(_.deleteFiles.nonEmpty),
      "precondition: same data file, different delete sets")
    val killed = read(t, t.schema, before)
      .exceptAll(read(t, t.schema, after))
    assert(rowsOf(killed) == rowsOf(usersDf(Seq(3))), "before minus after")
    val changes = Changelog.between(t, spark, s0, s1)
    assert(changes.select("id", Changelog.ChangeType).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((3L, Changelog.Delete)))
  }

  test("an old snapshot's count after a newer commit") {
    var t = freshTable("oldcount", Fixtures4.usersSchema)
    t = TableOps.append(t, usersDf(1 to 10))
    val s0 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(11 to 15))
    val tasks = Scan(t, spark).useSnapshot(s0).planFiles()
    assert(read(t, t.schema, tasks).count() == 10)
    assert(Scan(t, spark).useSnapshot(s0).toDF.count() == 10)
    assert(Scan(t, spark).useSnapshot(s0).toDF.where(col("id") > 5)
      .count() == 5)
  }
}
