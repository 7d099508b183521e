package graft.plans

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.sources.GraftSQL
import graft.spec._
import graft.table._

/** FileIO that counts driver-side metadata reads (manifest lists are
  * `snap-*.avro`, manifests `*manifest-*.avro`). */
class CountingFileIO extends HadoopFileIO {
  import scala.jdk.CollectionConverters._
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  override def open(path: String): java.io.InputStream = {
    counts.merge(path, 1, (a, b) => a + b)
    super.open(path)
  }
  def reset(): Unit = counts.clear()
  def totalReads: Int = counts.values.asScala.map(_.intValue).sum
  def listReads: Int = counts.asScala.collect {
    case (p, n) if p.contains("/snap-") => n.intValue
  }.sum
}

/** spark.sql / spark.table over engine tables: the temp view over the
  * table's DSv2 relation must deliver filter-aware manifest/file
  * pruning, MoR semantics and per-query freshness. */
class SqlFacadeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String): Table = {
    val dir = Files.createTempDirectory("graft-sql-").toString
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

  /** Data files the graft scans of `df`'s plan read (one input
    * partition per file). */
  private def scannedFiles(df: DataFrame): Seq[String] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.collect {
        case s: BatchScanExec => s.inputPartitions.collect {
          case p: graft.sources.GraftInputPartition => p.path
          case k: graft.sources.GraftKeyedInputPartition => k.p.path
        }
      }.flatten

  test("spark.sql filter prunes files via the engine's stats") {
    var t = freshTable("sqlprune")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    GraftSQL.registerTable(spark, t, "users_sql")

    val q = spark.sql("SELECT id, name FROM users_sql WHERE id <= 3")
    val rows = q.collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L, 3L))
    val files = scannedFiles(q)
    assert(files.size == 1,
      s"bounds pruning must reach the SQL path (1 of 2 files): $files")

    // unfiltered query reads both files
    val all = spark.table("users_sql")
    assert(all.count() == 20)
    assert(scannedFiles(all).size == 2)
  }

  test("SQL aggregation + IN-list + null semantics match the engine") {
    var t = freshTable("sqlagg")
    t = TableOps.append(t, usersDf(1 to 20))
    GraftSQL.registerTable(spark, t, "users_agg")
    val n = spark.sql(
      """SELECT COUNT(*) AS n FROM users_agg
        |WHERE id IN (1, 2, 3, 999) AND email IS NULL""".stripMargin)
      .collect().head.getLong(0)
    assert(n == 2, "ids 1 and 3 have null emails")
  }

  test("MoR deletes apply through spark.sql") {
    var t = freshTable("sqlmor")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = t.newDelete(spark).where(Col("id").lte(3L))
      .withMergeOnRead(true).execute()
    GraftSQL.registerTable(spark, t, "users_mor")
    val got = spark.sql("SELECT id FROM users_mor ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (4 to 10).map(_.toLong),
      s"MoR deletes must apply in the SQL path: $got")
  }

  test("SQL filter on a partitioned table prunes to one partition") {
    val dir = Files.createTempDirectory("graft-sqlpart-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    var t = Table.create(cat, TableIdentifier(Seq("db"), "sqlpart"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 30).map { i =>
      val day = 19800 + (i % 3)
      (i.toLong, s"u$i", s"e$i", new java.sql.Timestamp(86400000L * day + i))
    }.toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df)
    GraftSQL.registerTable(spark, t, "users_part")
    val q = spark.sql(
      """SELECT id FROM users_part
        |WHERE created_at >= TIMESTAMP '2024-03-19 00:00:00'
        |  AND created_at < TIMESTAMP '2024-03-20 00:00:00'""".stripMargin)
    assert(q.count() == 10)
    val files = scannedFiles(q)
    assert(files.size == 1,
      s"partition-tuple pruning must reach the SQL path: $files")
  }

  test("a small registered table broadcasts in a join") {
    var small = freshTable("sqlsmall")
    small = TableOps.append(small, usersDf(1 to 5))
    GraftSQL.registerTable(spark, small, "users_small")
    // the other side is far over the broadcast threshold
    spark.range(0, 200000).selectExpr("id", "id % 7 AS v")
      .createOrReplaceTempView("big_ids")
    val q = spark.sql(
      """SELECT COUNT(*) AS n FROM big_ids b JOIN users_small s
        |ON b.id = s.id""".stripMargin)
    assert(q.collect().head.getLong(0) == 5)
    // the plan as planned from statistics, before any adaptive rewrite
    val plan = q.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty,
      s"the scan's statistics must let the small side broadcast:\n$plan")
  }

  test("planning a SQL query reads the manifest list at most once") {
    val dir = Files.createTempDirectory("graft-sqlio-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new CountingFileIO
    var t = Table.create(cat, TableIdentifier(Seq("db"), "sqlio"),
      Fixtures4.usersSchema, io = io)
    t = TableOps.append(t, usersDf(1 to 10))
    GraftSQL.registerTable(spark, t, "users_io")
    io.reset()
    val n = spark.sql("SELECT COUNT(*) AS n FROM users_io WHERE id <= 5")
      .collect().head.getLong(0)
    assert(n == 5)
    assert(io.listReads <= 1,
      s"one planFiles = one manifest-list read, saw ${io.listReads}")
  }

  test("commits after registerTable are visible to the next query") {
    var t = freshTable("sqlfresh")
    t = TableOps.append(t, usersDf(1 to 5))
    GraftSQL.registerTable(spark, t, "users_fresh")
    assert(spark.sql("SELECT COUNT(*) AS n FROM users_fresh")
      .collect().head.getLong(0) == 5)
    // commit through the same catalog, WITHOUT re-registering: the
    // pinned-snapshot trap (ADVICE r3) — per-query refresh must see it
    TableOps.append(t, usersDf(6 to 10))
    assert(spark.sql("SELECT COUNT(*) AS n FROM users_fresh")
      .collect().head.getLong(0) == 10,
      "registration must not pin the snapshot forever")
  }

  test("a view reads through renames after registerTable, equality " +
      "deletes and pushed filters included") {
    import spark.implicits._
    var t = freshTable("sqlrename")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    GraftSQL.registerTable(spark, t, "users_rename")
    t = Mutations.deleteByKeys(t, spark, Seq("user_3").toDF("name"))
    // the equality key is renamed after its delete, and its old name is
    // then taken by another column: the view's `name` is still field 2
    t = t.updateSchema().renameColumn("name", "label").commit()
    t = t.updateSchema().renameColumn("email", "name").commit()
    t = TableOps.append(t, usersDf(11 to 15).coalesce(1)
      .toDF("id", "label", "name", "created_at"))
    t = Mutations.deleteByKeys(t, spark, Seq("user_12").toDF("label"))
    val want = (1 to 15).filterNot(Set(3, 12))
      .map(i => (i.toLong, s"user_$i", if (i % 2 == 1) null else s"u$i@x.com"))
    val got = spark.sql("SELECT id, name, email FROM users_rename")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == want)
    // the view's `name` is field 2: pruning by the current `name` column
    // (the old emails), whose bounds exclude these values, drops rows
    val picked = spark.sql(
      "SELECT id FROM users_rename WHERE name IN ('user_2', 'user_13')")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(picked == Seq(2L, 13L))
  }

  test("a view whose columns can no longer be read through its schema " +
      "reads the table as registered") {
    import spark.implicits._
    var dropped = freshTable("sqldrop")
    dropped = TableOps.append(dropped, usersDf(1 to 5))
    GraftSQL.registerTable(spark, dropped, "users_dropped")
    dropped = dropped.updateSchema().dropColumn("email").commit()
    TableOps.append(dropped, usersDf(6 to 8).drop("email"))
    val emails = spark.sql("SELECT id, email FROM users_dropped")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(emails == (1 to 5).map(i => i.toLong ->
      (if (i % 2 == 1) null else s"u$i@x.com")).toMap,
      "a dropped column must not null-fill under the registered view")

    // an equality delete keyed on a column the view does not carry
    var keyed = freshTable("sqlnewkey")
    keyed = TableOps.append(keyed, usersDf(1 to 5))
    GraftSQL.registerTable(spark, keyed, "users_newkey")
    keyed = keyed.updateSchema().addColumn("k", IntType).commit()
    keyed = TableOps.append(keyed, usersDf(6 to 8)
      .withColumn("k", ($"id" % 2).cast("int")))
    Mutations.deleteByKeys(keyed, spark, Seq(1).toDF("k"))
    val ids = spark.sql("SELECT id FROM users_newkey")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1 to 5).map(_.toLong),
      "the delete's key is not in the view: read the table as registered")
  }

  test("SQL join against a registered table works (self + other)") {
    var t = freshTable("sqljoin")
    t = TableOps.append(t, usersDf(1 to 8))
    GraftSQL.registerTable(spark, t, "users_j")
    // self-join exercises MultiInstanceRelation exprId dedup
    val c = spark.sql(
      """SELECT COUNT(*) AS n FROM users_j a JOIN users_j b ON a.id = b.id""")
      .collect().head.getLong(0)
    assert(c == 8)
  }
}
