package graft.queries

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec.{PartitionSpec, Schema, SchemaConverters}
import graft.table._

/** Specs keyed by column NAME (ids resolved from the schema). */
private object PartitionSpecs {
  def monthOf(schema: Schema, src: String, name: String): PartitionSpec =
    PartitionSpec.builder(0)
      .month(schema.fieldByName(src).get.id, name).build()
  def bucketOf(schema: Schema, src: String, name: String,
      n: Int): PartitionSpec =
    PartitionSpec.builder(0)
      .bucket(schema.fieldByName(src).get.id, name, n).build()
}

/** Queries routed END-TO-END through the Iceberg engine: testdata
  * parquet → create table → append (real manifests, snapshots, stats) →
  * scan (snapshot resolve, pruning, DataFrame assembly). The oracle runs
  * plain SQL over the ORIGINAL parquet, so a hash match proves the whole
  * format layer round-trips data exactly.
  */
object IcebergQueries {

  // one warehouse per JVM; tables built once per (sfDir, variant)
  private lazy val warehouse =
    Files.createTempDirectory("graft-iceberg-wh-").toString
  private val cache = TrieMap[String, Table]()

  private def io = new HadoopFileIO()

  /** lineitem as a single-snapshot Iceberg table. */
  private def lineitemTable(spark: SparkSession, sfDir: String): Table =
    cache.getOrElseUpdate(s"li:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val id = TableIdentifier(ns, "lineitem")
      val t = Table.create(cat, id,
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      TableOps.append(t, df)
    })

  /** lineitem split across two snapshots for time travel:
    * snap1 = linenumber <= 3, snap2 adds the rest. */
  private def lineitemTwoSnaps(spark: SparkSession,
      sfDir: String): (Table, Long) = {
    val t = cache.getOrElseUpdate(s"li2:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf2" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val id = TableIdentifier(ns, "lineitem")
      var tbl = Table.create(cat, id,
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      tbl = TableOps.append(tbl, df.filter(col("l_linenumber") <= 3))
      TableOps.append(tbl, df.filter(col("l_linenumber") > 3))
    })
    (t, t.metadata.snapshots.head.snapshotId)
  }

  // ------------------------------------------------------------ queries

  private val i1Cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
    "l_returnflag")
  private val i1Expr = Col("l_quantity").gt(45.0)

  def i1ScanFilter(s: SparkSession, dir: String): DataFrame =
    Scan(lineitemTable(s, dir), s)
      .filter(i1Expr)
      .select(i1Cols: _*)
      .toDF.orderBy("l_orderkey", "l_linenumber")

  val i1Sql: String =
    s"""SELECT ${i1Cols.mkString(", ")} FROM lineitem
       |WHERE ${i1Expr.toSql} ORDER BY l_orderkey, l_linenumber""".stripMargin

  private val i2Expr = (Col("l_returnflag").eqTo("A") and
    Col("l_quantity").lte(5.0))
    .or(Col("l_linestatus").eqTo("O") and Col("l_quantity").gte(49.0))

  def i2ComplexPredicate(s: SparkSession, dir: String): DataFrame =
    Scan(lineitemTable(s, dir), s)
      .filter(i2Expr)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus")
      .toDF.orderBy("l_orderkey", "l_linenumber")

  val i2Sql: String =
    s"""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
       |FROM lineitem WHERE ${i2Expr.toSql}
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  def i3TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (t, firstSnap) = lineitemTwoSnaps(s, dir)
    Scan(t, s).useSnapshot(firstSnap).toDF
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val i3Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_linenumber <= 3
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def i4MetadataCount(s: SparkSession, dir: String): DataFrame = {
    val n = Scan(lineitemTable(s, dir), s).count()
    import s.implicits._
    Seq(n).toDF("cnt")
  }

  val i4Sql: String = "SELECT COUNT(*) AS cnt FROM lineitem"

  /** Scan the current snapshot after both appends — proves manifest
    * carry-forward reconstructs the FULL table. */
  def i5MultiSnapshot(s: SparkSession, dir: String): DataFrame = {
    val (t, _) = lineitemTwoSnaps(s, dir)
    Scan(t, s).toDF
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_linestatus")
  }

  val i5Sql: String =
    """SELECT l_linestatus, COUNT(*) AS n FROM lineitem
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** orders partitioned by month(o_orderdate), through the partitioned
    * write path (derived transform column, hive-dir harvest). */
  private def ordersMonthly(spark: SparkSession, sfDir: String): Table =
    cache.getOrElseUpdate(s"om:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sfo" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val schema = SchemaConverters.fromSparkSchema(df.schema)
      val spec = PartitionSpecs.monthOf(schema, "o_orderdate", "order_month")
      val t = Table.create(cat, TableIdentifier(ns, "orders"), schema,
        spec, io = io)
      TableOps.append(t, df)
    })

  /** lineitem bucket[8](l_orderkey): hash partitioning through the
    * murmur3 bucket transform. */
  private def lineitemBucketed(spark: SparkSession, sfDir: String): Table =
    cache.getOrElseUpdate(s"lb:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sfb" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val schema = SchemaConverters.fromSparkSchema(df.schema)
      val spec = PartitionSpecs.bucketOf(schema, "l_orderkey", "ok_bucket", 8)
      val t = Table.create(cat, TableIdentifier(ns, "lineitem"), schema,
        spec, io = io)
      TableOps.append(t, df)
    })

  /** orders bucketed the same way as [[lineitemBucketed]] (8 buckets on
    * the order key) — the co-located pair for the storage-partitioned
    * join gate. */
  private def ordersBucketed(spark: SparkSession, sfDir: String): Table =
    cache.getOrElseUpdate(s"ob:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/orders.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sfb" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val schema = SchemaConverters.fromSparkSchema(df.schema)
      val spec = PartitionSpecs.bucketOf(schema, "o_orderkey", "ok_bucket", 8)
      val t = Table.create(cat, TableIdentifier(ns, "orders"), schema,
        spec, io = io)
      TableOps.append(t, df)
    })

  def i6PartitionedMonth(s: SparkSession, dir: String): DataFrame =
    Scan(ordersMonthly(s, dir), s)
      .filter(Col("o_orderdate").gte(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        and Col("o_orderdate").lt(java.sql.Timestamp.valueOf("1997-07-01 00:00:00")))
      .toDF
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("total"))
      .orderBy("o_orderstatus")

  val i6Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  def i7BucketEq(s: SparkSession, dir: String): DataFrame =
    Scan(lineitemBucketed(s, dir), s)
      .filter(Col("l_orderkey").eqTo(042L))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .toDF.orderBy("l_linenumber")

  val i7Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey = 42 ORDER BY l_linenumber""".stripMargin

  /** Schema evolution under the gate: rename + add over committed data,
    * scan through the field-ID remap. */
  def i8SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"evo:$dir", {
      val df = s.read.parquet(s"$dir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sfe" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      var tbl = Table.create(cat, TableIdentifier(ns, "lineitem"),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      tbl = TableOps.append(tbl, df)
      tbl.updateSchema()
        .renameColumn("l_returnflag", "return_flag")
        .addColumn("note", graft.spec.StringType)
        .commit()
    })
    Scan(t, s).toDF
      .groupBy("return_flag")
      .agg(count(lit(1)).as("n"), count(col("note")).as("n_note"))
      .orderBy("return_flag")
  }

  val i8Sql: String =
    """SELECT l_returnflag AS return_flag, COUNT(*) AS n,
      |  CAST(0 AS BIGINT) AS n_note
      |FROM lineitem GROUP BY l_returnflag ORDER BY return_flag""".stripMargin

  /** events through the engine: the ns-timestamp source converts to the
    * engine's µs at ingest (SURVEY §7 risk 5) and rolls up by hour. */
  def i9EventsIngest(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"ev:$dir", {
      val df = CoreQueries.events(s, dir) // ns-as-long -> µs timestamps
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sfv" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val tbl = Table.create(cat, TableIdentifier(ns, "events"),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      TableOps.append(tbl, df)
    })
    Scan(t, s).toDF
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "hour")
  }

  val i9Sql: String =
    """SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Compaction is content-preserving: compact the multi-snapshot
    * lineitem table into target-size files, then scan — the oracle is
    * the ORIGINAL table (identity up to row order). */
  def i10Compaction(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"cmp:$dir", {
      val (two, _) = lineitemTwoSnaps(s, dir)
      Maintenance.compactDataFiles(two, s, targetFileSizeBytes = 8L * 1024 * 1024)
    })
    Scan(t, s).toDF
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val i10Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Scan by named ref (M5 read side): tag the first of the two
    * lineitem snapshots, then read THROUGH the tag — the oracle sees
    * only snap1's rows (l_linenumber <= 3). */
  def i11RefRead(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"ref:$dir", {
      val (two, firstSnap) = lineitemTwoSnaps(s, dir)
      two.newTransaction().setRef("v1-audit", firstSnap, "tag").commit()
    })
    Scan(t, s).useRef("v1-audit").toDF
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_linestatus")
  }

  val i11Sql: String =
    """SELECT l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_linenumber <= 3
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Incremental append scan between the two lineitem snapshots: only
    * snap2's rows (l_linenumber > 3) are consumed. */
  def i12Incremental(s: SparkSession, dir: String): DataFrame = {
    val (t, firstSnap) = lineitemTwoSnaps(s, dir)
    Scan(t, s).appendsBetween(firstSnap, t.currentSnapshot.get.snapshotId)
      .toDF
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val i12Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_linenumber > 3
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Partition-spec evolution end-to-end (round-3 verdict #9): write
    * under month(l_shipdate), evolve the default spec to
    * day(l_shipdate), write more under the day spec, then MoR-delete
    * rows living under BOTH specs. The (specId, partition)-indexed
    * delete attachment and the old-spec global-fallback delete path
    * both execute inside one scan, gated by the DuckDB oracle. */
  private def lineitemSpecEvolved(spark: SparkSession,
      sfDir: String): Table =
    cache.getOrElseUpdate(s"li13:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf13" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val schema = SchemaConverters.fromSparkSchema(df.schema)
      val sd = schema.fieldByName("l_shipdate").get.id
      var tbl = Table.create(cat, TableIdentifier(ns, "lineitem"),
        schema, PartitionSpec.builder(0).month(sd, "ship_month").build(),
        io = io)
      tbl = TableOps.append(tbl, df.filter(col("l_linenumber") <= 3))
      tbl = tbl.newTransaction().addPartitionSpec(
        PartitionSpec.builder(1).day(sd, "ship_day").build()).commit()
      tbl = TableOps.append(tbl, df.filter(col("l_linenumber") > 3))
      // rows with l_quantity > 45 exist under both specs' files
      Mutations.deleteMoR(tbl, spark, Col("l_quantity").gt(45.0))
    })

  def i13SpecEvolution(s: SparkSession, dir: String): DataFrame =
    Scan(lineitemSpecEvolved(s, dir), s).toDF
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")

  val i13Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE NOT COALESCE(l_quantity > 45, FALSE)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** DSv2 readStream drain (round-3 verdict #1's gate): the two-snapshot
    * lineitem table tailed through `spark.readStream.format("graft")`
    * into a memory sink — first micro-batch is snap1's full content,
    * the second micro-batch drains snap2 — then aggregated. The oracle
    * covers ALL rows, so a hash match proves the source delivered every
    * snapshot exactly once. */
  def i14ReadStreamDrain(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/lineitem.parquet")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf14" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = Table.create(cat, TableIdentifier(ns, "lineitem"),
      SchemaConverters.fromSparkSchema(df.schema), io = io)
    t = TableOps.append(t, df.filter(col("l_linenumber") <= 3))
    val qn = "graft_i14_" + math.abs(dir.hashCode).toString
    val q = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "lineitem")
      .load()
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // micro-batch 1: snap1's full content
      TableOps.append(t, df.filter(col("l_linenumber") > 3))
      q.processAllAvailable() // micro-batch 2: appendsBetween(snap1, snap2)
    } finally q.stop()
    s.table(qn)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val i14Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Stream-from-scratch over a MoR-mutated table (round-5 verdict
    * #2's gate): position AND equality delete files land BEFORE the
    * stream starts, so the FIRST micro-batch must apply them through
    * the delete-aware reader factory — the case the source previously
    * rejected with "compact first". Hash-gated: the oracle covers the
    * exact post-delete content, so a match proves no deleted row was
    * resurrected and no live row was dropped. */
  def i16StreamMor(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/lineitem.parquet")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf16" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = Table.create(cat, TableIdentifier(ns, "lineitem"),
      SchemaConverters.fromSparkSchema(df.schema), io = io)
    t = TableOps.append(t, df)
    // position deletes (predicate) + equality deletes (key frame)
    t = Mutations.deleteMoR(t, s, Col("l_quantity").gt(45.0))
    t = Mutations.deleteByKeys(t, s,
      df.select("l_orderkey").where(col("l_orderkey") % 10 === 7)
        .distinct())
    val qn = "graft_i16_" + java.util.UUID.randomUUID.toString.take(8)
    val q = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "lineitem")
      .load()
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val i16Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE NOT COALESCE(l_quantity > 45, FALSE)
      |  AND NOT l_orderkey % 10 = 7
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `partitions` metadata table (round-5 verdict #5) gated against a
    * DuckDB GROUP BY over the raw parquet: per-partition record counts
    * from manifest ENTRIES must equal per-month row counts from the
    * DATA — a manifest-accounting bug (double-counted entry, missed
    * live file) breaks the hash. Month transform = months since epoch
    * (`spec/transforms.go` semantics). */
  def i17PartitionsMeta(s: SparkSession, dir: String): DataFrame = {
    ordersMonthly(s, dir) // materialize the month-partitioned table
    val ns = "sfo" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    val cname = "gq17"
    s.conf.set(s"spark.sql.catalog.$cname",
      "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$cname.warehouse", warehouse)
    s.sql(
      s"""SELECT CAST(partition['order_month'] AS BIGINT) AS order_month,
         |  record_count
         |FROM $cname.$ns.orders.partitions
         |ORDER BY order_month""".stripMargin)
  }

  val i17Sql: String =
    """SELECT CAST((year(o_orderdate) - 1970) * 12
      |    + month(o_orderdate) - 1 AS BIGINT) AS order_month,
      |  COUNT(*) AS record_count
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Changelog / CDC reads (Iceberg's incremental changelog scan —
    * the mutation-aware completion of i12's append-only incremental):
    * append, append, MoR equality-delete, append; the changelog over
    * the whole range must emit exactly the inserted rows of the two
    * later appends plus DELETE rows for every then-visible row the
    * equality delete killed — all derived from manifest diffs, never
    * a full-table diff. */
  private def lineitemChangelogTable(spark: SparkSession,
      sfDir: String): Table =
    cache.getOrElseUpdate(s"li18:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf18" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      var t = Table.create(cat, TableIdentifier(ns, "lineitem"),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      t = TableOps.append(t, df.filter(col("l_linenumber") <= 2))
      t = TableOps.append(t,
        df.filter(col("l_linenumber").isin(3, 4)))
      t = Mutations.deleteByKeys(t, spark,
        df.filter(col("l_orderkey") % 13 === 0)
          .select("l_orderkey").distinct())
      TableOps.append(t, df.filter(col("l_linenumber") >= 5))
    })

  def i18Changelog(s: SparkSession, dir: String): DataFrame = {
    val t = lineitemChangelogTable(s, dir)
    var root = t.currentSnapshot.get
    while (root.parentSnapshotId.isDefined)
      root = t.snapshotById(root.parentSnapshotId.get).get
    Changelog.between(t, s, root.snapshotId,
      t.currentSnapshot.get.snapshotId)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col(Changelog.ChangeType), col(Changelog.ChangeOrdinal))
  }

  val i18Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |  'INSERT' AS _change_type, 0 AS _change_ordinal
      |FROM lineitem WHERE l_linenumber IN (3, 4)
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_quantity,
      |  'DELETE', 1
      |FROM lineitem WHERE l_linenumber <= 4 AND l_orderkey % 13 = 0
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_quantity,
      |  'INSERT', 2
      |FROM lineitem WHERE l_linenumber >= 5""".stripMargin

  /** CoW-update changelog table for i27: one append (root), then a
    * copy-on-write UPDATE that rewrites every file containing
    * `l_orderkey < 500` — so the single changelog ordinal carries
    * carry-over DELETE+INSERT pairs for untouched rows of rewritten
    * files AND genuine before/after pairs for updated rows. */
  private def updateChangelogTable(spark: SparkSession,
      sfDir: String): Table =
    cache.getOrElseUpdate(s"li27:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_linenumber") <= 2)
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf27" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      var t = Table.create(cat, TableIdentifier(ns, "li_upd"),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      t = TableOps.append(t, df)
      Mutations.update(t, spark, Col("l_orderkey").lt(500L),
        Map("l_quantity" -> 999.5))
    })

  /** `withUpdates` hash gate (i18 gates raw INSERT/DELETE emission;
    * this gates the UPDATE pairing — Iceberg's `compute_updates`):
    * [[Changelog.removeCarryovers]] first cancels the rewritten-file
    * carry-over noise exactly (making the result independent of file
    * layout), then [[Changelog.withUpdates]] pairs the surviving
    * same-commit DELETE+INSERT rows on (l_orderkey, l_linenumber)
    * into UPDATE_BEFORE / UPDATE_AFTER. The oracle needs no window
    * pairing at all: after carry-over removal, the pairs are exactly
    * the predicate-hit rows, old value vs the assigned constant. */
  def i27ChangelogUpdates(s: SparkSession, dir: String): DataFrame = {
    val t = updateChangelogTable(s, dir)
    var root = t.currentSnapshot.get
    while (root.parentSnapshotId.isDefined)
      root = t.snapshotById(root.parentSnapshotId.get).get
    val raw = Changelog.between(t, s, root.snapshotId,
      t.currentSnapshot.get.snapshotId)
    Changelog.withUpdates(Changelog.removeCarryovers(raw),
        Seq("l_orderkey", "l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col(Changelog.ChangeType), col(Changelog.ChangeOrdinal))
  }

  val i27Sql: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |  WHERE l_linenumber <= 2 AND l_orderkey < 500
      |)
      |SELECT l_orderkey, l_linenumber, l_quantity,
      |  'UPDATE_BEFORE' AS _change_type, 0 AS _change_ordinal
      |FROM base
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, CAST(999.5 AS DOUBLE),
      |  'UPDATE_AFTER', 0
      |FROM base""".stripMargin

  /** `netChanges` hash gate over the i18 table's three-commit range:
    * a row inserted at ordinal 0 and equality-deleted at ordinal 1
    * nets to NOTHING; root-resident rows the delete killed net to one
    * DELETE stamped ordinal 1; the later append survives as INSERTs
    * stamped ordinal 2 — the range-netting arithmetic the replay
    * units assert, now hash-compared. */
  def i28ChangelogNet(s: SparkSession, dir: String): DataFrame = {
    val t = lineitemChangelogTable(s, dir)
    var root = t.currentSnapshot.get
    while (root.parentSnapshotId.isDefined)
      root = t.snapshotById(root.parentSnapshotId.get).get
    Changelog.netChanges(Changelog.between(t, s, root.snapshotId,
        t.currentSnapshot.get.snapshotId))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col(Changelog.ChangeType), col(Changelog.ChangeOrdinal))
  }

  val i28Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |  'INSERT' AS _change_type, 0 AS _change_ordinal
      |FROM lineitem WHERE l_linenumber IN (3, 4) AND l_orderkey % 13 <> 0
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_quantity, 'DELETE', 1
      |FROM lineitem WHERE l_linenumber <= 2 AND l_orderkey % 13 = 0
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_quantity, 'INSERT', 2
      |FROM lineitem WHERE l_linenumber >= 5""".stripMargin

  /** `CALL graft.system.dedup_table` gate — the ops-layer dedup run AS
    * A TABLE OPERATION through the full SQL surface: CREATE TABLE +
    * INSERT through the DSv2 catalog, one CALL, then the table read
    * back. Exact mode keeps the min id per normalized-text
    * fingerprint (natural exact dups in the corpus collapse too — the
    * oracle groups by the same md5); NULL-text rows are exempt from
    * the collapse, aligned across all three procedure modes. */
  def i29DedupTable(s: SparkSession, dir: String): DataFrame = {
    val tableId = dedupTableFixture(s, dir, withQuality = false)
    callDedupTable(s, tableId, ")")
  }

  val i29Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 100
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100
      |)
      |SELECT doc_id FROM (
      |  SELECT min(doc_id) AS doc_id FROM planted WHERE text IS NOT NULL
      |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |  UNION ALL
      |  SELECT doc_id FROM planted WHERE text IS NULL
      |) ORDER BY doc_id""".stripMargin

  /** Shared fixture for the i29 family: the sub-100 documents plus an
    * exact copy of each at id + 1 000 000 (and, when `withQuality`, a
    * deterministic `(id · 37) mod 101` quality column), loaded into a
    * fresh DSv2 catalog table via SQL. Returns the `catalog.ns.docs`
    * identifier. */
  private def dedupTableFixture(s: SparkSession, dir: String,
      withQuality: Boolean): String = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 100).select("doc_id", "text")
    val base = docs.unionByName(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val planted = if (withQuality)
      base.withColumn("quality", pmod(col("doc_id") * 37L, lit(101L)))
    else base
    val c = "g29" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf29" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    val qcol = if (withQuality) ", quality BIGINT" else ""
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING$qcol)")
    val tmp = "g29src_" + java.util.UUID.randomUUID.toString.take(8)
    planted.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    s"$c.$ns.docs"
  }

  /** Runs one `CALL dedup_table`, checks the report invariant
    * (before = kept + removed), returns the surviving ids. */
  private def callDedupTable(s: SparkSession, tableId: String,
      callArgs: String): DataFrame = {
    val Array(c, ns, _) = tableId.split('.')
    val report = s.sql(
      s"CALL $c.system.dedup_table('$ns', 'docs'$callArgs")
      .collect().head
    require(report.getLong(0) == report.getLong(1) + report.getLong(2),
      s"dedup_table report inconsistent: $report")
    s.table(tableId).select("doc_id").orderBy("doc_id")
  }

  /** `dedup_table` minhash mode through the full SQL surface: near-dup
    * clusters (LSH candidates, jaccard-verified ≥ 0.8, connected
    * components) keep their min id. The oracle replays the EXACT
    * jaccard graph + recursive-CTE transitive closure (the d36
    * pattern) — sound because every natural near-dup pair in the
    * sub-100 corpus sits at jaccard ≥ 0.91, where (64,16) banding
    * misses with p ≈ 10⁻⁸, and planted exact copies collide
    * structurally. */
  def i29bDedupTableMinhash(s: SparkSession, dir: String): DataFrame = {
    val tableId = dedupTableFixture(s, dir, withQuality = false)
    callDedupTable(s, tableId, ", 'minhash')")
  }

  // Shared CTE prefix: the exact-jaccard near-dup component replay
  // over a caller-chosen planted corpus (DuckDB list ops; same
  // tokenize/shingle normalization as ops.Dedup — see d36Sql for the
  // derivation). `plantedSql` must yield (doc_id, text).
  private def componentsCte(plantedSql: String): String =
    raw"""WITH RECURSIVE planted AS (
      |$plantedSql
      |), toks AS (
      |  SELECT doc_id, string_split(lower(trim(
      |    regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk
      |  FROM planted
      |), sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |    ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
      |  FROM toks
      |), edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |      / len(list_distinct(a.s || b.s)) >= 0.8
      |), sym AS (
      |  SELECT id_a AS src, id_b AS dst FROM edges
      |  UNION ALL
      |  SELECT id_b AS src, id_a AS dst FROM edges
      |), walk AS (
      |  SELECT src AS id, dst AS reach FROM sym
      |  UNION
      |  SELECT w.id, s.dst FROM walk w JOIN sym s ON s.src = w.reach
      |), comp AS (
      |  SELECT id, LEAST(id, MIN(reach)) AS component
      |  FROM walk GROUP BY id
      |), lab AS (
      |  SELECT p.doc_id, COALESCE(c.component, p.doc_id) AS component
      |  FROM planted p LEFT JOIN comp c ON c.id = p.doc_id
      |)""".stripMargin

  private val i29ComponentsCte: String = componentsCte(
    """  SELECT doc_id, text FROM documents WHERE doc_id < 100
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100""".stripMargin)

  val i29bSql: String = i29ComponentsCte +
    "\nSELECT DISTINCT component AS doc_id FROM lab ORDER BY doc_id"

  /** `dedup_table` best mode: near-dup clusters keep their max-quality
    * member (min id on ties) — keep-best dedup as a one-CALL table
    * operation. Quality is the stored `(id · 37) mod 101` column. */
  def i29cDedupTableBest(s: SparkSession, dir: String): DataFrame = {
    val tableId = dedupTableFixture(s, dir, withQuality = true)
    callDedupTable(s, tableId, ", 'best', 'text', 'doc_id', 0.8, 'quality')")
  }

  val i29cSql: String = i29ComponentsCte +
    """
      |SELECT doc_id FROM (
      |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY component
      |    ORDER BY (doc_id * 37) % 101 DESC, doc_id ASC) AS rk
      |  FROM lab
      |) WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Fixture for the i33 incremental-dedup family: base = the sub-100
    * documents committed as the canonical first snapshot, then ONE
    * batch INSERT planting three duplicate shapes — copies of base
    * rows at +1 000 000 (batch-vs-base dups), fresh originals
    * (100..`freshTo`), and copies of the fresh originals at
    * +2 000 000 (batch-internal dups). Returns
    * `(catalog.ns.docs, baseSnapshotId)`. */
  private def incrementalFixture(s: SparkSession, dir: String,
      copyLt: Int, freshTo: Int): (String, Long) = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g33" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf33" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmpB = "g33base_" + java.util.UUID.randomUUID.toString.take(8)
    docs.where(col("doc_id") < 100).createOrReplaceTempView(tmpB)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmpB")
    val since = s.sql(
      s"SELECT snapshot_id FROM $c.$ns.docs.snapshots")
      .collect().map(_.getLong(0)).head
    val batch = docs.where(col("doc_id") < copyLt)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id").between(100, freshTo)))
      .unionByName(docs.where(col("doc_id").between(100, 110))
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val tmpN = "g33batch_" + java.util.UUID.randomUUID.toString.take(8)
    batch.createOrReplaceTempView(tmpN)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmpN")
    (s"$c.$ns.docs", since)
  }

  /** `CALL dedup_table(..., since_snapshot_id)` — INCREMENTAL exact
    * dedup, the operational shape at 100 TB (a daily batch must not
    * pay a full-corpus re-dedup): the base snapshot is canonical and
    * its files are never rewritten; batch rows duplicating base (or
    * each other — base fingerprint wins, else min batch id) are
    * removed by ONE MoR equality-delete commit on doc_id. The oracle
    * replays the fingerprint membership + batch window directly. */
  def i33DedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val (tableId, since) = incrementalFixture(s, dir,
      copyLt = 40, freshTo = 140)
    val Array(c, ns, _) = tableId.split('.')
    val report = s.sql(s"CALL $c.system.dedup_table('$ns', 'docs', " +
      s"'exact', 'text', 'doc_id', 0.8, '', CAST($since AS BIGINT))")
      .collect().head
    require(report.getLong(0) == report.getLong(1) + report.getLong(2),
      s"dedup_table report inconsistent: $report")
    require(report.getLong(2) > 0, "fixture must remove batch dups")
    // base snapshot files must be untouched: the delete commit only
    // ADDS equality-delete files
    val t = loadByIdentifier(s, c, ns)
    val baseFiles = graft.table.Scan(t, s).useSnapshot(since)
      .planFiles().map(_.file.filePath).toSet
    val nowFiles = graft.table.Scan(t, s)
      .planFiles().map(_.file.filePath).toSet
    require(baseFiles.subsetOf(nowFiles),
      "incremental dedup must never rewrite base data files")
    s.table(tableId).select("doc_id").orderBy("doc_id")
  }

  private def loadByIdentifier(s: SparkSession, c: String,
      ns: String, tbl: String = "docs"): Table = {
    val warehouseDir = s.conf.get(s"spark.sql.catalog.$c.warehouse")
    Table.load(new LocalCatalog(warehouseDir),
      TableIdentifier(ns.split('.').toSeq, tbl), io)
  }

  /** Exact-mode incremental-dedup oracle over the
    * [[incrementalFixture]] planted corpus, parameterized like the
    * fixture itself (i33 and i34b replay the same policy against
    * different plantings). */
  private def incrementalExactSql(copyLt: Int, freshTo: Int): String =
    raw"""WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 100
      |), batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  WHERE doc_id < $copyLt
      |  UNION ALL
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id BETWEEN 100 AND $freshTo
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
      |  WHERE doc_id BETWEEN 100 AND 110
      |), bfp AS (
      |  SELECT DISTINCT
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM base WHERE text IS NOT NULL
      |), nfp AS (
      |  SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM batch WHERE text IS NOT NULL
      |), keepnew AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM nfp WHERE fp NOT IN (SELECT fp FROM bfp)
      |  ) WHERE rn = 1
      |  UNION ALL
      |  SELECT doc_id FROM batch WHERE text IS NULL
      |)
      |SELECT doc_id FROM base
      |UNION ALL SELECT doc_id FROM keepnew
      |ORDER BY doc_id""".stripMargin

  val i33Sql: String = incrementalExactSql(copyLt = 40, freshTo = 140)

  /** Incremental MINHASH dedup through the same surface: batch rows
    * whose near-dup component contains any base member drop (base
    * wins, whatever the ids); new-only components keep their min id.
    * Oracle: the i29b exact-jaccard recursive-CTE components over
    * base ∪ batch with the same policy (soundness argument as i29b —
    * natural near-dup pairs sit far above the banding miss floor, and
    * planted exact copies collide structurally). */
  def i33bDedupIncrementalMinhash(s: SparkSession,
      dir: String): DataFrame = {
    val (tableId, since) = incrementalFixture(s, dir,
      copyLt = 50, freshTo = 130)
    val Array(c, ns, _) = tableId.split('.')
    val report = s.sql(s"CALL $c.system.dedup_table('$ns', 'docs', " +
      s"'minhash', 'text', 'doc_id', 0.8, '', CAST($since AS BIGINT))")
      .collect().head
    require(report.getLong(0) == report.getLong(1) + report.getLong(2),
      s"dedup_table report inconsistent: $report")
    require(report.getLong(2) > 0, "fixture must remove batch near-dups")
    s.table(tableId).select("doc_id").orderBy("doc_id")
  }

  /** Minhash-mode incremental-dedup oracle (i33b and i34 replay the
    * same base-wins component policy against different plantings). */
  private def incrementalMinhashSql(copyLt: Int, freshTo: Int): String =
    componentsCte(
    raw"""  SELECT doc_id, text FROM documents WHERE doc_id < 100
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < $copyLt
      |  UNION ALL
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id BETWEEN 100 AND $freshTo
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents
      |  WHERE doc_id BETWEEN 100 AND 110""".stripMargin) +
    """
      |, flags AS (
      |  SELECT doc_id, component, doc_id >= 100 AS is_new,
      |    MAX(CASE WHEN doc_id < 100 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY component) = 1 AS has_old
      |  FROM lab
      |)
      |SELECT doc_id FROM (
      |  SELECT doc_id FROM flags WHERE NOT is_new
      |  UNION ALL
      |  SELECT doc_id FROM (
      |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY component
      |      ORDER BY doc_id ASC) AS rk
      |    FROM flags WHERE is_new AND NOT has_old
      |  ) WHERE rk = 1
      |) ORDER BY doc_id""".stripMargin

  val i33bSql: String = incrementalMinhashSql(copyLt = 50, freshTo = 130)

  /** `CALL build_dedup_index` + `dedup_table(..., index_table)` — the
    * PERSISTED-INDEX incremental path, minhash mode: the base corpus
    * is indexed once (fingerprint + hashed shingle set + signature per
    * row), the batch dedups against the INDEX without re-reading base
    * text, and the index chains — surviving batch signatures appended,
    * recorded source snapshot advanced to the post-delete head (both
    * asserted in-query). Oracle: the i33b exact-jaccard component
    * replay — the indexed path must land the exact same rows. */
  def i34DedupIndexed(s: SparkSession, dir: String): DataFrame = {
    val (tableId, since) = incrementalFixture(s, dir,
      copyLt = 45, freshTo = 135)
    val Array(c, ns, _) = tableId.split('.')
    val built = s.sql(s"CALL $c.system.build_dedup_index('$ns', " +
      s"'docs', 'text', 'doc_id', 64, '', CAST($since AS BIGINT))")
      .collect().head
    require(built.getLong(1) > 0, s"index must cover the base: $built")
    val report = s.sql(s"CALL $c.system.dedup_table('$ns', 'docs', " +
      s"'minhash', 'text', 'doc_id', 0.8, '', CAST($since AS BIGINT), " +
      s"'docs_minhash_idx')").collect().head
    require(report.getLong(0) == report.getLong(1) + report.getLong(2),
      s"dedup_table report inconsistent: $report")
    require(report.getLong(2) > 0, "fixture must remove batch near-dups")
    // the index chained: recorded source snapshot == the new head, and
    // the index covers exactly the live non-NULL-text rows
    val t = loadByIdentifier(s, c, ns)
    val newHead = t.currentSnapshot.map(_.snapshotId).get
    val idx = loadByIdentifier(s, c, ns, "docs_minhash_idx")
    require(idx.metadata.properties(
      "graft.dedup-index.source-snapshot-id") == newHead.toString,
      "index must chain to the post-delete head")
    val liveNonNull = s.table(tableId).where(col("text").isNotNull).count()
    require(graft.table.Scan(idx, s).count() == liveNonNull,
      "index must cover exactly the live non-NULL-text rows")
    s.table(tableId).select("doc_id").orderBy("doc_id")
  }

  val i34Sql: String = incrementalMinhashSql(copyLt = 45, freshTo = 135)

  /** Indexed incremental dedup, EXACT mode — the batch's duplicates
    * resolve against the index's stored 128-bit fingerprints alone
    * (no base text, no base shingling). Oracle: the i33 fingerprint
    * replay at this fixture's planting. */
  def i34bDedupIndexedExact(s: SparkSession, dir: String): DataFrame = {
    val (tableId, since) = incrementalFixture(s, dir,
      copyLt = 35, freshTo = 145)
    val Array(c, ns, _) = tableId.split('.')
    s.sql(s"CALL $c.system.build_dedup_index('$ns', 'docs', 'text', " +
      s"'doc_id', 32, '', CAST($since AS BIGINT))").collect()
    val report = s.sql(s"CALL $c.system.dedup_table('$ns', 'docs', " +
      s"'exact', 'text', 'doc_id', 0.8, '', CAST($since AS BIGINT), " +
      s"'docs_minhash_idx')").collect().head
    require(report.getLong(0) == report.getLong(1) + report.getLong(2),
      s"dedup_table report inconsistent: $report")
    require(report.getLong(2) > 0, "fixture must remove batch dups")
    s.table(tableId).select("doc_id").orderBy("doc_id")
  }

  val i34bSql: String = incrementalExactSql(copyLt = 35, freshTo = 145)

  /** `CALL graft.system.cherrypick_snapshot` — the non-fast-forwardable
    * WAP publish: two appends, roll main back to the first, then
    * cherry-pick the now-detached second append onto the restored head.
    * If the pick were a no-op the read-back would miss the staged half;
    * if it re-copied data the report arithmetic (asserted in-query)
    * would break. The oracle is simply both halves — cherry-pick must
    * reconstruct exactly the pre-rollback contents on a NEW commit. */
  def i30CherrypickSnapshot(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_orderkey") < 200)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val c = "g30" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf30" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.li " +
      "(l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE)")
    val tmp = "g30src_" + java.util.UUID.randomUUID.toString.take(8)
    li.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.li SELECT * FROM $tmp " +
      "WHERE l_linenumber <= 3")
    s.sql(s"INSERT INTO $c.$ns.li SELECT * FROM $tmp " +
      "WHERE l_linenumber > 3")
    // resolve commit order via the parent chain, not committed_at
    // (two same-millisecond commits would tie on the timestamp)
    val snaps = s.sql(s"SELECT snapshot_id, parent_id " +
      s"FROM $c.$ns.li.snapshots").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_ => r.getLong(1)))
    val second = snaps.collectFirst {
      case (sid, Some(_)) => sid
    }.get
    val first = snaps(snaps.indexWhere(_._1 == second))._2.get
    s.sql(s"CALL $c.system.rollback_to_snapshot('$ns', 'li', $first)")
    val stagedRows = li.where(col("l_linenumber") > 3).count()
    val report = s.sql(
      s"CALL $c.system.cherrypick_snapshot('$ns', 'li', $second)")
      .collect().head
    require(report.getLong(0) == second &&
        report.getLong(3) == stagedRows,
      s"cherrypick report inconsistent: $report (staged $stagedRows)")
    s.table(s"$c.$ns.li").orderBy("l_orderkey", "l_linenumber")
  }

  val i30Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** `CALL graft.system.rewrite_position_deletes` — three MoR DELETE
    * commits accumulate ≥3 position-delete files; the rewrite
    * consolidates them into ONE (report asserted in-query) without
    * touching any data file, and the read-back through the SQL surface
    * must still equal the triple-filtered oracle — the consolidated
    * deletes delete exactly the same rows. */
  def i31RewritePositionDeletes(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_orderkey") < 300)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("i31" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = TableOps.append(Table.create(cat, TableIdentifier(ns, "li"),
      SchemaConverters.fromSparkSchema(df.schema), io = io), df)
    t = t.newDelete(s).where(Col("l_quantity").gt(45.0))
      .withMergeOnRead(true).execute()
    t = t.newDelete(s).where(Col("l_linenumber").eqTo(7))
      .withMergeOnRead(true).execute()
    t = t.newDelete(s).where(Col("l_quantity").lt(3.0))
      .withMergeOnRead(true).execute()
    val before = Maintenance.positionDeleteFiles(t)
    require(before.size >= 3,
      s"fixture accumulated only ${before.size} position-delete files")
    val dataBefore = Scan(t, s).planFiles().map(_.file.filePath).toSet
    val c = "g31" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val rep = s.sql(s"CALL $c.system.rewrite_position_deletes(" +
      s"'${ns.mkString(".")}', 'li')").collect().head
    require(rep.getLong(0) == before.size && rep.getLong(1) == 1L &&
        rep.getLong(3) <= rep.getLong(2),
      s"rewrite report inconsistent: $rep (before ${before.size})")
    val after = t.refresh()
    val dataAfter = Scan(after, s).planFiles().map(_.file.filePath).toSet
    require(dataAfter == dataBefore,
      "rewrite_position_deletes must not touch data files")
    s.table(s"$c.${ns.mkString(".")}.li")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val i31Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |-- DELETE keeps rows whose predicate is NULL: the survivor
      |-- set is NOT-coalesce(pred,false) per delete, not 3VL ranges
      |WHERE l_orderkey < 300
      |  AND NOT coalesce(l_quantity > 45.0, false)
      |  AND NOT coalesce(l_linenumber = 7, false)
      |  AND NOT coalesce(l_quantity < 3.0, false)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** `CALL graft.system.rewrite_equality_deletes` — two `deleteByKeys`
    * commits accumulate equality-delete files (which ordinary
    * maintenance could never merge: their sequence gates forbid
    * re-commit), plus one MoR position delete; the rewrite converts
    * the equality files to position deletes and consolidates the lot
    * into ONE position-delete file, retiring every equality file, with
    * data files untouched — and the read-back through the SQL surface
    * must still equal the triple-filtered oracle. */
  def i32RewriteEqualityDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_orderkey") < 300)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("i32" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = TableOps.append(Table.create(cat, TableIdentifier(ns, "li"),
      SchemaConverters.fromSparkSchema(df.schema), io = io), df)
    t = Mutations.deleteByKeys(t, s, Seq(3L, 7L, 32L).toDF("l_orderkey"))
    t = Mutations.deleteByKeys(t, s, Seq(66L, 97L).toDF("l_orderkey"))
    t = t.newDelete(s).where(Col("l_quantity").gt(45.0))
      .withMergeOnRead(true).execute()
    val eqBefore = Maintenance.equalityDeleteFiles(t)
    require(eqBefore.size >= 2,
      s"fixture accumulated only ${eqBefore.size} equality-delete files")
    val dataBefore = Scan(t, s).planFiles().map(_.file.filePath).toSet
    val c = "g32" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val rep = s.sql(s"CALL $c.system.rewrite_equality_deletes(" +
      s"'${ns.mkString(".")}', 'li')").collect().head
    require(rep.getLong(0) == eqBefore.size && rep.getLong(2) == 1L,
      s"rewrite report inconsistent: $rep (eq before ${eqBefore.size})")
    val after = t.refresh()
    require(Maintenance.equalityDeleteFiles(after).isEmpty,
      "every equality-delete file must be retired")
    require(Maintenance.positionDeleteFiles(after).size == 1,
      "position deletes must consolidate to one file")
    require(Scan(after, s).planFiles().map(_.file.filePath).toSet ==
      dataBefore, "rewrite_equality_deletes must not touch data files")
    s.table(s"$c.${ns.mkString(".")}.li")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val i32Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_orderkey < 300
      |  AND NOT coalesce(l_quantity > 45.0, false)
      |  AND l_orderkey NOT IN (3, 7, 32, 66, 97)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Nested schema evolution + Spark nested-schema pruning, end-to-end
    * through the DSv2 source against the DuckDB oracle (round-9 verdict
    * #2: the last two rounds both found bugs in exactly this remap —
    * `requestType`'s pruned-shape alignment — so it gets a hash gate,
    * not just unit tests). The table nests s = {a, b, n} over lineitem,
    * then evolves: inner RENAME a→qty, inner ADD c, top-level
    * PROMOTION ln int→long; pre- and post-evolution files coexist. */
  private def nestedEvolvedTable(spark: SparkSession, sfDir: String): Table =
    cache.getOrElseUpdate(s"li19:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val pre = df.filter(col("l_linenumber") <= 3).select(
        col("l_orderkey"),
        col("l_linenumber").as("ln"),
        struct(col("l_quantity").as("a"), col("l_extendedprice").as("b"),
          col("l_linenumber").as("n")).as("s"))
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf19" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      var t = Table.create(cat, TableIdentifier(ns, "lineitem_nested"),
        SchemaConverters.fromSparkSchema(pre.schema), io = io)
      t = TableOps.append(t, pre)
      t = t.updateSchema()
        .renameColumnAt(Seq("s", "a"), "qty")
        .addNestedColumn(Seq("s", "c"), graft.spec.DoubleType)
        .updateColumnType("ln", graft.spec.LongType)
        // inner-leaf promotion: pre-evolution files keep int32
        // physicals for s.n that the by-id remap must widen at read
        .updateColumnTypeAt(Seq("s", "n"), graft.spec.LongType)
        .commit()
      val post = df.filter(col("l_linenumber") > 3).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("ln"),
        struct(col("l_quantity").as("qty"), col("l_extendedprice").as("b"),
          col("l_linenumber").cast("long").as("n"),
          (col("l_extendedprice") * 2).as("c")).as("s"))
      TableOps.append(t, post)
    })

  private def nestedReader(s: SparkSession, dir: String) = {
    nestedEvolvedTable(s, dir)
    s.read.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", "sf19" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      .option("table", "lineitem_nested")
      .load()
  }

  /** Pruned inner subset (qty, c — Spark's nested pruning drops b and
    * n) PLUS the promoted top-level ln: pre-evolution tasks take the
    * row remap path with a ReaderConv, and a misaligned inner ordinal
    * or a null-fill resolved to the wrong physical column breaks the
    * hash. */
  def i19NestedEvolution(s: SparkSession, dir: String): DataFrame =
    nestedReader(s, dir)
      .select(col("l_orderkey"), col("ln"),
        col("s.qty").as("qty"), col("s.c").as("c"))
      .orderBy("l_orderkey", "ln")

  val i19Sql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  l_quantity AS qty,
      |  CASE WHEN l_linenumber > 3 THEN l_extendedprice * 2 END AS c
      |FROM lineitem ORDER BY l_orderkey, ln""".stripMargin

  /** The same table WITHOUT the promoted column in the projection:
    * every task is promotion-free for the required set, so the scan
    * keeps columnar eligibility through the per-write-schema batch
    * remap — the other half of the requestType code path. */
  def i19NestedColumnar(s: SparkSession, dir: String): DataFrame =
    nestedReader(s, dir)
      .select(col("l_orderkey"),
        col("s.qty").as("qty"), col("s.c").as("c"))
      .orderBy("l_orderkey", "qty")

  val i19bSql: String =
    """SELECT l_orderkey, l_quantity AS qty,
      |  CASE WHEN l_linenumber > 3 THEN l_extendedprice * 2 END AS c
      |FROM lineitem ORDER BY l_orderkey, qty""".stripMargin

  /** Inner-leaf type promotion (s.n int→long): pre-promotion files
    * store int32 physicals that both remap paths must WIDEN — a remap
    * that only realigns ordinals (or null-fills on a type mismatch)
    * breaks this hash. */
  def i19NestedPromotion(s: SparkSession, dir: String): DataFrame =
    nestedReader(s, dir)
      .select(col("l_orderkey"), col("ln"), col("s.n").as("n"))
      .orderBy("l_orderkey", "ln")

  val i19cSql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |  CAST(l_linenumber AS BIGINT) AS n
      |FROM lineitem ORDER BY l_orderkey, ln""".stripMargin

  /** Write-audit-publish end-to-end (round-9 verdict #3): append half
    * of lineitem to main, the rest to an `audit` branch, then
    * fast-forward-publish via `setRef("main", branchHead)`. The result
    * encodes all three phases — main-before (must still be the first
    * half: branch isolation), branch (full), main-after (full) — so
    * the hash breaks if a branch commit leaks into main or the publish
    * loses rows. */
  def i20BranchWap(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/lineitem.parquet")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf20" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = Table.create(cat, TableIdentifier(ns, "lineitem"),
      SchemaConverters.fromSparkSchema(df.schema), io = io)
    t = TableOps.append(t, df.filter(col("l_linenumber") <= 3))
    var audit = t.forBranch("audit")
    audit = TableOps.append(audit, df.filter(col("l_linenumber") > 3))
    def agg(tbl: Table, phase: String): DataFrame =
      Scan(tbl, s).toDF
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
        .withColumn("phase", lit(phase))
        .select("phase", "l_returnflag", "n", "sum_qty")
    // Scan plans files at construction from the handle's immutable
    // metadata, so each phase's plan pins that phase's snapshot.
    val mainBefore = agg(t.refresh(), "1_main_before")
    val branch = agg(audit, "2_branch")
    val published = t.refresh().newTransaction()
      .setRef("main", audit.currentSnapshot.get.snapshotId).commit()
    val mainAfter = agg(published, "3_main_after")
    mainBefore.unionAll(branch).unionAll(mainAfter)
      .orderBy("phase", "l_returnflag")
  }

  val i20Sql: String =
    """SELECT '1_main_before' AS phase, l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_returnflag
      |UNION ALL
      |SELECT '2_branch', l_returnflag, COUNT(*),
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |FROM lineitem GROUP BY l_returnflag
      |UNION ALL
      |SELECT '3_main_after', l_returnflag, COUNT(*),
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY phase, l_returnflag""".stripMargin

  // ------------------------------ SQL façade gates (verdict #7): the
  // SAME engine tables queried through spark.sql — a temp view over the
  // table's DSv2 relation, pruned by the query's pushed filters.

  def sql1ScanFilter(s: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftSQL.registerTable(s, lineitemTable(s, dir),
      "g_lineitem")
    s.sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM g_lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  }

  def sql2PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftSQL.registerTable(s, ordersMonthly(s, dir),
      "g_orders")
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM g_orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  def sql3BucketEq(s: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftSQL.registerTable(s, lineitemBucketed(s, dir),
      "g_lineitem_b")
    s.sql(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM g_lineitem_b
        |WHERE l_orderkey = 42 ORDER BY l_linenumber""".stripMargin)
  }

  /** SQL over a MoR-mutated table: position-delete files must apply
    * inside the spark.sql plan's graft reader. Table construction reuses
    * MutationQueries' m2 build (lineitem MoR-delete of returnflag R). */
  def sql4MorRead(s: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftSQL.registerTable(s,
      MutationQueries.m2Table(s, dir), "g_lineitem_mor")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM g_lineitem_mor
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** SQL over the CatalogPlugin (no per-table registration): the same
    * MoR table as sql4, addressed as `<catalog>.<ns>.lineitem` —
    * position deletes apply INSIDE the DSv2 reader (per-task bitmap),
    * a different code path from sql4's plan-substitution façade. */
  def sql5CatalogMor(s: SparkSession, dir: String): DataFrame = {
    val (wh, ns, tbl) = MutationQueries.m2Coords(s, dir)
    val cname = "gq5"
    s.conf.set(s"spark.sql.catalog.$cname",
      "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$cname.warehouse", wh)
    s.sql(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
         |FROM $cname.$ns.$tbl
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** SQL UPDATE through the CatalogPlugin: group-based copy-on-write
    * row-level operation with runtime group filtering — the SQL face of
    * m3's programmatic update, so the oracle is identical. */
  def sql6SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"sql6:$dir", {
      val df = s.read.parquet(s"$dir/orders.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sql6" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val t0 = TableOps.append(Table.create(cat,
        TableIdentifier(ns, "orders"),
        SchemaConverters.fromSparkSchema(df.schema), io = io), df)
      val cname = "gq6"
      s.conf.set(s"spark.sql.catalog.$cname",
        "graft.sources.GraftSparkCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.warehouse", warehouse)
      s.sql(s"UPDATE $cname.${ns.mkString(".")}.orders " +
        "SET o_orderpriority = '1-URGENT-BIG' " +
        "WHERE o_totalprice > 300000.0")
      t0.refresh()
    })
    Scan(t, s).toDF
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("total"))
      .orderBy("o_orderpriority")
  }

  /** SQL MERGE INTO through the CatalogPlugin — the SQL face of m4's
    * programmatic upsert (same source frame, same oracle): matched rows
    * update whole-row, unmatched rows insert. */
  def sql7SqlMerge(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"sql7:$dir", {
      val df = s.read.parquet(s"$dir/customer.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sql7" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val t0 = TableOps.append(Table.create(cat,
        TableIdentifier(ns, "customer"),
        SchemaConverters.fromSparkSchema(df.schema), io = io), df)
      val cname = "gq7"
      s.conf.set(s"spark.sql.catalog.$cname",
        "graft.sources.GraftSparkCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.warehouse", warehouse)
      val updates = df.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
        .withColumn("c_mktsegment", lit("NEWSEG"))
      val inserts = df.filter(col("c_custkey") < 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
      updates.unionByName(inserts).createOrReplaceTempView("sql7_src")
      s.sql(s"MERGE INTO $cname.${ns.mkString(".")}.customer AS t " +
        "USING sql7_src AS s ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      t0.refresh()
    })
    Scan(t, s).toDF
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast(org.apache.spark.sql.types.DoubleType).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** MERGE clause coverage beyond sql7 (round-5 verdict #7): WHEN
    * MATCHED ... DELETE, conditional MATCHED UPDATE, NOT MATCHED
    * INSERT, and WHEN NOT MATCHED BY SOURCE ... DELETE in ONE
    * statement — Spark 4 plans all four over the group-based row-level
    * operation. Oracle reproduces the full clause algebra in SQL, so
    * the hash gate catches a mis-applied clause on any row. */
  def sql8MergeDelete(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"sql8:$dir", {
      val df = s.read.parquet(s"$dir/customer.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sql8" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      val t0 = TableOps.append(Table.create(cat,
        TableIdentifier(ns, "customer"),
        SchemaConverters.fromSparkSchema(df.schema), io = io), df)
      val cname = "gq8"
      s.conf.set(s"spark.sql.catalog.$cname",
        "graft.sources.GraftSparkCatalog")
      s.conf.set(s"spark.sql.catalog.$cname.warehouse", warehouse)
      val matched = df.filter(col("c_custkey") % 3 === 0)
      val inserts = df.filter(col("c_custkey") < 5)
        .withColumn("c_custkey", col("c_custkey") + lit(2000000L))
      matched.unionByName(inserts).createOrReplaceTempView("sql8_src")
      s.sql(s"MERGE INTO $cname.${ns.mkString(".")}.customer AS t " +
        "USING sql8_src AS s ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET c_mktsegment = 'MRGSEG' " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 7 = 0 THEN DELETE")
      t0.refresh()
    })
    Scan(t, s).toDF
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .cast(org.apache.spark.sql.types.DoubleType).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val sql8Sql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 3 = 0 THEN 'MRGSEG'
      |       ELSE c_mktsegment END AS c_mktsegment,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
      |FROM customer
      |-- MERGE deletes only where the condition is TRUE: a NULL acctbal
      |-- makes it NULL and the row SURVIVES (NOT-coalesce, not 3VL NOT)
      |WHERE NOT coalesce(c_custkey % 3 = 0 AND c_acctbal < 0, false)
      |  AND NOT coalesce(c_custkey % 3 <> 0 AND c_custkey % 7 = 0, false)
      |UNION ALL
      |SELECT c_custkey + 2000000, c_mktsegment,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal
      |FROM customer WHERE c_custkey < 5
      |ORDER BY c_custkey""".stripMargin

  /** writeStream.format("graft") sink: graft-to-graft pipe (readStream
    * source tails the source table; the sink commits one snapshot per
    * micro-batch with epoch idempotence), then the DESTINATION table is
    * scanned — the oracle is the full source content, so any dropped or
    * doubled micro-batch breaks the hash. */
  def i15WriteStreamSink(s: SparkSession, dir: String): DataFrame = {
    val t = cache.getOrElseUpdate(s"i15:$dir", {
      val df = s.read.parquet(s"$dir/lineitem.parquet")
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf15" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
        java.util.UUID.randomUUID.toString.take(8))
      cat.createNamespace(ns)
      var src = Table.create(cat, TableIdentifier(ns, "src"),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      val dst = Table.create(cat, TableIdentifier(ns, "dst"),
        SchemaConverters.fromSparkSchema(df.schema), io = io)
      src = TableOps.append(src, df.filter(col("l_linenumber") <= 3))
      val q = s.readStream.format("graft")
        .option("warehouse", warehouse)
        .option("namespace", ns.mkString("."))
        .option("table", "src").load()
        .writeStream.format("graft")
        .option("warehouse", warehouse)
        .option("namespace", ns.mkString("."))
        .option("table", "dst")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-i15-ckpt-").toString)
        .outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: full source at snap1
        src = TableOps.append(src, df.filter(col("l_linenumber") > 3))
        q.processAllAvailable() // batch 2: the incremental append
      } finally q.stop()
      dst.refresh()
    })
    Scan(t, s).toDF
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Evolution INSIDE a list element type (`tags.element.*` — the
    * SchemaUpdate walker's `element` path step): the table nests
    * tags = list<struct<a, b, n:int>> over lineitem (two elements per
    * row), then renames tags.element.a→qty, ADDS tags.element.c, and
    * PROMOTES tags.element.n int→long; pre- and post-evolution files
    * coexist. Pre-evolution files must read with renamed leaves
    * resolved by id, added leaves null-filled PER ELEMENT, and int32
    * element physicals widened to long. */
  private def listEvolvedTable(spark: SparkSession, sfDir: String): Table =
    cache.getOrElseUpdate(s"li22:$sfDir", {
      val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      def elem(qty: org.apache.spark.sql.Column, long: Boolean,
          withC: Boolean) = {
        val n = if (long) col("l_linenumber").cast("long")
          else col("l_linenumber")
        val base = Seq(qty.as(if (withC) "qty" else "a"),
          col("l_extendedprice").as("b"), n.as("n"))
        struct((if (withC)
          base :+ (col("l_extendedprice") * 2).as("c") else base): _*)
      }
      val pre = df.filter(col("l_linenumber") <= 3).select(
        col("l_orderkey"), col("l_linenumber").as("ln"),
        array(elem(col("l_quantity"), long = false, withC = false),
          elem(col("l_quantity") + 1, long = false, withC = false))
          .as("tags"))
      val cat = new LocalCatalog(warehouse)
      val ns = Seq("sf22" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
      if (!cat.namespaceExists(ns)) cat.createNamespace(ns)
      var t = Table.create(cat, TableIdentifier(ns, "lineitem_tags"),
        SchemaConverters.fromSparkSchema(pre.schema), io = io)
      t = TableOps.append(t, pre)
      t = t.updateSchema()
        .renameColumnAt(Seq("tags", "element", "a"), "qty")
        .addNestedColumn(Seq("tags", "element", "c"), graft.spec.DoubleType)
        .updateColumnTypeAt(Seq("tags", "element", "n"),
          graft.spec.LongType)
        .commit()
      val post = df.filter(col("l_linenumber") > 3).select(
        col("l_orderkey"), col("l_linenumber").as("ln"),
        array(elem(col("l_quantity"), long = true, withC = true),
          elem(col("l_quantity") + 1, long = true, withC = true))
          .as("tags"))
      TableOps.append(t, post)
    })

  private def flattenTags(tagged: DataFrame): DataFrame =
    tagged
      .select(col("l_orderkey"), col("ln"),
        posexplode(col("tags")).as(Seq("pos", "tag")))
      .select(col("l_orderkey"), col("ln"), col("pos"),
        col("tag.qty").as("qty"), col("tag.c").as("c"),
        col("tag.n").as("n"))
      .orderBy("l_orderkey", "ln", "pos")

  /** DSv2 read of the list-evolved table (requestType/promotionFree
    * recursion through ArrayType). */
  def i22ListEvolution(s: SparkSession, dir: String): DataFrame = {
    listEvolvedTable(s, dir)
    flattenTags(s.read.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", "sf22" + dir.replaceAll("[^0-9a-zA-Z]", "_"))
      .option("table", "lineitem_tags")
      .load())
  }

  /** The same content through the Scan API (a staged read of the
    * planned tasks on the same DSv2 reader). */
  def i22ListEvolutionScan(s: SparkSession, dir: String): DataFrame =
    flattenTags(Scan(listEvolvedTable(s, dir), s).toDF)

  val i22Sql: String = {
    def half(pos: Int, qty: String) =
      s"""SELECT l_orderkey, l_linenumber AS ln, $pos AS pos,
         |  $qty AS qty,
         |  CASE WHEN l_linenumber > 3 THEN l_extendedprice * 2 END AS c,
         |  CAST(l_linenumber AS BIGINT) AS n
         |FROM lineitem""".stripMargin
    s"""SELECT * FROM (
       |  ${half(0, "l_quantity")}
       |  UNION ALL
       |  ${half(1, "l_quantity + 1")}
       |) ORDER BY l_orderkey, ln, pos""".stripMargin
  }

  /** Streaming ingest dedup gate ([[graft.streaming.Streams.dedupIngest]]
    * was unit-only until now). A planted "re-crawl" stream lands in a
    * graft table in two appends and is tailed through the graft source
    * into the real corpus-anti-join + cross-batch `dropDuplicates`
    * pipeline. Wave 1: exact corpus copies (the anti-join must drop all
    * of them BEFORE state), fresh texts, and an in-batch duplicate of
    * every fresh text (one survivor per fingerprint). Wave 2: a replay
    * of wave 1's fresh texts (the state store must drop them) plus a
    * second fresh wave. Output = the surviving fingerprint set, which
    * DuckDB reproduces as the distinct planted fingerprints anti-joined
    * against the corpus — row-identity-free, so the gate is untouched
    * by which duplicate row `dropDuplicates` happens to keep. */
  /** Streaming in-flight dedup backed by the PERSISTED signature
    * index ([[graft.streaming.Streams.IndexedDedupSink]]) — the dedup
    * horizon lives in a TABLE, not the state store: the base corpus is
    * indexed once, every micro-batch dedups against the index (exact
    * fp membership here), and survivors' signatures chain INTO the
    * index, so a wave-2 replay of a wave-1 survivor is dropped without
    * any `dropDuplicates` state. Waves mirror i21's planting; the
    * oracle replays fp membership across both waves. */
  def i35StreamIndexedDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") < 50).select("doc_id", "text")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf35" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var src = Table.create(cat, TableIdentifier(ns, "crawl"),
      SchemaConverters.fromSparkSchema(base.schema), io = io)
    val idxFrame = graft.ops.Dedup.signatureFrame(base)
    var idxT = Table.create(cat, TableIdentifier(ns, "idx"),
      SchemaConverters.fromSparkSchema(idxFrame.schema), io = io)
    idxT = TableOps.append(idxT, idxFrame)
    val sinkT = Table.create(cat, TableIdentifier(ns, "clean"),
      SchemaConverters.fromSparkSchema(base.schema), io = io)
    def wave(idOffset: Long, suffix: String) = base.select(
      (col("doc_id") + idOffset).as("doc_id"),
      (if (suffix.isEmpty) col("text")
       else concat(col("text"), lit(suffix))).as("text"))
    src = TableOps.append(src, wave(2000000L, "") // exact base re-crawl
      .unionByName(wave(3000000L, " zzq1"))       // fresh
      .unionByName(wave(4000000L, " zzq1")))      // in-batch duplicate
    val pipe = graft.streaming.Streams.indexedDedupSink(sinkT, idxT)
    val q = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "crawl")
      .load()
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => pipe.addBatch(b, id))
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: wave 1
      src = TableOps.append(src,
        wave(5000000L, " zzq1")                // replay of w1 SURVIVORS
          .unionByName(wave(6000000L, " zzq2"))) // second fresh wave
      q.processAllAvailable() // batch 2: dedups against the CHAINED index
    } finally q.stop()
    graft.table.Scan(pipe.sink, s).toDF
      .select("doc_id").orderBy("doc_id")
  }

  /** Centroids persisted by the last [[i36AnnIndexedSearch]] run in
    * this JVM — the oracle embeds them as literals (the e15b stash
    * pattern: Verify runs queries first, dumps oracle_sql.json last,
    * and [[oracles]] is a `def`, so the map rebuild picks this up). */
  @volatile private var i36Stash: Option[Seq[Array[Double]]] = None

  /** `CALL build_ann_index` + [[graft.ops.Similarity
    * .ivfTopKFromIndex]] — the PERSISTED inverted file: centroids are
    * fitted once and stamped on a cell-PARTITIONED index table of
    * `(vec_id, cell, norm, embedding)`; a search collects its probed
    * cells and reads ONLY those partitions (manifest partition
    * pruning, asserted in-query: the probed plan must touch strictly
    * fewer files than the full index). The oracle replays assignment
    * (argmin d², tie lowest cell), nprobe probing (cosine desc, cell
    * asc), and the exact re-rank with the TRAINED centroids as
    * literals — so fit, persistence round-trip, pruning, and search
    * all sit under one hash gate. */
  def i36AnnIndexedSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val c = "g36" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf36" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g36v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp")
    val built = s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect().head
    require(built.getInt(1) == 8 && built.getLong(3) > 0,
      s"index build report: $built")
    val idxT = loadByIdentifier(s, c, ns, "vecs_ann_idx")
    val props = idxT.metadata.properties
    val centroids = graft.ops.Similarity.centroidsFromJson(
      props("graft.ann-index.centroids"))
    i36Stash = Some(centroids)
    val dim = props("graft.ann-index.dim").toInt
    val queries = emb.where(col("vec_id") < 3 &&
      size(col("embedding")) === dim)
    val allFiles = graft.table.Scan(idxT, s).planFiles().size
    graft.ops.Similarity.ivfTopKFromIndex(
      cells => {
        val pruned = graft.table.Scan(idxT, s)
          .filter(Col("cell").in(cells: _*))
        require(pruned.planFiles().size < allFiles,
          s"probed read must partition-prune: ${pruned.planFiles().size}" +
            s" of $allFiles files")
        pruned.toDF
      },
      queries, centroids, k = 5, nprobe = 3)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  /** i36 oracle — the e3b replay with the TRAINED centroids as a
    * VALUES CTE (assignment argmin via ROW_NUMBER d2 asc, cell asc —
    * the `least(struct)` tie rule — then nprobe probe + exact
    * re-rank). */
  private def i36Sql: String = annReplaySql(i36Stash)

  /** Shared i36/i37 replay builder: both gates' oracles are THIS
    * definition with their own run's trained centroids — the full
    * build and the incremental chain must land on the identical
    * search result set for the same model. */
  private def annReplaySql(stash: Option[Seq[Array[Double]]],
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings",
      dimSql: String =
        "SELECT max(len(embedding)) AS d FROM embeddings",
      qSql: Option[String] = None,
      k: Int = 5, nprobe: Int = 3):
      String = stash match {
    case None =>
      "SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS " +
        "nid, CAST(NULL AS BIGINT) AS rank WHERE 1 = 0"
    case Some(cbs) =>
      import OpsQueries.PlantedSql.cos
      // explicit DOUBLE[] cast: DuckDB types bare VALUES array
      // literals as DECIMAL sized by their digit count, and the
      // decimal fold of (cv-ctr)^2 then overflows DECIMAL(38) for
      // vectors of ordinary magnitude — the whole replay is double
      // arithmetic, so pin the literals to DOUBLE too
      val values = cbs.zipWithIndex.map { case (ctr, cell) =>
        s"($cell, CAST([${ctr.mkString(", ")}] AS DOUBLE[]))"
      }.mkString(",\n    ")
      s"""WITH dim AS (
         |  $dimSql
         |), src AS (
         |  $corpusSql
         |), corpus AS (
         |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM src WHERE len(embedding) = (SELECT d FROM dim)
         |), q AS (
         |  ${qSql.getOrElse("SELECT vec_id AS qid, " +
             "CAST(embedding AS DOUBLE[]) AS qv FROM src WHERE " +
             "vec_id < 3 AND len(embedding) = (SELECT d FROM dim)")}
         |), cells(cell, ctr) AS (
         |  VALUES $values
         |), dists AS (
         |  SELECT nid, cv, cell,
         |    list_reduce(list_transform(generate_series(1, len(cv)),
         |      i -> (cv[i] - ctr[i]) * (cv[i] - ctr[i])),
         |      (acc, x) -> acc + x) AS d2
         |  FROM corpus CROSS JOIN cells
         |), assigned AS (
         |  SELECT nid, cv, cell FROM (
         |    SELECT nid, cv, cell, ROW_NUMBER() OVER (PARTITION BY nid
         |      ORDER BY d2 ASC, cell ASC) AS rn
         |    FROM dists
         |  ) WHERE rn = 1
         |), probes AS (
         |  SELECT qid, qv, cell FROM (
         |    SELECT q.qid, q.qv, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${cos("q.qv", "c.ctr")} DESC, c.cell ASC) AS cr
         |    FROM q CROSS JOIN cells c
         |  ) WHERE cr <= $nprobe
         |)
         |SELECT qid, nid, rank FROM (
         |  SELECT p.qid, a.nid,
         |    ROW_NUMBER() OVER (PARTITION BY p.qid
         |      ORDER BY ${cos("p.qv", "a.cv")} DESC, a.nid ASC) AS rank
         |  FROM probes p JOIN assigned a
         |    ON a.cell = p.cell AND a.nid <> p.qid
         |) WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  @volatile private var i37Stash: Option[Seq[Array[Double]]] = None

  /** The incremental chain: full `build_ann_index` on HALF the corpus,
    * append the rest, `build_ann_index(incremental => true)` — new
    * vectors are assigned with the STAMPED centroids (asserted
    * in-query: the centroids property is byte-identical across the
    * chain, and the incremental report indexes exactly the appended
    * max-dim rows) and appended into their cells. A search over the
    * chained index must land the exact same rows as the full replay
    * over ALL vectors with the original model — the oracle is
    * [[annReplaySql]] with this run's stash, so a chain that dropped,
    * duplicated, or mis-assigned any appended vector hash-fails. */
  def i37AnnIndexChained(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val mid = emb.agg(max(col("vec_id"))).head.getLong(0) / 2
    val c = "g37" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf37" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g37v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp " +
      s"WHERE vec_id <= $mid")
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect()
    val cbefore = loadByIdentifier(s, c, ns, "vecs_ann_idx")
      .metadata.properties("graft.ann-index.centroids")
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp " +
      s"WHERE vec_id > $mid")
    val rep = s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"incremental => true)").collect().head
    val idxT = loadByIdentifier(s, c, ns, "vecs_ann_idx")
    val props = idxT.metadata.properties
    require(props("graft.ann-index.centroids") == cbefore,
      "incremental chain must NOT refit: centroids changed")
    val dim = props("graft.ann-index.dim").toInt
    val expectNew = emb.where(col("vec_id") > mid &&
      size(col("embedding")) === dim).count()
    require(rep.getLong(3) == expectNew,
      s"chain must index exactly the appended max-dim rows: $rep " +
        s"vs $expectNew")
    // idempotent no-op: nothing new appended since the chain advance
    val rep2 = s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"incremental => true)").collect().head
    require(rep2.getLong(3) == 0L, s"no-op chain must index 0: $rep2")
    val centroids = graft.ops.Similarity.centroidsFromJson(cbefore)
    i37Stash = Some(centroids)
    val queries = emb.where(col("vec_id") < 3 &&
      size(col("embedding")) === dim)
    val allFiles = graft.table.Scan(idxT, s).planFiles().size
    graft.ops.Similarity.ivfTopKFromIndex(
      cells => {
        val pruned = graft.table.Scan(idxT, s)
          .filter(Col("cell").in(cells: _*))
        require(pruned.planFiles().size < allFiles,
          s"probed read must partition-prune: ${pruned.planFiles().size}" +
            s" of $allFiles files")
        pruned.toDF
      },
      queries, centroids, k = 5, nprobe = 3)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  private def i37Sql: String = annReplaySql(i37Stash)

  /** Shared by i38/i39: a graft catalog table filled from the
    * documents fixture, the probes e13 uses restricted to
    * `doc_id < 2` (so the ≤8 distinct query terms hash into strictly
    * fewer than the 16 term buckets — the pruning assert is
    * deterministic), and a [[graft.ops.Retrieval.bm25FromIndex]]
    * search whose postings load partition-prunes to the probed
    * buckets (asserted in-query). */
  private def textIndexSearch(s: SparkSession, c: String, ns: String,
      docs: DataFrame): DataFrame = {
    val idxT = loadByIdentifier(s, c, ns, "docs_text_idx")
    val props = idxT.metadata.properties
    val nDocs = props("graft.text-index.n-docs").toLong
    val totalDl = props("graft.text-index.total-dl").toLong
    val nb = props("graft.text-index.num-buckets").toInt
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val probes = docs.where(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(split(norm, " "), 1, 4)).as("query"))
    val allFiles = graft.table.Scan(idxT, s).planFiles().size
    graft.ops.Retrieval.bm25FromIndex(
      terms => {
        val buckets = terms.map(term => graft.functions.BucketUtil
          .bucketUTF8(org.apache.spark.unsafe.types.UTF8String
            .fromString(term), nb)).distinct.sorted
        val pruned = graft.table.Scan(idxT, s)
          .filter(Col("tbucket").in(buckets: _*))
        require(pruned.planFiles().size < allFiles,
          s"probed read must partition-prune: ${pruned.planFiles().size}" +
            s" of $allFiles files")
        pruned.toDF
      },
      probes, nDocs, totalDl, k = 10)
      .orderBy("query_id", "rank")
  }

  /** `CALL build_text_index` + [[graft.ops.Retrieval.bm25FromIndex]]:
    * the postings are persisted ONCE as a term-bucket-partitioned
    * table with exact-long corpus stats stamped as properties; a BM25
    * search hashes its query terms to buckets and reads only those
    * partitions. The oracle is e13's full replay (shared
    * `bm25ReplaySql` definition) over the same corpus — the indexed
    * path must land bit-identical scores with zero corpus passes at
    * query time. */
  def i38TextIndexedBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g38" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf38" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g38d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val rep = s.sql(s"CALL $c.system.build_text_index('$ns', 'docs')")
      .collect().head
    require(rep.getString(0) == "docs_text_idx" && rep.getInt(1) == 16 &&
      rep.getLong(2) > 0 && rep.getLong(3) == docs.count(),
      s"index build report: $rep")
    textIndexSearch(s, c, ns, docs)
  }

  val i38Sql: String = OpsQueries.bm25ReplaySql(2, 10)

  /** The incremental text-index chain: full build on HALF the corpus,
    * append the rest, `build_text_index(incremental => true)`. Unlike
    * the ANN chain (frozen centroids), a postings chain is EXACTLY a
    * full rebuild — postings are per-document-independent and the
    * stats additive — so the same full-corpus oracle as i38 gates it
    * bit-for-bit: a chain that dropped, duplicated, or double-counted
    * any appended document's postings or stats hash-fails. Stats
    * equality with a from-scratch recount and the idempotent no-op
    * re-chain are asserted in-query. */
  def i39TextIndexChained(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val c = "g39" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf39" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g39d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id <= $mid")
    s.sql(s"CALL $c.system.build_text_index('$ns', 'docs')").collect()
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id > $mid")
    val rep = s.sql(s"CALL $c.system.build_text_index('$ns', 'docs', " +
      "incremental => true)").collect().head
    // chained stats must equal a from-scratch recount of the FULL corpus
    val (fullDocs, fullDl) = graft.ops.Retrieval.corpusStats(docs)
    val props = loadByIdentifier(s, c, ns, "docs_text_idx")
      .metadata.properties
    require(props("graft.text-index.n-docs").toLong == fullDocs &&
      props("graft.text-index.total-dl").toLong == fullDl,
      s"chained stats must equal a full recount: $props")
    require(rep.getLong(3) == fullDocs, s"chain report $rep")
    val rep2 = s.sql(s"CALL $c.system.build_text_index('$ns', 'docs', " +
      "incremental => true)").collect().head
    require(rep2.getLong(2) == 0L, s"no-op chain must append 0: $rep2")
    textIndexSearch(s, c, ns, docs)
  }

  val i39Sql: String = OpsQueries.bm25ReplaySql(2, 10)

  /** `CALL train_tokenizer` full build: the persisted piece-count
    * ledger plus its stamped total must yield — through the
    * vocab-size-agnostic read path [[graft.ops.Unigram
    * .vocabFromCounts]] — exactly the model the library trains from
    * scratch, so the d46 oracle gates the whole SQL surface: CREATE +
    * INSERT + CALL + ledger read-back + stamped-total qlog. */
  def i46TokenizerTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g46" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf46" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g46d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val rep = s.sql(s"CALL $c.system.train_tokenizer('$ns', 'docs', " +
      s"max_piece_len => ${OpsQueries.D46MaxLen})").collect().head
    require(rep.getString(0) == "docs_tok_model" && rep.getLong(1) > 0 &&
      rep.getLong(2) > 0, s"train report: $rep")
    tokenizerVocab(s, c, ns)
  }

  val i46Sql: String = OpsQueries.d46Sql

  /** Derive the vocabulary from the persisted model table with the
    * stamped total — shared by i46/i47 so both hash against d46's
    * from-scratch oracle. */
  private def tokenizerVocab(s: SparkSession, c: String,
      ns: String): DataFrame = {
    val mdl = loadByIdentifier(s, c, ns, "docs_tok_model")
    val total =
      mdl.metadata.properties("graft.tok-model.total-cnt").toLong
    val ledger = graft.table.Scan(mdl, s).toDF
    graft.ops.Unigram
      .vocabFromCounts(ledger, OpsQueries.D46Vocab, total)._1
      .orderBy("piece")
  }

  /** `train_tokenizer(incremental => true)`: full train on HALF the
    * corpus, append the rest, chain. Piece counts are additive over
    * disjoint doc sets, so the chained ledger (now holding duplicate
    * piece rows that the read path sum-merges) must equal a
    * from-scratch train bit-for-bit — the same "chain == rebuild"
    * contract as the text index. Stamped-total-equals-full-recount
    * and the idempotent no-op re-chain are asserted in-query. */
  def i47TokenizerChained(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val c = "g47" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf47" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g47d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id <= $mid")
    s.sql(s"CALL $c.system.train_tokenizer('$ns', 'docs', " +
      s"max_piece_len => ${OpsQueries.D46MaxLen})").collect()
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id > $mid")
    val rep = s.sql(s"CALL $c.system.train_tokenizer('$ns', 'docs', " +
      "incremental => true)").collect().head
    require(rep.getLong(1) > 0, s"chain must append deltas: $rep")
    // stamped total must equal a from-scratch recount of the corpus
    val fullPc = graft.ops.Unigram.pieceCounts(
      graft.ops.Bpe.wordCounts(docs), OpsQueries.D46MaxLen)
    val fullTotal = fullPc.agg(sum(col("cnt"))).head.getLong(0)
    require(rep.getLong(2) == fullTotal,
      s"chained total ${rep.getLong(2)} != full recount $fullTotal")
    val rep2 = s.sql(s"CALL $c.system.train_tokenizer('$ns', 'docs', " +
      "incremental => true)").collect().head
    require(rep2.getLong(1) == 0L, s"no-op chain must append 0: $rep2")
    tokenizerVocab(s, c, ns)
  }

  val i47Sql: String = OpsQueries.d46Sql

  /** End-to-end deployment from the PERSISTED model: train through
    * SQL, reload the ledger + stamped total through the catalog, and
    * tokenize the whole corpus — per-doc token streams and scores
    * must match d48's from-scratch oracle, gating the persistence
    * round-trip (ledger rows, stamped total, qlog weights) under the
    * real workload. */
  def i48TokenizerApply(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g48" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf48" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g48d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    s.sql(s"CALL $c.system.train_tokenizer('$ns', 'docs', " +
      s"max_piece_len => ${OpsQueries.D46MaxLen})").collect()
    val mdl = loadByIdentifier(s, c, ns, "docs_tok_model")
    val props = mdl.metadata.properties
    val total = props("graft.tok-model.total-cnt").toLong
    val maxLen = props("graft.tok-model.max-piece-len").toInt
    val ledger = graft.table.Scan(mdl, s).toDF
    val (vocab, qlogT) = graft.ops.Unigram
      .vocabFromCounts(ledger, OpsQueries.D46Vocab, total)
    graft.ops.Unigram.tokenize(docs, vocab, qlogT,
        maxPieceLen = maxLen)
      .select(col("doc_id"), concat_ws(" ", col("tokens")).as("toks"),
        col("score"), col("n_pieces"))
      .orderBy("doc_id")
  }

  val i48Sql: String = OpsQueries.d48Sql

  /** `CALL corpus_diff` — state-based snapshot diff: plant an UPDATE
    * wave (10-multiples re-texted), a DELETE wave (13-multiples), and
    * an INSERT wave (17-multiples re-added under new ids), then diff
    * the post-mutation head against the initial snapshot. The
    * added/removed/changed/unchanged counts replay arithmetically in
    * DuckDB; a 130-multiple (updated THEN deleted) must land in
    * `removed` only — state-based, not churn-based. */
  def i49CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g49" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf49" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g49d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val snap0 = loadByIdentifier(s, c, ns, "docs")
      .currentSnapshot.get.snapshotId
    s.sql(s"UPDATE $c.$ns.docs SET text = concat(text, ' v2') " +
      "WHERE doc_id % 10 = 0")
    s.sql(s"DELETE FROM $c.$ns.docs WHERE doc_id % 13 = 0")
    s.sql(s"INSERT INTO $c.$ns.docs " +
      s"SELECT doc_id + 100000, text FROM $tmp WHERE doc_id % 17 = 0")
    s.sql(s"CALL $c.system.corpus_diff('$ns', 'docs', ${snap0}L)")
      .select("added", "removed", "changed", "unchanged")
  }

  /** `CALL train_lm` full build: the persisted gram-count ledger must
    * yield — through the sum-merging read path [[graft.ops.LangModel
    * .scoreWithCounts]] — exactly the scores [[graft.ops.LangModel
    * .trigramBackoff]] computes from scratch, so the d42 oracle gates
    * the whole SQL surface: CREATE + INSERT (the even-doc_id train
    * half) + CALL + ledger read-back + held-out scoring of the full
    * corpus. */
  def i50LmTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g50" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf50" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g50d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      "WHERE doc_id % 2 = 0")
    val rep = s.sql(s"CALL $c.system.train_lm('$ns', 'docs')")
      .collect().head
    require(rep.getString(0) == "docs_lm_model" && rep.getLong(1) > 0 &&
      rep.getLong(2) > 0, s"train report: $rep")
    lmScoreFromModel(s, c, ns, docs)
  }

  val i50Sql: String = OpsQueries.d42Sql

  /** Score the full corpus from the persisted `train_lm` ledger —
    * shared by i50/i51 so both hash against d42's from-scratch
    * oracle. */
  private def lmScoreFromModel(s: SparkSession, c: String, ns: String,
      docs: DataFrame): DataFrame = {
    val mdl = loadByIdentifier(s, c, ns, "docs_lm_model")
    val ledger = graft.table.Scan(mdl, s).toDF
    graft.ops.LangModel.scoreWithCounts(docs, ledger).orderBy("doc_id")
  }

  /** `train_lm(incremental => true)`: full train on a QUARTER of the
    * corpus (doc_id % 4 = 0), append the rest of the even half,
    * chain. Gram counts are additive over disjoint doc sets, so the
    * chained ledger (now holding duplicate gram rows that the read
    * path sum-merges) must equal a from-scratch train on the whole
    * even half bit-for-bit — the "chain == rebuild" contract.
    * Stamped-total-equals-full-recount and the idempotent no-op
    * re-chain are asserted in-query. */
  def i51LmChained(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g51" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf51" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g51d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      "WHERE doc_id % 4 = 0")
    s.sql(s"CALL $c.system.train_lm('$ns', 'docs')").collect()
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      "WHERE doc_id % 2 = 0 AND doc_id % 4 <> 0")
    val rep = s.sql(s"CALL $c.system.train_lm('$ns', 'docs', " +
      "incremental => true)").collect().head
    require(rep.getLong(1) > 0, s"chain must append deltas: $rep")
    // stamped total must equal a from-scratch recount of the corpus
    val evens = docs.where(col("doc_id") % 2 === 0)
    val fullTotal = graft.ops.LangModel.gramCounts(evens)
      .where(col("n") === 1).agg(sum(col("cnt"))).head.getLong(0)
    require(rep.getLong(2) == fullTotal,
      s"chained total ${rep.getLong(2)} != full recount $fullTotal")
    val rep2 = s.sql(s"CALL $c.system.train_lm('$ns', 'docs', " +
      "incremental => true)").collect().head
    require(rep2.getLong(1) == 0L, s"no-op chain must append 0: $rep2")
    lmScoreFromModel(s, c, ns, docs)
  }

  val i51Sql: String = OpsQueries.d42Sql

  /** The CCNet deployment loop from the PERSISTED model: train through
    * SQL on the even half, score the full corpus from the ledger,
    * apply the fixed 1/20 rational cutoff, and roll the verdicts up
    * per language — must match d43's from-scratch filter funnel,
    * gating threshold arithmetic through the persistence round
    * trip. */
  def i52LmFilterIndexed(s: SparkSession, dir: String): DataFrame = {
    val docsFull = s.read.parquet(s"$dir/documents.parquet")
    val docs = docsFull.select("doc_id", "text")
    val c = "g52" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf52" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g52d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      "WHERE doc_id % 2 = 0")
    s.sql(s"CALL $c.system.train_lm('$ns', 'docs')").collect()
    val scored = lmScoreFromModel(s, c, ns, docs)
    val P = graft.ops.LangModel.ProbScale
    docsFull.select("doc_id", "lang").join(scored, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_trigrams") > 0 &&
            col("prob_scaled") * 20L >= col("n_trigrams") * P,
          1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang")
  }

  val i52Sql: String = OpsQueries.d43Sql

  /** `CALL train_classifier` full build: the persisted bucket-count
    * ledger must yield — through the sum-merging read path
    * [[graft.ops.Classifier.weightsFromCounts]] — exactly the model
    * [[graft.ops.Classifier.fit]] learns from scratch, so the d34
    * oracle gates the whole SQL surface: CREATE + INSERT + CALL with
    * a `label_pred` SQL expression (en vs non-en) + ledger read-back
    * + broadcast-join scoring of the full corpus. */
  def i53ClassifierTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text")
    val c = "g53" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf53" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs " +
      "(doc_id BIGINT, lang STRING, text STRING)")
    val tmp = "g53d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val rep = s.sql(s"CALL $c.system.train_classifier('$ns', 'docs', " +
      "'lang = ''en''')").collect().head
    require(rep.getString(0) == "docs_clf_model" && rep.getLong(1) > 0 &&
      rep.getLong(2) > 0 && rep.getLong(3) > 0, s"train report: $rep")
    classifierScoreFromModel(s, c, ns, docs)
  }

  val i53Sql: String = OpsQueries.d34Sql

  /** Score the full corpus from the persisted `train_classifier`
    * ledger — shared by i53/i54 so both hash against d34's
    * from-scratch oracle. */
  private def classifierScoreFromModel(s: SparkSession, c: String,
      ns: String, docs: DataFrame): DataFrame = {
    val mdl = loadByIdentifier(s, c, ns, "docs_clf_model")
    val ledger = graft.table.Scan(mdl, s).toDF
    val model = graft.ops.Classifier.weightsFromCounts(ledger)
    graft.ops.Classifier.linearScore(docs, model).orderBy("doc_id")
  }

  /** `train_classifier(incremental => true)`: full train on HALF the
    * corpus, append the rest, chain with the STAMPED label predicate.
    * Bucket counts are additive over disjoint doc sets, so the
    * chained ledger (duplicate bucket rows, sum-merged at read) must
    * equal a from-scratch fit bit-for-bit. Stamped-totals-equal-
    * full-recount and the idempotent no-op re-chain are asserted
    * in-query. */
  def i54ClassifierChained(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text")
    val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val c = "g54" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf54" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs " +
      "(doc_id BIGINT, lang STRING, text STRING)")
    val tmp = "g54d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id <= $mid")
    s.sql(s"CALL $c.system.train_classifier('$ns', 'docs', " +
      "'lang = ''en''')").collect()
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id > $mid")
    val rep = s.sql(s"CALL $c.system.train_classifier('$ns', 'docs', " +
      "'lang = ''en''', incremental => true)").collect().head
    require(rep.getLong(1) > 0, s"chain must append deltas: $rep")
    // stamped totals must equal a from-scratch recount of the corpus
    val full = graft.ops.Classifier.labelCounts(docs,
      col("lang") === "en")
    val tot = full.agg(sum(col("p_cnt")), sum(col("n_cnt"))).head
    require(rep.getLong(2) == tot.getLong(0) &&
      rep.getLong(3) == tot.getLong(1),
      s"chained totals $rep != full recount $tot")
    val rep2 = s.sql(s"CALL $c.system.train_classifier('$ns', 'docs', " +
      "'lang = ''en''', incremental => true)").collect().head
    require(rep2.getLong(1) == 0L, s"no-op chain must append 0: $rep2")
    classifierScoreFromModel(s, c, ns, docs)
  }

  val i54Sql: String = OpsQueries.d34Sql

  /** `CALL corpus_stats` — the one-CALL corpus audit: row count, NULL
    * texts, exact char/token totals under the shared normalization,
    * and the distinct-token vocabulary size, each replaying verbatim
    * in DuckDB. */
  def i55CorpusStats(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g55" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf55" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g55d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    s.sql(s"CALL $c.system.corpus_stats('$ns', 'docs')")
      .select("n_docs", "null_texts", "total_chars", "total_tokens",
        "distinct_tokens")
  }

  val i55Sql: String =
    raw"""WITH toks AS (
      |  SELECT text,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ',
      |      'g'))), ' ') AS tk,
      |    length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nlen
      |  FROM documents
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS null_texts,
      |  CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars,
      |  CAST(COALESCE(SUM(CASE WHEN text IS NOT NULL AND nlen > 0
      |    THEN len(tk) ELSE 0 END), 0) AS BIGINT) AS total_tokens,
      |  (SELECT CAST(COUNT(DISTINCT w) AS BIGINT)
      |   FROM (SELECT unnest(tk) AS w FROM toks
      |         WHERE text IS NOT NULL AND nlen > 0) u)
      |    AS distinct_tokens
      |FROM toks""".stripMargin

  val i49Sql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS added,
      |  CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS removed,
      |  CAST(SUM(CASE WHEN doc_id % 10 = 0 AND doc_id % 13 <> 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS changed,
      |  CAST(SUM(CASE WHEN doc_id % 10 <> 0 AND doc_id % 13 <> 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
      |FROM documents""".stripMargin

  @volatile private var i40Stash:
    Option[(Seq[Array[Double]], Long)] = None

  /** Streaming ANN ingestion ([[graft.streaming.Streams
    * .AnnIndexIngestSink]]) chained INTO the batch procedure: full
    * `build_ann_index` on half the vectors, two streamed waves through
    * the sink (frozen-model assignment, snapshot stamp advancing with
    * the corpus head), then — interop — a direct append picked up by
    * `build_ann_index(incremental => true)`. The search over the
    * final index must equal the full replay over ALL four vintages
    * with the original model; centroids asserted byte-stable across
    * stream AND procedure chain. */
  def i40StreamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val mid = emb.agg(max(col("vec_id"))).head.getLong(0) / 2
    val c = "g40" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf40" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    s.sql(s"CREATE TABLE $c.$ns.feed (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g40v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp " +
      s"WHERE vec_id <= $mid")
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect()
    val idxT0 = loadByIdentifier(s, c, ns, "vecs_ann_idx")
    val cstamp = idxT0.metadata.properties("graft.ann-index.centroids")
    val pipe = graft.streaming.Streams.annIndexIngestSink(
      loadByIdentifier(s, c, ns, "vecs"), idxT0)
    val q = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns)
      .option("table", "feed")
      .load()
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(b, id))
      .outputMode("append").start()
    try {
      s.sql(s"INSERT INTO $c.$ns.feed SELECT vec_id + 10000000, " +
        s"embedding FROM $tmp WHERE vec_id > $mid")
      q.processAllAvailable()
      s.sql(s"INSERT INTO $c.$ns.feed SELECT vec_id + 20000000, " +
        s"embedding FROM $tmp WHERE vec_id > $mid AND vec_id % 2 = 0")
      q.processAllAvailable()
    } finally q.stop()
    // interop: the batch procedure chains cleanly after the stream —
    // its recorded snapshot tracked the sink head the whole time
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT vec_id + 30000000, " +
      s"embedding FROM $tmp WHERE vec_id > $mid AND vec_id % 3 = 0")
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      "incremental => true)").collect()
    val idxT = loadByIdentifier(s, c, ns, "vecs_ann_idx")
    val props = idxT.metadata.properties
    require(props("graft.ann-index.centroids") == cstamp,
      "neither the stream nor the chain may refit")
    require(props("graft.ann-index.source-snapshot-id").toLong ==
      loadByIdentifier(s, c, ns, "vecs").currentSnapshot.get.snapshotId,
      "stamp must track the corpus head")
    val centroids = graft.ops.Similarity.centroidsFromJson(cstamp)
    i40Stash = Some((centroids, mid))
    val dim = props("graft.ann-index.dim").toInt
    val queries = emb.where(col("vec_id") < 3 &&
      size(col("embedding")) === dim)
    val allFiles = graft.table.Scan(idxT, s).planFiles().size
    graft.ops.Similarity.ivfTopKFromIndex(
      cells => {
        val pruned = graft.table.Scan(idxT, s)
          .filter(Col("cell").in(cells: _*))
        require(pruned.planFiles().size < allFiles,
          s"probed read must partition-prune: ${pruned.planFiles().size}" +
            s" of $allFiles files")
        pruned.toDF
      },
      queries, centroids, k = 5, nprobe = 3)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  private def i40Sql: String = i40Stash match {
    case None => annReplaySql(None)
    case Some((cbs, mid)) => annReplaySql(Some(cbs),
      corpusSql = s"""SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id <= $mid
         |  UNION ALL SELECT vec_id + 10000000, embedding
         |    FROM embeddings WHERE vec_id > $mid
         |  UNION ALL SELECT vec_id + 20000000, embedding
         |    FROM embeddings WHERE vec_id > $mid AND vec_id % 2 = 0
         |  UNION ALL SELECT vec_id + 30000000, embedding
         |    FROM embeddings WHERE vec_id > $mid AND vec_id % 3 = 0"""
        .stripMargin,
      dimSql = "SELECT max(len(embedding)) AS d FROM embeddings " +
        s"WHERE vec_id <= $mid")
  }

  @volatile private var i58Stash: Option[Seq[Array[Double]]] = None

  /** `CALL mmr_search` — diversified retrieval from pure SQL: the
    * cell-pruned IVF top-12 over the persisted `build_ann_index`
    * table re-ranked by maximal marginal relevance (λ = 7/10) over
    * int8-code dot products, external query = vec 0's floats through
    * the JSON round-trip (the i43 pattern). The oracle composes the
    * trained-centroid ANN replay (candidate selection, this run's
    * stash) with the e21 int8-quantize + greedy-unroll CTEs
    * ([[OpsQueries.mmrUnrollSql]] — ONE greedy definition shared with
    * e21), so candidate probing, quantization, every integer margin,
    * and the selection order all sit under one hash gate. */
  def i58SqlMmrSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val c = "g58" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf58" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g58v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp")
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect()
    val props = loadByIdentifier(s, c, ns, "vecs_ann_idx")
      .metadata.properties
    i58Stash = Some(graft.ops.Similarity.centroidsFromJson(
      props("graft.ann-index.centroids")))
    val dim = props("graft.ann-index.dim").toInt
    val qvec = emb.where(col("vec_id") === 0 &&
        size(col("embedding")) === dim)
      .select("embedding").head(1).headOption.getOrElse(
        throw new IllegalStateException("vec 0 missing or wrong-dim"))
      .getSeq[Float](0)
    val json = qvec.mkString("[", ",", "]")
    val out = s.sql(s"CALL $c.system.mmr_search('$ns', " +
      s"'vecs_ann_idx', '$json', 5, 12, 3, 7, 10)")
    val steps = out.orderBy("step").select("step")
      .collect().map(_.getLong(0)).toSeq
    require(steps == (1L to 5L), s"selection steps must be 1..5: $steps")
    out.select("step", "vec_id", "mmr_scaled").orderBy("step")
  }

  private def i58Sql: String = i58Stash match {
    case None =>
      "SELECT CAST(NULL AS BIGINT) AS step, CAST(NULL AS BIGINT) AS " +
        "vec_id, CAST(NULL AS BIGINT) AS mmr_scaled WHERE 1 = 0"
    case Some(cbs) =>
      val (mmrCtes, unions) = OpsQueries.mmrUnrollSql(5, 7L, 10L)
      val code = OpsQueries.int8CodeSql
      raw"""WITH annc AS (
        |  SELECT nid FROM (
        |${annReplaySql(Some(cbs), qSql = Some(
             s"SELECT ${Long.MinValue} AS qid, " +
               "CAST(embedding AS DOUBLE[]) AS qv FROM src WHERE " +
               "vec_id = 0 AND len(embedding) = (SELECT d FROM dim)"),
             k = 12)}) AS g
        |), base AS (
        |  SELECT vec_id,
        |    COALESCE(list_min(CAST(embedding AS DOUBLE[])), 0.0) AS lo,
        |    COALESCE((list_max(CAST(embedding AS DOUBLE[]))
        |      - list_min(CAST(embedding AS DOUBLE[]))) / 255.0, 0.0)
        |      AS scale,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0
        |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(v, x -> $code) END AS codes
        |  FROM base
        |), ccodes AS (
        |  SELECT c.vec_id, c.codes FROM codes c
        |  JOIN annc a ON a.nid = c.vec_id
        |), qc AS (
        |  SELECT codes AS qc FROM codes WHERE vec_id = 0
        |), cand AS (
        |  SELECT CAST(0 AS BIGINT) AS qid, c.vec_id AS nid,
        |    ${OpsQueries.idotSql("q.qc", "c.codes")} AS rel
        |  FROM ccodes c, qc q
        |), sims AS (
        |  SELECT CAST(0 AS BIGINT) AS qid, c1.vec_id AS a,
        |    c2.vec_id AS b,
        |    ${OpsQueries.idotSql("c1.codes", "c2.codes")} AS sim
        |  FROM ccodes c1 JOIN ccodes c2 ON c2.vec_id <> c1.vec_id
        |), $mmrCtes
        |SELECT step, nid AS vec_id, mmr AS mmr_scaled FROM ($unions) u
        |ORDER BY step""".stripMargin
  }

  /** `CALL sample_mixture` — the DoReMi/Pile epoch mixture written as
    * a graft TABLE from pure SQL: same weights (5:3:1:1) and total
    * (40) as d44, so the d44 oracle definition gates the whole
    * surface — JSON weight parsing, the Hamilton apportionment, the
    * md5-hash-ordered per-stratum take, the semi-join back to full
    * rows, and the stratum-partitioned commit. In-query: the report's
    * rows_written must equal the read-back count, and a one-stratum
    * read of the sample must partition-prune. */
  def i59SampleMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text")
    val c = "g59" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf59" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, source STRING, " +
      "text STRING)")
    val tmp = "g59d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val rep = s.sql(s"CALL $c.system.sample_mixture('$ns', 'docs', " +
      """'{"src0": 5, "src1": 3, "src2": 1, "src3": 1}', 40)""")
      .collect().head
    require(rep.getString(0) == "docs_sample" && rep.getLong(2) == 40L
      && rep.getInt(3) == 4, s"report $rep")
    val sampleT = loadByIdentifier(s, c, ns, "docs_sample")
    val got = graft.table.Scan(sampleT, s).toDF
      .select("source", "doc_id").orderBy("source", "doc_id")
    require(rep.getLong(1) == got.count(),
      s"rows_written ${rep.getLong(1)} must equal the read-back count")
    // the sample is stratum-partitioned: a one-domain read prunes
    val allFiles = graft.table.Scan(sampleT, s).planFiles().size
    if (allFiles > 1) {
      val pruned = graft.table.Scan(sampleT, s)
        .filter(Col("source").eqTo("src1")).planFiles().size
      require(pruned < allFiles,
        s"one-stratum read must partition-prune: $pruned of $allFiles")
    }
    got
  }

  private val i59Sql: String = "SELECT source, doc_id FROM (" +
    OpsQueries.d44Sql + ") g ORDER BY source, doc_id"

  /** `CALL sample_budget` — the "N chars per domain" epoch cut
    * written as a graft TABLE: same cost column (n_chars) and budget
    * (4000) as d45, so the d45 oracle definition gates the whole
    * surface. In-query: rows_written == read-back, and the read-back
    * per-stratum cost totals must each respect the budget. */
  def i60SampleBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text", "n_chars")
    val c = "g60" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf60" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, source STRING, " +
      "text STRING, n_chars BIGINT)")
    val tmp = "g60d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val rep = s.sql(s"CALL $c.system.sample_budget('$ns', 'docs', " +
      "'n_chars', 4000)").collect().head
    require(rep.getString(0) == "docs_sample" &&
      rep.getLong(2) == 4000L, s"report $rep")
    val sampleT = loadByIdentifier(s, c, ns, "docs_sample")
    val sample = graft.table.Scan(sampleT, s).toDF
    require(rep.getLong(1) == sample.count(),
      s"rows_written ${rep.getLong(1)} must equal the read-back count")
    val over = sample.groupBy("source")
      .agg(sum(col("n_chars")).as("tot"))
      .where(col("tot") > 4000L).count()
    require(over == 0L, "no stratum may exceed its budget")
    sample.select("source", "doc_id").orderBy("source", "doc_id")
  }

  private val i60Sql: String = "SELECT source, doc_id FROM (" +
    OpsQueries.d45Sql + ") g ORDER BY source, doc_id"

  /** `CALL pack_corpus` — greedy sequence packing materialized as a
    * shard-partitioned graft TABLE from pure SQL: same window (512)
    * and sharding (id div 100) as d21, so the d21 digest oracle gates
    * the whole surface end to end — token sizing, the per-shard
    * greedy fold, the id-ordered text concatenation, and the
    * shard-partitioned commit. In-query: the report's bins/docs must
    * equal the read-back, the read-back must equal the library
    * composition row for row, and a one-shard read partition-prunes. */
  def i61PackCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g61" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf61" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g61d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    val rep = s.sql(s"CALL $c.system.pack_corpus('$ns', 'docs', 512)")
      .collect().head
    require(rep.getString(0) == "docs_packed" && rep.getLong(3) == 512L,
      s"report $rep")
    val packedT = loadByIdentifier(s, c, ns, "docs_packed")
    val got = graft.table.Scan(packedT, s).toDF
    require(rep.getLong(1) == got.count(),
      s"bins_written ${rep.getLong(1)} must equal the read-back count")
    require(rep.getLong(2) == docs.count(),
      s"docs_packed ${rep.getLong(2)} must equal the corpus size")
    // in-query parity: the table IS the library composition (NULL
    // text packs as 0 tokens, the pack_corpus/d9/d21 rule)
    val sized = docs.select(col("doc_id"),
      floor(col("doc_id") / 100).cast("long").as("shard"),
      coalesce(graft.ops.TextAnalysis.tokenCount(col("text")), lit(0L))
        .as("tokens"))
    val lib = graft.ops.Packing.materializePacked(docs,
      graft.ops.Packing.packGreedy(sized, "doc_id", "tokens", "shard",
        capacity = 512))
    require(got.select("shard", "bin", "n_docs", "n_tokens",
        "packed_text").except(lib.select("shard", "bin", "n_docs",
        "n_tokens", "packed_text")).isEmpty &&
        lib.count() == got.count(),
      "pack_corpus table must equal the library packing row for row")
    // shard-partitioned: a one-shard read prunes
    val allFiles = graft.table.Scan(packedT, s).planFiles().size
    if (allFiles > 1) {
      val pruned = graft.table.Scan(packedT, s)
        .filter(Col("shard").eqTo(0L)).planFiles().size
      require(pruned < allFiles,
        s"one-shard read must partition-prune: $pruned of $allFiles")
    }
    got.select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        md5(col("packed_text")).as("packed_fp"))
      .orderBy("shard", "bin")
  }

  private val i61Sql: String = OpsQueries.d21Sql

  /** `CALL pack_corpus(incremental => true)` — the chain: full pack
    * of the first three shards (ids < 300, docs_per_shard 100), the
    * rest of the corpus appended to the source, then one incremental
    * call packs ONLY the appended rows into new shards, stamps
    * riding the same commit. Greedy packing is per-shard-independent
    * and the appended ids open fresh shards, so the chained table
    * must hash-equal the full-corpus d21 replay — the same
    * chain-equals-rebuild contract as every other curation chain
    * (i33/i37/i39/i44/i47/i51/i54). */
  def i63PackChained(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g63" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf63" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g63d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      "WHERE doc_id < 300")
    val rep1 = s.sql(s"CALL $c.system.pack_corpus('$ns', 'docs', 512)")
      .collect().head
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      "WHERE doc_id >= 300")
    val rep2 = s.sql(s"CALL $c.system.pack_corpus('$ns', 'docs', " +
      "512, incremental => true)").collect().head
    require(rep2.getString(0) == "docs_packed" && rep2.getLong(1) > 0,
      s"chain must append bins: $rep2")
    val packedT = loadByIdentifier(s, c, ns, "docs_packed")
    val props = packedT.metadata.properties
    require(props("graft.pack.max-shard").toLong > 2L,
      s"chain must advance max-shard: ${props("graft.pack.max-shard")}")
    val got = graft.table.Scan(packedT, s).toDF
    require(got.count() == rep1.getLong(1) + rep2.getLong(1),
      "read-back bins must equal full + chained bins_written")
    // a second chain with nothing new appends nothing
    val rep3 = s.sql(s"CALL $c.system.pack_corpus('$ns', 'docs', " +
      "512, incremental => true)").collect().head
    require(rep3.getLong(1) == 0L && rep3.getLong(2) == 0L,
      s"an empty chain must write nothing: $rep3")
    got.select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        md5(col("packed_text")).as("packed_fp"))
      .orderBy("shard", "bin")
  }

  private val i63Sql: String = OpsQueries.d21Sql

  @volatile private var i41Stash: Option[Long] = None

  /** Streaming text-index ingestion ([[graft.streaming.Streams
    * .TextIndexIngestSink]]) chained into the batch procedure — the
    * text twin of i40, with the stronger contract: postings being
    * per-document-independent and stats exact-additive, the streamed
    * index IS a full rebuild at every batch boundary, so the search
    * hash-matches the full-corpus replay over all four vintages
    * bit-for-bit. Stats-equal-a-full-recount asserted in-query. */
  def i41StreamTextIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val mid = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val c = "g41" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf41" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    s.sql(s"CREATE TABLE $c.$ns.feed (doc_id BIGINT, text STRING)")
    val tmp = "g41d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp " +
      s"WHERE doc_id <= $mid")
    s.sql(s"CALL $c.system.build_text_index('$ns', 'docs')").collect()
    val pipe = graft.streaming.Streams.textIndexIngestSink(
      loadByIdentifier(s, c, ns, "docs"),
      loadByIdentifier(s, c, ns, "docs_text_idx"))
    val q = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns)
      .option("table", "feed")
      .load()
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(b, id))
      .outputMode("append").start()
    try {
      s.sql(s"INSERT INTO $c.$ns.feed SELECT doc_id + 10000000, " +
        s"text FROM $tmp WHERE doc_id > $mid")
      q.processAllAvailable()
      s.sql(s"INSERT INTO $c.$ns.feed SELECT doc_id + 20000000, " +
        s"text FROM $tmp WHERE doc_id > $mid AND doc_id % 2 = 0")
      q.processAllAvailable()
    } finally q.stop()
    s.sql(s"INSERT INTO $c.$ns.docs SELECT doc_id + 30000000, " +
      s"text FROM $tmp WHERE doc_id > $mid AND doc_id % 3 = 0")
    s.sql(s"CALL $c.system.build_text_index('$ns', 'docs', " +
      "incremental => true)").collect()
    // stream + chain stats must equal a from-scratch recount of the
    // full four-vintage corpus
    val union = docs.where(col("doc_id") <= mid)
      .unionByName(docs.where(col("doc_id") > mid)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .unionByName(docs.where(col("doc_id") > mid &&
          col("doc_id") % 2 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      .unionByName(docs.where(col("doc_id") > mid &&
          col("doc_id") % 3 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"), col("text")))
    val (fullDocs, fullDl) = graft.ops.Retrieval.corpusStats(union)
    val props = loadByIdentifier(s, c, ns, "docs_text_idx")
      .metadata.properties
    require(props("graft.text-index.n-docs").toLong == fullDocs &&
      props("graft.text-index.total-dl").toLong == fullDl,
      s"streamed+chained stats must equal a full recount: $props")
    i41Stash = Some(mid)
    textIndexSearch(s, c, ns, docs)
  }

  private def i41Sql: String = i41Stash match {
    case None => OpsQueries.bm25ReplaySql(2, 10)
    case Some(mid) => OpsQueries.bm25ReplaySql(2, 10,
      corpusSql = s"""SELECT doc_id, text FROM documents
         |    WHERE doc_id <= $mid
         |  UNION ALL SELECT doc_id + 10000000, text
         |    FROM documents WHERE doc_id > $mid
         |  UNION ALL SELECT doc_id + 20000000, text
         |    FROM documents WHERE doc_id > $mid AND doc_id % 2 = 0
         |  UNION ALL SELECT doc_id + 30000000, text
         |    FROM documents WHERE doc_id > $mid AND doc_id % 3 = 0"""
        .stripMargin)
  }

  /** `CALL text_search` — the whole retrieval stack from pure SQL:
    * build the postings index, then search it with a literal query
    * string. The oracle replays full BM25 over the corpus with the
    * SAME query terms (doc 0's first 4 normalized tokens — fully
    * deterministic, no stash), so the procedure's parsing,
    * bucket-pruned load, stamped-stats reload, and scoring all sit
    * under one hash gate. */
  def i42SqlTextSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val c = "g42" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf42" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    val tmp = "g42d_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $tmp")
    s.sql(s"CALL $c.system.build_text_index('$ns', 'docs')").collect()
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val qstr = docs.where(col("doc_id") === 0)
      .select(concat_ws(" ", slice(split(norm, " "), 1, 4)).as("q"))
      .head.getString(0)
    val qlit = qstr.replace("'", "''")
    s.sql(s"CALL $c.system.text_search('$ns', 'docs_text_idx', " +
      s"'$qlit', 10)").orderBy("rank")
  }

  val i42Sql: String = "SELECT rank, doc_id, score_scaled FROM (" +
    OpsQueries.bm25ReplaySql(0, 10, qtermsSql = Some(
      "SELECT 0 AS query_id, UNNEST(list_distinct(tk[1:4])) AS term " +
        "FROM toks WHERE doc_id = 0")) +
    ") AS g ORDER BY rank"

  @volatile private var i43Stash: Option[Seq[Array[Double]]] = None

  /** `CALL ann_search` — IVF search from pure SQL with an EXTERNAL
    * query vector (a JSON number array; here vec 0's own floats, whose
    * shortest-repr round-trip restores them exactly). The oracle
    * replays assignment/probe/re-rank with the trained model and the
    * same query row; rank-only output keeps the hash insensitive to
    * float formatting (e1/e3b pattern). Also pins the sentinel-qid
    * rule: an external query must NOT self-exclude any real corpus
    * id — vec 0 itself must come back as its own rank-1 neighbor. */
  def i43SqlAnnSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val c = "g43" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf43" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g43v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp")
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect()
    val props = loadByIdentifier(s, c, ns, "vecs_ann_idx")
      .metadata.properties
    i43Stash = Some(graft.ops.Similarity.centroidsFromJson(
      props("graft.ann-index.centroids")))
    val dim = props("graft.ann-index.dim").toInt
    val qvec = emb.where(col("vec_id") === 0 &&
        size(col("embedding")) === dim)
      .select("embedding").head(1).headOption.getOrElse(
        throw new IllegalStateException("vec 0 missing or wrong-dim"))
      .getSeq[Float](0)
    val json = qvec.mkString("[", ",", "]")
    val out = s.sql(s"CALL $c.system.ann_search('$ns', 'vecs_ann_idx', " +
      s"'$json', 5, 3)")
    require(out.orderBy("rank").select("nid").head.getLong(0) == 0L,
      "an external copy of vec 0 must rank vec 0 first — the sentinel " +
        "qid must not self-exclude real ids")
    out.select("nid", "rank").orderBy("rank")
  }

  private def i43Sql: String = i43Stash match {
    case None => annReplaySql(None)
    case Some(cbs) => "SELECT nid, rank FROM (" +
      annReplaySql(Some(cbs), qSql = Some(
        s"SELECT ${Long.MinValue} AS qid, " +
          "CAST(embedding AS DOUBLE[]) AS qv FROM src WHERE " +
          "vec_id = 0 AND len(embedding) = (SELECT d FROM dim)")) +
      ") AS g ORDER BY rank"
  }

  @volatile private var i44Stash:
    Option[Seq[Seq[Array[Double]]]] = None

  /** `CALL build_pq_index` + incremental chain +
    * [[graft.ops.Similarity.pqTopKFromCodes]] — the memory-bound ANN
    * index: the corpus is product-quantized ONCE (m small ints per
    * vector) and a search reads the codes table instead of the
    * vectors. Full build on HALF the corpus, append the rest, chain
    * with the STAMPED codebooks (byte-stability and exact-batch-count
    * asserted in-query, plus the idempotent no-op re-chain); the
    * search over the chained codes must equal the trained-model
    * replay over ALL vectors — the shared `pqReplaySql` definition
    * e15b uses, so a chain that dropped, duplicated, or mis-encoded
    * any appended vector hash-fails. */
  def i44PqIndexChained(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val mid = emb.agg(max(col("vec_id"))).head.getLong(0) / 2
    val c = "g44" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf44" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g44v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp " +
      s"WHERE vec_id <= $mid")
    val rep = s.sql(s"CALL $c.system.build_pq_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 4, 8, '', -1, 4242)").collect().head
    require(rep.getString(0) == "vecs_pq_idx" && rep.getInt(1) == 4 &&
      rep.getInt(2) == 8, s"build report: $rep")
    val cstamp = loadByIdentifier(s, c, ns, "vecs_pq_idx")
      .metadata.properties("graft.pq-index.codebooks")
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp " +
      s"WHERE vec_id > $mid")
    val rep2 = s.sql(s"CALL $c.system.build_pq_index('$ns', 'vecs', " +
      "incremental => true)").collect().head
    val idxT = loadByIdentifier(s, c, ns, "vecs_pq_idx")
    val props = idxT.metadata.properties
    require(props("graft.pq-index.codebooks") == cstamp,
      "incremental chain must NOT refit: codebooks changed")
    val dim = props("graft.pq-index.dim").toInt
    val expectNew = emb.where(col("vec_id") > mid &&
      size(col("embedding")) === dim).count()
    require(rep2.getLong(4) == expectNew,
      s"chain must encode exactly the appended max-dim rows: $rep2 " +
        s"vs $expectNew")
    val rep3 = s.sql(s"CALL $c.system.build_pq_index('$ns', 'vecs', " +
      "incremental => true)").collect().head
    require(rep3.getLong(4) == 0L, s"no-op chain must encode 0: $rep3")
    val cbs = graft.ops.Similarity.pqCodebooksFromJson(cstamp,
      props("graft.pq-index.ksub").toInt)
    i44Stash = Some(cbs)
    val queries = emb.where(col("vec_id") < 3 &&
      size(col("embedding")) === dim)
    graft.ops.Similarity.pqTopKFromCodes(
      graft.table.Scan(idxT, s).toDF, queries, cbs, k = 5)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  private def i44Sql: String = OpsQueries.pqReplaySql(i44Stash,
    dimSql = "SELECT max(len(embedding)) AS d FROM embeddings" +
      " WHERE vec_id <= (SELECT max(vec_id) // 2 FROM embeddings)")

  @volatile private var i45Stash:
    Option[Seq[Seq[Array[Double]]]] = None

  /** `CALL pq_search` — ADC retrieval from pure SQL over the persisted
    * codes table with an EXTERNAL query vector (vec 0's floats through
    * the JSON round-trip, the i43 pattern). The oracle replays encode
    * + distance tables + the ADC fold with the trained codebooks and
    * the same sentinel-qid query row; rank-only output. The rank-1
    * self-hit is asserted in-query (ADC of a vector against its own
    * codes is the quantization floor). */
  def i45SqlPqSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val c = "g45" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf45" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g45v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp")
    s.sql(s"CALL $c.system.build_pq_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 4, 8, '', -1, 4242)").collect()
    val props = loadByIdentifier(s, c, ns, "vecs_pq_idx")
      .metadata.properties
    i45Stash = Some(graft.ops.Similarity.pqCodebooksFromJson(
      props("graft.pq-index.codebooks"),
      props("graft.pq-index.ksub").toInt))
    val dim = props("graft.pq-index.dim").toInt
    val qvec = emb.where(col("vec_id") === 0 &&
        size(col("embedding")) === dim)
      .select("embedding").head(1).headOption.getOrElse(
        throw new IllegalStateException("vec 0 missing or wrong-dim"))
      .getSeq[Float](0)
    val json = qvec.mkString("[", ",", "]")
    val out = s.sql(s"CALL $c.system.pq_search('$ns', 'vecs_pq_idx', " +
      s"'$json', 5)")
    require(out.orderBy("rank").select("nid").head.getLong(0) == 0L,
      "the external copy of vec 0 must rank vec 0 first (its own " +
        "codes are the ADC floor) — the sentinel qid must not " +
        "self-exclude real ids")
    out.select("nid", "rank").orderBy("rank")
  }

  private def i45Sql: String = i45Stash match {
    case None => OpsQueries.pqReplaySql(None)
    case Some(cbs) => "SELECT nid, rank FROM (" +
      OpsQueries.pqReplaySql(Some(cbs), qSql = Some(
        s"SELECT ${Long.MinValue} AS qid, " +
          "CAST(embedding AS DOUBLE[]) AS qv FROM src WHERE " +
          "vec_id = 0 AND len(embedding) = (SELECT d FROM dim)")) +
      ") AS g ORDER BY rank"
  }

  @volatile private var i56Stash: Option[Seq[Array[Double]]] = None

  /** `CALL hybrid_search` — RRF fusion over BOTH persisted indexes,
    * the query a retrieval user actually runs: build_text_index +
    * build_ann_index, then one call fuses a bucket-pruned BM25
    * top-20 with a cell-pruned IVF exact-cosine top-20 into the
    * final top-10. The lexical query is doc 0's first four
    * normalized tokens (the i42 probe), the vector query vec 0's
    * floats through the JSON round-trip (the i43 pattern). The gate
    * holds THREE contracts at once: (1) the SQL result must equal
    * the library composition `bm25FromIndex` + `ivfTopKFromIndex` +
    * `rrfFuse` row-for-row, where every library-side index load is
    * REQUIRED in-query to read strictly fewer files than the index
    * holds (bucket/cell partition pruning — the timed path never
    * scans a corpus); (2) the fused scores are exact longs
    * (`RrfScale div (60 + rank)` summed), hash-gated against a
    * DuckDB replay composing the shared `bm25ReplaySql` +
    * `annReplaySql` definitions with the e20 fusion CTE; (3) vec 0
    * must surface in the fused list (its self-hit is the vector
    * rank-1), pinning the no-self-exclusion sentinel rule through
    * the fusion. */
  def i56SqlHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val c = "g56" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf56" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val td = "g56d_" + java.util.UUID.randomUUID.toString.take(8)
    val tv = "g56v_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(td)
    emb.createOrReplaceTempView(tv)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $td")
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tv")
    s.sql(s"CALL $c.system.build_text_index('$ns', 'docs')").collect()
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect()
    val tIdx = loadByIdentifier(s, c, ns, "docs_text_idx")
    val aIdx = loadByIdentifier(s, c, ns, "vecs_ann_idx")
    val tProps = tIdx.metadata.properties
    val aProps = aIdx.metadata.properties
    val centroids = graft.ops.Similarity.centroidsFromJson(
      aProps("graft.ann-index.centroids"))
    i56Stash = Some(centroids)
    val dim = aProps("graft.ann-index.dim").toInt
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val qstr = docs.where(col("doc_id") === 0)
      .select(concat_ws(" ", slice(split(norm, " "), 1, 4)).as("q"))
      .head.getString(0)
    val qvec = emb.where(col("vec_id") === 0 &&
        size(col("embedding")) === dim)
      .select("embedding").head(1).headOption.getOrElse(
        throw new IllegalStateException("vec 0 missing or wrong-dim"))
      .getSeq[Float](0)
    val json = qvec.mkString("[", ",", "]")
    val qlit = qstr.replace("'", "''")
    val out = s.sql(s"CALL $c.system.hybrid_search('$ns', " +
      s"'docs_text_idx', 'vecs_ann_idx', '$qlit', '$json', " +
      "10, 20, 3, 60)").orderBy("rank")
    val sqlRows = out.collect().map(_.toSeq).toSeq
    require(sqlRows.exists(_(1) == 0L),
      "vec 0's self-hit (vector rank 1) must surface in the fused " +
        "top-10 — the sentinel qid must not self-exclude real ids")
    // library-path parity, WITH the pruning asserts the procedure's
    // production path cannot carry (a query touching every bucket is
    // legal there; this probe must prune)
    val nb = tProps("graft.text-index.num-buckets").toInt
    val tAll = graft.table.Scan(tIdx, s).planFiles().size
    val aAll = graft.table.Scan(aIdx, s).planFiles().size
    val probe = s.range(1).select(lit(0L).as("query_id"),
      lit(qstr).as("query"))
    val lex = graft.ops.Retrieval.bm25FromIndex(
      terms => {
        val buckets = terms.map(tm => graft.functions.BucketUtil
          .bucketUTF8(org.apache.spark.unsafe.types.UTF8String
            .fromString(tm), nb)).distinct.sorted
        val pruned = graft.table.Scan(tIdx, s)
          .filter(Col("tbucket").in(buckets: _*))
        require(pruned.planFiles().size < tAll,
          s"probed read must partition-prune: " +
            s"${pruned.planFiles().size} of $tAll files")
        pruned.toDF
      },
      probe, tProps("graft.text-index.n-docs").toLong,
      tProps("graft.text-index.total-dl").toLong, k = 20)
    val qdf = s.range(1).select(lit(Long.MinValue).as("vec_id"),
      typedLit(qvec).as("embedding"))
    val vec = graft.ops.Similarity.ivfTopKFromIndex(
      cells => {
        val pruned = graft.table.Scan(aIdx, s)
          .filter(Col("cell").in(cells: _*))
        require(pruned.planFiles().size < aAll,
          s"probed read must partition-prune: " +
            s"${pruned.planFiles().size} of $aAll files")
        pruned.toDF
      },
      qdf, centroids, k = 20, nprobe = 3)
    val libRows = graft.ops.Retrieval.rrfFuse(Seq(
        lex.select(lit(0L).as("query_id"), col("doc_id"), col("rank")),
        vec.select(lit(0L).as("query_id"), col("nid").as("doc_id"),
          col("rank"))),
        k = 10)
      .select(col("rank"), col("doc_id"), col("rrf_scaled"),
        col("n_lists"))
      .orderBy("rank").collect().map(_.toSeq).toSeq
    require(libRows == sqlRows,
      s"CALL hybrid_search must equal the library composition " +
        s"row-for-row:\n  sql: $sqlRows\n  lib: $libRows")
    out
  }

  /** i56 oracle: the i42 BM25 replay (top-20) and the i43 external-
    * vector ANN replay (top-20, this run's trained centroids) fused
    * with the e20 RRF CTE — all three ingredient definitions shared
    * with their own gates, composed. */
  private def i56Sql: String = i56Stash match {
    case None =>
      "SELECT CAST(NULL AS BIGINT) AS rank, CAST(NULL AS BIGINT) AS " +
        "doc_id, CAST(NULL AS BIGINT) AS rrf_scaled, " +
        "CAST(NULL AS BIGINT) AS n_lists WHERE 1 = 0"
    case Some(cbs) => hybridFusedSql(cbs, 10)
  }

  /** The i56 indexed-hybrid replay parameterized by the fused-list
    * depth `k` — shared verbatim by i56 (k = 10) and i62's
    * diversified re-rank (candidate list, k = 12), per the
    * parameterize-shared-replays rule. */
  private def hybridFusedSql(cbs: Seq[Array[Double]],
      k: Int): String = {
      val R = graft.ops.Retrieval.RrfScale
      raw"""WITH lex AS (
        |  SELECT doc_id, rank FROM (
        |${OpsQueries.bm25ReplaySql(0, 20, qtermsSql = Some(
             "SELECT 0 AS query_id, UNNEST(list_distinct(tk[1:4])) " +
               "AS term FROM toks WHERE doc_id = 0"))}) AS l
        |), vec AS (
        |  SELECT nid AS doc_id, CAST(rank AS BIGINT) AS rank FROM (
        |${annReplaySql(Some(cbs), qSql = Some(
             s"SELECT ${Long.MinValue} AS qid, " +
               "CAST(embedding AS DOUBLE[]) AS qv FROM src WHERE " +
               "vec_id = 0 AND len(embedding) = (SELECT d FROM dim)"),
             k = 20)}) AS a
        |), uni AS (
        |  SELECT doc_id, CAST($R AS BIGINT) // (60 + rank) AS c
        |  FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST($R AS BIGINT) // (60 + rank) AS c
        |  FROM vec
        |), fused AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_scaled,
        |    COUNT(*) AS n_lists
        |  FROM uni GROUP BY 1
        |)
        |SELECT rank, doc_id, rrf_scaled, n_lists FROM (
        |  SELECT doc_id, rrf_scaled, n_lists,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY rrf_scaled DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM fused) r
        |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  @volatile private var i62Stash: Option[Seq[Array[Double]]] = None

  /** Diversified hybrid retrieval — the production RAG shape: the
    * indexed `CALL hybrid_search` top-12 (both persisted indexes,
    * bucket/cell-pruned, the i56 surface) re-ranked with maximal
    * marginal relevance ([[graft.ops.Similarity.mmrDiversify]],
    * λ = 7/10). Relevance is the fused `rrf_scaled` (already an exact
    * integer); pairwise redundancy is the e21 int8-code dot product
    * over the candidate vectors, fetched from the vecs table by id —
    * everything after the hybrid call is candidate-count-sized.
    * Zero new machinery: the gate composes i56's procedure with e21's
    * re-rank, and the oracle composes their replay definitions the
    * same way.
    *
    * Hybrid lists are wider than the vector corpus: a lexical-only
    * hit may have NO embedding (sf0.1 plants exactly this — 5 000
    * docs, 2 000 vectors). Such a candidate contributes zero
    * redundancy: the sims grid is built over ALL ordered candidate
    * pairs with sim = 0 where either side lacks a vector —
    * deliberate zeros, satisfying [[graft.ops.Similarity
    * .mmrDiversify]]'s full-pair-coverage contract explicitly rather
    * than tripping its missing-pair fail-fast. */
  /** Shared i62/i64 fixture: documents + embeddings loaded into graft
    * tables `docs`/`vecs` under a fresh catalog/namespace, BOTH
    * persisted indexes built (`build_text_index`,
    * `build_ann_index(8 cells, seed 4242)`), the 4-term lexical query
    * from doc 0 and the vec-0 query vector extracted. Returns
    * (catalog, namespace, escaped query literal, query-vector JSON,
    * trained centroids, dim). */
  private def hybridIndexSetup(s: SparkSession, dir: String,
      tag: String): (String, String, String, String,
      Seq[Array[Double]], Int) = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val c = tag + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf" + tag + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.docs (doc_id BIGINT, text STRING)")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val td = tag + "d_" + java.util.UUID.randomUUID.toString.take(8)
    val tv = tag + "v_" + java.util.UUID.randomUUID.toString.take(8)
    docs.createOrReplaceTempView(td)
    emb.createOrReplaceTempView(tv)
    s.sql(s"INSERT INTO $c.$ns.docs SELECT * FROM $td")
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tv")
    s.sql(s"CALL $c.system.build_text_index('$ns', 'docs')").collect()
    s.sql(s"CALL $c.system.build_ann_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 8, '', -1, 4242)").collect()
    val aProps = loadByIdentifier(s, c, ns, "vecs_ann_idx")
      .metadata.properties
    val cbs = graft.ops.Similarity.centroidsFromJson(
      aProps("graft.ann-index.centroids"))
    val dim = aProps("graft.ann-index.dim").toInt
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val qstr = docs.where(col("doc_id") === 0)
      .select(concat_ws(" ", slice(split(norm, " "), 1, 4)).as("q"))
      .head.getString(0)
    val qvec = emb.where(col("vec_id") === 0 &&
        size(col("embedding")) === dim)
      .select("embedding").head(1).headOption.getOrElse(
        throw new IllegalStateException("vec 0 missing or wrong-dim"))
      .getSeq[Float](0)
    (c, ns, qstr.replace("'", "''"), qvec.mkString("[", ",", "]"),
      cbs, dim)
  }

  def i62HybridMmr(s: SparkSession, dir: String): DataFrame = {
    val (c, ns, qlit, json, cbs, dim) = hybridIndexSetup(s, dir, "g62")
    i62Stash = Some(cbs)
    // the hybrid CANDIDATE list: fused top-12 (vs i56's final top-10)
    val fused = s.sql(s"CALL $c.system.hybrid_search('$ns', " +
      s"'docs_text_idx', 'vecs_ann_idx', '$qlit', '$json', " +
      "12, 20, 3, 60)")
    val candIds = fused.select("doc_id").collect().map(_.getLong(0))
    require(candIds.length == 12, s"need 12 candidates: $candIds")
    val rel = fused.select(lit(0L).as("qid"),
      col("doc_id").as("nid"), col("rrf_scaled").as("rel"))
    // candidate vectors by id from the vecs table (top-k-sized IN
    // probe; file-stat pruning applies), then the e21 int8 pairwise
    val vecsT = loadByIdentifier(s, c, ns, "vecs")
    val cvecs = graft.table.Scan(vecsT, s)
      .filter(Col("vec_id").in(candIds.map(_.asInstanceOf[AnyRef]): _*))
      .toDF.where(size(col("embedding")) === dim)
    val codes = graft.ops.Similarity.quantizeInt8(cvecs,
      vecCol = "embedding", idCol = "vec_id").select("vec_id", "codes")
    // the FULL ordered pair grid over the candidate list, sim = 0
    // when either side lacks a (right-dim) vector — the shared
    // 0-fill definition ([[graft.ops.Similarity.zeroFilledCodeSims]])
    val sims = graft.ops.Similarity.zeroFilledCodeSims(
      fused, "doc_id", codes, "vec_id")
    val out = graft.ops.Similarity.mmrDiversify(rel, sims, k = 5,
        lamNum = 7L, lamDen = 10L)
      .select(col("step"), col("nid").as("doc_id"), col("mmr_scaled"))
      .orderBy("step")
    val steps = out.select("step").collect().map(_.getLong(0)).toSeq
    require(steps == (1L to 5L), s"selection steps must be 1..5: $steps")
    out
  }

  /** i62 oracle: the shared indexed-hybrid replay
    * ([[hybridFusedSql]], k = 12) as the candidate CTE — rel IS the
    * fused rrf_scaled — composed with e21's int8 code CTEs and the
    * shared MMR greedy unroll ([[OpsQueries.mmrUnrollSql]]). */
  private def i62Sql: String = i62Stash match {
    case None =>
      "SELECT CAST(NULL AS BIGINT) AS step, CAST(NULL AS BIGINT) AS " +
        "doc_id, CAST(NULL AS BIGINT) AS mmr_scaled WHERE 1 = 0"
    case Some(cbs) => hybridMmrReplaySql(cbs, withRrf = false)
  }

  /** The diversified-hybrid replay shared verbatim by i62 (the library
    * composition) and i64 (`CALL hybrid_mmr_search`): the indexed-
    * hybrid fused top-12 as the candidate CTE — rel IS the fused
    * rrf_scaled — composed with e21's int8 code CTEs and the shared
    * MMR greedy unroll ([[OpsQueries.mmrUnrollSql]]). `withRrf` adds
    * the fused relevance column the one-call procedure also returns. */
  private def hybridMmrReplaySql(cbs: Seq[Array[Double]],
      withRrf: Boolean): String = {
      val (mmrCtes, unions) = OpsQueries.mmrUnrollSql(5, 7L, 10L)
      val code = OpsQueries.int8CodeSql
      val tail =
        if (withRrf)
          raw"""SELECT u.step, u.nid AS doc_id, u.mmr AS mmr_scaled,
            |  CAST(g.rrf_scaled AS BIGINT) AS rrf_scaled
            |FROM ($unions) u JOIN cand0 g ON g.doc_id = u.nid
            |ORDER BY u.step""".stripMargin
        else
          raw"""SELECT step, nid AS doc_id, mmr AS mmr_scaled
            |FROM ($unions) u ORDER BY step""".stripMargin
      raw"""WITH cand0 AS (
        |  SELECT doc_id, rrf_scaled FROM (
        |${hybridFusedSql(cbs, 12)}) AS h
        |), base AS (
        |  SELECT vec_id,
        |    COALESCE(list_min(CAST(embedding AS DOUBLE[])), 0.0) AS lo,
        |    COALESCE((list_max(CAST(embedding AS DOUBLE[]))
        |      - list_min(CAST(embedding AS DOUBLE[]))) / 255.0, 0.0)
        |      AS scale,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0
        |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(v, x -> $code) END AS codes
        |  FROM base
        |), cand AS (
        |  SELECT CAST(0 AS BIGINT) AS qid, g.doc_id AS nid,
        |    CAST(g.rrf_scaled AS BIGINT) AS rel
        |  FROM cand0 g
        |), sims AS (
        |  SELECT CAST(0 AS BIGINT) AS qid, g1.doc_id AS a,
        |    g2.doc_id AS b,
        |    COALESCE(
        |      ${OpsQueries.idotSql("c1.codes", "c2.codes")}, 0) AS sim
        |  FROM cand0 g1
        |  JOIN cand0 g2 ON g2.doc_id <> g1.doc_id
        |  LEFT JOIN codes c1 ON c1.vec_id = g1.doc_id
        |  LEFT JOIN codes c2 ON c2.vec_id = g2.doc_id
        |), $mmrCtes
        |$tail""".stripMargin
  }

  @volatile private var i64Stash: Option[Seq[Array[Double]]] = None

  /** `CALL hybrid_mmr_search` — the i62 composition as ONE procedure
    * call, the SQL surface a RAG user actually runs: fused hybrid
    * top-12 over both persisted indexes re-ranked by maximal marginal
    * relevance, vectors for the redundancy term fetched from the ANN
    * index itself by a top-k-sized id probe (no source table touched
    * at query time). In-query, the procedure's rows are asserted
    * equal, step for step, to the explicitly composed replay —
    * `CALL hybrid_search` top-12 piped through
    * [[graft.ops.Similarity.mmrDiversify]], the i62-gated shape —
    * including the fused-relevance column the one-call form carries
    * along. sf0.1 plants a lexical-only candidate with NO indexed
    * vector, exercising the deliberate-0-sim path through the
    * procedure too. */
  def i64HybridMmrProc(s: SparkSession, dir: String): DataFrame = {
    val (c, ns, qlit, json, cbs, dim) = hybridIndexSetup(s, dir, "g64")
    i64Stash = Some(cbs)
    val out = s.sql(s"CALL $c.system.hybrid_mmr_search('$ns', " +
      s"'docs_text_idx', 'vecs_ann_idx', '$qlit', '$json', " +
      "5, 12, 20, 3, 60, 7, 10)")
      .orderBy("step")
    // library-parity: compose the same answer from the already-gated
    // pieces (the i62 shape) and require row-for-row equality
    val fused = s.sql(s"CALL $c.system.hybrid_search('$ns', " +
      s"'docs_text_idx', 'vecs_ann_idx', '$qlit', '$json', " +
      "12, 20, 3, 60)")
    val rel = fused.select(lit(0L).as("qid"),
      col("doc_id").as("nid"), col("rrf_scaled").as("rel"))
    val candIds = fused.select("doc_id").collect().map(_.getLong(0))
    val vecsT = loadByIdentifier(s, c, ns, "vecs")
    val cvecs = graft.table.Scan(vecsT, s)
      .filter(Col("vec_id").in(candIds.map(_.asInstanceOf[AnyRef]): _*))
      .toDF.where(size(col("embedding")) === dim)
    val codes = graft.ops.Similarity.quantizeInt8(cvecs,
      vecCol = "embedding", idCol = "vec_id").select("vec_id", "codes")
    val sims = graft.ops.Similarity.zeroFilledCodeSims(
      fused, "doc_id", codes, "vec_id")
    val lib = graft.ops.Similarity.mmrDiversify(rel, sims, k = 5,
        lamNum = 7L, lamDen = 10L)
      .join(fused.select(col("doc_id").as("nid"), col("rrf_scaled")),
        Seq("nid"))
      .select(col("step"), col("nid").as("doc_id"),
        col("mmr_scaled"), col("rrf_scaled"))
      .orderBy("step")
    val libRows = lib.collect().map(_.toSeq).toSeq
    val sqlRows = out.collect().map(_.toSeq).toSeq
    require(libRows == sqlRows,
      s"CALL hybrid_mmr_search must equal the library composition " +
        s"row-for-row:\n  sql: $sqlRows\n  lib: $libRows")
    out
  }

  /** i64 oracle: the SAME replay as i62 ([[hybridMmrReplaySql]]) plus
    * the fused-relevance column. */
  private def i64Sql: String = i64Stash match {
    case None =>
      "SELECT CAST(NULL AS BIGINT) AS step, CAST(NULL AS BIGINT) AS " +
        "doc_id, CAST(NULL AS BIGINT) AS mmr_scaled, " +
        "CAST(NULL AS BIGINT) AS rrf_scaled WHERE 1 = 0"
    case Some(cbs) => hybridMmrReplaySql(cbs, withRrf = true)
  }

  @volatile private var i57Stash:
    Option[(Seq[Seq[Array[Double]]], Long)] = None

  /** Streaming PQ ingestion ([[graft.streaming.Streams
    * .PqIndexIngestSink]]) chained INTO the batch procedure — closes
    * the one pipeline component that had unit-only coverage: full
    * `build_pq_index` on half the vectors, two streamed waves through
    * the sink (frozen-codebook encoding per micro-batch, snapshot
    * stamp advancing with the corpus head), then — interop — a direct
    * append picked up by `build_pq_index(incremental => true)`. Codes
    * are per-row deterministic under the frozen model, so the ADC
    * search over the final codes table must equal the trained-model
    * replay over ALL four vintages ([[OpsQueries.pqReplaySql]] — the
    * e15b/i44 shared oracle definition); codebooks asserted
    * byte-stable across stream AND procedure chain, and the stamp
    * must track the corpus head. */
  def i57StreamPqIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val mid = emb.agg(max(col("vec_id"))).head.getLong(0) / 2
    val c = "g57" + java.util.UUID.randomUUID.toString.take(8)
    s.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$c.warehouse", warehouse)
    val ns = "sf57" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8)
    s.sql(s"CREATE NAMESPACE $c.$ns")
    s.sql(s"CREATE TABLE $c.$ns.vecs (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    s.sql(s"CREATE TABLE $c.$ns.feed (vec_id BIGINT, " +
      "embedding ARRAY<FLOAT>)")
    val tmp = "g57v_" + java.util.UUID.randomUUID.toString.take(8)
    emb.createOrReplaceTempView(tmp)
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT * FROM $tmp " +
      s"WHERE vec_id <= $mid")
    s.sql(s"CALL $c.system.build_pq_index('$ns', 'vecs', " +
      s"'embedding', 'vec_id', 4, 8, '', -1, 4242)").collect()
    val idxT0 = loadByIdentifier(s, c, ns, "vecs_pq_idx")
    val cstamp = idxT0.metadata.properties("graft.pq-index.codebooks")
    val pipe = graft.streaming.Streams.pqIndexIngestSink(
      loadByIdentifier(s, c, ns, "vecs"), idxT0)
    val q = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns)
      .option("table", "feed")
      .load()
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(b, id))
      .outputMode("append").start()
    try {
      s.sql(s"INSERT INTO $c.$ns.feed SELECT vec_id + 10000000, " +
        s"embedding FROM $tmp WHERE vec_id > $mid")
      q.processAllAvailable()
      s.sql(s"INSERT INTO $c.$ns.feed SELECT vec_id + 20000000, " +
        s"embedding FROM $tmp WHERE vec_id > $mid AND vec_id % 2 = 0")
      q.processAllAvailable()
    } finally q.stop()
    // interop: the batch procedure chains cleanly after the stream —
    // its recorded snapshot tracked the sink head the whole time
    s.sql(s"INSERT INTO $c.$ns.vecs SELECT vec_id + 30000000, " +
      s"embedding FROM $tmp WHERE vec_id > $mid AND vec_id % 3 = 0")
    s.sql(s"CALL $c.system.build_pq_index('$ns', 'vecs', " +
      "incremental => true)").collect()
    val idxT = loadByIdentifier(s, c, ns, "vecs_pq_idx")
    val props = idxT.metadata.properties
    require(props("graft.pq-index.codebooks") == cstamp,
      "neither the stream nor the chain may refit")
    require(props("graft.pq-index.source-snapshot-id").toLong ==
      loadByIdentifier(s, c, ns, "vecs").currentSnapshot.get.snapshotId,
      "stamp must track the corpus head")
    val cbs = graft.ops.Similarity.pqCodebooksFromJson(cstamp,
      props("graft.pq-index.ksub").toInt)
    i57Stash = Some((cbs, mid))
    val dim = props("graft.pq-index.dim").toInt
    val queries = emb.where(col("vec_id") < 3 &&
      size(col("embedding")) === dim)
    graft.ops.Similarity.pqTopKFromCodes(
      graft.table.Scan(idxT, s).toDF, queries, cbs, k = 5)
      .select("qid", "nid", "rank")
      .orderBy("qid", "rank")
  }

  private def i57Sql: String = i57Stash match {
    case None => OpsQueries.pqReplaySql(None)
    case Some((cbs, mid)) => OpsQueries.pqReplaySql(Some(cbs),
      corpusSql = s"""SELECT vec_id, embedding FROM embeddings
         |    WHERE vec_id <= $mid
         |  UNION ALL SELECT vec_id + 10000000, embedding
         |    FROM embeddings WHERE vec_id > $mid
         |  UNION ALL SELECT vec_id + 20000000, embedding
         |    FROM embeddings WHERE vec_id > $mid AND vec_id % 2 = 0
         |  UNION ALL SELECT vec_id + 30000000, embedding
         |    FROM embeddings WHERE vec_id > $mid AND vec_id % 3 = 0"""
        .stripMargin,
      dimSql = "SELECT max(len(embedding)) AS d FROM embeddings " +
        s"WHERE vec_id <= $mid")
  }

  val i35Sql: String =
    """WITH basefp AS (
      |  SELECT DISTINCT
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents WHERE doc_id < 50 AND text IS NOT NULL
      |), w1 AS (
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
      |  WHERE doc_id < 50
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' zzq1' FROM documents
      |  WHERE doc_id < 50
      |  UNION ALL
      |  SELECT doc_id + 4000000, text || ' zzq1' FROM documents
      |  WHERE doc_id < 50
      |), w1fp AS (
      |  SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM w1 WHERE text IS NOT NULL
      |), w1keep AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM w1fp WHERE fp NOT IN (SELECT fp FROM basefp)
      |  ) WHERE rn = 1
      |  UNION ALL
      |  SELECT doc_id FROM w1 WHERE text IS NULL
      |), seen2 AS (
      |  SELECT fp FROM basefp
      |  UNION
      |  SELECT fp FROM w1fp WHERE doc_id IN (SELECT doc_id FROM w1keep)
      |), w2 AS (
      |  SELECT doc_id + 5000000 AS doc_id, text || ' zzq1' AS text
      |  FROM documents WHERE doc_id < 50
      |  UNION ALL
      |  SELECT doc_id + 6000000, text || ' zzq2' FROM documents
      |  WHERE doc_id < 50
      |), w2fp AS (
      |  SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM w2 WHERE text IS NOT NULL
      |), w2keep AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM w2fp WHERE fp NOT IN (SELECT fp FROM seen2)
      |  ) WHERE rn = 1
      |  UNION ALL
      |  SELECT doc_id FROM w2 WHERE text IS NULL
      |)
      |SELECT doc_id FROM w1keep
      |UNION ALL SELECT doc_id FROM w2keep
      |ORDER BY doc_id""".stripMargin

  def i21IngestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") < 50).select("doc_id", "text")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf21" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = Table.create(cat, TableIdentifier(ns, "crawl"),
      SchemaConverters.fromSparkSchema(base.schema), io = io)
    def wave(idOffset: Long, suffix: String) = base.select(
      (col("doc_id") + idOffset).as("doc_id"),
      (if (suffix.isEmpty) col("text")
       else concat(col("text"), lit(suffix))).as("text"))
    t = TableOps.append(t, wave(2000000L, "") // exact corpus re-crawl
      .unionByName(wave(3000000L, " zzq1"))   // fresh
      .unionByName(wave(4000000L, " zzq1")))  // in-batch duplicate
    val qn = "graft_i21_" + java.util.UUID.randomUUID.toString.take(8)
    val stream = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "crawl")
      .load()
    val q = graft.streaming.Streams.dedupIngest(stream, docs)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: wave 1
      TableOps.append(t, wave(5000000L, " zzq1") // cross-batch replay
        .unionByName(wave(6000000L, " zzq2")))   // second fresh wave
      q.processAllAvailable() // batch 2
    } finally q.stop()
    s.table(qn)
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("fp")
  }

  /** Stateful-streaming gate ([[graft.streaming.Streams.sessionize]] —
    * the `flatMapGroupsWithState` per-key state machine was unit-only
    * until now; i21/i23 gate the dedup and window paths, this gates
    * CUSTOM state). Planted per-user events land in a graft table in
    * two appends and stream through the real state fold; the final
    * per-user state (monotone across Update-mode emissions, so
    * `max` recovers it from the memory sink's batch history) must
    * equal DuckDB's direct rollup. Values are exact quarter doubles
    * (`(id % 16) · 0.25` — dyadic rationals whose partial sums are all
    * representable), so the fold's total is order-independent and the
    * gate hashes exactly. */
  def i24StatefulSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val planted = docs.where(col("doc_id") < 200).select(
      pmod(col("doc_id"), lit(10)).cast("long").as("user_id"),
      (pmod(col("doc_id"), lit(16)).cast("double") * 0.25).as("value"),
      col("doc_id").as("ts"))
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf24" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    var t = Table.create(cat, TableIdentifier(ns, "clicks"),
      SchemaConverters.fromSparkSchema(planted.schema), io = io)
    t = TableOps.append(t, planted.where(col("ts") < 100))
    val qn = "graft_i24_" + java.util.UUID.randomUUID.toString.take(8)
    val stream = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "clicks")
      .load()
      .select(col("user_id").as("_1"), col("value").as("_2"),
        col("ts").as("_3")).as[(Long, Double, Long)]
    val q = graft.streaming.Streams.sessionize(stream)
      .writeStream.format("memory").queryName(qn)
      .outputMode("update").start()
    try {
      q.processAllAvailable() // batch 1: first wave builds state
      TableOps.append(t, planted.where(col("ts") >= 100))
      q.processAllAvailable() // batch 2: state carries across batches
    } finally q.stop()
    s.table(qn).groupBy(col("userId").as("user_id"))
      .agg(max(col("nEvents")).as("n_events"),
        max(col("totalValue")).as("total_value"))
      .orderBy("user_id")
  }

  val i24Sql: String =
    """WITH ev AS (
      |  SELECT doc_id % 10 AS user_id,
      |    (doc_id % 16) * CAST(0.25 AS DOUBLE) AS value
      |  FROM documents WHERE doc_id < 200
      |)
      |SELECT user_id, COUNT(*) AS n_events, SUM(value) AS total_value
      |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `add_files` import gate ([[TableOps.addFiles]]): the ORIGINAL
    * testdata parquet is registered in place — no rewrite, no copy —
    * and read back through the full engine path (manifest plan →
    * footer-harvested stats → scan); the `doc_id >= 0` filter runs the
    * pruner over the harvested stats, proving a foreign-written file
    * prunes like a native one. Hash gate = every
    * row and column of the source file. */
  def i25AddFiles(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val df = s.read.parquet(path)
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf25" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    val t0 = Table.create(cat, TableIdentifier(ns, "docs_import"),
      SchemaConverters.fromSparkSchema(df.schema), io = io)
    val t1 = TableOps.addFiles(t0, s, Seq(path))
    Scan(t1, s)
      .filter(Col("doc_id").gte(0L))  // exercise pruning over harvested stats
      .toDF.orderBy("doc_id")
  }

  val i25Sql: String =
    """SELECT * FROM documents WHERE doc_id >= 0 ORDER BY doc_id""".stripMargin

  /** Bounded-state streaming dedup gate
    * ([[graft.streaming.Streams.dedupIngestBounded]] — the
    * watermark-expiring variant of i21). Same planted re-crawl, all
    * event times inside the horizon, so within-horizon semantics equal
    * full dedup and the i21-style oracle applies; the EXPIRY behavior
    * (a duplicate arriving past the horizon survives) is
    * timing-sensitive by design and stays unit-gated
    * (StreamsSpec "dedupIngestBounded"). */
  def i26BoundedIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") < 50).select("doc_id", "text")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf26" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    def wave(idOffset: Long, suffix: String) = base.select(
      (col("doc_id") + idOffset).as("doc_id"),
      (if (suffix.isEmpty) col("text")
       else concat(col("text"), lit(suffix))).as("text"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("ts"))
    var t = Table.create(cat, TableIdentifier(ns, "crawl"),
      SchemaConverters.fromSparkSchema(wave(0L, "").schema), io = io)
    t = TableOps.append(t, wave(2000000L, "")
      .unionByName(wave(3000000L, " zzq1"))
      .unionByName(wave(4000000L, " zzq1")))
    val qn = "graft_i26_" + java.util.UUID.randomUUID.toString.take(8)
    val stream = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "crawl")
      .load()
    val q = graft.streaming.Streams.dedupIngestBounded(stream, docs,
        tsCol = "ts", delay = "1 hour")
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      TableOps.append(t, wave(5000000L, " zzq1")
        .unionByName(wave(6000000L, " zzq2")))
      q.processAllAvailable()
    } finally q.stop()
    s.table(qn)
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("fp")
  }

  /** Expiry-semantics driver gate for
    * [[graft.streaming.Streams.dedupIngestBounded]] (i26 pins the
    * in-horizon behavior; this pins the HORIZON RULE itself): wave A
    * (novel texts, event time 00:00) is accepted and enters state;
    * wave B (other novel texts, 10:00) advances the watermark to
    * 09:00, eight hours past wave A's 01:00 state expiry; wave C
    * re-sends wave A's exact texts at 10:00 — past the horizon, so
    * the expired fingerprints are ADMITTED AGAIN. The gate hashes
    * per-fingerprint accepted counts: 2 for every wave-A text, 1 for
    * every wave-B text. Deterministic because each wave lands in its
    * own micro-batch (appends interleave with processAllAvailable)
    * and the watermark delta (8 h) dwarfs the 1 h delay. */
  def i26bExpiryReadmit(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") < 50).select("doc_id", "text")
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf26b" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    def wave(idOffset: Long, suffix: String, tsLit: String) = base.select(
      (col("doc_id") + idOffset).as("doc_id"),
      concat(col("text"), lit(suffix)).as("text"),
      to_timestamp(lit(tsLit)).as("ts"))
    var t = Table.create(cat, TableIdentifier(ns, "crawl"),
      SchemaConverters.fromSparkSchema(
        wave(0L, "", "2026-01-01 00:00:00").schema), io = io)
    t = TableOps.append(t, wave(2000000L, " zza", "2026-01-01 00:00:00"))
    val qn = "graft_i26b_" + java.util.UUID.randomUUID.toString.take(8)
    val stream = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "crawl")
      .load()
    val q = graft.streaming.Streams.dedupIngestBounded(stream, docs,
        tsCol = "ts", delay = "1 hour")
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: wave A admitted, state built
      t = TableOps.append(t,
        wave(3000000L, " zzb", "2026-01-01 10:00:00"))
      q.processAllAvailable() // batch 2: watermark -> 09:00, A expired
      TableOps.append(t, wave(4000000L, " zza", "2026-01-01 10:00:00"))
      q.processAllAvailable() // batch 3: wave A texts re-admitted
    } finally q.stop()
    s.table(qn)
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n"))
      .orderBy("fp")
  }

  val i26bSql: String =
    """WITH a AS (
      |  SELECT DISTINCT md5(lower(trim(
      |    regexp_replace(text || ' zza', '\s+', ' ', 'g')))) AS fp
      |  FROM documents WHERE doc_id < 50 AND text IS NOT NULL
      |), b AS (
      |  SELECT DISTINCT md5(lower(trim(
      |    regexp_replace(text || ' zzb', '\s+', ' ', 'g')))) AS fp
      |  FROM documents WHERE doc_id < 50 AND text IS NOT NULL
      |)
      |SELECT fp, n FROM (
      |  SELECT fp, CAST(2 AS BIGINT) AS n FROM a
      |  UNION ALL
      |  SELECT fp, CAST(1 AS BIGINT) AS n FROM b
      |  UNION ALL
      |  -- NULL-text rows bypass the dedup state (never collapsed):
      |  -- every wave delivers each of them once — 3 waves here
      |  SELECT CAST(NULL AS VARCHAR) AS fp, 3 * COUNT(*) AS n
      |  FROM documents WHERE doc_id < 50 AND text IS NULL
      |  HAVING COUNT(*) > 0
      |) ORDER BY fp""".stripMargin

  val i21Sql: String =
    """WITH corpus AS (
      |  SELECT DISTINCT
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |  FROM documents
      |), w1 AS (
      |  SELECT DISTINCT md5(lower(trim(
      |    regexp_replace(text || ' zzq1', '\s+', ' ', 'g')))) AS fp
      |  FROM documents WHERE doc_id < 50 AND text IS NOT NULL
      |), w2 AS (
      |  SELECT DISTINCT md5(lower(trim(
      |    regexp_replace(text || ' zzq2', '\s+', ' ', 'g')))) AS fp
      |  FROM documents WHERE doc_id < 50 AND text IS NOT NULL
      |)
      |SELECT fp FROM (SELECT fp FROM w1 UNION SELECT fp FROM w2) u
      |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = u.fp)
      |UNION ALL
      |-- NULL-text rows bypass the ingest-dedup state (a missing body
      |-- is never "the same document"): every delivery passes each of
      |-- them through — the fixture delivers its waves 5 times
      |SELECT CAST(NULL AS VARCHAR) AS fp
      |FROM documents CROSS JOIN generate_series(1, 5)
      |WHERE doc_id < 50 AND text IS NULL
      |ORDER BY fp""".stripMargin

  /** Watermarked windowed-aggregation gate
    * ([[graft.streaming.Streams.windowedRollup]] was unit-only until
    * now — the i21 pattern applied to the window/watermark machinery).
    * The events table lands in a graft table, streams back out through
    * the graft source, and rolls up per (1-hour tumbling window,
    * event_type) with a watermark. Values are cast to DECIMAL(18,2)
    * BEFORE the stream so the streamed sum is exact and
    * order-independent (a double sum's value depends on micro-batch
    * arrival order — unhashable); tumbling 1-hour windows align to
    * epoch hours, so DuckDB reproduces the window key as
    * `date_trunc('hour', ts)`. Complete output mode drains every
    * window regardless of where the watermark stops. */
  def i23WindowedRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = CoreQueries.events(s, dir)
      .select(col("ts"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
    val cat = new LocalCatalog(warehouse)
    val ns = Seq("sf23" + dir.replaceAll("[^0-9a-zA-Z]", "_") + "_" +
      java.util.UUID.randomUUID.toString.take(8))
    cat.createNamespace(ns)
    val t = Table.create(cat, TableIdentifier(ns, "evs"),
      SchemaConverters.fromSparkSchema(ev.schema), io = io)
    TableOps.append(t, ev)
    val qn = "graft_i23_" + java.util.UUID.randomUUID.toString.take(8)
    val stream = s.readStream.format("graft")
      .option("warehouse", warehouse)
      .option("namespace", ns.mkString("."))
      .option("table", "evs")
      .load()
    val q = graft.streaming.Streams.windowedRollup(stream,
        window_ = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName(qn)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
      .select(col("event_type"),
        unix_micros(col("window.start")).as("hour_us"),
        col("n"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("event_type", "hour_us")
  }

  val i23Sql: String =
    """-- NULL-timestamp events carry no window: Spark's TimeWindowing
      |-- rule filters them before the streaming aggregate, so the
      |-- replay must too (a batch date_trunc would keep a NULL group)
      |SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Global aggregates through the CatalogPlugin, answered ENTIRELY
    * from manifest statistics (complete aggregate pushdown): the plan
    * is a one-row `graft-agg` scan with zero data-file I/O at any
    * scale. A hash match proves the footer-harvested stats (record
    * counts, typed bounds, NaN counts) reproduce the data-derived
    * answer exactly. */
  def sql9AggStats(s: SparkSession, dir: String): DataFrame = {
    lineitemTable(s, dir) // materialize into the warehouse
    val ns = "sf" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    val cname = "gq9"
    s.conf.set(s"spark.sql.catalog.$cname",
      "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$cname.warehouse", warehouse)
    s.sql(
      s"""SELECT COUNT(*) AS cnt, MIN(l_orderkey) AS min_key,
         |  MAX(l_orderkey) AS max_key, MIN(l_quantity) AS min_qty,
         |  MAX(l_quantity) AS max_qty
         |FROM $cname.$ns.lineitem""".stripMargin)
  }

  val sql9Sql: String =
    """SELECT COUNT(*) AS cnt, MIN(l_orderkey) AS min_key,
      |  MAX(l_orderkey) AS max_key, MIN(l_quantity) AS min_qty,
      |  MAX(l_quantity) AS max_qty
      |FROM lineitem""".stripMargin

  /** Storage-partitioned join through the CatalogPlugin: orders and
    * lineitem both bucket(8) on the order key, joined under
    * `spark.sql.sources.v2.bucketing.enabled` with a MERGE hint — the
    * scans report `KeyGroupedPartitioning`, so the join runs with no
    * shuffle on either side (SpjSpec asserts the plan shape; this gate
    * proves the co-located join's RESULT matches DuckDB). */
  def sql10SpjJoin(s: SparkSession, dir: String): DataFrame = {
    lineitemBucketed(s, dir)
    ordersBucketed(s, dir)
    val ns = "sfb" + dir.replaceAll("[^0-9a-zA-Z]", "_")
    val cname = "gq10"
    s.conf.set(s"spark.sql.catalog.$cname",
      "graft.sources.GraftSparkCatalog")
    s.conf.set(s"spark.sql.catalog.$cname.warehouse", warehouse)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      s"""SELECT /*+ MERGE(l) */ o.o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_qty
         |FROM $cname.$ns.orders o
         |JOIN $cname.$ns.lineitem l ON o.o_orderkey = l.l_orderkey
         |GROUP BY o.o_orderstatus
         |ORDER BY o.o_orderstatus""".stripMargin)
  }

  val sql10Sql: String =
    """SELECT o.o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_qty
      |FROM orders o
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderstatus
      |ORDER BY o.o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i1_scan_filter" -> (i1ScanFilter _),
    "i2_scan_complex_pred" -> (i2ComplexPredicate _),
    "i3_time_travel" -> (i3TimeTravel _),
    "i4_metadata_count" -> (i4MetadataCount _),
    "i5_multi_snapshot" -> (i5MultiSnapshot _),
    "i6_partitioned_month" -> (i6PartitionedMonth _),
    "i7_bucket_eq" -> (i7BucketEq _),
    "i8_schema_evolution" -> (i8SchemaEvolution _),
    "i9_events_ingest" -> (i9EventsIngest _),
    "i10_compaction" -> (i10Compaction _),
    "i11_ref_read" -> (i11RefRead _),
    "i12_incremental" -> (i12Incremental _),
    "i13_spec_evolution" -> (i13SpecEvolution _),
    "i14_readstream_drain" -> (i14ReadStreamDrain _),
    "sql1_scan_filter" -> (sql1ScanFilter _),
    "sql2_partition_prune" -> (sql2PartitionPrune _),
    "sql3_bucket_eq" -> (sql3BucketEq _),
    "sql4_mor_read" -> (sql4MorRead _),
    "sql5_catalog_mor" -> (sql5CatalogMor _),
    "sql6_sql_update" -> (sql6SqlUpdate _),
    "sql7_sql_merge" -> (sql7SqlMerge _),
    "sql8_merge_delete" -> (sql8MergeDelete _),
    "sql9_agg_stats" -> (sql9AggStats _),
    "sql10_spj_join" -> (sql10SpjJoin _),
    "i15_writestream_sink" -> (i15WriteStreamSink _),
    "i16_stream_mor" -> (i16StreamMor _),
    "i17_partitions_meta" -> (i17PartitionsMeta _),
    "i18_changelog" -> (i18Changelog _),
    "i27_changelog_updates" -> (i27ChangelogUpdates _),
    "i28_changelog_net" -> (i28ChangelogNet _),
    "i29_dedup_table" -> (i29DedupTable _),
    "i29b_dedup_table_minhash" -> (i29bDedupTableMinhash _),
    "i29c_dedup_table_best" -> (i29cDedupTableBest _),
    "i30_cherrypick_snapshot" -> (i30CherrypickSnapshot _),
    "i31_rewrite_pos_deletes" -> (i31RewritePositionDeletes _),
    "i32_rewrite_eq_deletes" -> (i32RewriteEqualityDeletes _),
    "i33_dedup_incremental" -> (i33DedupIncremental _),
    "i33b_dedup_incr_minhash" -> (i33bDedupIncrementalMinhash _),
    "i34_dedup_indexed" -> (i34DedupIndexed _),
    "i34b_dedup_indexed_exact" -> (i34bDedupIndexedExact _),
    "i35_stream_indexed_dedup" -> (i35StreamIndexedDedup _),
    "i36_ann_indexed_search" -> (i36AnnIndexedSearch _),
    "i37_ann_index_chained" -> (i37AnnIndexChained _),
    "i38_text_indexed_bm25" -> (i38TextIndexedBm25 _),
    "i46_tokenizer_train" -> (i46TokenizerTrain _),
    "i47_tokenizer_chained" -> (i47TokenizerChained _),
    "i48_tokenizer_apply" -> (i48TokenizerApply _),
    "i49_corpus_diff" -> (i49CorpusDiff _),
    "i50_lm_train" -> (i50LmTrain _),
    "i51_lm_chained" -> (i51LmChained _),
    "i52_lm_filter_indexed" -> (i52LmFilterIndexed _),
    "i53_classifier_train" -> (i53ClassifierTrain _),
    "i54_classifier_chained" -> (i54ClassifierChained _),
    "i55_corpus_stats" -> (i55CorpusStats _),
    "i39_text_index_chained" -> (i39TextIndexChained _),
    "i40_stream_ann_ingest" -> (i40StreamAnnIngest _),
    "i41_stream_text_ingest" -> (i41StreamTextIngest _),
    "i42_sql_text_search" -> (i42SqlTextSearch _),
    "i43_sql_ann_search" -> (i43SqlAnnSearch _),
    "i44_pq_index_chained" -> (i44PqIndexChained _),
    "i45_sql_pq_search" -> (i45SqlPqSearch _),
    "i56_sql_hybrid_search" -> (i56SqlHybridSearch _),
    "i57_stream_pq_ingest" -> (i57StreamPqIngest _),
    "i58_sql_mmr_search" -> (i58SqlMmrSearch _),
    "i59_sample_mixture" -> (i59SampleMixture _),
    "i60_sample_budget" -> (i60SampleBudget _),
    "i61_pack_corpus" -> (i61PackCorpus _),
    "i62_hybrid_mmr" -> (i62HybridMmr _),
    "i63_pack_chained" -> (i63PackChained _),
    "i64_hybrid_mmr_proc" -> (i64HybridMmrProc _),
    "i19_nested_evolution" -> (i19NestedEvolution _),
    "i19_nested_columnar" -> (i19NestedColumnar _),
    "i19_nested_promotion" -> (i19NestedPromotion _),
    "i20_branch_wap" -> (i20BranchWap _),
    "i21_ingest_dedup" -> (i21IngestDedup _),
    "i23_windowed_rollup" -> (i23WindowedRollup _),
    "i22_list_evolution" -> (i22ListEvolution _),
    "i22_list_evolution_scan" -> (i22ListEvolutionScan _),
    "i24_stateful_sessions" -> (i24StatefulSessions _),
    "i25_add_files" -> (i25AddFiles _),
    "i26_bounded_ingest" -> (i26BoundedIngest _),
    "i26b_expiry_readmit" -> (i26bExpiryReadmit _),
  )

  // a def, not a val: i36's oracle embeds centroids trained when the
  // query ran (the e15b stash pattern) — rebuilding the map at dump
  // time picks the stash up
  def oracles: Map[String, String] = Map(
    "i1_scan_filter" -> i1Sql,
    "i2_scan_complex_pred" -> i2Sql,
    "i3_time_travel" -> i3Sql,
    "i4_metadata_count" -> i4Sql,
    "i5_multi_snapshot" -> i5Sql,
    "i6_partitioned_month" -> i6Sql,
    "i7_bucket_eq" -> i7Sql,
    "i8_schema_evolution" -> i8Sql,
    "i9_events_ingest" -> i9Sql,
    "i10_compaction" -> i10Sql,
    "i11_ref_read" -> i11Sql,
    "i12_incremental" -> i12Sql,
    "i13_spec_evolution" -> i13Sql,
    "i14_readstream_drain" -> i14Sql,
    "sql1_scan_filter" -> i1Sql,
    "sql2_partition_prune" -> i6Sql,
    "sql3_bucket_eq" -> i7Sql,
    "sql4_mor_read" -> MutationQueries.m2Sql,
    "sql5_catalog_mor" -> MutationQueries.m2Sql,
    "sql6_sql_update" -> MutationQueries.m3Sql,
    "sql7_sql_merge" -> MutationQueries.m4Sql,
    "sql8_merge_delete" -> sql8Sql,
    "sql9_agg_stats" -> sql9Sql,
    "sql10_spj_join" -> sql10Sql,
    "i15_writestream_sink" -> i14Sql,
    "i16_stream_mor" -> i16Sql,
    "i17_partitions_meta" -> i17Sql,
    "i18_changelog" -> i18Sql,
    "i27_changelog_updates" -> i27Sql,
    "i28_changelog_net" -> i28Sql,
    "i29_dedup_table" -> i29Sql,
    "i29b_dedup_table_minhash" -> i29bSql,
    "i29c_dedup_table_best" -> i29cSql,
    "i30_cherrypick_snapshot" -> i30Sql,
    "i31_rewrite_pos_deletes" -> i31Sql,
    "i32_rewrite_eq_deletes" -> i32Sql,
    "i33_dedup_incremental" -> i33Sql,
    "i33b_dedup_incr_minhash" -> i33bSql,
    "i34_dedup_indexed" -> i34Sql,
    "i34b_dedup_indexed_exact" -> i34bSql,
    "i35_stream_indexed_dedup" -> i35Sql,
    "i36_ann_indexed_search" -> i36Sql,
    "i37_ann_index_chained" -> i37Sql,
    "i38_text_indexed_bm25" -> i38Sql,
    "i46_tokenizer_train" -> i46Sql,
    "i47_tokenizer_chained" -> i47Sql,
    "i48_tokenizer_apply" -> i48Sql,
    "i49_corpus_diff" -> i49Sql,
    "i50_lm_train" -> i50Sql,
    "i51_lm_chained" -> i51Sql,
    "i52_lm_filter_indexed" -> i52Sql,
    "i53_classifier_train" -> i53Sql,
    "i54_classifier_chained" -> i54Sql,
    "i55_corpus_stats" -> i55Sql,
    "i39_text_index_chained" -> i39Sql,
    "i40_stream_ann_ingest" -> i40Sql,
    "i41_stream_text_ingest" -> i41Sql,
    "i42_sql_text_search" -> i42Sql,
    "i43_sql_ann_search" -> i43Sql,
    "i44_pq_index_chained" -> i44Sql,
    "i45_sql_pq_search" -> i45Sql,
    "i56_sql_hybrid_search" -> i56Sql,
    "i57_stream_pq_ingest" -> i57Sql,
    "i58_sql_mmr_search" -> i58Sql,
    "i59_sample_mixture" -> i59Sql,
    "i60_sample_budget" -> i60Sql,
    "i61_pack_corpus" -> i61Sql,
    "i62_hybrid_mmr" -> i62Sql,
    "i63_pack_chained" -> i63Sql,
    "i64_hybrid_mmr_proc" -> i64Sql,
    "i19_nested_evolution" -> i19Sql,
    "i19_nested_columnar" -> i19bSql,
    "i19_nested_promotion" -> i19cSql,
    "i20_branch_wap" -> i20Sql,
    "i21_ingest_dedup" -> i21Sql,
    "i23_windowed_rollup" -> i23Sql,
    "i22_list_evolution" -> i22Sql,
    "i22_list_evolution_scan" -> i22Sql,
    "i24_stateful_sessions" -> i24Sql,
    "i25_add_files" -> i25Sql,
    "i26_bounded_ingest" -> i21Sql,
    "i26b_expiry_readmit" -> i26bSql,
  )
}
