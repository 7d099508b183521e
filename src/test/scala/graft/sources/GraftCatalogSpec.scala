package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.table.{Scan, Table}

/** End-to-end SQL over the `CatalogPlugin`: SELECT / INSERT / DDL on
  * `graft.ns.tbl` names with no per-table registration. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Register a uniquely-named catalog over a fresh warehouse. */
  private def withCatalog(tag: String)(f: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-cat-$tag-").toString
    val name = s"g$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    f(name, dir)
  }

  test("CREATE NAMESPACE / CREATE TABLE / INSERT / SELECT round-trip") {
    withCatalog("crud") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"""CREATE TABLE $c.db.events (
        |  event_id BIGINT, user_id BIGINT, value DOUBLE)
        |""".stripMargin)
      spark.sql(s"INSERT INTO $c.db.events VALUES (1, 10, 1.5), (2, 20, 2.5)")
      spark.sql(s"INSERT INTO $c.db.events SELECT 3L, 30L, 3.5D")

      val got = spark.sql(s"SELECT event_id, value FROM $c.db.events " +
        "ORDER BY event_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))

      // each INSERT committed one real snapshot through the engine
      val t = Table.load(new LocalCatalog(dir),
        TableIdentifier(Seq("db"), "events"), new HadoopFileIO())
      assert(t.metadata.snapshots.size == 2)
      assert(Scan(t, spark).toDF.count() == 3)

      // SHOW surfaces
      assert(spark.sql(s"SHOW NAMESPACES IN $c").collect()
        .map(_.getString(0)).contains("db"))
      assert(spark.sql(s"SHOW TABLES IN $c.db").collect()
        .map(_.getString(1)).contains("events"))
    }
  }

  test("CREATE TABLE PARTITIONED BY transforms map to the engine spec") {
    withCatalog("part") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"""CREATE TABLE $c.db.logs (
        |  id BIGINT, ts TIMESTAMP_NTZ, cat STRING)
        |PARTITIONED BY (days(ts), bucket(4, id))""".stripMargin)
      val t = Table.load(new LocalCatalog(dir),
        TableIdentifier(Seq("db"), "logs"), new HadoopFileIO())
      assert(t.spec.fields.map(_.transform.name).toSet ==
        Set("day", "bucket[4]"))
      spark.sql(s"INSERT INTO $c.db.logs VALUES " +
        "(1, TIMESTAMP_NTZ'2024-01-01 00:00:00', 'a'), " +
        "(2, TIMESTAMP_NTZ'2024-02-01 00:00:00', 'b')")
      // partition pruning via the scan path still applies
      assert(spark.sql(s"SELECT id FROM $c.db.logs WHERE cat = 'b'")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      // partitioning() surfaces in DESCRIBE
      val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $c.db.logs")
        .collect().map(_.mkString(" ")).mkString("\n")
      assert(desc.contains("days(ts)") && desc.contains("bucket(4, id)"),
        s"partitioning must surface in DESCRIBE:\n$desc")
    }
  }

  test("INSERT OVERWRITE swaps content atomically") {
    withCatalog("ow") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, 'a'), (2, 'b')")
      spark.sql(s"INSERT OVERWRITE $c.db.t VALUES (9, 'z')")
      val got = spark.sql(s"SELECT id, v FROM $c.db.t").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((9L, "z")))
    }
  }

  test("SELECT parity with the Scan API and pushdown reaches the plan") {
    withCatalog("sel") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.n (id BIGINT, grp BIGINT, x DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.n SELECT id, id % 7, id * 1.5 " +
        "FROM range(1000)")
      val viaSql = spark.sql(
        s"SELECT grp, COUNT(*) AS n, SUM(x) AS sx FROM $c.db.n " +
          "WHERE id > 500 GROUP BY grp ORDER BY grp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val t = Table.load(new LocalCatalog(dir),
        TableIdentifier(Seq("db"), "n"), new HadoopFileIO())
      import org.apache.spark.sql.functions._
      val viaScan = Scan(t, spark).toDF.where(col("id") > 500)
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .orderBy("grp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(viaSql.toSeq == viaScan.toSeq)
    }
  }

  test("ALTER TABLE/NAMESPACE properties and ADD COLUMN") {
    withCatalog("alter") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db WITH PROPERTIES ('team'='graft')")
      assert(spark.sql(s"DESCRIBE NAMESPACE EXTENDED $c.db").collect()
        .map(_.mkString(" ")).mkString.contains("team"))
      spark.sql(s"ALTER NAMESPACE $c.db SET PROPERTIES ('tier'='gold')")
      val cat = new LocalCatalog(dir)
      // Spark auto-injects owner=<user>; assert ours round-tripped
      assert((cat.loadNamespaceProperties(Seq("db")) - "owner") ==
        Map("team" -> "graft", "tier" -> "gold"))

      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT)")
      spark.sql(s"ALTER TABLE $c.db.t SET TBLPROPERTIES ('k'='v')")
      assert(Table.load(cat, TableIdentifier(Seq("db"), "t"),
        new HadoopFileIO()).metadata.properties.get("k").contains("v"))

      spark.sql(s"ALTER TABLE $c.db.t ADD COLUMN note STRING")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, 'hello')")
      val got = spark.sql(s"SELECT id, note FROM $c.db.t").collect()
      assert(got.length == 1 && got(0).getString(1) == "hello")
    }
  }

  test("decimal widening across the 18-digit boundary reads correctly") {
    withCatalog("dec") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.m (id BIGINT, amt DECIMAL(18,2))")
      // decimal(18,2) values land as compact longs in parquet; after
      // widening to decimal(20,2) a naive read would surface the long
      // storage under binary-decimal accessors → corrupted values
      spark.sql(s"INSERT INTO $c.db.m VALUES " +
        "(1, 123456789.25), (2, 7.50)")
      spark.sql(s"ALTER TABLE $c.db.m ALTER COLUMN amt TYPE DECIMAL(20,2)")
      spark.sql(s"INSERT INTO $c.db.m VALUES (3, 123456789012345678.75)")
      val got = spark.sql(s"SELECT id, amt FROM $c.db.m ORDER BY id")
        .collect().map(r => r.getLong(0) -> r.getDecimal(1).toPlainString)
      assert(got.toSeq == Seq(1L -> "123456789.25", 2L -> "7.50",
        3L -> "123456789012345678.75"),
        s"widened decimal reads must convert old files, got ${got.toSeq}")
      // aggregation over the mixed-file column stays exact
      assert(spark.sql(s"SELECT sum(amt) s FROM $c.db.m").head
        .getDecimal(0).toPlainString == "123456789135802475.50")
    }
  }

  test("nested ADD COLUMN evolves a struct; old rows null-fill") {
    withCatalog("nest") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, " +
        "info STRUCT<name: STRING>)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, named_struct('name', 'a'))")
      spark.sql(s"ALTER TABLE $c.db.t ADD COLUMN info.age INT")
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(2, named_struct('name', 'b', 'age', 30))")
      val got = spark.sql(
        s"SELECT id, info.name, info.age FROM $c.db.t ORDER BY id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2)))
      assert(got.toSeq == Seq((1L, "a", -1), (2L, "b", 30)),
        s"pre-evolution rows must null-fill the added field, got ${got.toSeq}")
      // nested RENAME: field ids preserved, pre-rename files must read
      // back under the new inner name
      spark.sql(s"ALTER TABLE $c.db.t RENAME COLUMN info.name TO nm")
      val renamed = spark.sql(
        s"SELECT id, info.nm FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(renamed.toSeq == Seq((1L, "a"), (2L, "b")),
        s"pre-rename files must read under the new inner name, got " +
          renamed.toSeq.toString)
      // nested DROP: the field disappears from every generation
      spark.sql(s"ALTER TABLE $c.db.t DROP COLUMN info.age")
      val cols = spark.table(s"$c.db.t").select("info.*").columns.toSeq
      assert(cols == Seq("nm"), s"dropped nested field still visible: $cols")
      assert(spark.sql(s"SELECT info.nm FROM $c.db.t").collect()
        .map(_.getString(0)).toSet == Set("a", "b"))
    }
  }

  test("nested ALTER COLUMN TYPE widens an inner leaf; old files read") {
    withCatalog("nestwide") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, " +
        "s STRUCT<n: INT, amt: DECIMAL(18,2)>)")
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(1, named_struct('n', 7, 'amt', 12.50))")
      // int → bigint and decimal(18,2) → decimal(20,2), both INSIDE
      // the struct: pre-promotion files keep the narrow physicals
      spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN s.n TYPE BIGINT")
      spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN s.amt TYPE DECIMAL(20,2)")
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(2, named_struct('n', CAST(123456789012 AS BIGINT), " +
        "'amt', CAST(123456789012345678.75 AS DECIMAL(20,2))))")
      val got = spark.sql(
        s"SELECT id, s.n, s.amt FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDecimal(2).toPlainString))
      assert(got.toSeq == Seq((1L, 7L, "12.50"),
        (2L, 123456789012L, "123456789012345678.75")),
        s"widened inner leaves must read across generations, got " +
          got.toSeq.toString)
      // narrowing an inner leaf stays rejected
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN s.n TYPE INT")
      }
    }
  }

  test("ALTER inside list elements and map values; map keys frozen") {
    withCatalog("nestlist") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, " +
        "tags ARRAY<STRUCT<name: STRING, n: INT>>, " +
        "attrs MAP<STRING, STRUCT<v: INT>>)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, " +
        "array(named_struct('name', 'a', 'n', 7)), " +
        "map('k1', named_struct('v', 5)))")
      // rename + add + promote INSIDE the list element; pre-evolution
      // files must read renamed-by-id, null-fill per element, and
      // widen the int32 element physicals
      spark.sql(s"ALTER TABLE $c.db.t RENAME COLUMN tags.element.name TO nm")
      spark.sql(s"ALTER TABLE $c.db.t ADD COLUMN tags.element.score DOUBLE")
      spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN tags.element.n TYPE BIGINT")
      // and inside the map VALUE struct
      spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN attrs.value.v TYPE BIGINT")
      spark.sql(s"INSERT INTO $c.db.t VALUES (2, " +
        "array(named_struct('nm', 'b', 'n', CAST(123456789012 AS BIGINT), " +
        "'score', 1.5)), " +
        "map('k2', named_struct('v', CAST(223456789012 AS BIGINT))))")
      val got = spark.sql(
        s"SELECT id, tags[0].nm, tags[0].n, tags[0].score, " +
          s"map_values(attrs)[0].v FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3), r.getLong(4)))
      assert(got.toSeq == Seq((1L, "a", 7L, -1.0, 5L),
        (2L, "b", 123456789012L, 1.5, 223456789012L)),
        s"list-element / map-value evolution must read across " +
          s"generations, got ${got.toSeq}")
      // map KEYS are the map's equality identity — evolution refused
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $c.db.t ADD COLUMN attrs.key.extra INT")
      }
    }
  }

  test("unsupported type changes are rejected loudly") {
    withCatalog("badtype") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, d DATE, amt DECIMAL(20,2))")
      // date→timestamp is not a safe physical promotion
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN d TYPE TIMESTAMP_NTZ")
      }
      // decimal narrowing / scale change is not promotable either
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN amt TYPE DECIMAL(18,2)")
      }
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $c.db.t ALTER COLUMN amt TYPE DECIMAL(22,4)")
      }
    }
  }

  test("manifest stats drive broadcast joins; DPP prunes fact files") {
    withCatalog("dpp") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      // fact partitioned by cat (3 partitions, sized so Spark's DPP
      // benefit heuristic fires); dim tiny
      spark.sql(s"CREATE TABLE $c.db.fact (id BIGINT, cat STRING, " +
        "v DOUBLE) PARTITIONED BY (cat)")
      spark.sql(s"INSERT INTO $c.db.fact SELECT id, " +
        "chr(97 + CAST(id % 3 AS INT)), id * 1.5 FROM range(90000)")
      spark.sql(s"CREATE TABLE $c.db.dim (cat STRING, label STRING)")
      spark.sql(s"INSERT INTO $c.db.dim VALUES ('a','keep'), " +
        "('b','other'), ('c','other')")

      val q =
        s"""SELECT f.id FROM $c.db.fact f
           |JOIN $c.db.dim d ON f.cat = d.cat
           |WHERE d.label = 'keep'""".stripMargin
      val df = spark.sql(q)
      assert(df.collect().length == 30000)
      val plan = df.queryExecution.executedPlan.toString
      // small side broadcast WITHOUT hints: estimateStatistics works
      assert(plan.contains("BroadcastHashJoin"),
        s"manifest stats should make the dim broadcast:\n$plan")
      // runtime filtering reached the fact scan: only partition 'a'
      // files are opened (1 of 3 partitions)
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(scans)
      }
      val factScan = scans(df.queryExecution.executedPlan)
        .filter(_.schema.fieldNames.contains("id"))
      assert(factScan.nonEmpty, s"no fact BatchScanExec in:\n$plan")
      assert(factScan.head.toString.contains("dynamicpruning"),
        s"runtime filter missing from the fact scan:\n$plan")
      val produced = factScan.head.metrics("numOutputRows").value
      assert(produced <= 30000,
        s"DPP should prune non-'a' partitions, scan produced $produced")
    }
  }

  test("a join on a non-partition column plans with the partition " +
      "column pruned from the scan") {
    withCatalog("dppout") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.fact (id BIGINT, cat STRING, " +
        "v DOUBLE) PARTITIONED BY (cat)")
      spark.sql(s"INSERT INTO $c.db.fact SELECT id, " +
        "chr(97 + CAST(id % 3 AS INT)), id * 1.5 FROM range(30)")
      spark.sql(s"CREATE TABLE $c.db.dim (k BIGINT, label STRING)")
      spark.sql(s"INSERT INTO $c.db.dim VALUES (4, 'keep'), (5, 'other')")
      // dynamic pruning resolves the fact scan's runtime-filter columns
      // against its OUTPUT; `cat` is not read here
      val got = spark.sql(
        s"""SELECT f.v FROM $c.db.fact f JOIN $c.db.dim d ON f.id = d.k
           |WHERE d.label = 'keep'""".stripMargin)
        .collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(6.0))
    }
  }

  test("CTAS and DataFrameWriterV2 land real snapshots") {
    withCatalog("ctas") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.src (id BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.src VALUES (1, 1.5), (2, 2.5), (3, 3.5)")

      // CTAS: create + insert through the catalog
      spark.sql(s"CREATE TABLE $c.db.big AS " +
        s"SELECT id, v * 2 AS v2 FROM $c.db.src WHERE id > 1")
      val got = spark.sql(s"SELECT id, v2 FROM $c.db.big ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((2L, 5.0), (3L, 7.0)))
      val t = Table.load(new LocalCatalog(dir),
        TableIdentifier(Seq("db"), "big"), new HadoopFileIO())
      assert(t.metadata.snapshots.nonEmpty, "CTAS committed a snapshot")

      // DataFrameWriterV2 append
      import spark.implicits._
      Seq((4L, 9.0)).toDF("id", "v2").writeTo(s"$c.db.big").append()
      assert(spark.sql(s"SELECT count(*) FROM $c.db.big")
        .collect().head.getLong(0) == 3)

      // RTAS replaces content
      spark.sql(s"REPLACE TABLE $c.db.big AS " +
        s"SELECT id FROM $c.db.src WHERE id = 1")
      assert(spark.sql(s"SELECT id FROM $c.db.big").collect()
        .map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel through SQL") {
    withCatalog("tt") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1), (2)")
      val cat = new LocalCatalog(dir)
      val t1 = Table.load(cat, TableIdentifier(Seq("db"), "t"),
        new HadoopFileIO())
      val snap1 = t1.currentSnapshot.get.snapshotId
      spark.sql(s"INSERT INTO $c.db.t VALUES (3)")

      assert(spark.sql(s"SELECT count(*) FROM $c.db.t").head.getLong(0) == 3)
      assert(spark.sql(
        s"SELECT count(*) FROM $c.db.t VERSION AS OF $snap1")
        .head.getLong(0) == 2)
      // a tag resolves through refs
      t1.refresh().newTransaction()
        .setRef("v1", snap1, "tag").commit()
      assert(spark.sql(
        s"SELECT count(*) FROM $c.db.t VERSION AS OF 'v1'")
        .head.getLong(0) == 2)
      // timestamp after snap1, before snap2's commit... use snap1 time
      val ts1 = t1.snapshotById(snap1).get.timestampMs
      val tsLit = java.time.Instant.ofEpochMilli(ts1)
        .toString.replace("T", " ").stripSuffix("Z")
      assert(spark.sql(s"SELECT count(*) FROM $c.db.t TIMESTAMP AS OF " +
        s"'$tsLit'").head.getLong(0) == 2)
      // writes to a pinned table are rejected
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $c.db.t VERSION AS OF $snap1 VALUES (9)")
      }
      assert(e.getMessage != null)
    }
  }

  test("DELETE FROM and TRUNCATE TABLE through SQL") {
    withCatalog("del") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, grp STRING)")
      spark.sql(s"INSERT INTO $c.db.t SELECT id, " +
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(10)")
      spark.sql(s"DELETE FROM $c.db.t WHERE grp = 'odd' AND id > 3")
      val got = spark.sql(s"SELECT id FROM $c.db.t ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(0L, 1L, 2L, 3L, 4L, 6L, 8L),
        s"CoW delete through SQL, got $got")
      // engine sees a real Delete snapshot
      val t = Table.load(new LocalCatalog(dir),
        TableIdentifier(Seq("db"), "t"), new HadoopFileIO())
      assert(Scan(t, spark).toDF.count() == 7)

      spark.sql(s"TRUNCATE TABLE $c.db.t")
      assert(spark.sql(s"SELECT * FROM $c.db.t").collect().isEmpty)
      // truncation is a snapshot, not erasure: time travel still works
      val t2 = t.refresh()
      assert(t2.metadata.snapshots.size >= 3)
    }
  }

  test("DROP TABLE and DROP NAMESPACE") {
    withCatalog("drop") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT)")
      spark.sql(s"DROP TABLE $c.db.t")
      assert(spark.sql(s"SHOW TABLES IN $c.db").collect().isEmpty)
      spark.sql(s"DROP NAMESPACE $c.db")
      assert(!spark.sql(s"SHOW NAMESPACES IN $c").collect()
        .map(_.getString(0)).contains("db"))
    }
  }
}
