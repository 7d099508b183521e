package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.TableIdentifier
import graft.spec.{Operation, SchemaConverters, Summary}
import graft.table._

/** Writes beside reads: a lineitem table range-sorted into 64 files in one
  * commit, then a history of small single-file commits just short of
  * `Scan.DistributedPlanThreshold` data manifests. Each iteration loads
  * the table from the catalog, appends the next slice of ~200 rows of
  * fresh, increasing order keys, and runs two seeded range lookups over
  * SQL on the `graft` catalog, so the first measured lookups plan on the
  * driver and the rest on executors. The slices are plain DataFrames: a
  * key-range filter over the generated stream of future orders (a
  * parquet directory written by Spark), as a client would append them. */
final class TrickleLookup extends Workload {
  val name = "trickle_lookup"
  val readKind = "lookup"
  val writeKind = "commit"
  val iterationSeconds = 1.25

  val Orders = 12500L
  val BaseFiles = 64
  /** Whole orders per slice, ~4 lines each. */
  val SliceOrders = 50L
  val LookupsPerRound = 2
  val KeySpan = 50L
  /** Warm-up rounds: the lookup path keeps getting faster for several
    * rounds after a cold start. */
  override val warmupIterations = 4
  /** Single-file commits made in setup: with the base commit and the
    * warm-up rounds, the first measured round's lookups see 63 data
    * manifests (driver planning) and every later one 64 or more. */
  val HistoryCommits = Scan.DistributedPlanThreshold - 3 - warmupIterations

  private val id = TableIdentifier(Seq("bench"), "trickle")
  private var spark: SparkSession = _
  private var seed = 0L
  private var dir: File = _
  private var handles: Workload.Handles = _
  private var firstStreamOrder = 0L
  private var nextOrder = 0L
  private var rounds = 0
  private var inputBytes = 0L
  private var streamBytes = 0L
  /** l_orderkey -> (rows, price cents) of everything committed so far,
    * and of the stream of orders still to come. */
  private val expected = new java.util.TreeMap[java.lang.Long, (Long, Long)]()
  private val stream = new java.util.TreeMap[java.lang.Long, (Long, Long)]()

  private def tableDir = new File(dir, "wh/bench/trickle")
  private def streamDir = new File(dir, "input/stream")

  def setup(spark: SparkSession, seed: Long, dir: File, iterations: Int): Unit = {
    this.spark = spark
    this.seed = seed
    this.dir = dir
    this.rounds = iterations
    // the base: BaseFiles range-sorted files, registered in place in one commit
    val base = new File(dir, "input/base")
    Gen.lineitem(spark, seed, Orders, partitions = BaseFiles).write.parquet(base.getPath)
    inputBytes = Workload.parquetBytes(base)
    val cat = new graft.catalog.LocalCatalog(new File(dir, "wh").getPath)
    cat.createNamespace(Seq("bench"))
    val io = new graft.io.HadoopFileIO()
    val schema = SchemaConverters.fromSparkSchema(Gen.LineitemSchema)
    var t = Table.create(cat, id, schema, io = io)
    t = TableOps.addFiles(t, spark, parquetFiles(base), checkDuplicates = false)

    // history: one small file per commit (footers harvested once, then one
    // append snapshot per file), ~200 rows of fresh orders each
    val history = new File(dir, "input/history")
    val historyOrders = HistoryCommits * SliceOrders
    Gen.lineitem(spark, seed, historyOrders, Orders + 1, HistoryCommits)
      .write.parquet(history.getPath)
    DataWriter.harvestFiles(spark.sessionState.newHadoopConf(), parquetFiles(history),
      t.schema).foreach { f =>
      t = t.commitSnapshot(PendingSnapshot(Operation.Append, addedDataFiles = Seq(f)))
    }

    // the stream the rounds append from, one slice per round
    firstStreamOrder = Orders + historyOrders + 1
    nextOrder = firstStreamOrder
    Gen.lineitem(spark, seed, rounds * SliceOrders, firstStreamOrder)
      .write.parquet(streamDir.getPath)
    streamBytes = Workload.parquetBytes(streamDir)

    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", new File(dir, "wh").getPath)
  }

  private def parquetFiles(d: File): Seq[String] =
    d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq

  private def byOrder(paths: String*): Seq[(Long, (Long, Long))] =
    spark.read.parquet(paths: _*).groupBy("l_orderkey")
      .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toSeq

  def reference(ctx: Ctx): Unit = {
    handles = new Workload.Handles(new File(dir, "wh").getPath, ctx.rec)
    expected.clear()
    stream.clear()
    byOrder(new File(dir, "input/base").getPath, new File(dir, "input/history").getPath)
      .foreach { case (k, v) => expected.put(k, v) }
    byOrder(streamDir.getPath).foreach { case (k, v) => stream.put(k, v) }
  }

  private def total(m: java.util.TreeMap[java.lang.Long, (Long, Long)],
      lo: Long, hi: Long): (Long, Long) =
    m.subMap(lo, true, hi, true).values().asScala
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  override def facts: Map[String, Any] = Map(
    "base_rows" -> total(expected, 1, Orders)._1, "orders" -> Orders,
    "base_files" -> BaseFiles, "history_commits" -> HistoryCommits,
    "slice_orders" -> SliceOrders, "rounds" -> rounds,
    "stream_rows" -> total(stream, 0, Long.MaxValue)._1,
    "lookups_per_round" -> LookupsPerRound,
    "input_parquet_bytes" -> inputBytes, "stream_parquet_bytes" -> streamBytes)

  def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val rec = ctx.rec
    val before = Workload.dirBytes(tableDir)
    val (lo, hi) = (nextOrder, nextOrder + SliceOrders - 1)
    nextOrder = hi + 1
    val batch = spark.read.parquet(streamDir.getPath)
      .where(col("l_orderkey").between(lo, hi))
    val (t1, opC) = rec.run("commit", i, traced) {
      val t0 = Table.load(handles.cat(traced), id, handles.fio(traced))
      if (traced) Workload.tracedAppend(ctx, rec.ops.last, t0, batch)
      else TableOps.append(t0, batch)
    }
    stream.subMap(lo, true, hi, true).forEach((k, v) => expected.put(k, v))
    ctx.check(opC, "commit added-records",
      t1.currentSnapshot.flatMap(_.summary).map(_.counter(Summary.AddedRecords)),
      Some(total(stream, lo, hi)._1))
    if (traced) { Workload.avroSibling(ctx, opC); Workload.commitSibling(ctx, opC, t1, split = true) }

    Gen.keys(seed, 2000L + i, LookupsPerRound, nextOrder - 1).foreach { k =>
      val hi = k + KeySpan
      val (d, op) = rec.run("lookup", i, traced) {
        val r = spark.sql(
          s"""SELECT count(*), coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0)
             |FROM graft.bench.trickle WHERE l_orderkey BETWEEN $k AND $hi""".stripMargin)
          .head()
        (r.getLong(0), r.getLong(1))
      }
      ctx.check(op, s"lookup l_orderkey in [$k, $hi]", d, total(expected, k, hi))
      if (traced)
        Workload.planSibling(ctx, op, handles.on(t1, traced = true),
          Some(Col("l_orderkey").between(k, hi)))
    }
    bytesWritten += (Workload.dirBytes(tableDir) - before).toDouble
    bytesInput += streamBytes.toDouble / rounds
  }
}
