package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableIdentifier
import graft.spec.{PartitionSpec, SchemaConverters, Summary}
import graft.table._

/** The bulk data path: each iteration builds a fresh `bucket[16](l_orderkey)`
  * table from the generated lineitem input and runs append, point
  * lookups, a copy-on-write delete, a merge-on-read delete, an aggregate
  * read with the position deletes applied, an upsert of ~10% of the rows
  * and a compaction. */
final class CrudCycle extends Workload {
  val name = "crud_cycle"
  val readKind = "lookup"
  val writeKind = "append"

  /** ~4 lines per order: ~150k rows, a quarter of sf0.1 lineitem. */
  val Orders = 37500L
  val LookupsPerCycle = 8
  val KeyPool = 64
  val iterationSeconds = 10.0
  /** Medians over two cycles: the first measured one is still slower. */
  override val minIterations = 2

  private var spark: SparkSession = _
  private var seed = 0L
  private var inputPath: String = _
  private var inputBytes = 0L
  private var handles: Workload.Handles = _
  private var whDir: File = _
  private var schema: graft.spec.Schema = _
  private var spec: PartitionSpec = _

  private var ref0, ref1, ref2, ref3: (Long, Long, Long) = _
  private var morDeletes = 0L
  private var keyPool: IndexedSeq[Long] = _
  private var keyRef: Map[Long, (Long, Long)] = _

  private val CowPred = Col("l_quantity").gt(45.0)
  private val MorPred = Col("l_returnflag").eqTo("R")

  private def raw: DataFrame = spark.read.parquet(inputPath)
  private def incoming(df: DataFrame): DataFrame =
    df.where(col("l_orderkey") % 10 === 0)
      .withColumn("l_extendedprice", col("l_extendedprice") * 1.01)

  def setup(spark: SparkSession, seed: Long, dir: File, iterations: Int): Unit = {
    this.spark = spark
    this.seed = seed
    val in = new File(dir, "input/lineitem")
    Gen.lineitem(spark, seed, Orders).write.parquet(in.getPath)
    inputPath = in.getPath
    inputBytes = Workload.parquetBytes(in)
    whDir = new File(dir, "wh")
    val cat = new graft.catalog.LocalCatalog(whDir.getPath)
    cat.createNamespace(Seq("bench"))
    schema = SchemaConverters.fromSparkSchema(raw.schema)
    val keyId = schema.fields.find(_.name == "l_orderkey").get.id
    spec = PartitionSpec.builder().bucket(keyId, "l_orderkey_bucket", 16).build()
  }

  def reference(ctx: Ctx): Unit = {
    handles = new Workload.Handles(whDir.getPath, ctx.rec)
    val r = raw
    val kept1 = r.where(!(col("l_quantity") > 45.0))
    val kept2 = kept1.where(col("l_returnflag") =!= "R")
    ref0 = Workload.lineDigest(r)
    ref1 = Workload.lineDigest(kept1)
    morDeletes = kept1.where(col("l_returnflag") === "R").count()
    ref2 = Workload.lineDigest(kept2)
    val inc = incoming(r)
    val keys = Seq("l_orderkey", "l_linenumber")
    ref3 = Workload.lineDigest(kept2.join(inc.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(inc))
    keyPool = Gen.keys(seed, 7, KeyPool, Orders).distinct.toIndexedSeq
    val found = r.where(col("l_orderkey").isin(keyPool: _*)).groupBy("l_orderkey")
      .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    keyRef = keyPool.map(k => k -> found.getOrElse(k, (0L, 0L))).toMap
  }

  override def facts: Map[String, Any] = Map(
    "input_rows" -> ref0._1, "orders" -> Orders, "input_parquet_bytes" -> inputBytes,
    "partition_spec" -> "bucket[16](l_orderkey)",
    "lookups_per_cycle" -> LookupsPerCycle)

  def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val rec = ctx.rec
    val id = TableIdentifier(Seq("bench"), s"li_$i")
    var t = Table.create(handles.cat(traced), id, schema, spec, io = handles.fio(traced))
    val tableDir = new File(whDir, s"bench/li_$i")
    try {
      // append
      val (t1, opA) = rec.run("append", i, traced) {
        if (traced) Workload.tracedAppend(ctx, rec.ops.last, t, raw)
        else TableOps.append(t, raw)
      }
      t = t1
      ctx.check(opA, "append total-records",
        t.currentSnapshot.flatMap(_.summary).map(_.counter(Summary.TotalRecords)),
        Some(ref0._1))
      if (traced) { Workload.avroSibling(ctx, opA); Workload.commitSibling(ctx, opA, t, split = true) }

      // point lookups, bucket-pruned
      val keys = Gen.keys(seed, 1000L + i, LookupsPerCycle, keyPool.size.toLong)
        .map(j => keyPool((j - 1).toInt))
      keys.foreach { k =>
        val pred = Col("l_orderkey").eqTo(k)
        val (d, op) = rec.run("lookup", i, traced) {
          val r = Scan(t, ctx.spark).filter(pred).toDF
            .agg(count(lit(1)), coalesce(sum(round(col("l_extendedprice") * 100)
              .cast("long")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        ctx.check(op, s"lookup l_orderkey=$k", d, keyRef(k))
        if (traced) { Workload.avroSibling(ctx, op); Workload.planSibling(ctx, op, t, Some(pred)) }
      }

      // copy-on-write delete
      t = mutation(ctx, i, traced, "cow_delete", t, Some(CowPred)) {
        _.newDelete(ctx.spark).where(CowPred).execute()
      }
      ctx.check(rec.ops.last, "cow_delete total-records",
        t.currentSnapshot.flatMap(_.summary).map(_.counter(Summary.TotalRecords)),
        Some(ref1._1))

      // merge-on-read delete
      t = mutation(ctx, i, traced, "mor_delete", t, Some(MorPred)) {
        _.newDelete(ctx.spark).where(MorPred).withMergeOnRead(true).execute()
      }
      val posDeletes = Scan(handles.on(t, traced = false), ctx.spark).planFiles()
        .flatMap(_.deleteFiles).map(_.file).distinctBy(_.filePath).map(_.recordCount).sum
      ctx.check(rec.ops.last, "mor_delete position deletes", posDeletes, morDeletes)

      // aggregate read with the position deletes applied
      val (d2, opR) = rec.run("mor_read", i, traced) {
        Workload.lineDigest(Scan(t, ctx.spark).toDF)
      }
      ctx.check(opR, "mor_read digest", d2, ref2)
      if (traced) { Workload.avroSibling(ctx, opR); Workload.planSibling(ctx, opR, t, None) }

      // upsert ~10% of the rows on (l_orderkey, l_linenumber)
      val inc = incoming(raw)
      t = mutation(ctx, i, traced, "upsert", t, None) {
        _.newUpsert(ctx.spark).withData(inc)
          .withKeyColumns("l_orderkey", "l_linenumber").execute()
      }
      ctx.check(rec.ops.last, "upsert digest",
        Workload.lineDigest(Scan(handles.on(t, traced = false), ctx.spark).toDF), ref3)

      // compaction (absorbs the delete files)
      t = mutation(ctx, i, traced, "compact", t, None) {
        Maintenance.compactDataFiles(_, ctx.spark)
      }
      ctx.check(rec.ops.last, "compact digest",
        Workload.lineDigest(Scan(handles.on(t, traced = false), ctx.spark).toDF), ref3)

      bytesWritten += Workload.dirBytes(tableDir).toDouble
      bytesInput += inputBytes.toDouble
    } finally {
      handles.catalog.dropTable(id, purge = true)
      Workload.deleteRecursively(tableDir)
    }
  }

  /** Run a mutation op; when traced, re-plan its scan first and record its
    * commit afterwards, both as siblings. */
  private def mutation(ctx: Ctx, i: Int, traced: Boolean, kind: String,
      t: Table, pred: Option[Expr])(f: Table => Table): Table = {
    val before = t
    val (after, op) = ctx.rec.run(kind, i, traced)(f(t))
    if (traced) {
      Workload.avroSibling(ctx, op)
      Workload.planSibling(ctx, op, before, pred)
      if (after.currentSnapshot != before.currentSnapshot)
        Workload.commitSibling(ctx, op, after, split = false)
    }
    after
  }
}
