package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableIdentifier
import graft.ops.Dedup
import graft.spec.{SchemaConverters, Summary}
import graft.table._

/** The control workload: `graft.ops` shuffles and windows dominate while
  * table I/O is small. Documents and embeddings are graft tables; each
  * pass reads the corpus through the DSv2 catalog, runs exact then
  * MinHash dedup (the d6 settings), overwrite-commits the survivors,
  * dedups a seeded incoming batch against the signature index (d41b),
  * appends the batch survivors and runs semantic dedup over the
  * embeddings with planted copies (e8). */
final class DedupCorpus extends Workload {
  val name = "dedup_corpus"
  val readKind = "read"
  val writeKind = "overwrite"
  val iterationSeconds = 7.0

  val Docs = 3000L
  val Vectors = 1500L
  val Dim = 32
  val Cells = 8
  val FreshPerBatch = 50
  val VocabSize = 4000

  private var spark: SparkSession = _
  private var seed = 0L
  private var dir: File = _
  private var vocabArr: Array[String] = _
  private var index: DataFrame = _
  private var handles: Workload.Handles = _
  private var inputBytes = 0L
  private val cleanId = TableIdentifier(Seq("bench"), "docs_clean")

  private var readRef: (Long, Long, Long) = _
  private var exactRef, minhashRef, semanticRef: (Long, Long) = _

  private def rawDocs = spark.read.parquet(new File(dir, "input/documents").getPath)
  private def rawEmb = spark.read.parquet(new File(dir, "input/embeddings").getPath)

  def setup(spark: SparkSession, seed: Long, dir: File, iterations: Int): Unit = {
    this.spark = spark
    this.seed = seed
    this.dir = dir
    vocabArr = Gen.vocab(seed, VocabSize)
    Gen.documents(spark, seed, Docs, vocabArr).repartition(2)
      .write.parquet(new File(dir, "input/documents").getPath)
    Gen.embeddings(spark, seed, Vectors, Dim).repartition(2)
      .write.parquet(new File(dir, "input/embeddings").getPath)
    inputBytes = Workload.parquetBytes(new File(dir, "input"))
    val wh = new File(dir, "wh").getPath
    val cat = new graft.catalog.LocalCatalog(wh)
    cat.createNamespace(Seq("bench"))
    val io = new graft.io.HadoopFileIO()
    def load(name: String, df: DataFrame): Table = TableOps.append(
      Table.create(cat, TableIdentifier(Seq("bench"), name),
        SchemaConverters.fromSparkSchema(df.schema), io = io), df)
    load("documents", rawDocs)
    load("embeddings", rawEmb)
    Table.create(cat, cleanId, SchemaConverters.fromSparkSchema(rawDocs.schema), io = io)
    // the persisted-index shape of d41b: built once, probed every pass
    index = Dedup.signatureFrame(rawDocs).cache()
    index.count()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
  }

  def reference(ctx: Ctx): Unit = {
    handles = new Workload.Handles(new File(dir, "wh").getPath, ctx.rec)
    val d = rawDocs
    val r = d.agg(count(lit(1)), sum("doc_id"), sum("n_chars")).head()
    readRef = (r.getLong(0), r.getLong(1), r.getLong(2))
    // exact dedup in plain SQL terms: the smallest id per normalized text
    val fp = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    val exactIds = d.groupBy(fp).agg(min("doc_id").as("doc_id"))
    exactRef = Workload.idDigest(exactIds, "doc_id")
    // near copies (ids ending in 7) are the planted MinHash duplicates
    minhashRef = Workload.idDigest(exactIds.where(col("doc_id") % 10 =!= 7), "doc_id")
    semanticRef = Workload.idDigest(rawEmb, "vec_id")
  }

  override def facts: Map[String, Any] = Map(
    "documents" -> Docs, "embeddings" -> Vectors, "dim" -> Dim,
    "fresh_per_batch" -> FreshPerBatch, "input_parquet_bytes" -> inputBytes)

  def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val rec = ctx.rec
    val cleanDir = new File(dir, "wh/bench/docs_clean")
    val before = Workload.dirBytes(cleanDir)
    def opsCounters(op: Op, in: Long, kept: Long): Unit = if (traced) {
      op.add(s"ops.${op.kind}_ms", op.wallMs)
      op.add("ops.rows_in", in.toDouble)
      op.add("ops.rows_kept", kept.toDouble)
    }

    // read through the DSv2 catalog
    val ((docs, r0), opRead) = rec.run("read", i, traced) {
      val d = spark.table("graft.bench.documents")
      val r = d.agg(count(lit(1)), sum("doc_id"), sum("n_chars")).head()
      (d, (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    ctx.check(opRead, "read digest", r0, readRef)

    val (ex, opE) = rec.run("exact", i, traced) {
      Workload.idDigest(Dedup.exact(docs), "doc_id")
    }
    ctx.check(opE, "exact digest", ex, exactRef)
    opsCounters(opE, r0._1, ex._1)

    // d6 settings
    val kept = Dedup.minhashDedup(Dedup.exact(docs), numHashes = 32, bands = 8,
      threshold = 0.7).cache()
    try {
      val (mh, opM) = rec.run("minhash", i, traced)(Workload.idDigest(kept, "doc_id"))
      ctx.check(opM, "minhash digest", mh, minhashRef)
      opsCounters(opM, ex._1, mh._1)

      val clean0 = Table.load(handles.cat(traced), cleanId, handles.fio(traced))
      val (clean1, opO) = rec.run("overwrite", i, traced) {
        clean0.newInsert(spark).withData(kept).withOverwrite(true).execute()
      }
      ctx.check(opO, "overwrite total-records",
        clean1.currentSnapshot.flatMap(_.summary).map(_.counter(Summary.TotalRecords)),
        Some(minhashRef._1))
      if (traced) {
        Workload.avroSibling(ctx, opO)
        Workload.planSibling(ctx, opO, clean0, None)
        Workload.commitSibling(ctx, opO, clean1, split = false)
      }

      // d41b: a seeded batch against the persisted signature index
      val batch = Gen.docBatch(spark, seed, i.toLong, rawDocs, FreshPerBatch, vocabArr)
      val pick = Gen.batchPick(seed, i.toLong, col("doc_id"))
      val dups = rawDocs.where(pick === 0 || pick === 1)
        .select((col("doc_id") + when(pick === 0, Gen.CopyOffset)
          .otherwise(Gen.VariantOffset)).as("doc_id"))
      val wantRemoved = Workload.idDigest(dups, "doc_id")
      val (removed, opI) = rec.run("indexed_minhash", i, traced) {
        Dedup.indexedMinhashRemovals(batch, index).select("doc_id")
          .collect().map(_.getLong(0)).toSeq
      }
      ctx.check(opI, "indexed_minhash removals", (removed.size.toLong, removed.sum),
        wantRemoved)
      val batchRows = wantRemoved._1 + FreshPerBatch
      opsCounters(opI, batchRows, batchRows - removed.size)

      val survivors = batch.where(!col("doc_id").isin(removed: _*))
        .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("web").as("source"),
          length(col("text")).cast("long").as("n_chars"))
      val clean1h = handles.on(clean1, traced)
      val (clean2, opA) = rec.run("append", i, traced) {
        if (traced) Workload.tracedAppend(ctx, rec.ops.last, clean1h, survivors)
        else TableOps.append(clean1h, survivors)
      }
      ctx.check(opA, "append added-records",
        clean2.currentSnapshot.flatMap(_.summary).map(_.counter(Summary.AddedRecords)),
        Some(FreshPerBatch.toLong))
      if (traced) { Workload.avroSibling(ctx, opA); Workload.commitSibling(ctx, opA, clean2, split = true) }
    } finally kept.unpersist()

    // e8: embeddings plus exact copies; every copy must drop
    val emb = spark.table("graft.bench.embeddings").select("vec_id", "embedding")
    val planted = emb.unionByName(emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding")))
    val centroids = Gen.centroids(seed, Cells, Dim)
    val (sem, opS) = rec.run("semantic", i, traced) {
      Workload.idDigest(Dedup.semanticDedup(planted, centroids, 0.95), "id")
    }
    ctx.check(opS, "semantic digest", sem, semanticRef)
    opsCounters(opS, 2 * Vectors, sem._1)

    bytesWritten += (Workload.dirBytes(cleanDir) - before).toDouble
    bytesInput += inputBytes.toDouble
  }
}
