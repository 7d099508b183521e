package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.avro.ManifestAvro
import graft.catalog.{Catalog, LocalCatalog}
import graft.io.{FileIO, HadoopFileIO}
import graft.spec.{FileContent, ManifestContent, Summary}
import graft.table._

/** What a workload iteration needs: the session and the op recorder. */
final class Ctx(val spark: SparkSession, val rec: Recorder) {
  /** Checks count here: a mismatch fails the op it belongs to. */
  def check(op: Op, what: String, got: Any, want: Any): Unit =
    if (got != want) op.fail(s"$what: got $got, want $want")
}

/** One benchmark workload: a fixture built in `setup`, plain-Spark
  * reference results computed once, then iterations of engine ops. */
abstract class Workload {
  def name: String
  /** The op kinds reported as `read_ms` and `write_ms`. */
  def readKind: String
  def writeKind: String

  /** Build the fixture under `dir` (a fresh directory each call), for
    * `iterations` iterations (warm-up and measured). */
  def setup(spark: SparkSession, seed: Long, dir: File, iterations: Int): Unit
  /** Plain-Spark reference results over the raw inputs. */
  def reference(ctx: Ctx): Unit
  /** One iteration of ops; `traced` selects the instrumented path. */
  def iteration(ctx: Ctx, i: Int, traced: Boolean): Unit
  /** Iterations run before measuring starts. */
  def warmupIterations: Int = 1
  /** Planned seconds of one measured iteration: a run measures
    * `--seconds / iterationSeconds` iterations (at least
    * `minIterations`). The count depends on `--seconds` only, never on
    * how fast the host is, so every run and every commit measures the
    * same table states. */
  def iterationSeconds: Double
  def minIterations: Int = 1
  def measuredIterations(seconds: Double): Int =
    math.max(minIterations, math.round(seconds / iterationSeconds).toInt)

  /** Bytes the iterations wrote under the warehouse and bytes of input
    * parquet they consumed, for `write_amp`. */
  val bytesWritten = mutable.ArrayBuffer.empty[Double]
  val bytesInput = mutable.ArrayBuffer.empty[Double]

  /** Extra facts for the record (sizes, fixture shape). */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def all: Seq[String] = Seq("crud_cycle", "trickle_lookup", "dedup_corpus")

  def apply(name: String): Workload = name match {
    case "crud_cycle" => new CrudCycle
    case "trickle_lookup" => new TrickleLookup
    case "dedup_corpus" => new DedupCorpus
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${all.mkString(", ")})")
  }

  /** Total size of the regular files under `f`. */
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Bytes of the parquet files (no checksums or markers) under `f`. */
  def parquetBytes(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length() else 0L }
    else Option(f.listFiles()).map(_.map(parquetBytes).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Result digest of lineitem rows: count, sum of price in cents, sum
    * of quantity. Exact integer arithmetic, so any engine that returns
    * the same rows returns the same digest. */
  def lineDigest(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L)),
      coalesce(sum(col("l_quantity").cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Count and id sum of a frame. */
  def idDigest(df: DataFrame, id: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col(id)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def cents(price: Double): Long = math.round(price * 100)

  /** A table handle on the plain or the instrumented catalog and IO. */
  final class Handles(warehouse: String, rec: Recorder) {
    val catalog: Catalog = new LocalCatalog(warehouse)
    val io: FileIO = new HadoopFileIO()
    val tracingCatalog = new TracingCatalog(catalog, rec)
    val tracingIO = new TracingFileIO(io, rec)
    def cat(traced: Boolean): Catalog = if (traced) tracingCatalog else catalog
    def fio(traced: Boolean): FileIO = if (traced) tracingIO else io
    def on(t: Table, traced: Boolean): Table =
      new Table(cat(traced), t.id, t.metadata, fio(traced))
  }

  // ------------------------------------------------- traced-run helpers

  /** Re-plan the scan the op ran internally (its entry point hides the
    * planner) as a sibling span on the same table state and predicate,
    * and record the planning counters. Distributed planning reads the
    * manifests on executors, past the wrapped FileIO; the manifests it
    * reads are the data manifests that survive pruning, counted here
    * with the planner's own public pruning function. */
  def planSibling(ctx: Ctx, op: Op, t: Table, pred: Option[Expr]): Unit = {
    val spark = ctx.spark
    val (tasks, sink, win) = ctx.rec.sibling(op, "plan.files", "plan") {
      pred.foldLeft(Scan(t, spark))(_ filter _).planFiles()
    }
    op.siblings += (("plan", win._1, win._2))
    val planReads = ctx.rec.avroReads.toSeq
    val (dataManifests, _, _) = ctx.rec.sibling(op, "plan.meta", "plan") {
      t.currentSnapshot.toSeq.flatMap(t.manifestList)
        .filter(_.content == ManifestContent.Data)
    }
    ctx.rec.avroReads.clear()
    ctx.rec.avroReads ++= planReads
    val schema = t.schema
    val surviving = dataManifests.count { mf =>
      pred.forall(e => t.metadata.specById(mf.partitionSpecId)
        .forall(sp => Pruning.manifestMightMatch(e.simplify, mf, sp, schema)))
    }
    val total = dataManifests.map(m => m.addedFilesCount + m.existingFilesCount).sum
    op.add("plan.ops", 1)
    op.add("plan.ms", win._2 - win._1)
    op.add("plan.manifests_total", dataManifests.size.toDouble)
    val driverReads = sink.getOrElse("avro.manifest_reads", 0.0)
    op.add("plan.manifests_read", if (driverReads > 0) driverReads else surviving.toDouble)
    op.add("plan.files_total", total.toDouble)
    op.add("plan.files_planned", tasks.size.toDouble)
    op.add("plan.files_zero_rows", tasks.count(_.file.recordCount == 0).toDouble)
    op.add("plan.file_prune_ratio",
      if (total == 0) 0.0 else 1.0 - tasks.size.toDouble / total)
    op.add("plan.delete_files_attached",
      tasks.flatMap(_.deleteFiles.map(_.file.filePath)).distinct.size.toDouble)
    // an entry point that plans inside the engine's own catalog (SQL)
    // shows no metadata reads of its own: report the sibling's instead
    if (!op.counters.contains("avro.manifest_list_reads")) {
      sink.foreach { case (k, v) =>
        if (k.startsWith("io.") || k.startsWith("avro.")) op.add(k, v)
      }
      avroSibling(ctx, op)
    }
  }

  /** Decode again, in a sibling span, the manifest lists and manifests
    * the op read through the wrapped FileIO (the decode itself runs
    * inside engine code the wrapper cannot see). */
  def avroSibling(ctx: Ctx, op: Op): Unit = {
    val reads = ctx.rec.avroReads.toSeq
    ctx.rec.avroReads.clear()
    if (reads.nonEmpty) {
      val (entries, _, win) = ctx.rec.sibling(op, "avro.decode", "avro") {
        reads.map { case (path, bytes) =>
          if (path.substring(path.lastIndexOf('/') + 1).startsWith("snap-"))
            ManifestAvro.readManifestList(bytes).size
          else ManifestAvro.readManifest(bytes).entries.size
        }.sum
      }
      op.add("avro.decode_ms", win._2 - win._1)
      op.add("avro.entries_decoded", entries.toDouble)
    }
  }

  /** Record what the op's commit added, read from the new snapshot: data
    * and delete files, rows and bytes, and its summary counters. Where
    * the entry point hides the write/commit split, `commit.ms` is the
    * catalog CAS plus the metadata writes and `write.ms` the rest. */
  def commitSibling(ctx: Ctx, op: Op, after: Table, split: Boolean): Unit = {
    val snap = after.currentSnapshot.get
    val (added, _, _) = ctx.rec.sibling(op, "commit.added", "commit") {
      after.manifestList(snap).filter(_.addedSnapshotId == snap.snapshotId)
        .flatMap(mf => after.readManifest(mf).addedEntries.map(_.dataFile))
    }
    val data = added.filter(_.content == FileContent.Data)
    val deletes = added.filterNot(_.content == FileContent.Data)
    val s = snap.summary.get
    op.add("write.files", data.size.toDouble)
    op.add("write.files_zero_rows", data.count(_.recordCount == 0).toDouble)
    op.add("write.rows", data.map(_.recordCount).sum.toDouble)
    op.add("write.bytes", (data ++ deletes).map(_.fileSizeInBytes).sum.toDouble)
    if (!split) {
      val commitMs = op.counters.getOrElse("catalog.commit_ms", 0.0) +
        op.counters.getOrElse("io.write_ms", 0.0)
      op.add("commit.ms", commitMs)
      op.add("commit.attempts", op.counters.getOrElse("catalog.commit_calls", 0.0))
      op.add("write.ms", math.max(0.0, op.wallMs - commitMs))
    }
    op.kind match {
      case "cow_delete" | "upsert" =>
        op.add("mutate.files_rewritten", s.counter(Summary.DeletedDataFiles).toDouble)
        op.add("mutate.rewritten_bytes", s.counter(Summary.AddedFilesSize).toDouble)
      case "mor_delete" =>
        op.add("mutate.delete_files_added", deletes.size.toDouble)
        op.add("mutate.position_deletes_added",
          deletes.filter(_.content == FileContent.PositionDeletes)
            .map(_.recordCount).sum.toDouble)
      case "compact" =>
        op.add("compact.files_in", s.counter(Summary.DeletedDataFiles).toDouble)
        op.add("compact.files_out", data.size.toDouble)
      case _ => ()
    }
  }

  /** `TableOps.append` split into its two public steps, each a span. */
  def tracedAppend(ctx: Ctx, op: Op, t: Table, df: DataFrame): Table = {
    val rec = ctx.rec
    val files = rec.tracer.span("write.files", "write") {
      val t0 = System.nanoTime()
      val f = PartitionedWriter.writeDataFiles(t.metadata, df)
      op.add("write.ms", (System.nanoTime() - t0) / 1e6)
      f
    }
    rec.tracer.span("commit.snapshot", "commit") {
      val t0 = System.nanoTime()
      val calls0 = op.counters.getOrElse("catalog.commit_calls", 0.0)
      val after = t.commitSnapshot(PendingSnapshot(graft.spec.Operation.Append,
        addedDataFiles = files))
      op.add("commit.ms", (System.nanoTime() - t0) / 1e6)
      op.add("commit.attempts",
        op.counters.getOrElse("catalog.commit_calls", 0.0) - calls0)
      after
    }
  }
}
