package perfbench

import java.io.{FilterInputStream, FilterOutputStream, InputStream, OutputStream}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog._
import graft.io.FileIO
import graft.spec._

/** One timed engine operation of a workload iteration. Counters are
  * summed per op; gauges keep the last value seen during the op. */
final class Op(val id: Int, val kind: String, val iter: Int,
    val traced: Boolean) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  var ok = true
  var detail: Option[String] = None
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val gauges = mutable.LinkedHashMap.empty[String, Double]
  /** Sibling spans run for this op: (layer, from, to) in epoch ms. */
  val siblings = mutable.ArrayBuffer.empty[(String, Double, Double)]
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v
  def wallMs: Double = (endNs - startNs) / 1e6
  def fail(why: String): Unit = {
    ok = false
    if (detail.isEmpty) detail = Some(why)
  }
}

/** The op log of one run plus the hooks the instrumentation reports to.
  * Only ops started with `traced = true` collect counters and spans, so
  * untraced iterations run the plain program path. */
final class Recorder {
  val tracer = new Tracer
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Manifest and manifest-list bytes read during the current op or its
    * siblings, decoded again in a sibling span once the op has ended. */
  val avroReads = mutable.ArrayBuffer.empty[(String, Array[Byte])]
  private val epochMs0 = System.currentTimeMillis()
  private val nanos0 = System.nanoTime()

  def nsToEpochMs(ns: Long): Double = epochMs0 + (ns - nanos0) / 1e6
  def epochMsToNs(ms: Double): Long = nanos0 + ((ms - epochMs0) * 1e6).toLong

  def current: Option[Op] =
    if (tracer.currentOp < 0) None
    else Some(ops(tracer.currentOp)).filter(_.traced)

  /** Counters seen inside a sibling span go here, not to the op. */
  private var siblingSink: Option[mutable.Map[String, Double]] = None

  def count(k: String, v: Double = 1.0): Unit = siblingSink match {
    case Some(m) => m(k) = m.getOrElse(k, 0.0) + v
    case None => current.foreach(_.add(k, v))
  }
  def gauge(k: String, v: Double): Unit =
    if (siblingSink.isEmpty) current.foreach(_.gauges(k) = v)

  /** Time `body` as one op. Failures are recorded and rethrown. */
  def run[T](kind: String, iter: Int, traced: Boolean)(body: => T): (T, Op) = {
    val op = new Op(ops.size, kind, iter, traced)
    ops += op
    tracer.currentOp = op.id
    avroReads.clear()
    val jvm0 = if (traced) Some(Jvm.opStart()) else None
    op.startMs = System.currentTimeMillis()
    op.startNs = System.nanoTime()
    try {
      val r = if (traced) tracer.span(kind, "op")(body) else body
      (r, op)
    } catch {
      case e: Throwable =>
        op.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        throw e
    } finally {
      op.endNs = System.nanoTime()
      op.endMs = System.currentTimeMillis()
      jvm0.foreach(j => Jvm.opEnd(j, op))
      tracer.currentOp = -1
    }
  }

  /** A sibling span for `op`: runs after the op, outside its wall time.
    * Returns the result, the counters the instrumentation saw inside it,
    * and the span's epoch-ms window. */
  def sibling[T](op: Op, name: String, layer: String)(
      f: => T): (T, Map[String, Double], (Double, Double)) = {
    val sink = mutable.Map.empty[String, Double]
    tracer.currentOp = op.id
    siblingSink = Some(sink)
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, layer, sibling = true)(f)
      (r, sink.toMap, (nsToEpochMs(t0), nsToEpochMs(System.nanoTime())))
    } finally {
      siblingSink = None
      tracer.currentOp = -1
    }
  }
}

/** GC time and peak heap of one op. */
object Jvm {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def opStart(): Long = {
    heapPools.foreach(_.resetPeakUsage())
    gcMs
  }

  def opEnd(gc0: Long, op: Op): Unit = {
    op.add("jvm.gc_ms", (gcMs - gc0).toDouble)
    op.gauges("jvm.heap_peak_mb") =
      heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Used heap after forced collections, in MB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

/** Counts and times the engine's driver-side metadata I/O. Manifest
  * bytes are kept so their Avro decode can be re-run as a sibling span. */
final class TracingFileIO(val delegate: FileIO, rec: Recorder) extends FileIO {
  private def avroKind(path: String): Option[String] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    if (!name.endsWith(".avro")) None
    else if (name.startsWith("snap-")) Some("avro.manifest_list_reads")
    else Some("avro.manifest_reads")
  }

  private def readDone(path: String, n: Long, t0: Long): Unit = {
    rec.count("io.read_calls")
    rec.count("io.read_bytes", n.toDouble)
    rec.count("io.read_ms", (System.nanoTime() - t0) / 1e6)
    avroKind(path).foreach { k =>
      rec.count(k)
      rec.count("avro.manifest_bytes", n.toDouble)
    }
  }

  private def writeDone(n: Long, t0: Long): Unit = {
    rec.count("io.write_calls")
    rec.count("io.write_bytes", n.toDouble)
    rec.count("io.write_ms", (System.nanoTime() - t0) / 1e6)
  }

  override def readAllBytes(path: String): Array[Byte] =
    rec.tracer.span("io.read", "io") {
      val t0 = System.nanoTime()
      val b = delegate.readAllBytes(path)
      readDone(path, b.length.toLong, t0)
      if (rec.current.isDefined && avroKind(path).isDefined)
        rec.avroReads += (path -> b)
      b
    }

  override def writeAllBytes(path: String, data: Array[Byte],
      overwrite: Boolean): Unit =
    rec.tracer.span("io.write", "io") {
      val t0 = System.nanoTime()
      delegate.writeAllBytes(path, data, overwrite)
      writeDone(data.length.toLong, t0)
    }

  override def open(path: String): InputStream = counting(path,
    delegate.open(path))
  override def openRange(path: String, offset: Long,
      length: Long): InputStream =
    counting(path, delegate.openRange(path, offset, length))

  private def counting(path: String, in: InputStream): InputStream = {
    val t0 = System.nanoTime()
    new FilterInputStream(in) {
      private var n = 0L
      private var closed = false
      override def read(): Int = { val b = super.read(); if (b >= 0) n += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = super.read(b, off, len); if (r > 0) n += r; r
      }
      override def close(): Unit = {
        super.close()
        if (!closed) { closed = true; readDone(path, n, t0) }
      }
    }
  }

  override def create(path: String, overwrite: Boolean): OutputStream = {
    val t0 = System.nanoTime()
    new FilterOutputStream(delegate.create(path, overwrite)) {
      private var n = 0L
      private var closed = false
      override def write(b: Int): Unit = { out.write(b); n += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); n += len
      }
      override def close(): Unit = {
        super.close()
        if (!closed) { closed = true; writeDone(n, t0) }
      }
    }
  }

  override def delete(path: String): Unit = delegate.delete(path)
  override def exists(path: String): Boolean = delegate.exists(path)
  override def length(path: String): Long = delegate.length(path)
  override def deleteFiles(paths: Seq[String]): Unit =
    delegate.deleteFiles(paths)
  override def listFiles(prefix: String): Seq[String] =
    delegate.listFiles(prefix)
  override def modificationTime(path: String): Long =
    delegate.modificationTime(path)
  override def rename(src: String, dst: String): Unit =
    delegate.rename(src, dst)
}

/** Times table loads and compare-and-swap commits; counts CAS conflicts
  * and the size of each committed metadata JSON. */
final class TracingCatalog(val delegate: Catalog, rec: Recorder)
    extends Catalog {
  override def loadTable(id: TableIdentifier): TableMetadata =
    rec.tracer.span("catalog.load", "catalog") {
      val t0 = System.nanoTime()
      val m = delegate.loadTable(id)
      rec.count("catalog.load_calls")
      rec.count("catalog.load_ms", (System.nanoTime() - t0) / 1e6)
      m
    }

  override def commitTable(id: TableIdentifier,
      requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate]): TableMetadata = {
    val m = rec.tracer.span("catalog.commit", "catalog") {
      val t0 = System.nanoTime()
      rec.count("catalog.commit_calls")
      rec.count("catalog.commit_conflicts", 0)
      try delegate.commitTable(id, requirements, updates)
      catch {
        case e: CommitFailedException =>
          rec.count("catalog.commit_conflicts")
          throw e
      } finally rec.count("catalog.commit_ms", (System.nanoTime() - t0) / 1e6)
    }
    if (rec.current.isDefined)
      rec.gauge("catalog.metadata_json_bytes", m.toJson.length.toDouble)
    m
  }

  override def createTable(id: TableIdentifier, schema: Schema,
      spec: PartitionSpec, sortOrder: SortOrder,
      properties: Map[String, String]): TableMetadata =
    rec.tracer.span("catalog.create", "catalog")(
      delegate.createTable(id, schema, spec, sortOrder, properties))

  override def listNamespaces(): Seq[Seq[String]] = delegate.listNamespaces()
  override def createNamespace(ns: Seq[String],
      properties: Map[String, String]): Unit =
    delegate.createNamespace(ns, properties)
  override def dropNamespace(ns: Seq[String]): Unit = delegate.dropNamespace(ns)
  override def namespaceExists(ns: Seq[String]): Boolean =
    delegate.namespaceExists(ns)
  override def loadNamespaceProperties(ns: Seq[String]): Map[String, String] =
    delegate.loadNamespaceProperties(ns)
  override def updateNamespaceProperties(ns: Seq[String],
      removals: Seq[String], updates: Map[String, String]): Unit =
    delegate.updateNamespaceProperties(ns, removals, updates)
  override def listTables(ns: Seq[String]): Seq[TableIdentifier] =
    delegate.listTables(ns)
  override def tableExists(id: TableIdentifier): Boolean =
    delegate.tableExists(id)
  override def dropTable(id: TableIdentifier, purge: Boolean): Unit =
    delegate.dropTable(id, purge)
  override def renameTable(from: TableIdentifier, to: TableIdentifier): Unit =
    delegate.renameTable(from, to)
  override def registerTable(id: TableIdentifier,
      metadataLocation: String): TableMetadata =
    delegate.registerTable(id, metadataLocation)
}

/** Spark execution counters, kept per job and stage with their times so
  * they can be assigned to ops after the listener bus has drained. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

final case class QueryRec(keyMs: Long, phases: Map[String, (Long, Long)], execMs: Double)

final class ExecListener extends SparkListener {
  final class StageAgg {
    var completed = false
    var tasks = 0L
    var runMs = 0.0
    var cpuMs = 0.0
    var input = 0.0
    var shuffleRead = 0.0
    var shuffleWrite = 0.0
    var spill = 0.0
    var output = 0.0
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stage(e.stageInfo.stageId).completed = true }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.input += m.inputMetrics.bytesRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
    }
  }

  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  /** Fill the `exec.*` counters of `op` from the jobs started in its
    * window; returns the jobs' intervals for the driver-gap split. */
  def attribute(op: Op): Seq[JobRec] = synchronized {
    val js = jobsIn(op.startMs, op.endMs)
    val ss = js.flatMap(_.stages).distinct.flatMap(id => stages.get(id).map(id -> _))
      .filter(_._2.completed)
    op.add("exec.jobs", js.size.toDouble)
    op.add("exec.stages", ss.size.toDouble)
    op.add("exec.tasks", ss.map(_._2.tasks).sum.toDouble)
    op.add("exec.task_ms", ss.map(_._2.runMs).sum)
    op.add("exec.task_cpu_ms", ss.map(_._2.cpuMs).sum)
    op.add("exec.input_bytes", ss.map(_._2.input).sum)
    op.add("exec.shuffle_read_bytes", ss.map(_._2.shuffleRead).sum)
    op.add("exec.shuffle_write_bytes", ss.map(_._2.shuffleWrite).sum)
    op.add("exec.spill_bytes", ss.map(_._2.spill).sum)
    op.add("exec.output_bytes", ss.map(_._2.output).sum)
    val busy = Trace.union(js.map(j => (math.max(j.startMs, op.startMs),
      math.min(if (j.endMs < 0) op.endMs else j.endMs, op.endMs))))
    op.add("exec.driver_gap_ms", math.max(0.0, op.wallMs - busy))
    js
  }
}

/** Catalyst phase times of every finished query. */
final class SqlListener extends QueryExecutionListener {
  val queries = mutable.ArrayBuffer.empty[QueryRec]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val key = ph.get("planning").orElse(ph.get("optimization"))
      .orElse(ph.get("analysis")).map(_._1).getOrElse(System.currentTimeMillis())
    queries += QueryRec(key, ph, durationNs / 1e6)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attribute(op: Op): Seq[QueryRec] = synchronized {
    val qs = queries.filter(q => q.keyMs >= op.startMs && q.keyMs <= op.endMs).toSeq
    def phase(n: String) = qs.flatMap(_.phases.get(n)).map(p => (p._2 - p._1).toDouble).sum
    op.add("sql.queries", qs.size.toDouble)
    op.add("sql.analyze_ms", phase("analysis"))
    op.add("sql.optimize_ms", phase("optimization"))
    op.add("sql.plan_ms", phase("planning"))
    op.add("sql.exec_ms", qs.map(_.execMs).sum)
    qs
  }
}
