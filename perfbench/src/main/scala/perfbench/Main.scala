package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its record.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --record <file>
  * }}}
  *
  * Set-up (session start plus fixture build) runs [[Main.Setups]] times
  * and reports the median; then the plain-Spark references are computed,
  * warm-up iterations run, and [[Workload.measuredIterations]] of
  * `--seconds` iterations are measured. Every op, warm-up included, is
  * checked; only the measured ones are timed. With `--trace 1` every
  * other measured iteration runs the instrumented path; the untraced ones
  * in between give the tracing overhead. The last line of standard output
  * is the result JSON.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = Workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val recordFile = new File(opt("record")).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()
    val clkTck = sys.env.get("PERFBENCH_CLK_TCK").map(_.toInt).getOrElse(100)

    // a traced run needs one traced and one untraced iteration at least
    val iters = math.max(w.measuredIterations(seconds), if (trace) 2 else 1)
    val load0 = Host.loadavg()
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to Setups) {
      val dir = new File(work, s"setup$k")
      Workload.deleteRecursively(dir)
      val t0 = System.nanoTime()
      spark = session(nproc, work)
      w.setup(spark, seed, dir, w.warmupIterations + iters)
      setupS += (System.nanoTime() - t0) / 1e9
      if (k < Setups) {
        spark.stop()
        Workload.deleteRecursively(dir)
      }
    }

    val rec = new Recorder
    val ctx = new Ctx(spark, rec)
    val exec = new ExecListener
    val sql = new SqlListener
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(sql)
    }
    w.reference(ctx)
    val errors = mutable.ArrayBuffer.empty[String]
    def iteration(i: Int, traced: Boolean): Unit =
      try w.iteration(ctx, i, traced)
      catch {
        case NonFatal(e) =>
          errors += s"iteration $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          if (!rec.ops.exists(o => o.iter == i && !o.ok)) {
            val (_, op) = rec.run("iteration", i, traced = false)(())
            op.fail(errors.last)
          }
      }
    (0 until w.warmupIterations).foreach(j => iteration(100000 + j, traced = false))
    val firstOp = rec.ops.size
    val firstBytes = w.bytesWritten.size

    val cpu0 = Host.cpuSample()
    val t0 = System.nanoTime()
    // other processes' CPU share during each measured iteration
    val busy = (0 until iters).map { i =>
      val a = Host.cpuSample()
      iteration(i, traced = trace && i % 2 == 0)
      Host.otherCpuShare(a, Host.cpuSample(), nproc, clkTck)
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val cpu1 = Host.cpuSample()
    val load1 = Host.loadavg()

    // timings cover the measured iterations; correctness covers every op
    val allOps = rec.ops.toSeq
    val ops = rec.ops.drop(firstOp).toSeq
    val failedOps = allOps.filterNot(_.ok)
    val tracedOps = ops.filter(_.traced)
    val spans = mutable.ArrayBuffer.empty[Span]
    if (trace) {
      org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
      spans ++= rec.tracer.spans.filter(s => s.op >= firstOp && rec.ops(s.op).traced)
      tracedOps.foreach(op => spans ++= attribute(op, exec, sql, rec, spans.toSeq))
    }
    val liveHeapMb = Jvm.liveHeapMb()

    // ------------------------------------------------------- metrics
    def cycleMs(os: Seq[Op]): Seq[Double] = os.groupBy(_.iter).values
      .filter(_.forall(_.ok)).map(_.map(_.wallMs).sum).toSeq
    def medianOf(kind: String) = {
      val xs = ops.filter(o => o.kind == kind && o.ok).map(_.wallMs)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val cycles = cycleMs(ops)
    val written = w.bytesWritten.drop(firstBytes).sum
    val input = w.bytesInput.drop(firstBytes).sum
    val endToEnd = ListMap(
      "setup_s" -> Stats.median(setupS.toSeq),
      "cycle_s" -> (if (cycles.isEmpty) Double.NaN else Stats.median(cycles) / 1000),
      "read_ms" -> medianOf(w.readKind),
      "write_ms" -> medianOf(w.writeKind),
      "write_amp" -> (if (input > 0) written / input else Double.NaN),
      "live_heap_mb" -> liveHeapMb)

    val tracedIters = tracedOps.map(_.iter).distinct.size
    val layers: ListMap[String, Double] =
      if (!trace) ListMap.empty
      else {
        val per = Report.perIteration(tracedOps, tracedIters)
        // the split of the ops' own wall time; sibling re-runs lie outside it
        val self = Trace.selfMsByLayer(spans.filterNot(_.sibling).toSeq).map { case (l, ms) =>
          s"self.${l}_ms" -> ms / math.max(1, tracedIters)
        }
        val tracedCycle = cycleMs(tracedOps)
        val plainCycle = cycleMs(ops.filterNot(_.traced))
        val overhead = if (tracedCycle.isEmpty || plainCycle.isEmpty) 0.0
          else Stats.median(tracedCycle) - Stats.median(plainCycle)
        val siblingMs = spans.filter(s => s.sibling && s.parent < 0).map(_.durNs / 1e6).sum
        def kindMean(kind: String, n: String) = {
          val os = tracedOps.filter(_.kind == kind)
          Stats.mean(os.map(o => o.counters.getOrElse(n, o.gauges.getOrElse(n, 0.0))))
        }
        val focus = Seq("plan.ms", "plan.files_planned", "plan.files_zero_rows",
          "plan.distributed", "plan.manifests_read", "exec.driver_gap_ms", "sql.plan_ms")
          .map(n => s"read.$n" -> kindMean(w.readKind, n)) ++
          Seq("commit.ms", "write.ms", "catalog.commit_ms", "exec.driver_gap_ms",
            "catalog.metadata_json_bytes").map(n => s"write.$n" -> kindMean(w.writeKind, n))
        per ++ self ++ focus ++ ListMap(
          "trace.overhead_ms" -> overhead,
          "trace.overhead_pct" -> (if (plainCycle.isEmpty) 0.0
            else 100.0 * overhead / Stats.median(plainCycle)),
          "trace.sibling_ms" -> siblingMs / math.max(1, tracedIters))
      }

    val latencies = Report.latencies(ops.filter(_.ok))
    val detail = detailMetrics(w, ops, endToEnd, failedOps.size, allOps.size)
    val record = ListMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> (Host.context(spark, nproc) ++ Map(
        "loadavg_before" -> load0, "loadavg_after" -> load1,
        "other_cpu_share" -> Host.otherCpuShare(cpu0, cpu1, nproc, clkTck))),
      "fixture" -> w.facts,
      "setup_s_samples" -> setupS.toSeq,
      "measured_s" -> measureS,
      "iterations" -> iters,
      "iteration_other_cpu_share" -> busy,
      "end_to_end" -> endToEnd,
      "metrics" -> detail,
      "latency" -> latencies,
      "samples_ms" -> ListMap(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
        k -> os.map(o => math.rint(o.wallMs * 1000) / 1000) }: _*),
      "failures" -> (failedOps.map(o => s"${o.kind}#${o.iter}: ${o.detail.getOrElse("")}") ++ errors),
      "layers" -> (if (!trace) ListMap.empty else ListMap(
        "traced_iterations" -> tracedIters,
        "per_iteration" -> layers,
        "per_op_type" -> Report.perOpType(tracedOps))))
    recordFile.getParentFile.mkdirs()
    Files.write(recordFile.toPath, Json.write(record).getBytes(UTF_8))

    val out = (if (trace) layers else endToEnd).toSeq.map { case (n, v) => (n, v, Report.unit(n)) }
    println(Report.resultLine(failedOps.isEmpty, allOps.size, failedOps.size, out))
    spark.stop()
    if (failedOps.nonEmpty) sys.exit(1)
  }

  /** Per-op-type and workload-specific metrics, where the workload has the op. */
  private def detailMetrics(w: Workload, ops: Seq[Op], e2e: ListMap[String, Double],
      failed: Int, attempted: Int): ListMap[String, Double] = {
    val ok = ops.filter(_.ok)
    def walls(kind: String) = ok.filter(_.kind == kind).map(_.wallMs)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = e2e("setup_s")
    Seq("append", "cow_delete", "mor_delete", "mor_read", "upsert", "compact")
      .foreach { k => if (w.name == "crud_cycle" && walls(k).nonEmpty)
        m(s"${k}_s") = Stats.median(walls(k)) / 1000 }
    Seq("lookup", "commit").foreach { k =>
      val xs = walls(k)
      if (xs.nonEmpty && w.name != "dedup_corpus") {
        m(s"${k}_p50_ms") = Stats.median(xs)
        Stats.tailQuantile(xs, 0.9).foreach(v => m(s"${k}_p90_ms") = v)
      }
    }
    if (w.name == "dedup_corpus") m("dedup_pass_s") = e2e("cycle_s")
    m("write_amp") = e2e("write_amp")
    m("live_heap_mb") = e2e("live_heap_mb")
    m("failed_op_share") = if (attempted == 0) 0.0 else failed.toDouble / attempted
    ListMap(m.toSeq: _*)
  }

  /** Execution and Catalyst counters of a traced op, plus spans for its
    * Spark jobs and Catalyst phases, each under the innermost span of the
    * op that contains it, so self time per layer adds up. */
  private def attribute(op: Op, exec: ExecListener, sql: SqlListener,
      rec: Recorder, spans: Seq[Span]): Seq[Span] = {
    val jobs = exec.attribute(op)
    val queries = sql.attribute(op)
    if (op.siblings.exists(_._1 == "plan"))
      op.add("plan.distributed", op.siblings.filter(_._1 == "plan")
        .count(s => exec.jobsIn(s._2, s._3).nonEmpty).toDouble)
    val own = spans.filter(s => s.op == op.id && !s.sibling)
    var nextId = -1 - op.id * 10000
    def place(name: String, layer: String, fromMs: Double, toMs: Double): Option[Span] = {
      val s = math.max(rec.epochMsToNs(fromMs), op.startNs)
      val e = math.min(rec.epochMsToNs(toMs), op.endNs)
      if (e <= s) None
      else {
        val mid = (s + e) / 2
        val parent = own.filter(p => p.startNs <= mid && p.endNs >= mid)
          .sortBy(_.durNs).headOption.map(_.id).getOrElse(-1)
        nextId -= 1
        Some(Span(nextId, parent, name, layer, op.id, s, e, sibling = false))
      }
    }
    jobs.flatMap(j => place(s"job${j.id}", "exec", j.startMs.toDouble,
      (if (j.endMs < 0) op.endMs else j.endMs).toDouble)) ++
      queries.flatMap(q => Seq("analysis", "optimization", "planning").flatMap(p =>
        q.phases.get(p).flatMap { case (a, b) => place(s"sql.$p", "sql", a.toDouble, b.toDouble) }))
  }

  def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
