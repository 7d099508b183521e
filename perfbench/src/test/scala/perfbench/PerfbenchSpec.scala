package perfbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median interpolates between the two middle samples") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("a p90 is omitted unless at least 10 samples lie beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.tailQuantile(xs, 0.9).isEmpty) // 9 samples beyond
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.tailQuantile(ys, 0.9).contains(Stats.quantile(ys, 0.9)))
    assert(Stats.tailQuantile(Seq(1.0, 2.0, 3.0), 0.9).isEmpty)
    assert(Stats.tailQuantile(Nil, 0.9).isEmpty)
  }

  test("a p50 needs 10 samples beyond it too") {
    assert(Stats.tailQuantile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.tailQuantile((1 to 20).map(_.toDouble), 0.5).contains(10.5))
  }
}

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, layer: String, s: Long, e: Long,
      sibling: Boolean = false) =
    Span(id, parent, layer, layer, 0, s * 1000000L, e * 1000000L, sibling)

  test("self time subtracts direct children only") {
    val spans = Seq(
      span(0, -1, "op", 0, 100),
      span(1, 0, "write", 10, 60),
      span(2, 1, "exec", 20, 50), // grandchild of op: not subtracted from op
      span(3, 0, "commit", 60, 70),
      span(4, 3, "catalog", 62, 66))
    val self = Trace.selfMsByLayer(spans)
    assert(self("op") == 40.0)
    assert(self("write") == 20.0)
    assert(self("exec") == 30.0)
    assert(self("commit") == 6.0)
    assert(self("catalog") == 4.0)
    assert(self.values.sum == 100.0) // layers partition the op's wall time
  }

  test("overlapping children are merged and sibling spans are not subtracted") {
    val spans = Seq(
      span(0, -1, "op", 0, 100),
      span(1, 0, "exec", 10, 40),
      span(2, 0, "sql", 30, 50),
      span(3, 0, "plan", 60, 90, sibling = true))
    val self = Trace.selfMsByLayer(spans)
    assert(self("op") == 60.0) // 100 - |[10, 50)|
    assert(self("plan") == 30.0)
  }

  test("the tracer nests spans on one thread") {
    val t = new Tracer
    t.currentOp = 7
    t.span("outer", "op") { t.span("inner", "io") { Thread.sleep(2) } }
    val Seq(inner, outer) = t.spans
    assert(inner.parent == outer.id && outer.parent == -1 && inner.op == 7)
    assert(outer.durNs >= inner.durNs)
    assert(!inner.sibling && !outer.sibling)
  }

  test("spans nested in a sibling are siblings") {
    val t = new Tracer
    t.span("plan.files", "plan", sibling = true) { t.span("io.read", "io")(()) }
    assert(t.spans.forall(_.sibling))
  }

  test("union length of intervals") {
    assert(Trace.union(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25L)
    assert(Trace.union(Nil) == 0L)
  }
}

class ReportSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("the result line has exactly correct, attempted, failed and metrics") {
    val line = Report.resultLine(correct = true, attempted = 12, failed = 0,
      Seq(("cycle_s", 1.234567891234, "s"), ("read_ms", 305.0, "ms")))
    val n = mapper.readTree(line)
    assert(n.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(n.get("correct").asBoolean() && n.get("attempted").asInt() == 12)
    assert(n.get("failed").isIntegralNumber && n.get("failed").asInt() == 0)
    val m = n.get("metrics")
    assert(m.get("cycle_s").get("value").asDouble() == 1.234567891234) // every digit
    assert(m.get("cycle_s").get("unit").asText() == "s")
    assert(m.get("read_ms").get("value").asDouble() == 305.0)
    assert(!line.contains("\n"))
  }

  test("JSON writer escapes strings and writes non-finite numbers as null") {
    val s = Json.write(ListMap("a\"b" -> "x\ny", "n" -> Double.NaN, "l" -> Seq(1, 2L, 0.5)))
    val n = mapper.readTree(s)
    assert(n.get("a\"b").asText() == "x\ny")
    assert(n.get("n").isNull)
    assert(n.get("l").size() == 3 && n.get("l").get(2).asDouble() == 0.5)
  }

  test("per-iteration layer values: counters sum, gauges take the max") {
    def op(id: Int, kind: String, c: Map[String, Double], g: Map[String, Double]) = {
      val o = new Op(id, kind, id / 2, traced = true)
      c.foreach { case (k, v) => o.add(k, v) }
      g.foreach { case (k, v) => o.gauges(k) = v }
      o
    }
    val ops = Seq(
      op(0, "commit", Map("io.write_calls" -> 2), Map("catalog.metadata_json_bytes" -> 100)),
      op(1, "lookup", Map("io.read_calls" -> 3, "plan.file_prune_ratio" -> 0.5), Map.empty),
      op(2, "commit", Map("io.write_calls" -> 2), Map("catalog.metadata_json_bytes" -> 140)),
      op(3, "lookup", Map("io.read_calls" -> 5, "plan.file_prune_ratio" -> 0.7), Map.empty))
    val per = Report.perIteration(ops, iterations = 2)
    assert(per("io.write_calls") == 2.0)
    assert(per("io.read_calls") == 4.0)
    assert(per("catalog.metadata_json_bytes") == 140.0)
    assert(math.abs(per("plan.file_prune_ratio") - 0.6) < 1e-12)
    val byKind = Report.perOpType(ops)
    assert(byKind.keys.toSeq == Seq("commit", "lookup"))
  }

  test("metric units follow the name suffix") {
    assert(Report.unit("plan.ms") == "ms" && Report.unit("setup_s") == "s")
    assert(Report.unit("io.read_bytes") == "bytes" && Report.unit("live_heap_mb") == "MB")
    assert(Report.unit("write_amp") == "ratio" && Report.unit("exec.jobs") == "count")
    assert(Report.unit("self.op_ms") == "ms" && Report.unit("mutate.rewritten_bytes") == "bytes")
  }
}

class WorkloadSpec extends AnyFunSuite {
  test("the measured iteration count depends on --seconds only") {
    val trickle = new TrickleLookup
    assert(trickle.measuredIterations(10) == 8 && trickle.measuredIterations(20) == 16)
    val crud = new CrudCycle
    assert(crud.measuredIterations(1) == crud.minIterations)
    assert(crud.measuredIterations(60) == 6)
  }

  test("other processes' CPU share is busy time minus this process's") {
    val a = Host.CpuSample(busyJiffies = 1000, procCpuNs = 0L, wallNs = 0L)
    // 1 s on 4 CPUs at 100 ticks/s: 100 busy ticks, 0.5 s of them ours
    val b = Host.CpuSample(busyJiffies = 1100, procCpuNs = 500000000L, wallNs = 1000000000L)
    assert(math.abs(Host.otherCpuShare(a, b, nproc = 4, clkTck = 100) - 0.125) < 1e-12)
    assert(Host.otherCpuShare(a, a, nproc = 4, clkTck = 100) == 0.0)
  }
}

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives the same lookup keys") {
    assert(Gen.keys(5, 1, 50, 1000) == Gen.keys(5, 1, 50, 1000))
    assert(Gen.vocab(5, 100).toSeq == Gen.vocab(5, 100).toSeq)
    assert(Gen.centroids(5, 4, 8).map(_.toSeq) == Gen.centroids(5, 4, 8).map(_.toSeq))
  }

  test("a different seed gives different keys") {
    assert(Gen.keys(5, 1, 50, 1000) != Gen.keys(6, 1, 50, 1000))
    assert(Gen.keys(5, 1, 50, 1000) != Gen.keys(5, 2, 50, 1000))
    assert(Gen.vocab(5, 100).toSeq != Gen.vocab(6, 100).toSeq)
  }

  test("the same seed gives the same trickle batches; another seed other ones") {
    // a trickle batch: one key range of the generated stream of orders
    def batch(seed: Long) = Gen.lineitem(spark, seed, 120, firstOrder = 1000)
      .where(col("l_orderkey").between(1050, 1099))
      .orderBy("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSeq
    assert(batch(5) == batch(5))
    assert(batch(5) != batch(6))
    assert(batch(5).map(_.head).distinct == (1050L to 1099L))
  }

  test("generated tables are a pure function of the seed") {
    def li(seed: Long) = Gen.lineitem(spark, seed, 200).orderBy("l_orderkey", "l_linenumber")
      .collect().map(_.toSeq).toSeq
    assert(li(3) == li(3))
    assert(li(3) != li(4))
    // repartitioning does not change any value
    assert(Gen.lineitem(spark, 3, 200).repartition(3).orderBy("l_orderkey", "l_linenumber")
      .collect().map(_.toSeq).toSeq == li(3))
    val voc = Gen.vocab(3, 200)
    def docs(seed: Long) = Gen.documents(spark, seed, 50, voc).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(docs(3) == docs(3) && docs(3) != docs(4))
  }

  test("planted document copies normalize equal; near copies add one word") {
    val d = Gen.documents(spark, 1, 20, Gen.vocab(1, 200)).orderBy("doc_id").collect()
    def text(id: Int) = d(id - 1).getString(1)
    def norm(s: String) = s.trim.replaceAll("\\s+", " ").toLowerCase
    assert(norm(text(3)) == norm(text(2)))
    assert(text(7) == text(5) + " zq")
    assert(text(4) != text(5))
  }
}
