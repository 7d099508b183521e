package perfbench

import scala.collection.immutable.ListMap

/** Turns the op log of a run into metrics. */
object Report {
  /** Gauges aggregate by max over the ops of an iteration window; ratios
    * by mean over the ops that planned; everything else by sum. */
  val Gauges = Set("catalog.metadata_json_bytes", "jvm.heap_peak_mb")
  val Means = Set("plan.file_prune_ratio")

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith(".bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("ratio") || name.endsWith("_amp") || name.endsWith("_share")) "ratio"
    else "count"

  /** Per-iteration value of every counter and gauge over `ops`. */
  def perIteration(ops: Seq[Op], iterations: Int): ListMap[String, Double] = {
    val names = ops.flatMap(o => o.counters.keys ++ o.gauges.keys).distinct
    ListMap(names.map { n =>
      val v =
        if (Gauges(n)) ops.flatMap(_.gauges.get(n)).maxOption.getOrElse(0.0)
        else if (Means(n)) Stats.mean(ops.flatMap(_.counters.get(n)))
        else ops.flatMap(_.counters.get(n)).sum / math.max(1, iterations)
      n -> v
    }: _*)
  }

  /** Mean per op of every counter and gauge, by op kind. */
  def perOpType(ops: Seq[Op]): ListMap[String, Any] =
    ListMap(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val names = os.flatMap(o => o.counters.keys ++ o.gauges.keys).distinct.sorted
      kind -> (ListMap[String, Any]("n" -> os.size,
        "wall_ms" -> Stats.median(os.map(_.wallMs))) ++
        names.map(n => n -> Stats.mean(os.map(o =>
          o.counters.getOrElse(n, o.gauges.getOrElse(n, 0.0))))))
    }: _*)

  /** Latency summary per op kind: count, median and (when at least
    * [[Stats.MinTailSamples]] samples lie beyond it) p90, in ms. */
  def latencies(ops: Seq[Op]): ListMap[String, Any] =
    ListMap(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val w = os.map(_.wallMs)
      kind -> ListMap("n" -> w.size, "p50_ms" -> Stats.median(w),
        "p90_ms" -> Stats.tailQuantile(w, 0.9), "mean_ms" -> Stats.mean(w))
    }: _*)

  /** The result line the benchmark driver reads. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    Json.write(ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) =>
        n -> ListMap("value" -> v, "unit" -> u)
      }: _*)))
}
