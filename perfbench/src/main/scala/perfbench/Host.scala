package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The host a record was measured on, and how busy the rest of it was. */
object Host {
  def loadavg(): Seq[Double] =
    read("/proc/loadavg").map(_.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Nil)

  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path))))
    catch { case _: Exception => None }

  /** Busy jiffies of all CPUs (from /proc/stat), this process's CPU time
    * in ns, and the wall clock in ns. */
  final case class CpuSample(busyJiffies: Long, procCpuNs: Long, wallNs: Long)

  def cpuSample(): CpuSample = {
    val busy = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { l =>
        // user nice system idle iowait irq softirq steal
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
      }.getOrElse(0L)
    val proc = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    CpuSample(busy, proc, System.nanoTime())
  }

  /** Share of the host's CPU capacity used by other processes between two
    * samples: /proc/stat busy time minus this JVM's process CPU time. */
  def otherCpuShare(a: CpuSample, b: CpuSample, nproc: Int, clkTck: Int): Double = {
    val wallS = (b.wallNs - a.wallNs) / 1e9
    if (wallS <= 0) 0.0
    else {
      val busyS = (b.busyJiffies - a.busyJiffies).toDouble / clkTck
      val ownS = (b.procCpuNs - a.procCpuNs) / 1e9
      math.max(0.0, busyS - ownS) / (wallS * nproc)
    }
  }

  def context(spark: SparkSession, nproc: Int): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus_used" -> nproc,
      "master" -> spark.sparkContext.master,
      "xmx" -> rt.getInputArguments.asScala.find(_.startsWith("-Xmx")).getOrElse(""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")
  }
}
