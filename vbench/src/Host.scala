package vbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host-contention sample: what else was using the machine while a run
  * measured. Readings that the platform lacks are -1. */
final case class Host(load1: Double, stealS: Double, cpuS: Double,
                      gcMs: Long, wallNs: Long)

object Host {
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Steal seconds summed over all CPUs (the 8th counter of /proc/stat's
    * `cpu` line, in clock ticks of 1/100 s). */
  private def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toDouble / 100).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime)
      .filter(_ >= 0).sum

  def sample(): Host = Host(loadavg(), stealS(), cpuS(), gcMs(), System.nanoTime())

  /** The record printed beside a run's metrics. */
  def record(a: Host, b: Host): String = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    f"""{"load1_before": ${a.load1}%.2f, "load1_after": ${b.load1}%.2f, """ +
      f""""steal_s": ${b.stealS - a.stealS}%.2f, "cpu_s": ${b.cpuS - a.cpuS}%.2f, """ +
      f""""wall_s": $wall%.2f, "cpu_per_wall": ${(b.cpuS - a.cpuS) / wall}%.3f, """ +
      s""""gc_ms": ${b.gcMs - a.gcMs}}"""
  }
}
