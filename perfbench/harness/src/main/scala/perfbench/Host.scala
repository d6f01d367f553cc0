package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Facts about the machine and this process, read from /proc and /sys. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
    catch { case _: java.io.IOException => None }

  private val ticks = 100.0 // USER_HZ on Linux

  /** Machine-wide (busy, steal) seconds from the aggregate cpu line. */
  def cpuTimes(): (Double, Double) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      val busy = f(0) + f(1) + f(2) + f(5) + f(6)
      (busy / ticks, (if (f.length > 7) f(7) else 0L) / ticks)
    }.getOrElse((0.0, 0.0))

  /** CPU seconds used by this process (user + system). */
  def selfCpu(): Double =
    read("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong + f(12).toLong) / ticks
    }.getOrElse(0.0)

  /** Peak resident set size of this process, in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Heap still reachable after a full collection, in MiB: what the
    * program and its cached inputs retain. Unlike the resident set it
    * does not follow the collector's sizing decisions. */
  def liveHeapMb(): Double = {
    // the second collection frees what Spark's cleaner released after
    // the first one dropped its weak references
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Largest cache level's size in bytes (the last-level cache). */
  def llcBytes(): Long = {
    val dir = Paths.get("/sys/devices/system/cpu/cpu0/cache")
    if (!Files.isDirectory(dir)) 0L
    else Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("index"))
      .flatMap(d => read(d.resolve("size").toString)).map { s =>
        val t = s.trim
        val n = t.takeWhile(_.isDigit).toLong
        t.drop(n.toString.length) match {
          case "K" => n << 10
          case "M" => n << 20
          case _ => n
        }
      }.maxOption.getOrElse(0L)
  }

  /** Counts of machine CPU time split into this process, other
    * processes, and hypervisor steal over an interval. */
  final class Window {
    private val (busy0, steal0) = cpuTimes()
    private val self0 = selfCpu()
    def steal: Double = cpuTimes()._2 - steal0
    def foreign: Double = math.max(0.0, (cpuTimes()._1 - busy0) - (selfCpu() - self0))
  }
}
