package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host forensics for stderr; they are not metrics. Read from /proc where
  * it exists: a run whose host lost CPU to steal or to other processes then
  * identifies itself. */
object Forensics {
  final case class Snap(wallNs: Long, cpuJiffies: Array[Long], ownJiffies: Long, gcMs: Long)

  private val ClkTck = 100.0

  private def read(path: String): Option[String] =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))).toOption

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    * irq softirq steal. */
  private def cpuLine: Array[Long] =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong)).getOrElse(Array.fill(8)(0L))

  /** utime + stime of this process, from /proc/self/stat. */
  private def ownJiffies: Long =
    read("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    }.getOrElse(0L)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def snap(): Snap = Snap(System.nanoTime(), cpuLine, ownJiffies, gcMs)

  /** One stderr line describing the host between two snapshots. */
  def report(label: String, a: Snap, b: Snap): Unit = {
    val secs = (b.wallNs - a.wallNs) / 1e9
    val d = a.cpuJiffies.zip(b.cpuJiffies).map { case (x, y) => y - x }
    def cores(j: Double) = if (secs <= 0) 0.0 else j / ClkTck / secs
    val busy = d(0) + d(1) + d(2) + d(5) + d(6)
    val own = b.ownJiffies - a.ownJiffies
    val threads = read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("Threads:")))
      .map(_.split("\\s+")(1)).getOrElse("?")
    // task threads are named "Executor task launch worker…" (comm keeps 15 chars)
    val sparkThreads = Option(new java.io.File("/proc/self/task").listFiles).map(_.count(t =>
      read(s"$t/comm").exists(_.startsWith("Executor task")))).getOrElse(-1)
    val load = read("/proc/loadavg").map(_.trim.split(" ").take(3).mkString(" ")).getOrElse("?")
    System.err.println(f"[forensics] $label: wall_s=$secs%.2f steal_cores=${cores(d(7))}%.2f " +
      f"other_process_cores=${cores(math.max(0L, busy - own))}%.2f own_cores=${cores(own)}%.2f " +
      s"own_gc_ms=${b.gcMs - a.gcMs} loadavg=$load jvm_threads=$threads " +
      s"spark_task_threads=$sparkThreads nproc=${Runtime.getRuntime.availableProcessors}")
  }
}
