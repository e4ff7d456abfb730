package perfbench

import java.io.File
import java.nio.file.Files

/** Readings of the host and the process, taken from /proc. */
object Host {

  /** 1-minute load average (-1 when unreadable). */
  def load1(): Double =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Live JVM or sbt processes other than this one (-1 when unreadable).
    * With the load average this makes a run that shared the host with
    * other heavy work visible from its own record.
    */
  def otherJvms(): Int =
    try {
      val self = ProcessHandle.current().pid()
      new File("/proc").listFiles().count { f =>
        f.getName.forall(_.isDigit) && f.getName.toLong != self && {
          try {
            val comm = new String(Files.readAllBytes(f.toPath.resolve("comm"))).trim
            comm == "java" || comm == "sbt"
          } catch { case _: Exception => false }
        }
      }
    } catch { case _: Exception => -1 }

  /** Aggregate CPU jiffies from /proc/stat: (steal, total); (0, 0) when
    * unreadable. Steal is time the hypervisor gave this machine's CPUs to
    * someone else, which slows a run without showing in the load average.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(new File("/proc/stat").toPath))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of CPU time stolen between two [[cpuJiffies]] readings. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(new File("/proc/self/status").toPath))
        .linesIterator.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else Files.walk(dir.toPath).filter(Files.isRegularFile(_))
      .mapToLong(p => Files.size(p)).sum()

  /** Data files (Parquet parts) under `dir`, ignoring checksums and markers. */
  def dataFiles(dir: File): Int =
    if (!dir.exists()) 0
    else Files.walk(dir.toPath).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet")
    }.count().toInt
}
