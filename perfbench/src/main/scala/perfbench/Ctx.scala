package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

/** Failed operations and failed output checks of one run. */
final class Failures {
  private val n = new AtomicLong(0)
  private val checks = new AtomicLong(0)
  def count: Long = n.get()
  /** Output checks made with [[check]]. */
  def checked: Long = checks.get()

  def apply(msg: String): Unit = {
    // the first few reasons are enough to diagnose a failing run
    if (n.incrementAndGet() <= 20) System.err.println(s"perfbench FAILED: $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = {
    checks.incrementAndGet()
    if (!ok) apply(msg)
  }
}

/** What a workload measured. `attempted` counts operations and checks
  * are added by the caller; `e2e` and `layer` map metric names to
  * (value, unit).
  */
final case class Outcome(attempted: Long, e2e: Map[String, (Double, String)],
                         layer: Map[String, (Double, String)],
                         detail: Map[String, Any])

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: Path, val tracer: Tracer) {
  val failures = new Failures
  @volatile private var setupEndMs = Double.NaN

  /** Marks the end of set-up: the timed phase begins now. */
  def setupDone(): Unit = setupEndMs = System.currentTimeMillis().toDouble

  /** Seconds from JVM start to [[setupDone]]. */
  def setupSec: Double = (setupEndMs - Ctx.jvmStartMs) / 1000

  @volatile private var liveHeap = Double.NaN

  /** Marks the end of the timed phase: records the heap still in use
    * after a full collection, i.e. what the program keeps live once its
    * work is done (indexes or caches held in memory show here).
    */
  def timedDone(): Unit = {
    System.gc()
    liveHeap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def liveHeapMb: Double = liveHeap

  /** Time `body` as a traced stage; returns its seconds. */
  def stage(name: String)(body: => Unit): Double =
    Ctx.time(tracer.span(name)(body))._2
}

object Ctx {
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
