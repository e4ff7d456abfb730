package org.apache.spark.graftops

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Private-API shim: `SparkContext.listenerBus` is `private[spark]`, but
  * an I/O-accounting tool needs to drain the async listener queue before
  * snapshotting task metrics — otherwise a probe reads bytes from the
  * previous step. Measurement plumbing only.
  */
object ListenerBridge {
  def waitUntilListenerEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** Task I/O counter: the input bytes read and output bytes written by
  * every task that ends while it is attached. Each reading drains the
  * listener queue first, so it counts every task of the jobs that
  * finished before it.
  */
final class TaskIo private (sc: SparkContext) extends SparkListener {
  private val read = new AtomicLong
  private val written = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      read.addAndGet(m.inputMetrics.bytesRead)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def bytesRead(): Long = { ListenerBridge.waitUntilListenerEmpty(sc); read.get }
  def bytesWritten(): Long = { ListenerBridge.waitUntilListenerEmpty(sc); written.get }

  def detach(): Unit = sc.removeSparkListener(this)
}

object TaskIo {
  def attach(sc: SparkContext): TaskIo = {
    val io = new TaskIo(sc)
    sc.addSparkListener(io)
    io
  }
}
