package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One timed interval. `parent` is the enclosing span's id (0 for a root);
  * spans of one request share `req`. Times are epoch milliseconds with
  * fractions, so program spans and Spark job spans share one clock.
  */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Span {

  /** Duration of `parent` minus the part of its interval that `children`
    * cover. Overlapping children count once; parts outside the parent's
    * interval do not count.
    */
  def selfTime(parent: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    parent.dur - covered
  }
}

/** Spark-side totals for one job group. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Spans recorded by the benchmark around its calls into the program,
  * plus a `SparkListener` that turns every Spark job into a child span of
  * the call that launched it. The call's span id is the job group the
  * calling thread carries (`setJobGroup`), which Spark copies onto each
  * job it launches. Everything stays in memory until [[write]].
  *
  * When `enabled` is false every method is a pass-through and no listener
  * is registered, so untraced runs pay nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val groups = mutable.HashMap.empty[String, GroupTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (String, Double)]
  /** (launch time, wait for a slot in ms) per task; the wait is launch
    * minus stage submission.
    */
  private val delays = mutable.ArrayBuffer.empty[(Long, Double)]

  // epoch milliseconds at nanoTime resolution: Spark stamps jobs with
  // currentTimeMillis, so both kinds of span share one clock
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def now(): Double = epochBase + System.nanoTime() / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
        .getOrElse("")
      jobStart(e.jobId) = (g, e.time.toDouble)
      e.stageIds.foreach(s => stageGroup(s) = g)
      val t = groups.getOrElseUpdate(g, new GroupTotals)
      t.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) =>
        val parent = g.toLongOption.getOrElse(0L)
        spans += Span(ids.incrementAndGet(), parent, s"spark.job.${e.jobId}",
          g, t0, e.time.toDouble)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val g = stageGroup.getOrElse(e.stageId, "")
      val t = groups.getOrElseUpdate(g, new GroupTotals)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageSubmitted.get(e.stageId).foreach { sub =>
        delays += ((e.taskInfo.launchTime,
          math.max(0L, e.taskInfo.launchTime - sub).toDouble))
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`; inside it, Spark jobs launched on
    * this thread are attributed to the span. Returns the body's value.
    */
  def span[A](name: String, req: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
      stack.set(id :: parents)
      sc.setJobGroup(id.toString, name)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.set(parents)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "")
        synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), name, req, t0, t1)
        }
      }
    }

  /** Id of the innermost open span on this thread (0 outside any). */
  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled) {
    // the listener bus is asynchronous; a trivial job's end event arriving
    // proves every earlier event was delivered
    val marker = s"drain-${ids.incrementAndGet()}"
    sc.setJobGroup(marker, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
           !synchronized(spans.exists(_.req == marker))) Thread.sleep(5)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Spark totals of the jobs launched inside span `id` and its children. */
  def totals(spanIds: Set[Long]): GroupTotals = synchronized {
    val out = new GroupTotals
    groups.foreach { case (g, t) =>
      if (g.toLongOption.exists(spanIds.contains)) {
        out.jobs += t.jobs; out.tasks += t.tasks; out.inputBytes += t.inputBytes
        out.shuffleBytes += t.shuffleBytes; out.spillBytes += t.spillBytes
      }
    }
    out
  }

  /** Span `id` and all spans nested under it. */
  def subtree(id: Long): Set[Long] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def walk(i: Long): Set[Long] =
      Set(i) ++ kids.getOrElse(i, Nil).flatMap(s => walk(s.id))
    walk(id)
  }

  /** Slot waits (ms) of the tasks launched between two epoch-ms times. */
  def delaysBetween(from: Long, to: Long): Seq[Double] = synchronized(
    delays.collect { case (t, d) if t >= from && t <= to => d }.toList)

  /** Write the spans as JSON lines, each with its self time. */
  def write(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val lines = all.sortBy(_.start).map { s =>
      val self = Span.selfTime(s, kids.getOrElse(s.id, Nil))
      Main.json(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.dur, "self_ms" -> self))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}
