package graft.tools

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Two-process lease/journal chaos test (round-10 verdict item 4).
  *
  * WriteLeaseSpec races two Collection INSTANCES in one JVM; the lease's
  * reason to exist is cross-PROCESS arbitration. This tool forks real
  * second JVMs (same classpath and module flags as the parent) against
  * one on-disk collection and asserts the three cross-process claims:
  *
  *  A. MUTUAL EXCLUSION — while the parent holds the write lease, a
  *     child process's writes are all refused loudly
  *     (HeldElsewhereException) and none commit.
  *  B. NO LOST UPDATES — parent and child interleave refuse-retry
  *     appends; afterwards the collection holds EXACTLY
  *     seed + 2·(committed appends) rows: every acknowledged write
  *     survived the other process's compactions.
  *  C. KILL -9 HEAL — a child looping append/compact/repair is
  *     destroyForcibly'd at a staggered offset each round (deaths land
  *     across append, journal-commit, and swap phases); after lease
  *     expiry the parent must be able to write again (breaking the dead
  *     holder's lease), heal via compact + scoped repairs, and end
  *     consistent: rows == indexed vectors, no leftover swap journals,
  *     full scan + search still serve.
  *
  * Prints CHAOS OK and exits 0 only when every claim held. A child that
  * dies of an exception prints `CHILD-ERR <class>: <message>` first, and
  * a phase whose child left no summary quotes the child's last lines.
  *
  * Usage: runMain graft.tools.Chaos            (parent)
  *        [internally: Chaos child-spam|child-mix|child-churn <root>]
  */
object Chaos {

  /** Longer than a cold child JVM's first write under load: every write
    * fences at its commit, so a write that outlives its lease dies there
    * once the other process has broken it — phase C's expiry story, not
    * what phases A and B test.
    */
  private val LeaseMs = 10000L
  private val RowsPerAppend = 8

  private def session(app: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rows(spark: SparkSession, tag: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (1 to RowsPerAppend).map(i => s"$tag chaos row $i alpha beta").toDF("text")
  }

  // ---- child modes (run in the forked JVM) -------------------------------

  private def childSpam(root: String): Unit = {
    // Phase A: hammer appends for ~4s against a parent-held lease.
    val spark = session("graft-chaos-child")
    val c = new Catalog(spark, root).load("chaos")
    var refused = 0
    var wrote = 0
    val end = System.currentTimeMillis() + 4000
    while (System.currentTimeMillis() < end) {
      try { c.appendDf(rows(spark, "spam")); wrote += 1 }
      catch { case _: graft.core.WriteLease.HeldElsewhereException => refused += 1 }
      Thread.sleep(100)
    }
    println(s"CHILD refused=$refused wrote=$wrote")
    spark.stop()
  }

  private def childMix(root: String): Unit = {
    // Phase B: refuse-retry appends + occasional compacts for ~6s.
    val spark = session("graft-chaos-child")
    val c = new Catalog(spark, root).load("chaos")
    var wrote = 0
    var i = 0
    val end = System.currentTimeMillis() + 6000
    while (System.currentTimeMillis() < end) {
      try {
        if (i % 5 == 4) c.compact()
        else { c.appendDf(rows(spark, "mix")); wrote += 1 }
      } catch { case _: graft.core.WriteLease.HeldElsewhereException => () }
      i += 1
      Thread.sleep(50)
    }
    println(s"CHILD wrote=$wrote")
    spark.stop()
  }

  private def childChurn(root: String): Unit = {
    // Phase C victim: append/compact/repair as fast as possible until
    // killed — the parent's staggered kill offsets land deaths across
    // every phase (mid-append, mid-journal, mid-swap).
    val spark = session("graft-chaos-child")
    val c = new Catalog(spark, root).load("chaos")
    val emb = new HashingEmbedder(dim = 16)
    var n = 0
    while (true) {
      try {
        c.appendDf(rows(spark, s"churn$n"))
        c.embedColumn("text", emb)
        if (n % 3 == 2) { c.compact(); c.compactAnnIndex("text") }
        n += 1
        println(s"CHILD-WROTE $n")
      } catch { case _: graft.core.WriteLease.HeldElsewhereException =>
        Thread.sleep(50)
      }
    }
  }

  // ---- parent ------------------------------------------------------------

  /** A forked child mode. Its output is read as it is written: a child
    * that prints more than a pipe holds (a dying one's stack traces)
    * would otherwise block forever instead of exiting.
    */
  private final class Child(mode: String, root: String) {
    val process: Process = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
        "-Xmx4g", s"-Dgraft.lease.ms=$LeaseMs",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.Chaos", mode, root)
      new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    }
    private val out = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val reader = new Thread(() =>
      scala.io.Source.fromInputStream(process.getInputStream, "UTF-8")
        .getLines().foreach(out.add), s"$mode-reader")
    reader.setDaemon(true)
    reader.start()

    /** The lines printed so far. */
    def lines: Seq[String] = out.asScala.toSeq

    /** Every line, once the child exited. */
    def finish(): Seq[String] = { process.waitFor(); reader.join(); lines }
  }

  /** Run a child mode; an exception that ends it is named on stdout,
    * where the parent reads it, before it propagates.
    */
  private def child(body: => Unit): Unit =
    try body
    catch { case e: Throwable =>
      println(s"CHILD-ERR ${e.getClass.getName}: ${e.getMessage}")
      throw e
    }

  /** The failure of a phase whose child printed no summary: the error it
    * named, if any, and its last lines.
    */
  private def noSummary(mode: String, out: Seq[String]): Nothing =
    sys.error((s"$mode produced no summary" +: out.filter(_.startsWith("CHILD-ERR")) ++:
      "its last lines:" +: out.takeRight(8)).mkString("\n"))

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("child-spam") => child(childSpam(args(1))); return
      case Some("child-mix") => child(childMix(args(1))); return
      case Some("child-churn") => child(childChurn(args(1))); return
      case _ => ()
    }
    sys.props("graft.lease.ms") = LeaseMs.toString
    val spark = session("graft-chaos-parent")
    val root = java.nio.file.Files.createTempDirectory("graft_chaos").toString
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "chaos"))
    val emb = new HashingEmbedder(dim = 16)
    c.importDf(rows(spark, "seed"))
    require(c.embedColumn("text", emb) == RowsPerAppend.toLong)
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    val seed = c.df.count()

    // ---- A: mutual exclusion under a held lease --------------------------
    println("=== A. child writes refused while the parent holds the lease ===")
    // the hold must OUTLIVE the child's 4s spam window (an expired lease
    // is legitimately breakable — that would test expiry, not exclusion)
    sys.props("graft.lease.ms") = "60000"
    c.writeLock.lock()
    val a = try new Child("child-spam", root).finish()
    finally {
      c.writeLock.unlock()
      sys.props("graft.lease.ms") = LeaseMs.toString
    }
    val aLine = a.find(_.startsWith("CHILD ")).getOrElse(noSummary("child-spam", a))
    val refused = "refused=(\\d+)".r.findFirstMatchIn(aLine).get.group(1).toInt
    val wroteA = "wrote=(\\d+)".r.findFirstMatchIn(aLine).get.group(1).toInt
    require(wroteA == 0, s"child committed $wroteA writes THROUGH a held lease")
    require(refused > 0, "child was never refused — did it even contend?")
    require(c.df.count() == seed, "row count moved under an exclusively-held lease")
    println(s"A OK: $refused refusals, 0 writes, rows stable at $seed")

    // ---- B: interleaved writers lose nothing ------------------------------
    println("=== B. interleaved refuse-retry writers, exact row accounting ===")
    val pB = new Child("child-mix", root)
    var parentWrote = 0
    while (pB.process.isAlive) {
      try { c.appendDf(rows(spark, "parent")); parentWrote += 1 }
      catch { case _: graft.core.WriteLease.HeldElsewhereException => () }
      Thread.sleep(60)
    }
    val b = pB.finish()
    val bLine = b.find(_.startsWith("CHILD ")).getOrElse(noSummary("child-mix", b))
    val childWrote = "wrote=(\\d+)".r.findFirstMatchIn(bLine).get.group(1).toInt
    val expected = seed + (parentWrote + childWrote) * RowsPerAppend
    val actual = c.df.count()
    require(actual == expected,
      s"LOST UPDATE: expected $expected rows (seed $seed + " +
        s"${parentWrote}p + ${childWrote}c appends), found $actual")
    println(s"B OK: $parentWrote parent + $childWrote child appends, rows exact at $actual")

    // ---- C: kill -9 mid-churn, heal, repeat -------------------------------
    println("=== C. kill -9 a churning writer, heal via journal, stay consistent ===")
    val killDelaysMs = Seq(100L, 700L, 1500L)
    killDelaysMs.zipWithIndex.foreach { case (delay, round) =>
      val before = c.df.count()
      val p = new Child("child-churn", root)
      // arm the kill only after the child has COMMITTED at least one
      // write — a kill during the ~10s JVM/Spark spin-up would test
      // nothing but startup. The staggered delay then lands the death
      // mid-append / mid-embed / mid-compact.
      def committed = p.lines.exists(_.startsWith("CHILD-WROTE"))
      val armDeadline = System.currentTimeMillis() + 90000
      while (!committed && p.process.isAlive && System.currentTimeMillis() < armDeadline)
        Thread.sleep(50)
      if (!committed) {
        p.process.destroyForcibly()
        noSummary(s"round $round child-churn", p.finish())
      }
      Thread.sleep(delay)
      p.process.destroyForcibly()
      p.finish()
      // the dead child may hold the lease for up to LeaseMs: the parent's
      // next write must succeed once it expires (breaking the dead lease)
      val deadline = System.currentTimeMillis() + LeaseMs + 8000
      var healedWrite = false
      while (!healedWrite) {
        try { c.appendDf(rows(spark, s"heal$round")); healedWrite = true }
        catch {
          case _: graft.core.WriteLease.HeldElsewhereException =>
            require(System.currentTimeMillis() < deadline,
              "could not break the dead child's lease after expiry")
            Thread.sleep(250)
        }
      }
      // heal: fold any partial child work, then scoped repairs
      c.compact()
      c.embedColumn("text", emb)
      val repaired = c.repairAnnIndex("text")
      require(repaired >= 0L)
      val nRows = c.df.count()
      val nVecs = c.indexedCount("text")
      require(nRows == nVecs,
        s"round $round: rows $nRows != indexed $nVecs after kill -9 heal")
      require(nRows >= before + RowsPerAppend,
        s"round $round: the parent's heal append vanished")
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .flatMap(x => if (x.isDirectory) x +: walk(x) else Seq(x))
      val leftovers = walk(new java.io.File(s"$root/chaos"))
        .filter(_.getName.contains(graft.core.TableRoot.JournalSuffix))
      require(leftovers.isEmpty,
        s"round $round: unhealed swap journals: ${leftovers.map(_.getName).mkString(", ")}")
      val hits = c.search("text", "alpha beta", limit = 5, emb).count()
      require(hits > 0, s"round $round: search broke after heal")
      println(s"C round $round OK: killed at ${delay}ms, rows $nRows == vectors, search serves")
    }
    println("CHAOS OK")
    spark.stop()
  }
}
