package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** A suite's temporary directories: each [[tempDir]] is deleted, with
  * everything under it, when the suite ends.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A new temporary directory named from `prefix`, deleted after the suite. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally dirs.forEach(d => scala.util.Try(org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)))
}

/** Shared local session for specs — one per suite, lazy. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.session

  /** Streams a test left running are stopped before the suite's
    * directories go.
    */
  override def afterAll(): Unit =
    try SparkSession.getActiveSession.foreach(_.streams.active.foreach(_.stop()))
    finally super.afterAll()
  def sf0001 = "/root/testdata/sf0.001"

  /** The Parquet files directly under `dir`. */
  def parquetFilesUnder(dir: String): Seq[org.apache.hadoop.fs.Path] =
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .map(f => new org.apache.hadoop.fs.Path(f.toURI))

  /** Assert that `read`, a serving-path search of `c`'s `column` for the
    * query vector `qv`, runs no Spark job (the serving cache answers it)
    * and returns the Spark path's `k`-row page: `Search.topK` over the
    * column's embeddings, its content joined from the collection's rows,
    * by (score desc, key).
    */
  def assertCachedPage(c: graft.core.Collection, column: String, qv: Array[Float], k: Int,
                       clue: String)(read: => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, desc}
    val (cached, jobs) = jobsOf(s"cached-page-$clue")(read.collect().toSeq)
    assert(jobs == 0, s"$clue: the cached read ran $jobs Spark jobs")
    val sparkPage = graft.search.Search.topK(c.embeddings(column), qv, k)
      .join(c.df.select(col("_key"), col(column).as("content")), "_key")
      .select(col("content"), col("_key").as("key"), col("score"))
      .orderBy(desc("score"), col("key")).collect().toSeq
    assert(cached.map(_.toSeq) == sparkPage.map(_.toSeq), clue)
  }

  /** Spark jobs launched by `body` on this thread (job-group scoped, so
    * a stray job from another thread never counts).
    */
  def jobsOf[A](tag: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, tag)
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.graftops.ListenerBridge.waitUntilListenerEmpty(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
