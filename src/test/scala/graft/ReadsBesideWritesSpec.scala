package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.functions.{col, udf}

import graft.core.{Catalog, CollectionConfig}
import graft.embed.{Embedder, HashingEmbedder}

/** Reads beside writes on one collection. Reader threads on a second
  * `Collection` instance loop `count`, `indexedCount`, vector search and
  * keyword search while one writer runs the file-granular writes. A read
  * may complete a committed swap, but it never removes what an in-flight
  * write has staged, so every write must succeed and the row and vector
  * counts must be exact after each step. A slow embedder and a slow UDF
  * hold each write's stage open long enough for the readers to meet it.
  */
class ReadsBesideWritesSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new SlowEmbedder(dim0 = 32, sleepMs = 40)

  test("readers on a second instance never break a writer's commit") {
    val root = java.nio.file.Files.createTempDirectory("graft_rw").toString
    val writer = new Catalog(spark, root).create(CollectionConfig(name = "rw"))
    writer.importDf((1 to 120).map(i => s"seed doc $i word${i % 7}").toDF("text"))
    writer.embedColumn("text", emb)
    writer.buildKeywordIndex("text", nBuckets = 8)
    val reader = new Catalog(spark, root).load("rw")

    val stop = new AtomicBoolean(false)
    val reads = new AtomicLong
    val readFailures = new ConcurrentLinkedQueue[String]
    val loops = Seq[() => Unit](
      () => reader.count(),
      () => {
        reader.indexedCount("text")
        reader.search("text", "seed doc word3", 5, emb).collect()
        reader.searchKeyword("text", "seed word3", 5).collect()
      })
    val threads = loops.map { read =>
      val t = new Thread(() =>
        while (!stop.get) {
          try { read(); reads.incrementAndGet() }
          catch { case e: Exception => readFailures.add(e.toString.take(200)) }
        })
      t.setDaemon(true)
      t.start()
      t
    }

    val slowText = udf((s: String) => { Thread.sleep(100); s })
    var rows = 120L
    def check(step: String): Unit = {
      assert(writer.count() == rows, s"$step: rows")
      assert(writer.indexedCount("text") == rows, s"$step: indexed vectors")
    }
    try {
      for (r <- 1 to 2) {
        val keys = (1 to 5).map(i => r * 10L + i)
        writer.upsert(keys.map(k => (s"round $r rewrite $k", k)).toDF("text", "_key")
          .withColumn("text", slowText(col("text"))))
        check(s"round $r upsert")
        assert(writer.reembedChanged("text", emb) == 5)
        check(s"round $r reembedChanged")
        writer.repairIndexes("text", emb)
        check(s"round $r repairIndexes")
        assert(writer.deleteKeys(Seq(r * 10L + 6, r * 10L + 7)) == 2)
        rows -= 2
        check(s"round $r deleteKeys")
        writer.compactIndex("text")
        check(s"round $r compactIndex")
        writer.appendDf((1 to 4).map(i => s"round $r append $i").toDF("text"))
        rows += 4
        assert(writer.embedColumn("text", emb) == 4)
        check(s"round $r appendDf + embedColumn")
      }
    } finally {
      stop.set(true)
      threads.foreach(_.join(60000))
    }
    info(s"${reads.get} reads beside the writes; ${readFailures.size} failed" +
      readFailures.toArray.distinct.take(3).mkString(": ", " | ", ""))
    assert(reads.get > 0, "the readers never ran")
  }
}

/** [[HashingEmbedder]] that sleeps before each batch, so an embed pass
  * holds its stage open.
  */
class SlowEmbedder(dim0: Int, sleepMs: Long) extends Embedder {
  private val inner = new HashingEmbedder(dim = dim0)
  def dim: Int = dim0
  def embed(texts: Iterator[String]): Iterator[Array[Float]] = {
    Thread.sleep(sleepMs)
    inner.embed(texts)
  }
}
