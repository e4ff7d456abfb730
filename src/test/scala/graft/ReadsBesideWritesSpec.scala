package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.functions.{col, udf}

import graft.core.{Catalog, CollectionConfig}
import graft.embed.{Embedder, HashingEmbedder}
import graft.search.Analyzer

/** Reads beside writes on one collection. Reader threads on a second
  * `Collection` instance loop `count`, `indexedCount`, vector search and
  * keyword search while one writer runs the file-granular writes, and
  * keyword, hybrid and fuzzy search while one writer runs the keyword
  * writes. A read
  * may complete a committed swap, but it never removes what an in-flight
  * write has staged, so every write must succeed and the row and vector
  * counts must be exact after each step. A slow embedder and a slow UDF
  * hold each write's stage open long enough for the readers to meet it.
  */
class ReadsBesideWritesSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new SlowEmbedder(dim0 = 32, sleepMs = 40)

  test("readers on a second instance never break a writer's commit") {
    val root = tempDir("graft_rw")
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

  test("keyword reads beside keyword writes never fail or fall back") {
    // stopwords the index drops and the corpus fallback would match: a
    // page answered from anything but the index carries docs without the
    // one real query term
    val az = Analyzer.Stopworded(Set("the", "of"))
    val root = tempDir("graft_kwrw")
    val writer = new Catalog(spark, root).create(CollectionConfig(name = "kwrw"))
    def doc(tag: String, i: Int) =
      s"the $tag $i of word${i % 7}" + (if (i % 30 == 0) " apple" else "")
    writer.importDf((1 to 120).map(doc("seed", _)).toDF("text"))
    writer.buildKeywordIndex("text", nBuckets = 8, analyzer = az)
    val reader = new Catalog(spark, root).load("kwrw")

    // the writer's current step; a read overlapping the directory swap of
    // compactKeywordIndex is reported, not asserted
    @volatile var phase = "setup"
    val stop = new AtomicBoolean(false)
    val reads = new AtomicLong
    val failures = new ConcurrentLinkedQueue[String]
    val swapFailures = new ConcurrentLinkedQueue[String]
    def termless(page: org.apache.spark.sql.DataFrame): Seq[String] =
      page.collect().toSeq.map(_.getString(0))
        .filterNot(_.toLowerCase.split("\\s+").contains("apple"))
    val emb = new HashingEmbedder(dim = 32)
    val loops = Seq[() => Seq[String]](
      () => termless(reader.searchKeyword("text", "the apple", 10)),
      () => termless(reader.searchHybrid("text", "the apple", 10, emb)),
      () => termless(reader.searchKeywordFuzzy("text", "the appls", 10)))
    val threads = loops.map { read =>
      val t = new Thread(() =>
        while (!stop.get) {
          val at = phase
          try {
            val bad = read()
            if (bad.nonEmpty) failures.add(s"$at: page without the term: ${bad.head}")
            reads.incrementAndGet()
          } catch {
            case e: Exception =>
              val msg = s"$at: ${e.toString.take(300)}"
              if (at == "compact" || phase == "compact") swapFailures.add(msg)
              else failures.add(msg)
          }
        })
      t.setDaemon(true)
      t.start()
      t
    }

    var next = 121
    try {
      for (r <- 1 to 3) {
        phase = s"round $r appendDf + refreshKeywordIndex"
        writer.appendDf((next until next + 30).map(doc("append", _)).toDF("text"))
        next += 30
        assert(writer.refreshKeywordIndex("text") == 30L)
        phase = s"round $r upsert + repairKeywordIndex"
        val keys = (1 to 5).map(i => r * 10L + i)
        writer.upsert(keys.map(k => (s"the rewrite $k of apple", k)).toDF("text", "_key"))
        assert(writer.repairKeywordIndex("text") == 5L)
        phase = s"round $r deleteKeys"
        assert(writer.deleteKeys(Seq(r * 10L + 6, r * 30L)) == 2L)
      }
      phase = "compact"
      writer.compactKeywordIndex("text")
      phase = "after compact"
      Thread.sleep(2000)
    } finally {
      stop.set(true)
      threads.foreach(_.join(60000))
    }
    info(s"${reads.get} keyword reads beside the writes; ${failures.size} failed; " +
      s"${swapFailures.size} failed beside the compaction swap" +
      swapFailures.toArray.distinct.take(2).mkString(": ", " | ", ""))
    assert(reads.get > 0, "the readers never ran")
    assert(failures.isEmpty,
      failures.toArray.distinct.take(3).mkString(s"${failures.size} read failures: ", " | ", ""))
    // the maintained index still answers exactly like a fresh rebuild
    val maintained = writer.searchKeyword("text", "the apple word3", 20).collect().toSeq
    writer.buildKeywordIndex("text", nBuckets = 8, analyzer = az)
    assert(writer.searchKeyword("text", "the apple word3", 20).collect().toSeq == maintained)
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
