package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, desc}

import graft.core.{Catalog, Collection, CollectionConfig, ServingCache}
import graft.embed.HashingEmbedder
import graft.search.{Ann, Search}

/** The serving cache answers vector and flat-ANN pages on the driver
  * from resident segments. Each page must equal the Spark path's page
  * exactly (same keys, content and f64 scores, same order), every write
  * must be visible to the next request, and instances of one collection
  * share entries. A warm cached request runs no Spark job, which is how
  * these cases know they exercised the cache and not its fallback.
  */
class ServingCacheSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)
  private val words = IndexedSeq("apple", "banana", "cherry", "delta", "echo",
    "falcon", "garden", "harbor", "island", "jungle", "kettle", "lemon")
  private val texts = (1 to 120).map(i =>
    Seq(words(i % 12), words(i * 7 % 12), words(i * 5 % 11), s"doc$i").mkString(" "))

  private def collection(name: String, variant: String = "f32",
                         docs: Seq[String] = texts): Collection =
    collectionOf(name, variant, docs.toDF("text"))

  private def collectionOf(name: String, variant: String, data: DataFrame): Collection = {
    val root = tempDir("graft_serving_cache")
    val c = new Catalog(spark, root).create(CollectionConfig(name = name, model_variant = variant))
    c.importDf(data)
    c
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** The page of a warm call, asserting it ran no Spark job. */
  private def warm(what: String)(call: => DataFrame): Seq[Seq[Any]] = {
    rowsOf(call)
    val (page, jobs) = jobsOf(s"serving-cache-$what")(rowsOf(call))
    assert(jobs == 0, s"$what: a warm request ran $jobs Spark jobs")
    page
  }

  /** `(_key, score)` hits hydrated by the oracle-checked broadcast join. */
  private def hydrate(c: Collection, hits: DataFrame, column: String = "text"): Seq[Seq[Any]] =
    rowsOf(c.df.join(broadcast(hits), "_key")
      .select(col(column).as("content"), col("_key").as("key"), col("score"))
      .orderBy(desc("score"), col("key")))

  private def exact(c: Collection, query: String, k: Int,
                    column: String = "text"): Seq[Seq[Any]] =
    rowsOf(Search.searchAndFetch(c.df, c.embeddings(column), emb.embedOne(query), k, column))

  /** The Spark path of a flat ANN page: the probed lists, read and ranked
    * by Spark, as `annPage` does without the cache.
    */
  private def annExact(c: Collection, query: String, k: Int, nProbe: Int): Seq[Seq[Any]] = {
    val dir = c.annIndexDir("text")
    val centers = spark.read.parquet(s"$dir/centroids").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val qv = emb.embedOne(query)
    val probes = Ann.ivfProbes(centers, qv, math.min(nProbe, centers.length))
    val lists = spark.read.parquet(s"$dir/lists").filter(col("list_id").isin(probes: _*))
      .select(col("_key"), col("embedding"))
    hydrate(c, Search.topK(lists, qv, k))
  }

  test("f32, f16 and i8 pages equal the Spark path's at limits 1, 10 and 100") {
    for (variant <- Seq("f32", "f16", "i8")) {
      val c = collection(s"v$variant", variant)
      c.embedColumn("text", emb)
      for (k <- Seq(1, 10, 100); q <- Seq(texts(4), "harbor lemon")) {
        val got = warm(s"$variant-$k")(c.search("text", q, k, emb))
        assert(got.size == k)
        assert(got == exact(c, q, k), s"$variant limit $k '$q'")
      }
    }
  }

  test("a chunked index ranks each key by its best chunk, one slot per key") {
    val long = (1 to 40).map(i => (0 until 12).map(j => words((i * j + j) % 12)).mkString(" "))
    val c = collection("chunked", docs = long)
    assert(c.embedColumnChunked("text", emb, maxTokens = 4, overlapTokens = 1) > long.size)
    for (k <- Seq(1, 10, 40)) {
      val got = warm(s"chunked-$k")(c.search("text", "apple banana cherry", k, emb))
      assert(got.map(_(1)).distinct.size == got.size)
      assert(got == exact(c, "apple banana cherry", k))
    }
  }

  test("rows with a null embedding never rank") {
    val c = collection("nulls")
    texts.zipWithIndex.map { case (t, i) =>
      (i + 1L, if (i % 3 == 0) None else Some(emb.embedOne(t)))
    }.toDF("_key", "embedding").write.parquet(c.indexDir("text"))
    val got = warm("nulls")(c.search("text", texts(1), 100, emb))
    assert(got == exact(c, texts(1), 100))
    assert(got.size == 80 && got.forall(r => (r(1).asInstanceOf[Long] - 1) % 3 != 0))
  }

  test("score ties break by key, on page 1 and past a search_after cursor") {
    val c = collection("ties", docs = Seq.fill(30)("apple banana") ++ texts)
    c.embedColumn("text", emb)
    val page1 = warm("ties-1")(c.search("text", "apple banana", 10, emb))
    assert(page1.map(_(1)) == (1L to 10L))
    assert(page1 == exact(c, "apple banana", 10))
    val last = page1.last
    val cursor = (last(2).asInstanceOf[Double], last(1).asInstanceOf[Long])
    val page2 = warm("ties-2")(c.search("text", "apple banana", 10, emb, Some(cursor)))
    assert(page2.map(_(1)) == (11L to 20L))
    assert(page2 == hydrate(c,
      Search.topKAfter(c.embeddings("text"), emb.embedOne("apple banana"), 10, cursor)))
    // a cursor inside ordinary (untied) scores
    val p = c.search("text", texts(50), 10, emb).collect()
    val cur = (p.last.getDouble(2), p.last.getLong(1))
    assert(warm("after")(c.search("text", texts(50), 10, emb, Some(cur))) == hydrate(c,
      Search.topKAfter(c.embeddings("text"), emb.embedOne(texts(50)), 10, cur)))
  }

  test("the page keeps a non-string content column's stored type") {
    val c = collectionOf("typed", "f32", (1 to 60).map(i => (i * 7, s"n$i")).toDF("num", "label"))
    c.embedColumn("num", emb)
    val got = warm("typed")(c.search("num", "21", 5, emb))
    assert(got.head(0).isInstanceOf[Int])
    assert(got == exact(c, "21", 5, "num"))
  }

  test("flat ANN pages equal the Spark path's for every nProbe") {
    for (variant <- Seq("f32", "i8")) {
      val c = collection(s"ann$variant", variant)
      c.embedColumn("text", emb)
      c.buildAnnIndex("text", nLists = 6, sampleN = 120)
      for (nProbe <- 1 to 6; q <- Seq(texts(7), "kettle delta")) {
        val got = warm(s"ann-$variant-$nProbe")(c.searchAnn("text", q, 10, emb, nProbe))
        assert(got == annExact(c, q, 10, nProbe), s"$variant nProbe $nProbe '$q'")
      }
      // every list probed is exhaustive: the exact page
      assert(rowsOf(c.searchAnn("text", texts(7), 10, emb, 6)) == exact(c, texts(7), 10))
    }
  }

  test("late-interaction pages hydrate like the broadcast join, in its order") {
    val c = collection("late", docs = Seq.fill(5)("apple banana") ++ texts)
    c.embedColumn("text", emb)
    for (k <- Seq(1, 8, 100)) {
      val ranked = graft.search.LateInteraction.topK(
        Seq((0L, emb.embedOne("apple banana"))).toDF("__qid", "__qvec"), "__qid", "__qvec",
        c.embeddings("text"), "_key", "embedding", k)
      assert(rowsOf(c.searchLate("text", "apple banana", k, emb)) == hydrate(c, ranked))
    }
  }

  test("every write is visible to the next request") {
    val c = collection("fresh")
    c.embedColumn("text", emb)
    c.buildAnnIndex("text", nLists = 4, sampleN = 120)
    def pages(q: String): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val v = warm("fresh-vector")(c.search("text", q, 10, emb))
      val a = warm("fresh-ann")(c.searchAnn("text", q, 10, emb, 2))
      assert(v == exact(c, q, 10))
      assert(a == annExact(c, q, 10, 2))
      (v, a)
    }
    pages(texts(0))

    // append + embed + ANN refresh: the new doc tops both pages
    val added = "zebra quartz nimbus"
    c.appendDf(Seq(added).toDF("text"))
    c.embedColumn("text", emb)
    assert(pages(added)._1.head.take(2) == Seq(added, 121L))
    assert(c.refreshAnnIndex("text") == 1L)
    assert(pages(added)._2.head.take(2) == Seq(added, 121L))

    // upsert + reembedChanged (file-granular swap of the index)
    c.upsert(Seq((5L, "quartz nimbus zebra orbit")).toDF("_key", "text"))
    assert(c.reembedChanged("text", emb) == 1L)
    val (v5, _) = pages("quartz nimbus zebra orbit")
    assert(v5.head.take(2) == Seq("quartz nimbus zebra orbit", 5L))

    // compactIndex (directory swap)
    assert(c.compactIndex("text") >= 1)
    pages(texts(9))

    // deleteKeys erases from data, vector index and ANN lists
    assert(c.deleteKeys(Seq(10L, 121L)) >= 1L)
    val (v10, a10) = pages(texts(9))
    assert(!(v10 ++ a10).exists(r => r(1) == 10L || r(1) == 121L))

    // rebuild the ANN index with another list count
    c.buildAnnIndex("text", nLists = 3, sampleN = 120)
    pages(texts(30))
  }

  test("two instances of one collection share entries") {
    val c1 = collection("shared")
    c1.embedColumn("text", emb)
    c1.buildAnnIndex("text", nLists = 4, sampleN = 120)
    warm("shared-1v")(c1.search("text", texts(3), 10, emb))
    warm("shared-1a")(c1.searchAnn("text", texts(3), 10, emb, 4))
    val before = ServingCache.lru.loads
    val c2 = new Catalog(spark, c1.rootDir).load("shared")
    assert(rowsOf(c2.search("text", texts(3), 10, emb)) == exact(c1, texts(3), 10))
    assert(rowsOf(c2.searchAnn("text", texts(3), 10, emb, 4)).nonEmpty)
    assert(ServingCache.lru.loads == before, "the second instance reloaded entries")
  }

  test("fit and eviction depend only on bytes and the maximum heap") {
    val gb = 1L << 30
    assert(ServingCache.fits(gb / 8, gb))
    assert(!ServingCache.fits(gb / 8 + 1, gb))
    assert(ServingCache.fits(0L, 0L) && !ServingCache.fits(1L, 0L))
    // a 800-byte heap holds 100 bytes: least recently used entries go first
    val lru = new ServingCache.ByteLru(800L)
    lru("a")(("A", 40L)); lru("b")(("B", 40L))
    assert(lru("a")(("A2", 40L)) == "A") // a hit, and now the most recent
    lru("c")(("C", 40L))
    assert(lru.contains("a") && !lru.contains("b") && lru.contains("c"))
    assert(lru.bytes == 80L)
    // too big on its own: returned, never kept
    assert(lru("d")(("D", 101L)) == "D")
    assert(!lru.contains("d") && lru.size == 2)
  }
}
