package graft

import org.apache.spark.sql.functions.col

import graft.core.{Catalog, Collection, CollectionConfig}
import graft.embed.HashingEmbedder

/** A chunked vector index records its chunk geometry, so every later
  * pass over it — the append catch-up, the repair, the stream, the
  * registry repair, on any instance of the collection — embeds at the
  * geometry the index was built with instead of silently falling back to
  * one vector per document.
  */
class ChunkGeometrySpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 16)
  private val (maxTokens, overlap) = (4, 1)

  private def text(i: Int, words: Int): String =
    (1 to words).map(w => s"w${(i * 7 + w) % 23}").mkString(" ")

  private def fresh(cat: Catalog, name: String, rows: Seq[String]): Collection = {
    val c = cat.create(CollectionConfig(name = name))
    c.importDf(rows.toDF("text"))
    c
  }

  /** `key`'s stored vectors, sorted: equal sets mean equal chunking. */
  private def vectors(c: Collection, key: Long): Seq[Seq[Float]] =
    c.embeddings("text").filter(col("_key") === key).collect()
      .map(_.getSeq[Float](1)).toSeq.sortBy(_.mkString(","))

  /** The vectors a fresh chunked embed of `c`'s current rows stores. */
  private def chunkedTwin(cat: Catalog, name: String, c: Collection): Collection = {
    val twin = cat.create(CollectionConfig(name = name))
    twin.importDf(c.df)
    twin.embedColumnChunked("text", emb, maxTokens = maxTokens, overlapTokens = overlap)
    twin
  }

  private def catalog(tag: String) =
    new Catalog(spark, tempDir(tag))

  test("repairIndexes re-embeds an upserted long document at the recorded geometry") {
    val cat = catalog("graft_geom_repair")
    val c = fresh(cat, "g", (1 to 6).map(text(_, 6)))
    assert(c.embedColumnChunked("text", emb, maxTokens = maxTokens, overlapTokens = overlap) > 6)
    c.upsert(Seq((text(99, 30), 3L)).toDF("text", "_key"))
    c.repairIndexes("text", emb)
    val want = vectors(chunkedTwin(cat, "twin", c), 3L)
    assert(want.size > 1, "the long document spans several chunks")
    assert(vectors(c, 3L) == want, s"key 3 holds ${vectors(c, 3L).size} vectors")
    assert(c.indexStatus("text").filter(col("structure") === "vector")
      .select("missing", "stale", "orphaned").head().toSeq == Seq(0L, 0L, 0L))
  }

  test("appendDf + embedColumn chunks the new rows of a chunked index") {
    val cat = catalog("graft_geom_append")
    val c = fresh(cat, "g", (1 to 4).map(text(_, 6)))
    c.embedColumnChunked("text", emb, maxTokens = maxTokens, overlapTokens = overlap)
    c.appendDf(Seq(text(50, 25)).toDF("text"))
    assert(c.embedColumn("text", emb) > 1, "the appended document embeds per chunk")
    assert(vectors(c, 5L) == vectors(chunkedTwin(cat, "twin", c), 5L))
  }

  test("an instance loaded before the chunked build repairs and streams chunked") {
    val cat = catalog("graft_geom_instances")
    val c = fresh(cat, "g", (1 to 4).map(text(_, 6)))
    val early = cat.load("g")
    c.embedColumnChunked("text", emb, maxTokens = maxTokens, overlapTokens = overlap)
    // repair through the stale instance
    c.upsert(Seq((text(77, 20), 2L)).toDF("text", "_key"))
    assert(early.reembedChanged("text", emb) == 1)
    // stream through it: the appended long document lands per chunk
    val q = early.embedColumnStream("text", emb, s"${c.dir}/_ckpt")
    try {
      q.processAllAvailable()
      c.appendDf(Seq(text(88, 20)).toDF("text"))
      q.processAllAvailable()
    } finally q.stop()
    val twin = chunkedTwin(cat, "twin", c)
    for (key <- Seq(2L, 5L))
      assert(vectors(early, key) == vectors(twin, key), s"key $key")
    // compaction swaps the index directory; the geometry survives it and
    // a backup round trip
    c.compactIndex("text")
    c.backup(s"${c.rootDir}/_bak")
    val restored = cat.restore(s"${c.rootDir}/_bak", "restored")
    restored.upsert(Seq((text(66, 20), 1L)).toDF("text", "_key"))
    restored.repairIndexes("text", emb)
    assert(vectors(restored, 1L) == vectors(chunkedTwin(cat, "twin2", restored), 1L))
  }

  test("searchLate chunks the query at the index's recorded geometry") {
    val cat = catalog("graft_geom_late")
    val c = fresh(cat, "g", (1 to 8).map(text(_, 12)))
    assert(c.embedColumnChunked("text", emb, maxTokens = 4, overlapTokens = 0) > 8)
    val query = text(3, 12)
    // the explicit (4, 0) page: the query in 4-token chunks, MaxSim-summed
    val pieces = graft.functions.Chunker.chunk(query,
      graft.functions.Chunker.ChunkerConfig(maxTokens = 4, overlapTokens = 0))
    assert(pieces.size > 1, "the query spans several 4-token chunks")
    val qDf = emb.embed(pieces.iterator).toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("__qid", "__qvec")
    val explicit = c.fetchHits(graft.search.LateInteraction.topK(qDf, "__qid", "__qvec",
      c.embeddings("text"), "_key", "embedding", 5), "text").collect().toSeq
    assert(c.searchLate("text", query, 5, emb).collect().toSeq == explicit)
  }

  test("embedColumnChunked at another geometry raises; the same geometry is a no-op") {
    val cat = catalog("graft_geom_conflict")
    val c = fresh(cat, "g", (1 to 3).map(text(_, 6)))
    val n = c.embedColumnChunked("text", emb, maxTokens = maxTokens, overlapTokens = overlap)
    assert(n > 3)
    val e = intercept[IllegalArgumentException] {
      c.embedColumnChunked("text", emb, maxTokens = 8, overlapTokens = overlap)
    }
    assert(e.getMessage.contains("chunked at"), e.getMessage)
    assert(c.embedColumnChunked("text", emb, maxTokens = maxTokens, overlapTokens = overlap) == 0)
    assert(c.indexedCount("text") == n)
  }
}
