package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.search.{Keyword, Search}

/** Keyset (search_after) pagination: walking pages through the cursor
  * must reproduce the one true ranking exactly — no skips, no
  * duplicates, no reordering — for both BM25 and vector search, through
  * the inline paths, the persistent keyword index, and the collection
  * surface. Engine-vs-engine parity of the page-2 cut is graded by
  * q149's oracle.
  */
class PaginationSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (1 to 60).map { i =>
    val words = Seq("vector", "hash", "join", "scan", "sort", "batch")
    (i.toLong, (0 to i % 7).map(j => words((i + j) % 6)).mkString(" "))
  }.toDF("doc_id", "text")

  private def walk(first: DataFrame,
                   next: ((Double, Long)) => DataFrame): Seq[(Long, Double)] = {
    def pageRows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    var acc = pageRows(first)
    var page = acc
    while (page.nonEmpty) {
      page = pageRows(next((page.last._2, page.last._1)))
      acc = acc ++ page
    }
    acc
  }

  test("bm25: cursor page-walk == one big page") {
    val terms = Seq("vector", "hash", "join")
    val full = Keyword.bm25TopK(docs, terms, k = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val walked = walk(
      Keyword.bm25TopK(docs, terms, k = 7),
      after => Keyword.bm25TopK(docs, terms, k = 7, after = Some(after)))
    assert(walked == full)
  }

  test("vector: cursor page-walk == one big page; ties break on key") {
    val emb = new graft.embed.HashingEmbedder(dim = 16)
    val vecs = docs.select(col("doc_id"), col("text")).collect().map { r =>
      (r.getLong(0), emb.embedOne(r.getString(1)))
    }.toSeq.toDF("doc_id", "embedding")
    val qv = emb.embedOne("vector hash join")
    // identical texts produce identical scores -> real tie groups
    val full = Search.topK(vecs, qv, k = 60, keyColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val walked = walk(
      Search.topK(vecs, qv, k = 9, keyColName = "doc_id"),
      after => Search.topKAfter(vecs, qv, k = 9, after, keyColName = "doc_id"))
    assert(walked == full)
  }

  test("vector: a multi-vector key paged under its max never resurfaces") {
    // key 1 has vectors scoring ~1.0 and a weak one; key 2..4 middling.
    // After page 1 (k=2: keys ranked by MAX), key 1 must not reappear on
    // page 2 under its weaker vector's score.
    val q = Array(1f, 0f, 0f, 0f)
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),    // key 1 max: cosine 1.0
      (1L, Array(0f, 1f, 0f, 0f)),    // key 1 weak vector: cosine 0
      (2L, Array(1f, 1f, 0f, 0f)),    // ~0.707
      (3L, Array(1f, 2f, 0f, 0f)),    // ~0.447
      (4L, Array(1f, 3f, 0f, 0f))     // ~0.316
    ).toDF("doc_id", "embedding")
    val p1 = Search.topK(vecs, q, k = 2, keyColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p1.map(_._1) == Seq(1L, 2L))
    val p2 = Search.topKAfter(vecs, q, k = 2, (p1.last._2, p1.last._1),
        keyColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(p2.map(_._1) == Seq(3L, 4L), s"page 2 must not re-list key 1: $p2")
  }

  test("keyword index and collection surface page identically to inline") {
    val root = tempDir("graft_page")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(name = "pages"))
    c.importDf(docs.select(col("text")))
    val emb = new graft.embed.HashingEmbedder(dim = 16)
    assert(c.embedColumn("text", emb) == 60)
    val terms = Seq("vector", "hash", "join")
    def keyed(df: DataFrame) =
      df.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // inline (no keyword index yet)
    val p1 = keyed(c.searchKeyword("text", "vector hash join", 5))
    val p2 = keyed(c.searchKeyword("text", "vector hash join", 5,
      after = Some((p1.last._2, p1.last._1))))
    c.buildKeywordIndex("text")
    assert(keyed(c.searchKeyword("text", "vector hash join", 5)) == p1)
    assert(keyed(c.searchKeyword("text", "vector hash join", 5,
      after = Some((p1.last._2, p1.last._1)))) == p2)
    assert(p1.size == 5 && p2.size == 5 && (p1 ++ p2).distinct.size == 10)
    // vector surface: page 2 via cursor == rows 6..10 of a limit-10 page
    val v10 = keyed(c.search("text", "vector hash join", 10, emb))
    val v1 = keyed(c.search("text", "vector hash join", 5, emb))
    val v2 = keyed(c.search("text", "vector hash join", 5, emb,
      after = Some((v1.last._2, v1.last._1))))
    assert(v1 ++ v2 == v10)
  }
}
