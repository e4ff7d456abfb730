package graft

import org.apache.spark.sql.functions._
import graft.search.LateInteraction

/** MaxSim late-interaction scoring vs a driver-side model, plus its
  * collapse to the single-query-vector per-key-max discipline.
  */
class LateInteractionSpec extends SparkSpec {
  import spark.implicits._

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  // 3 docs x up to 3 chunks
  private val docChunks = Seq(
    (100L, Array(1.0f, 0.0f, 0.0f)), (100L, Array(0.0f, 1.0f, 0.0f)),
    (200L, Array(0.7f, 0.7f, 0.0f)), (200L, Array(0.0f, 0.0f, 1.0f)),
    (200L, Array(-1.0f, 0.0f, 0.0f)),
    (300L, Array(0.5f, -0.5f, 0.5f)))
  private val queryChunks = Seq(
    (1L, Array(1.0f, 0.1f, 0.0f)), (2L, Array(0.0f, 0.0f, 1.0f)))

  private def modelScores: Map[Long, BigDecimal] =
    docChunks.groupBy(_._1).map { case (doc, chunks) =>
      doc -> queryChunks.map { case (_, qv) =>
        round6(chunks.map(c => cos(c._2, qv)).max)
      }.sum
    }

  test("topK == per-doc sum of per-query-vector max cosines (rounded fold)") {
    val got = LateInteraction.topK(
        queryChunks.toDF("qid", "emb"), "qid", "emb",
        docChunks.toDF("doc", "emb"), "doc", "emb", k = 10)
      .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))))
    val want = modelScores.toSeq
      .sortBy { case (doc, s) => (-s, doc) }
    assert(got.map(_._1).toSeq == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert((g - w).abs < BigDecimal("1e-9"))
    }
  }

  test("k truncates the page deterministically") {
    val got = LateInteraction.topK(
        queryChunks.toDF("qid", "emb"), "qid", "emb",
        docChunks.toDF("doc", "emb"), "doc", "emb", k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == modelScores.toSeq.sortBy { case (d, s) => (-s, d) }
      .take(2).map(_._1))
  }

  test("single query vector degrades to the chunked per-key max") {
    val q1 = queryChunks.take(1)
    val got = LateInteraction.topK(
        q1.toDF("qid", "emb"), "qid", "emb",
        docChunks.toDF("doc", "emb"), "doc", "emb", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docChunks.groupBy(_._1).foreach { case (doc, chunks) =>
      val want = round6(chunks.map(c => cos(c._2, q1.head._2)).max)
      assert((BigDecimal(got(doc)) - want).abs < BigDecimal("1e-9"))
    }
  }

  test("collection searchLate: multi-section query outranks one-best-chunk search") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.embed.HashingEmbedder
    val root = tempDir("graft_late")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "late"))
    val emb = new HashingEmbedder(dim = 64)
    // doc 1 covers BOTH topics in separate sections; docs 2/3 cover one each
    val both = "# storage\n" +
      Array.fill(30)("parquet footer row group metadata").mkString(" ") +
      "\n\n# physics\n" +
      Array.fill(30)("quantum entanglement teleportation photon").mkString(" ")
    val storageOnly = Array.fill(40)("parquet footer row group metadata").mkString(" ")
    val physicsOnly = Array.fill(40)("quantum entanglement teleportation photon").mkString(" ")
    c.importDf(Seq(both, storageOnly, physicsOnly).toDF("text"))
    c.embedColumnChunked("text", emb, maxTokens = 32, overlapTokens = 4)

    // the query itself spans both sections -> chunks into both topics
    val query = "# storage\n" +
      Array.fill(20)("parquet footer row group metadata").mkString(" ") +
      "\n\n# physics\n" +
      Array.fill(20)("quantum entanglement teleportation photon").mkString(" ")
    val page = c.searchLate("text", query, 3, emb).collect()
    assert(page.head.getLong(1) == 1L,
      s"the both-topics doc must win MaxSim, got key ${page.head.getLong(1)}")
    assert(page.head.getString(0) == both, "content hydrates to the full doc")

    // model check: score = sum over query chunks of best doc-chunk cosine
    val cfg = graft.functions.Chunker.ChunkerConfig(maxTokens = 32, overlapTokens = 4)
    val qChunks = graft.functions.Chunker.chunk(query, cfg).map(emb.embedOne)
    val docsById = Map(1L -> both, 2L -> storageOnly, 3L -> physicsOnly)
    page.foreach { r =>
      val dChunks = graft.functions.Chunker.chunk(docsById(r.getLong(1)), cfg)
        .map(emb.embedOne)
      val want = qChunks.map(qv => round6(dChunks.map(dv => cos(dv, qv)).max)).sum
      assert((BigDecimal(r.getDouble(2)) - want).abs < BigDecimal("1e-9"),
        s"key ${r.getLong(1)}")
    }

    // a single-chunk query ranks exactly like vector search (same keys,
    // scores equal after the round-6 fold)
    val short = "quantum entanglement teleportation photon"
    val late = c.searchLate("text", short, 3, emb).collect()
    val vec = c.search("text", short, 3, emb).collect()
    assert(late.map(_.getLong(1)).toSeq == vec.map(_.getLong(1)).toSeq)
    late.zip(vec).foreach { case (l, v) =>
      assert((BigDecimal(l.getDouble(2)) - round6(v.getDouble(2))).abs <
        BigDecimal("1e-9"))
    }

    // PLAID-shape probed path: ANN candidate generation + exact MaxSim.
    // Exhaustive probing == the exact path bit-for-bit (every key is a
    // candidate, and candidates score with ALL their chunks)
    c.buildAnnIndex("text", nLists = 3)
    val exactPage = c.searchLate("text", query, 3, emb).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val probedAll = c.searchLate("text", query, 3, emb, nProbe = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(probedAll == exactPage,
      s"exhaustive probe must equal exact: $probedAll vs $exactPage")
    // narrow probing returns a (possibly shorter) page whose every
    // entry carries its EXACT full-chunk score
    val probed1 = c.searchLate("text", query, 3, emb, nProbe = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val exactByKey = exactPage.toMap
    probed1.foreach { case (k, s) =>
      assert(!exactByKey.contains(k) || math.abs(exactByKey(k) - s) < 1e-9,
        s"probed candidate $k must score exactly like the exact path")
    }
    // nProbe on an index-less column degrades to exact (fallback)
    val c2 = cat.create(graft.core.CollectionConfig(name = "late2"))
    c2.importDf(Seq(both, storageOnly, physicsOnly).toDF("text"))
    c2.embedColumnChunked("text", emb, maxTokens = 32, overlapTokens = 4)
    assert(c2.searchLate("text", query, 3, emb, nProbe = 2)
      .collect().map(_.getLong(1)).toSeq == exactPage.map(_._1))
  }

  test("query side broadcasts; aggregates are partial (no chunk-fanout shuffle)") {
    val plan = LateInteraction.topK(
        queryChunks.toDF("qid", "emb"), "qid", "emb",
        docChunks.toDF("doc", "emb"), "doc", "emb", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"))
  }
}
