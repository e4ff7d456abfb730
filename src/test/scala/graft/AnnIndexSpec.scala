package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder
import graft.search.Ann

/** Persistent ANN (IVF) index on the collection surface: build / search /
  * refresh / repair / compact. The lists table is flat, range-clustered on
  * (list_id, _key) — probe filters skip files/row groups from footer
  * stats, and repair uses the same file-granular copy-on-write journal as
  * upsert/reembedChanged (only files whose list_id range intersects a
  * changed key's old or new list are rewritten).
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def tmpRoot(): String =
    tempDir("graft_annidx")

  private def mkCollection(name: String, n: Int = 40): graft.core.Collection = {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = name))
    val words = Seq("alpha", "beta", "gamma", "delta", "orbit", "quark",
      "lumen", "fjord", "crane", "maple")
    c.importDf((1 to n).map(i =>
      s"${words(i % 10)} ${words((i * 3) % 10)} document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == n)
    c
  }

  private def page(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  private def fileMeta(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap

  test("build: exhaustive probe == exact search; nProbe=1 == inline IVF; fallback without index") {
    val c = mkCollection("ann1")
    val q = "orbit quark document"
    // no index yet -> exact fallback
    val exact = page(c.search("text", q, 5, emb))
    assert(page(c.searchAnn("text", q, 5, emb)) == exact, "fallback must be exact search")
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)
    // probing every list is exhaustive: identical page, bit-for-bit scores
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4)) == exact)
    // a 1-probe page matches the inline IVF over identically trained
    // centroids (training is deterministic: same sample, same Lloyd)
    val centers = Ann.ivfTrain(c.embeddings("text"), "_key", "embedding", 4, 10, 100)
    val assigned = Ann.ivfAssign(c.embeddings("text"), "embedding", centers)
    val qv = emb.embedOne(q)
    val inline = Ann.ivfTopK(assigned, centers, qv, 5, nProbe = 1)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))).toSet
    val one = page(c.searchAnn("text", q, 5, emb, nProbe = 1))
      .map { case (_, k, s) => (k, s) }.toSet
    assert(one == inline, s"1-probe page $one != inline IVF $inline")
    // filtered: restrict to odd keys; page must contain only allowed keys
    // and agree with the filtered exact search under exhaustive probing
    val pred = col("_key") % 2 === 1
    val filteredExact = page(c.searchFiltered("text", q, 5, emb, pred))
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4, Some(pred))) == filteredExact)
  }

  test("probe filter skips non-probed lists files (footer pruning)") {
    val c = mkCollection("ann2", n = 200)
    c.buildAnnIndex("text", nLists = 4, sampleN = 200, nFiles = 4)
    val listsDir = s"${c.annIndexDir("text")}/lists"
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val all = spark.read.parquet(listsDir)
    val total = all.count()
    val lists = all.select("list_id").distinct().as[Int].collect().sorted
    assert(lists.length >= 2, s"fixture must spread over >=2 lists, got ${lists.toSeq}")
    // the largest single list must still leave most rows unread
    val read = scanRows(spark.read.parquet(listsDir)
      .filter(col("list_id") === lists.head))
    assert(read < total,
      s"probe scan read $read of $total rows; footer clustering should skip files")
  }

  test("refresh: appends fold in against stored centroids, O(new), no file rewrites") {
    val c = mkCollection("ann3")
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)
    val listsDir = s"${c.annIndexDir("text")}/lists"
    val before = fileMeta(listsDir)
    c.appendDf(Seq("zeppelin voyage chronicle", "quasar nebula atlas").toDF("text"))
    assert(c.embedColumn("text", emb) == 2)
    assert(c.refreshAnnIndex("text") == 2L)
    assert(c.refreshAnnIndex("text") == 0L, "second refresh is a no-op")
    val after = fileMeta(listsDir)
    assert(before.forall { case (n, m) => after.get(n).contains(m) },
      "refresh must append, never rewrite existing lists files")
    // exhaustive probe still equals exact search over the grown corpus
    val q = "zeppelin voyage chronicle"
    assert(page(c.searchAnn("text", q, 3, emb, nProbe = 4))
      == page(c.search("text", q, 3, emb)))
  }

  test("repair after upsert+reembedChanged: partition-scoped, exact, idempotent") {
    val c = mkCollection("ann4", n = 200)
    c.buildAnnIndex("text", nLists = 4, sampleN = 200, nFiles = 4)
    val listsDir = s"${c.annIndexDir("text")}/lists"
    val before = fileMeta(listsDir)
    assert(before.size == 4)
    // rewrite one doc's text; vector index repairs, then the ANN index
    c.upsert(Seq((7L, "wholly rewritten sentence content")).toDF("_key", "text"))
    assert(c.reembedChanged("text", emb) == 1)
    // stale until repaired: the old vector still sits in its old list
    assert(c.repairAnnIndex("text") == 1L)
    assert(c.repairAnnIndex("text") == 0L, "clean re-run is a no-op")
    val after = fileMeta(listsDir)
    val survivors = before.filter { case (n, m) => after.get(n).contains(m) }
    assert(survivors.nonEmpty,
      s"repair must not rewrite every lists file (${survivors.size}/${before.size} survived)")
    val q = "wholly rewritten sentence content"
    val hit = page(c.searchAnn("text", q, 1, emb, nProbe = 4)).head
    assert(hit._2 == 7L && hit._3 > 0.999, s"repaired index must find the new text: $hit")
    assert(spark.read.parquet(listsDir).count() == 200,
      "repair must neither duplicate nor drop vectors")
    // exhaustive equality over the whole repaired index
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4))
      == page(c.search("text", q, 5, emb)))
  }

  test("repair embeds a below-watermark new key the refresh watermark cannot see") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "ann5"))
    val keys = (1L to 20L).filter(_ != 5L)
    c.importDf(keys.map(k => (s"filler doc $k", k)).toDF("text", "_key"))
    assert(c.embedColumn("text", emb) == 19)
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    c.upsert(Seq(("quantum entanglement notes", 5L)).toDF("text", "_key"))
    assert(c.reembedChanged("text", emb) == 1)
    assert(c.refreshAnnIndex("text") == 0L, "watermark cannot see the gap key")
    assert(c.repairAnnIndex("text") == 1L, "repair must fold the gap key in")
    val hit = page(c.searchAnn("text", "quantum entanglement notes", 1, emb, nProbe = 2)).head
    assert(hit._2 == 5L && hit._3 > 0.999)
  }

  test("IVF-PQ layout: byte codes + exact rerank; corpus-wide window == exact search") {
    val c = mkCollection("ann7", n = 100)
    c.buildAnnIndex("text", nLists = 4, sampleN = 100, pqM = 8)
    val listsDir = s"${c.annIndexDir("text")}/lists"
    val schema = spark.read.parquet(listsDir).schema.fieldNames.toSet
    assert(schema == Set("_key", "code", "list_id"),
      s"PQ lists must store codes only, never float vectors: $schema")
    val q = "orbit quark document"
    val exact = page(c.search("text", q, 5, emb))
    // exhaustive probes + a corpus-wide ADC window: the rerank IS exact
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4, fetchK = 100)) == exact)
    // the default window still fills a page with exact-scored hits
    val small = page(c.searchAnn("text", q, 5, emb, nProbe = 4))
    assert(small.size == 5)
    assert(small.forall { case (_, _, s) => s <= exact.head._3 + 1e-9 })
    // refresh and repair flow through the PQ encoding
    c.appendDf(Seq("zeppelin voyage chronicle").toDF("text"))
    assert(c.embedColumn("text", emb) == 1)
    assert(c.refreshAnnIndex("text") == 1L)
    c.upsert(Seq((7L, "wholly rewritten sentence content")).toDF("_key", "text"))
    assert(c.reembedChanged("text", emb) == 1)
    assert(c.repairAnnIndex("text") == 1L)
    val hit = page(c.searchAnn("text", "wholly rewritten sentence content",
      1, emb, nProbe = 4, fetchK = 101)).head
    assert(hit._2 == 7L && hit._3 > 0.999, s"PQ repair must index the new text: $hit")
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4, fetchK = 101))
      == page(c.search("text", q, 5, emb)))
  }

  test("compactAnnIndex folds refresh appends; rebuild over existing index swaps cleanly") {
    val c = mkCollection("ann6")
    c.buildAnnIndex("text", nLists = 4, sampleN = 100, nFiles = 2)
    for (i <- 1 to 3) {
      c.appendDf(Seq(s"appended chronicle volume $i").toDF("text"))
      assert(c.embedColumn("text", emb) == 1)
      assert(c.refreshAnnIndex("text") == 1L)
    }
    val listsDir = s"${c.annIndexDir("text")}/lists"
    assert(fileMeta(listsDir).size > 2, "refresh appends accumulate files")
    val q = "appended chronicle volume 2"
    val pre = page(c.searchAnn("text", q, 5, emb, nProbe = 4))
    assert(c.compactAnnIndex("text") >= 1)
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4)) == pre,
      "compaction must not change results")
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4))
      == page(c.search("text", q, 5, emb)))
    // staged-swap rebuild (retrain) over the existing index
    c.buildAnnIndex("text", nLists = 4, sampleN = 200)
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 4))
      == page(c.search("text", q, 5, emb)))
  }

  test("a committed, unmoved ANN or binary refresh journal rolls rows and fps forward together") {
    // a refresh commits its lists (sketch) rows and their fps rows in one
    // journal of the family directory: killed right after the commit,
    // the next read moves both, so the index never holds rows without
    // fingerprints (stale) or fingerprints without rows (missing)
    val c = mkCollection("ann_jr", n = 20)
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    c.buildBinarySketch("text")
    c.appendDf((1 to 3).map(i => s"fresh refresh row $i").toDF("text"))
    assert(c.embedColumn("text", emb) == 3)
    def counts(structure: String) = c.indexStatus("text")
      .filter(col("structure") === structure)
      .select("missing", "stale").head().toSeq
    Seq("ann" -> c.annIndexDir("text"), "binary" -> c.binaryIndexDir("text")).foreach {
      case (structure, root) =>
        CrashPoints.staged(c)(
          if (structure == "ann") c.refreshAnnIndex("text") else c.refreshBinarySketch("text"))
        assert(CrashPoints.stagedLeaves(root).map(_.takeWhile(_ != '/')).toSet ==
          Set(if (structure == "ann") "lists" else "sketch", "fps"), structure)
        CrashPoints.commit(root, moved = 0)
        // the ANN root's cached read first (flat lists, exhaustively
        // probed); the binary root has none, so indexStatus meets its point
        if (structure == "ann")
          assertCachedPage(c, "text", emb.embedOne("fresh refresh row 2"), 5, structure)(
            c.searchAnn("text", "fresh refresh row 2", 5, emb, nProbe = 2))
        assert(counts(structure) == Seq(0L, 0L), s"$structure: rows and fps roll forward together")
        assert(!CrashPoints.hasJournal(root) && !CrashPoints.hasStage(root), structure)
    }
    assert(c.refreshAnnIndex("text") == 0L && c.refreshBinarySketch("text") == 0L,
      "the rolled-forward refreshes are whole")
    val q = "fresh refresh row 2"
    assert(page(c.searchAnn("text", q, 5, emb, nProbe = 2)) == page(c.search("text", q, 5, emb)))
    assert(page(c.searchBinary("text", q, 5, emb, fetchK = 23)) ==
      page(c.search("text", q, 5, emb)))
  }

  test("knnJoin: stored-index exhaustive == exact twin == fallback; refresh folds new keys") {
    val c = mkCollection("ann6")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(t => (t._1, -t._3, t._2))
    val exact = pairs(Ann.knnJoinExact(c.embeddings("text"), "_key", "embedding", 3))
    // index-free fallback trains one-off IVF; exhaustive probing == exact
    assert(pairs(c.knnJoin("text", 3, nProbe = 4, nLists = 4)) == exact)
    // persistent index: stored centroids/assignments serve the join
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)
    assert(pairs(c.knnJoin("text", 3, nProbe = 4)) == exact)
    // appended keys fold in through refresh and appear on both sides
    c.appendDf(Seq("zephyr quill unique payload fresh").toDF("text"))
    assert(c.embedColumn("text", emb) == 1)
    assert(c.refreshAnnIndex("text") == 1L)
    val grown = pairs(c.knnJoin("text", 3, nProbe = 4))
    assert(grown.exists(_._1 == 41L) && grown.size == 41 * 3)
    assert(grown ==
      pairs(Ann.knnJoinExact(c.embeddings("text"), "_key", "embedding", 3)))
    // batch search off the same stored index: external query vectors,
    // exhaustive probing == the exact cross twin
    val queries = c.embeddings("text").filter(col("_key") <= 3L)
      .withColumn("_key", col("_key") + 1000L)
    val got = pairs(c.searchBatch(queries, "text", 3, nProbe = 4))
    assert(got == pairs(Ann.searchBatchExact(queries, c.embeddings("text"),
      "_key", "embedding", 3)))
    assert(got.size == 3 * 3 && got.forall(_._2 <= 41L))
  }

  test("indexStatus drift: far-cluster appends raise it, a rebuild lowers it") {
    // an embedder with two well-separated clusters: texts starting with
    // "z" land far from everything the build-time centroids saw
    class TwoClusterEmbedder extends graft.embed.Embedder {
      val dim = 8
      def embed(texts: Iterator[String]): Iterator[Array[Float]] = texts.map { t =>
        val v = new Array[Float](dim)
        val h = math.abs(t.hashCode % 4)
        if (t.startsWith("z")) { v(4 + h % 4) = 9f; v(h % 4) = 1f }
        else v(h % 4) = 1f
        v
      }
    }
    val emb2 = new TwoClusterEmbedder
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "drift"))
    c.importDf((1 to 30).map(i => s"alpha doc $i").toDF("text"))
    assert(c.embedColumn("text", emb2) == 30)
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    def drift(): Double = c.indexStatus("text").collect()
      .find(_.getString(0) == "ann").get.getDouble(4)
    val synced = drift()
    assert(synced > 0.5 && synced < 2.0,
      s"freshly built index should sit near 1.0, got $synced")
    // far-cluster appends fold in against the OLD centroids (refresh
    // never retrains) — the drift ratio must climb well past the baseline
    c.appendDf((1 to 30).map(i => s"zeta doc $i").toDF("text"))
    assert(c.embedColumn("text", emb2) == 30)
    assert(c.refreshAnnIndex("text") == 30)
    val drifted = drift()
    assert(drifted > 2.0 * synced,
      s"far-cluster appends must raise drift: $synced -> $drifted")
    // a rebuild retrains on the current corpus and restores the baseline
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    val rebuilt = drift()
    assert(rebuilt < drifted / 2 && rebuilt < 2.0,
      s"rebuild must lower drift: $drifted -> $rebuilt")
  }

  test("exactTopKMulti: one-pass bounded-state gold == broadcast exact twin") {
    val c = mkCollection("ann8")
    val corpus = c.embeddings("text")
    val queries = corpus.filter(col("_key") <= 5L)
      .select(col("_key") + 1000L, col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qdf = corpus.filter(col("_key") <= 5L)
      .select((col("_key") + 1000L).as("_key"), col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(t => (t._1, -t._3, t._2))
    val multi = pairs(Ann.exactTopKMulti(corpus, queries, "_key", "embedding", 4))
    assert(multi == pairs(Ann.searchBatchExact(qdf, corpus, "_key", "embedding", 4)))
    // a tiny compaction cap must not change results (the per-query
    // pruning argument) — and neither must partitioning
    assert(multi == pairs(Ann.exactTopKMulti(corpus.repartition(7), queries,
      "_key", "embedding", 4, localStateCap = 1)))
  }

  test("annRecallReport: exhaustive probing scores perfect; starved probing cannot beat it") {
    val c = mkCollection("ann9")
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)
    def metrics(nProbe: Int) =
      c.annRecallReport("text", k = 5, nProbe = nProbe, nQueries = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toSeq.sortBy(_._1)
    val full = metrics(nProbe = 4)
    assert(full.size == 8)
    assert(full.forall { case (_, recall, mrr, ndcg) =>
      recall == 1.0 && mrr == 1.0 && ndcg == 1.0
    }, s"exhaustive probes must have perfect metrics: $full")
    val starved = metrics(nProbe = 1)
    assert(starved.size == 8)
    starved.zip(full).foreach { case ((q, r1, _, n1), (_, rF, _, nF)) =>
      assert(r1 <= rF && n1 <= nF, s"query $q: 1-probe beat exhaustive")
    }
    // no index -> loud refusal, not a silent exact-vs-exact report
    val c2 = mkCollection("ann10", n = 10)
    intercept[IllegalArgumentException] { c2.annRecallReport("text") }
  }

  test("tierSweep: one row per built tier, exact is perfect, probed <= exact") {
    val c = mkCollection("sweep1", n = 60)
    // only the exact tier exists before any index builds
    val exactOnly = c.tierSweep("text", k = 5, nQueries = 8)
    assert(exactOnly.map(_.tier) == Seq("exact"), exactOnly.map(_.tier))
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)
    c.buildBinarySketch("text")
    val rows = c.tierSweep("text", k = 5, nProbe = 2, nQueries = 8)
    assert(rows.map(_.tier) == Seq("exact", "ivf(nProbe=2)", "binary+rerank"),
      rows.map(_.tier))
    val byTier = rows.map(r => r.tier -> r).toMap
    // exact IS the gold: perfect metrics by construction
    assert(byTier("exact").recall == 1.0 && byTier("exact").ndcg == 1.0)
    // approximate tiers can only lose recall vs the gold
    assert(rows.forall(r => r.recall <= 1.0 && r.recall > 0.0), rows)
    assert(rows.forall(r => r.secPerQuery > 0.0), "wall time must be measured")
    // exhaustive probing recovers exact recall through the probed path
    val exhaustive = c.tierSweep("text", k = 5, nProbe = 4, nQueries = 8)
    assert(exhaustive.find(_.tier.startsWith("ivf")).get.recall == 1.0,
      exhaustive)
  }

  test("candidate-budget guard: exact estimate; oversized probed join refuses loudly") {
    // the estimator is the per-list probe x member histogram product
    val probing = Seq(0, 0, 1).toDF("list_id")
    val assigned = Seq(0, 0, 0, 1).toDF("list_id")
    assert(Ann.estimateCandidates(probing, assigned) == BigDecimal(7))
    // a >100k corpus jammed into 2 lists (~5e9 candidates) against a
    // 1e6 budget must refuse BEFORE the join, naming the numbers — the
    // mis-sized-nLists failure shape the sqrt rule exists to prevent
    val n = 100001
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      array((col("id") % 97).cast("float"), (col("id") % 89).cast("float"))
        .as("embedding"))
    System.setProperty("graft.knn.candidate.budget", "1000000")
    try {
      val e = intercept[IllegalStateException] {
        Ann.knnJoinIvf(vecs, "vec_id", "embedding", k = 1,
          nLists = 2, nProbe = 1).count()
      }
      assert(e.getMessage.contains("candidate volume") &&
        e.getMessage.contains("1000000"), e.getMessage)
    } finally System.clearProperty("graft.knn.candidate.budget")
    // under the default budget the same corpus passes the guard (the
    // join itself is not run — building the frame is the guarded step)
    Ann.knnJoinIvf(vecs.limit(1000), "vec_id", "embedding", k = 1,
      nLists = 2, nProbe = 1)
  }
}
