package graft

import org.apache.spark.sql.functions._
import graft.search.Keyword

class KeywordSpec extends SparkSpec {
  import spark.implicits._

  test("bm25: hand-computed score on a 3-doc fixture") {
    val docs = Seq(
      (1L, "spark engine spark"), // tf(spark)=2, dl=3
      (2L, "spark shuffle"),      // tf(spark)=1, dl=2
      (3L, "parquet files only")  // no match,    dl=3
    ).toDF("doc_id", "text")
    val got = Keyword.bm25TopK(docs, Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // n_docs=3, avgdl=8/3, df(spark)=2
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
    val avgdl = (3 + 2 + 3) / 3.0
    def s(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(got.length == 2)
    assert(got.map(_._1).toSeq == Seq(1L, 2L), "doc 1 (tf=2) must outrank doc 2")
    assert(math.abs(got(0)._2 - s(2, 3)) < 1e-12)
    assert(math.abs(got(1)._2 - s(1, 2)) < 1e-12)
  }

  test("conjunctive (AND) semantics: all-terms docs only, scores unchanged, indexed == inline") {
    val docs = Seq(
      (1L, "spark engine spark shuffle"), // both terms
      (2L, "spark spark spark"),          // 'spark' only — high OR score
      (3L, "shuffle only here"),          // 'shuffle' only
      (4L, "spark and shuffle again")     // both terms
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "shuffle")
    val or = Keyword.bm25TopK(docs, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val and = Keyword.bm25TopK(docs, terms, k = 10, requireAll = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(and.map(_._1).toSet == Set(1L, 4L), s"AND page: $and")
    // conjunctive scoring is the same BM25 sum — only membership changes
    and.foreach { case (k, s) => assert(s == or(k)) }
    // the persistent index agrees with the inline scan
    val dir = tempDir("graft_kwconj") + "/idx"
    Keyword.buildIndex(docs, dir, nBuckets = 8)
    val viaIdx = Keyword.searchIndex(spark, dir, terms, k = 10, requireAll = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIdx == and)
    // single-term AND degrades to OR
    assert(Keyword.bm25TopK(docs, Seq("spark"), k = 10, requireAll = true)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("stopword-only query returns an empty page, not an error") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_kwstop")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "stopq"))
    c.importDf(Seq("the quick fox", "a lazy dog").toDF("text"))
    c.buildKeywordIndex("text", nBuckets = 4,
      analyzer = graft.search.Analyzer.Stopworded(Set("the", "a", "of")))
    // non-empty query, every term a stopword -> empty page (hybrid
    // degrades the same case to dense-only; keyword must not throw)
    assert(c.searchKeyword("text", "of the a", 5).collect().isEmpty)
    // a genuinely empty query still refuses
    assertThrows[IllegalArgumentException](c.searchKeyword("text", "   ", 5))
    // and real terms still work
    assert(c.searchKeyword("text", "quick", 5).head().getLong(1) == 1L)
  }

  test("persistent index search matches the inline corpus scan") {
    val dir = tempDir("graft_kwidx") + "/idx"
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("vector", "hash", "join")
    Keyword.buildIndex(docs, dir, nBuckets = 16)
    val inline = Keyword.bm25TopK(docs, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Keyword.searchIndex(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inline.nonEmpty && indexed == inline)
  }

  test("index search prunes to the query terms' bucket partitions") {
    val dir = tempDir("graft_kwprune") + "/idx"
    val docs = Tables.documents(spark, sf0001)
    Keyword.buildIndex(docs, dir, nBuckets = 16)
    val terms = Seq("vector")
    val plan = Keyword.searchIndex(spark, dir, terms, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket partition pruning missing from plan:\n$plan")
    // data-path proof (input_file_name survives partition pruning where
    // inputFiles does not): every postings file the probed query ACTUALLY
    // reads lives under the one bucket directory the term hashes to
    val b = Keyword.tokenBucket("vector", 16)
    val dirsRead = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket") === b)
      .select(input_file_name().as("f")).distinct().collect()
      .map(_.getString(0))
      .flatMap(_.split("/").find(_.startsWith("bucket=")))
      .toSet
    assert(dirsRead == Set(s"bucket=$b"),
      s"scan escaped the probed bucket: read $dirsRead")
  }

  test("driver-side tokenBucket matches the column expression") {
    val toks = Seq("vector", "hash", "join", "a", "merge", "spark", "zz9")
    val fromCol = spark.createDataset(toks).toDF("tok")
      .withColumn("b", pmod(conv(substring(md5(col("tok")), 1, 6), 16, 10)
        .cast("int"), lit(16)))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    toks.foreach { t =>
      assert(Keyword.tokenBucket(t, 16) == fromCol(t), s"bucket mismatch for '$t'")
    }
  }

  /** A collection over the `_key`/`text` of `docs` (keys = doc ids). */
  private def keyedCollection(name: String, docs: org.apache.spark.sql.DataFrame) = {
    val c = new graft.core.Catalog(spark,
      tempDir(s"graft_$name"))
      .create(graft.core.CollectionConfig(name = name))
    c.importDf(docs.select(col("doc_id").as("_key"), col("text")))
    c
  }

  test("incremental append: build(old) + append(new) == inline over full corpus") {
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("vector", "hash", "join")
    val c = keyedCollection("kwincr", docs.filter(col("doc_id") < 400))
    c.buildKeywordIndex("text", nBuckets = 16)
    c.upsert(docs.filter(col("doc_id") >= 400).select(col("doc_id").as("_key"), col("text")))
    assert(c.refreshKeywordIndex("text") > 0L)
    def incr = Keyword.searchIndex(spark, c.keywordIndexDir("text"), terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Keyword.bm25TopK(docs, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(incr == full, "appended index must score exactly like a fresh full build")
    // nothing above the watermark: a no-op for stats and results
    assert(c.refreshKeywordIndex("text") == 0L)
    assert(incr == full)
  }

  test("append crash windows: every kill point heals to the fresh-rebuild scores") {
    // the round-6 weak spot: postings landing before doclen let the
    // refresh watermark re-append the same batch (doubled tf). A keyword
    // write commits through the collection's one journal; every crash
    // point must heal — before the commit by the next writer discarding
    // the stage, after it by the next read or write rolling forward.
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("vector", "hash", "join")
    val newB = docs.filter(col("doc_id") >= 400).select(col("doc_id").as("_key"), col("text"))
    val full = Keyword.bm25TopK(docs, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = keyedCollection("kwcrash0", docs)
    rebuilt.buildKeywordIndex("text", nBuckets = 16)
    val rebuiltStats = Keyword.stats(spark, rebuilt.keywordIndexDir("text"))
    def scores(c: graft.core.Collection) = c.searchKeyword("text", terms.mkString(" "), 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // the old batch indexed, the new one in the data and staged under
    // `<kw>_staging` exactly as a refresh stages it, nothing committed
    def crashed(name: String) = {
      val c = keyedCollection(name, docs.filter(col("doc_id") < 400))
      c.buildKeywordIndex("text", nBuckets = 16)
      c.upsert(newB)
      val kw = c.keywordIndexDir("text")
      Keyword.appendToIndex(newB, kw + "_staging", Keyword.stats(spark, kw),
        idCol = "_key", textCol = "text")
      (c, kw)
    }
    val fs = new Path(sf0001).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the commit point: the journal names the staged leaves relative to
    // the stage, postings first, then doclen, then stats
    def commit(kw: String): Seq[String] = {
      val stage = fs.makeQualified(new Path(kw + "_staging")).toString + "/"
      val it = fs.listFiles(new Path(stage), true)
      val leaves = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filter(_.endsWith(".parquet")).map(_.stripPrefix(stage)).toSeq
        .sortBy(n => Seq("postings", "doclen", "stats").indexOf(n.takeWhile(_ != '/')))
      val out = fs.create(new Path(kw + "_swapjournal"))
      try out.write(leaves.map("S " + _).mkString("\n").getBytes("UTF-8")) finally out.close()
      leaves
    }
    // die mid-move: the leaves of `tables` already moved in
    def moved(kw: String, leaves: Seq[String], tables: String*): Unit =
      leaves.filter(n => tables.contains(n.takeWhile(_ != '/'))).foreach { n =>
        val dst = new Path(kw, n)
        fs.mkdirs(dst.getParent)
        assert(fs.rename(new Path(kw + "_staging", n), dst))
      }
    def healed(c: graft.core.Collection, kw: String, point: String): Unit = {
      assert(scores(c) == full, s"$point: read after the crash")
      assert(c.refreshKeywordIndex("text") == 0L, s"$point: the batch must not re-append")
      assert(scores(c) == full, s"$point: scores after the next write")
      assert(Keyword.stats(spark, kw) == rebuiltStats, s"$point: stats")
      assert(!fs.exists(new Path(kw + "_staging")) && !fs.exists(new Path(kw + "_swapjournal")))
    }

    // kill point 1: staged but NOT committed (no journal) -> invisible to
    // reads, discarded by the next writer, whose refresh appends it once
    val (c1, kw1) = crashed("kwcrash1")
    assert(Keyword.stats(spark, kw1).nDocs < rebuiltStats.nDocs,
      "an uncommitted stage must not be read")
    assert(fs.exists(new Path(kw1 + "_staging")), "a read must not discard a stage")
    assert(c1.refreshKeywordIndex("text") > 0L)
    assert(scores(c1) == full)
    assert(c1.refreshKeywordIndex("text") == 0L)
    assert(Keyword.stats(spark, kw1) == rebuiltStats)

    // kill point 2: committed, nothing moved yet
    val (c2, kw2) = crashed("kwcrash2")
    commit(kw2)
    healed(c2, kw2, "committed, nothing moved")

    // kill point 3: committed, postings moved, doclen and stats NOT moved
    // — the exact double-count window of the direct-append design
    val (c3, kw3) = crashed("kwcrash3")
    moved(kw3, commit(kw3), "postings")
    healed(c3, kw3, "postings moved")

    // kill point 4: everything moved, journal still present
    val (c4, kw4) = crashed("kwcrash4")
    moved(kw4, commit(kw4), "postings", "doclen", "stats")
    healed(c4, kw4, "all moved")
  }

  test("analyzer hook: stopword and wordpiece tokenization, persisted across the lifecycle") {
    import graft.search.Analyzer
    // equivalence oracle: an index built with analyzer A over docs must
    // score exactly like the default whitespace path over texts
    // re-joined from A's raw token stream (tf/dl/stats all derive from
    // the token multiset alone)
    val raw = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the embedding engine indexes embeddings quickly"),
      (3L, "a quick embedding dog"),
      (4L, "over and over the dog barks"))
    val docs = raw.toDF("doc_id", "text")

    // --- stopworded ---
    val sw = Set("the", "a", "over", "and")
    val az = Analyzer.Stopworded(sw)
    val c1 = keyedCollection("kwstop", docs.filter(col("doc_id") < 4))
    c1.buildKeywordIndex("text", nBuckets = 8, analyzer = az)
    c1.upsert(docs.filter(col("doc_id") === 4).select(col("doc_id").as("_key"), col("text")))
    assert(c1.refreshKeywordIndex("text") == 1L) // analyzer from stats
    val d1 = c1.keywordIndexDir("text")
    val strippedDocs = raw.map { case (k, t) =>
      (k, t.toLowerCase.split("\\s+").filterNot(sw).mkString(" "))
    }.toDF("doc_id", "text")
    val q = "the quick dog"
    val got = Keyword.searchIndex(spark, d1, az.queryTokens(q), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Keyword.bm25TopK(strippedDocs, Keyword.queryTerms("quick dog"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "stopworded index must equal whitespace over stripped texts")
    assert(az.queryTokens("the a over").isEmpty, "all-stopword query yields no terms")

    // --- wordpiece, on the collection surface (analyzer auto-derived) ---
    import graft.core.{Catalog, CollectionConfig}
    val cat = new Catalog(spark,
      tempDir("graft_kwwp"))
    val c = cat.create(CollectionConfig(name = "wp"))
    c.importDf(raw.map(_._2).toDF("text"))
    c.buildKeywordIndex("text", nBuckets = 8, analyzer = Analyzer.WordPiece)
    val pieceDocs = raw.map { case (k, t) =>
      (k, graft.functions.WordPieceTokenizer.default.tokenize(t.toLowerCase).mkString(" "))
    }.toDF("doc_id", "text")
    val qp = Analyzer.WordPiece.queryTokens("embedding dog")
    val wpWant = Keyword.bm25TopK(pieceDocs, qp, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wpGot = c.searchKeyword("text", "embedding dog", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(wpGot == wpWant,
      s"collection search must use the stored wordpiece analyzer: $wpGot vs $wpWant")
    // subword payoff: "embeddings" (plural, absent as a whole word in the
    // query) still matches through shared pieces
    assert(wpGot.map(_._1).contains(2L))
    // repair after upsert re-tokenizes with the STORED analyzer
    c.upsert(Seq(("embedding embedding embedding", 3L)).toDF("text", "_key"))
    assert(c.repairKeywordIndex("text") == 1)
    val pieceDocs2 = (raw.filter(_._1 != 3L) :+ (3L, "embedding embedding embedding")).map {
      case (k, t) =>
        (k, graft.functions.WordPieceTokenizer.default.tokenize(t.toLowerCase).mkString(" "))
    }.toDF("doc_id", "text")
    val want2 = Keyword.bm25TopK(pieceDocs2, qp, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got2 = c.searchKeyword("text", "embedding dog", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got2 == want2, "post-repair scores must match the re-tokenized twin")
  }

  test("streaming keyword refresh: in sync with appends, exactly once under replay") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_kwstream")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "kws"))
    c.importDf(Seq("spark engine spark", "spark shuffle", "parquet files only")
      .toDF("text"))
    def inlineTwin(terms: Seq[String]) =
      Keyword.bm25TopK(c.df, terms, k = 10, idCol = "_key", textCol = "text")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def indexed(terms: Seq[String]) =
      Keyword.searchIndex(spark, c.keywordIndexDir("text"), terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val q = c.keywordIndexStream("text", s"$root/_kwckpt")
    try {
      q.processAllAvailable() // bootstrap build over the initial corpus
      assert(indexed(Seq("spark")) == inlineTwin(Seq("spark")))
      c.appendDf(Seq("spark streaming batch", "files and files").toDF("text"))
      q.processAllAvailable() // watermark append of exactly the new rows
      assert(indexed(Seq("spark")) == inlineTwin(Seq("spark")))
      assert(indexed(Seq("files")) == inlineTwin(Seq("files")))
      assert(Keyword.stats(spark, c.keywordIndexDir("text")).nDocs == 5L)
    } finally q.stop()
    // checkpoint loss: every file re-delivered; the watermark filter must
    // drop them all — scores and stats unchanged (no doubled tf)
    val q2 = c.keywordIndexStream("text", s"$root/_kwckpt_fresh")
    try {
      q2.processAllAvailable()
      assert(indexed(Seq("spark")) == inlineTwin(Seq("spark")),
        "full replay must not double-count postings")
      assert(Keyword.stats(spark, c.keywordIndexDir("text")).nDocs == 5L)
    } finally q2.stop()
    // and the collection search surface serves the streamed index
    assert(c.searchKeyword("text", "streaming", 3).head().getLong(1) == 4L)
  }

  test("collection surface: keyword index, fallback equality, hybrid fusion") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.embed.HashingEmbedder
    val root = tempDir("graft_kwcoll")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "docs"))
    c.importDf(Seq("apple banana fruit", "car truck road", "apple pie baking")
      .toDF("text"))
    val emb = new HashingEmbedder(dim = 64)
    c.embedColumn("text", emb)
    // index-free fallback and indexed path agree
    val viaScan = c.searchKeyword("text", "apple pie", 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    c.buildKeywordIndex("text", nBuckets = 8)
    val viaIndex = c.searchKeyword("text", "apple pie", 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(viaScan.nonEmpty && viaIndex == viaScan)
    assert(viaIndex.head._1 == 3L, "doc 3 matches both terms, must rank first")
    // hybrid: fused page carries rrf scores, best doc matches both signals
    val hy = c.searchHybrid("text", "apple pie baking", 3, emb)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(hy.nonEmpty && hy.head._2 == 3L, s"hybrid top hit: ${hy.toSeq}")
    assert(hy.forall(_._3 <= 2.0 / 61 + 1e-9), "rrf scores bounded by 2/(c+1)")
    // empty-token query degrades to dense-only, doesn't throw
    assert(c.searchHybrid("text", "   ", 2, emb).collect().nonEmpty)
  }

  test("collection surface: staged-swap rebuild + watermark refresh") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_kwrefresh")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "docs"))
    c.importDf(Seq("alpha beta gamma", "beta delta", "gamma gamma echo")
      .toDF("text"))
    // refresh on an ABSENT index builds it outright
    assert(c.refreshKeywordIndex("text") == 3L)
    val page0 = c.searchKeyword("text", "gamma beta", 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(page0.nonEmpty)
    // append new docs; refresh folds in ONLY the rows above the watermark
    c.appendDf(Seq("gamma zeta", "beta beta").toDF("text"))
    assert(c.refreshKeywordIndex("text") == 2L)
    assert(c.refreshKeywordIndex("text") == 0L, "second refresh must be a no-op")
    val viaRefresh = c.searchKeyword("text", "gamma beta", 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // REBUILD over the existing index goes through the staged swap and
    // must agree with the incrementally-maintained one and the raw scan
    c.buildKeywordIndex("text", nBuckets = 8)
    val viaRebuild = c.searchKeyword("text", "gamma beta", 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(viaRebuild == viaRefresh)
    val inline = Keyword.bm25TopK(c.df, Seq("gamma", "beta"), 5,
      idCol = "_key", textCol = "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaRebuild == inline)
    // crash-sim: a rebuild killed at each point of its commit — before
    // it (the old index serves), or after it with none, some or all of
    // its files moved (the next read rolls it forward) — serves the same
    // scores, never a doubled or an empty index
    val kw = c.keywordIndexDir("text")
    val stats = Keyword.stats(spark, kw)
    CrashPoints.each(c, kw)(c.buildKeywordIndex("text", nBuckets = 8)) { point =>
      val healed = c.searchKeyword("text", "gamma beta", 5)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(healed == viaRebuild, s"$point: read after simulated crash must heal and match")
      assert(Keyword.stats(spark, kw) == stats, point)
    }
  }

  test("repair after upsert: fp-driven tombstones, search == inline, compaction folds") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_kwrepair")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "docs"))
    c.importDf(Seq("apple banana fruit", "car truck road", "apple pie baking")
      .toDF("text"))
    c.buildKeywordIndex("text", nBuckets = 8)
    def indexedPage(q: String) = c.searchKeyword("text", q, 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    def inlinePage(q: String) = Keyword.bm25TopK(
        c.df, Keyword.queryTerms(q), 5, idCol = "_key", textCol = "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // upsert rewrites doc 2 under its key AND introduces unseen key 5
    c.upsert(Seq((2L, "banana smoothie blend"), (5L, "road trip banana"))
      .toDF("_key", "text"))
    assert(indexedPage("car").map(_._1).contains(2L), "stale by design before repair")
    assert(c.repairKeywordIndex("text") == 2L, "one changed + one unseen key")
    assert(c.repairKeywordIndex("text") == 0L, "repair is exact: clean re-run is a no-op")
    // the old text's postings are tombstoned, the new text is searchable,
    // and every score matches the inline scan over the CURRENT corpus
    assert(indexedPage("car").isEmpty || !indexedPage("car").map(_._1).contains(2L))
    for (q <- Seq("banana", "apple pie", "road", "smoothie blend"))
      assert(indexedPage(q) == inlinePage(q), s"query '$q' diverged after repair")
    // compaction folds the tombstones: fewer raw log rows, same results
    val rawBefore = spark.read.parquet(c.keywordIndexDir("text") + "/postings").count()
    c.compactKeywordIndex("text")
    val rawAfter = spark.read.parquet(c.keywordIndexDir("text") + "/postings").count()
    assert(rawAfter < rawBefore, s"compaction must drop tombstones: $rawBefore -> $rawAfter")
    for (q <- Seq("banana", "apple pie", "road"))
      assert(indexedPage(q) == inlinePage(q), s"query '$q' diverged after compaction")
  }

  test("stats log stays exact through refresh, repair and delete; compaction folds it") {
    val c = new graft.core.Catalog(spark,
        tempDir("graft_kwstats"))
      .create(graft.core.CollectionConfig(name = "docs"))
    c.importDf(Seq("apple banana fruit", "car truck road", "apple pie baking", "")
      .toDF("text"))
    c.buildKeywordIndex("text", nBuckets = 8)
    val kw = c.keywordIndexDir("text")
    // (n_docs, sum_dl) recomputed from the live rows of the doclen log
    def recomputed: (Long, Long) = {
      val r = spark.read.parquet(s"$kw/doclen")
        .groupBy("key").agg(sum("dl").as("dl"), sum(coalesce(col("cnt"), lit(1))).as("cnt"))
        .filter(col("cnt") > 0)
        .agg(count(when(col("dl") > 0, 1)), coalesce(sum("dl"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def check(step: String): Unit = {
      val st = Keyword.stats(spark, kw)
      assert((st.nDocs, st.sumDl) == recomputed, s"$step: summed stats rows")
      for (q <- Seq("apple", "banana road", "pie smoothie trip")) {
        val page = c.searchKeyword("text", q, 10)
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
        val inline = Keyword.bm25TopK(c.df, Keyword.queryTerms(q), 10,
            idCol = "_key", textCol = "text")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(page == inline, s"$step: query '$q'")
      }
    }
    check("build")
    c.appendDf(Seq("banana split", "road apple road").toDF("text"))
    assert(c.refreshKeywordIndex("text") == 2L)
    check("refresh")
    // a rewrite, a rewrite to token-less text, and an unseen key
    c.upsert(Seq((2L, "banana smoothie blend"), (3L, ""), (9L, "road trip banana"))
      .toDF("_key", "text"))
    assert(c.repairKeywordIndex("text") == 3L)
    check("repair")
    assert(c.deleteKeys(Seq(1L, 5L)) == 2L)
    check("delete")
    c.appendDf(Seq("pie pie apple").toDF("text"))
    assert(c.refreshKeywordIndex("text") == 1L)
    check("refresh after delete")
    assert(spark.read.parquet(s"$kw/stats").count() == 5L, "one row per build or commit")
    c.compactKeywordIndex("text")
    assert(spark.read.parquet(s"$kw/stats").count() == 1L, "compaction folds the log")
    check("compact")
  }

  test("percolate: saved queries match a doc batch (AND + any-term modes, blank-safe)") {
    val docs = Seq(
      (1L, "spark shuffle spills to disk"),
      (2L, "parquet files hold spark tables"),
      (3L, "the shuffle stage wrote parquet"),
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "spark spark spark") // repeats must count once per term
    ).toDF("doc_id", "text")
    val saved = Seq(
      (10L, "spark shuffle"),    // AND: only doc 1
      (20L, "parquet"),          // AND: docs 2, 3
      (30L, "spark spark"),      // dup term in the QUERY counts once
      (40L, "zeppelin spark")    // 'zeppelin' absent: AND never fires
    ).toDF("query_id", "query")

    val and = Keyword.percolate(docs, "doc_id", "text", saved)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(and == Set((10L, 1L), (20L, 2L), (20L, 3L),
      (30L, 1L), (30L, 2L), (30L, 6L)))

    // any-term mode surfaces partial matches with their counts
    val any = Keyword.percolate(docs, "doc_id", "text", saved, requireAll = false)
      .collect()
      .map(r => ((r.getLong(1), r.getLong(0)), (r.getLong(2), r.getLong(3)))).toMap
    assert(any((40L, 1L)) == (1L, 2L), "doc 1 matches 1 of zeppelin+spark")
    assert(any((10L, 3L)) == (1L, 2L), "doc 3 has shuffle but not spark")
    assert(!any.contains((20L, 1L)) && !any.contains((10L, 4L)) &&
      !any.contains((10L, 5L)))
  }

  test("percolateRowwise == percolate, and runs stateless on a stream") {
    val docs = Seq(
      (1L, "spark shuffle spills to disk"),
      (2L, "parquet files hold spark tables"),
      (3L, "the shuffle stage wrote parquet"),
      (4L, ""),
      (6L, "spark spark spark")
    ).toDF("doc_id", "text")
    val saved = Seq(
      (10L, "spark shuffle"), (20L, "parquet"),
      (30L, "spark spark"), (40L, "zeppelin spark"), (50L, "")
    ).toDF("query_id", "query")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    for (requireAll <- Seq(true, false)) {
      val a = canon(Keyword.percolate(docs, "doc_id", "text", saved,
        requireAll = requireAll))
      val b = canon(Keyword.percolateRowwise(docs, "doc_id", "text", saved,
        requireAll = requireAll))
      assert(a == b, s"requireAll=$requireAll:\n join=$a\n rowwise=$b")
    }

    // the same plan over a streaming source: append mode, no watermark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = Keyword.percolateRowwise(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", saved)
    val query = out.writeStream.format("memory").queryName("percolate_out")
      .outputMode("append").start()
    mem.addData(Seq((1L, "spark shuffle spills to disk"),
      (2L, "parquet files hold spark tables")))
    query.processAllAvailable()
    mem.addData(Seq((3L, "the shuffle stage wrote parquet"), (4L, "")))
    query.processAllAvailable()
    val streamed = canon(spark.table("percolate_out"))
    query.stop()
    val batch = canon(Keyword.percolateRowwise(
      docs.filter(col("doc_id") =!= 6L), "doc_id", "text", saved))
    assert(streamed == batch,
      s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("vector percolation: model equality, shuffle-free, stateless on a stream") {
    import graft.search.Search
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val docVecs = Seq(
      1L -> Array(1.0f, 0.0f, 0.1f), 2L -> Array(0.0f, 1.0f, 0.0f),
      3L -> Array(0.9f, 0.1f, 0.0f), 4L -> Array(0.0f, 0.0f, 0.0f))
    val qVecs = Seq(10L -> Array(1.0f, 0.0f, 0.0f), 20L -> Array(0.0f, 0.9f, 0.4f))
    val docs = docVecs.toDF("k", "v")
    val qs = qVecs.toDF("qk", "qv")
    val got = Search.percolateVectors(docs, "k", "v", qs, "qk", "qv", 0.5)
    val want = (for {
      (dk, dv) <- docVecs; (qk, qv) <- qVecs if cos(dv, qv) >= 0.5
    } yield (dk, qk)).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want)
    // zero vector matches nothing; plan never shuffles
    assert(!got.collect().map(_.getLong(0)).contains(4L))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"vector percolation must be shuffle-free:\n$plan")

    // the same plan on a stream, append mode, no state store
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val out = Search.percolateVectors(mem.toDF().toDF("k", "v"), "k", "v",
      qs, "qk", "qv", 0.5)
    val query = out.writeStream.format("memory").queryName("vperc_out")
      .outputMode("append").start()
    mem.addData(docVecs.take(2))
    query.processAllAvailable()
    mem.addData(docVecs.drop(2))
    query.processAllAvailable()
    val streamed = spark.table("vperc_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    query.stop()
    assert(streamed == want, s"stream/batch divergence: $streamed vs $want")
  }

  test("collection percolateVector embeds saved queries and fires on meaning") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.embed.HashingEmbedder
    val root = tempDir("graft_vperc")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "valerts"))
    c.importDf(Seq("seed row").toDF("text"))
    val emb = new HashingEmbedder(dim = 64)
    c.putQueries(Seq((1L, "spark shuffle spill memory"), (2L, "quantum photon"))
      .toDF("query_id", "query"))
    val batch = Seq(
      (100L, "spark shuffle spills when memory is tight"),
      (101L, "photon entanglement in quantum optics"),
      (102L, "cooking pasta with garlic")).toDF("doc_id", "body")
    val fired = c.percolateVector("text", batch, emb, threshold = 0.3,
        idCol = "doc_id", textCol = "body").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // model: embed exactly like the operator and compare
    def cosv(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val qm = Seq(1L -> "spark shuffle spill memory", 2L -> "quantum photon")
    val dm = Seq(100L -> "spark shuffle spills when memory is tight",
      101L -> "photon entanglement in quantum optics",
      102L -> "cooking pasta with garlic")
    val want = (for {
      (d, dt) <- dm; (q, qt) <- qm
      if cosv(emb.embedOne(dt), emb.embedOne(qt)) >= 0.3
    } yield (d, q)).toSet
    assert(fired == want, s"got $fired want $want")
    assert(fired.contains((100L, 1L)) && fired.contains((101L, 2L)),
      "semantically-matching docs must fire their queries")
    assert(!fired.exists(_._1 == 102L), "off-topic doc fires nothing")
  }

  test("collection percolateVector runs on a stream: append mode, no state store") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.embed.HashingEmbedder
    val root = tempDir("graft_vpercstream")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "vstream"))
    c.importDf(Seq("seed row").toDF("text"))
    val emb = new HashingEmbedder(dim = 64)
    c.putQueries(Seq((1L, "spark shuffle spill memory"), (2L, "quantum photon"))
      .toDF("query_id", "query"))

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = c.percolateVector("text", mem.toDF().toDF("doc_id", "body"),
      emb, threshold = 0.3, idCol = "doc_id", textCol = "body")
    val query = out.writeStream.format("memory").queryName("vperc_coll_out")
      .outputMode("append").start()
    val batch = Seq(
      (100L, "spark shuffle spills when memory is tight"),
      (101L, "photon entanglement in quantum optics"),
      (102L, "cooking pasta with garlic"))
    mem.addData(batch.take(1))
    query.processAllAvailable()
    mem.addData(batch.drop(1))
    query.processAllAvailable()
    val streamed = spark.table("vperc_coll_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    query.stop()
    val inline = c.percolateVector("text", batch.toDF("doc_id", "body"),
        emb, threshold = 0.3, idCol = "doc_id", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == inline,
      s"stream/batch divergence: $streamed vs $inline")
    assert(streamed.contains((100L, 1L)) && streamed.contains((101L, 2L)), streamed)
  }

  test("collection percolation runs on a stream with the persisted analyzer") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_percstream")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "alerts"))
    c.importDf(Seq("seed row").toDF("text"))
    c.buildKeywordIndex("text",
      analyzer = graft.search.Analyzer.Stopworded(Set("the")))
    c.putQueries(Seq((1L, "the spark shuffle"), (2L, "parquet"))
      .toDF("query_id", "query"))

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = c.percolate("text", mem.toDF().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text")
    val query = out.writeStream.format("memory").queryName("coll_perc_out")
      .outputMode("append").start()
    // 'the' drops via the index's analyzer: spark+shuffle suffice for q1
    mem.addData(Seq((7L, "spark shuffle spills"), (8L, "parquet tables"),
      (9L, "nothing here")))
    query.processAllAvailable()
    val got = spark.table("coll_perc_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    query.stop()
    assert(got == Set((7L, 1L, 2L), (8L, 2L, 1L)),
      s"q1 needs spark+shuffle only (n_terms=2, stopword dropped): $got")
  }

  test("putQueries: intra-batch duplicates collapse when identical, reject when conflicting") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_putq")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "alerts"))
    c.importDf(Seq("seed row").toDF("text"))
    // a retried producer repeating identical rows persists one copy
    assert(c.putQueries(
      Seq((1L, "spark shuffle"), (1L, "spark shuffle"), (2L, "parquet"))
        .toDF("query_id", "query")) == 2)
    assert(c.savedQueries.count() == 2)
    assert(c.savedQueries.groupBy("query_id").count()
      .filter(col("count") > 1).count() == 0, "no duplicate ids persisted")
    // same id with different texts is an ambiguous merge: loud refusal,
    // nothing persisted (duplicate ids would double-count percolation)
    val e = intercept[IllegalArgumentException](
      c.putQueries(Seq((5L, "alpha"), (5L, "beta")).toDF("query_id", "query")))
    assert(e.getMessage.contains("conflicting"), e.getMessage)
    assert(c.savedQueries.count() == 2)
  }

  test("rrfFuse: hand-computed fusion of two overlapping pages") {
    // list A ranks: 10 (r1), 20 (r2); list B ranks: 20 (r1), 30 (r2)
    val a = Seq((10L, 0.9), (20L, 0.5)).toDF("key", "score")
    val b = Seq((20L, 0.8), (30L, 0.2)).toDF("key", "score")
    val got = Keyword.rrfFuse(Seq(a, b), "key", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Seq(
      20L -> (1.0 / 62 + 1.0 / 61), // in both lists
      10L -> 1.0 / 61,
      30L -> 1.0 / 62)
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-15) }
  }

  test("phrase search: consecutive-only, overlap-counting, repeated terms, blank-safe") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash join beats nested loop hash join"), // 2 occurrences
      (2L, "hash of the join"),                      // terms present, not adjacent
      (3L, "join hash"),                             // wrong order
      (4L, "a hash join"),                           // 1 occurrence
      (5L, "go go go"),                              // overlapping repeated-term phrase
      (6L, ""), (7L, null.asInstanceOf[String])      // blank/null text
    ).toDF("doc_id", "text")
    def page(phrase: Seq[String]) =
      graft.search.Keyword.phraseTopK(docs, phrase, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // count desc, key asc; non-adjacent and wrong-order docs never match
    assert(page(Seq("hash", "join")) == Seq(1L -> 2L, 4L -> 1L))
    // repeated-term phrase counts overlapping occurrences ("go go" in
    // "go go go" starts at positions 0 and 1)
    assert(page(Seq("go", "go")) == Seq(5L -> 2L))
    assert(page(Seq("GO", "Go")) == Seq(5L -> 2L), "query terms lowercase")
    // single-term phrase degrades to term occurrence counting
    assert(page(Seq("hash")) == Seq(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(page(Seq("quasar")).isEmpty)
    intercept[IllegalArgumentException] {
      graft.search.Keyword.phraseTopK(docs, Seq.empty, 10)
    }
  }

  test("phrase percolation: token boundaries, order, blank-safe, stream-shaped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the hash join wins"),
      (2L, "smash joint venture"),    // substring 'ash jo' inside tokens
      (3L, "join hash reversed"),
      (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val saved = Seq((1L, "hash join"), (2L, "ash jo"), (3L, "  "), (4L, "JOIN hash"))
      .toDF("query_id", "query")
    val got = graft.search.Keyword.percolatePhrases(docs, "doc_id", "text", saved)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // q1 matches only doc 1 (adjacent, in order); q2 never matches inside
    // tokens; q3 (empty phrase) matches nothing; q4 lowercases and
    // matches only the reversed doc
    assert(got == Seq(1L -> 1L, 3L -> 4L), s"got $got")
    // the plan is shuffle-free (broadcast only) — streamable as-is
    val p = graft.search.Keyword.percolatePhrases(docs, "doc_id", "text", saved)
      .queryExecution.executedPlan.toString
    assert(!"Exchange (hash|range|Single)".r.unanchored.matches(p),
      s"phrase percolation must not shuffle:\n$p")
  }

  test("boolean NOT: excluded-term docs drop, scores unchanged, indexed == inline") {
    val docs = Seq(
      (1L, "spark engine spark shuffle"), // matches, has 'shuffle' -> excluded
      (2L, "spark spark spark"),          // matches, survives
      (3L, "shuffle only here"),          // no positive match anyway
      (4L, "spark and shuffle again"),    // excluded
      (5L, "spark parquet files")         // survives
    ).toDF("doc_id", "text")
    val base = Keyword.bm25TopK(docs, Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val not = Keyword.bm25TopK(docs, Seq("spark"), k = 10,
        mustNot = Seq("shuffle"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(not.map(_._1).toSet == Set(2L, 5L), s"NOT page: $not")
    // exclusion is membership-only: surviving scores are the plain BM25
    not.foreach { case (k, s) => assert(s == base(k)) }
    // the persistent index agrees with the inline scan (exclusion term's
    // bucket is read through the same pruned path)
    val dir = tempDir("graft_kwnot") + "/idx"
    Keyword.buildIndex(docs, dir, nBuckets = 8)
    val viaIdx = Keyword.searchIndex(spark, dir, Seq("spark"), k = 10,
        mustNot = Seq("shuffle"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIdx == not)
    // a term both required and excluded is a loud error
    val e = intercept[IllegalArgumentException] {
      Keyword.bm25TopK(docs, Seq("spark"), k = 10, mustNot = Seq("SPARK"))
    }
    assert(e.getMessage.contains("required and excluded"))
  }

  test("collection searchKeyword parses '-term' exclusions through the analyzer") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_kwneg")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "kn", index_columns = Seq("text")))
    c.importDf(Seq(
      "spark engine spark shuffle",
      "spark spark spark",
      "spark and shuffle again",
      "spark parquet files").toDF("text"))
    val got = c.searchKeyword("text", "spark -shuffle", 10)
      .collect().map(_.getLong(1)).toSeq
    assert(got.toSet == Set(2L, 4L), s"got $got")
    // all-excluded query is rejected loudly
    val e = intercept[IllegalArgumentException] {
      c.searchKeyword("text", "-spark", 10)
    }
    assert(e.getMessage.contains("non-excluded"))
    // a lone '-' is a term, not an exclusion marker (no crash)
    assert(c.searchKeyword("text", "spark -", 10).count() >= 1)
  }

  test("searchHybrid's keyword side honours '-term' exclusions") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_hyneg")
    val c = new Catalog(spark, root).create(CollectionConfig(name = "hn"))
    c.importDf((1 to 30).map(i =>
      s"apple ${if (i % 2 == 1) "banana" else "cherry"} filler$i").toDF("text"))
    val emb = new graft.embed.HashingEmbedder(dim = 16)
    c.embedColumn("text", emb)
    c.buildKeywordIndex("text")
    val query = "apple -banana"
    val dense = c.search("text", query, 6, emb).collect().map(_.getLong(1)).toSet
    val keywordOnly = c.searchHybrid("text", query, 6, emb).collect()
      .filterNot(r => dense(r.getLong(1)))
    assert(keywordOnly.nonEmpty, "the fused page holds keyword-side hits")
    assert(keywordOnly.forall(!_.getString(0).contains("banana")),
      keywordOnly.map(_.getString(0)).toSeq)
    // a query whose every word is excluded serves the dense page alone
    assert(c.searchHybrid("text", "-banana", 6, emb).count() == 6)
  }

  test("fuseWeighted: hand-computed min-max fusion, constant page, absent entries") {
    import spark.implicits._
    val a = Seq((1L, 10.0), (2L, 5.0), (3L, 0.0)).toDF("key", "score")
    val b = Seq((2L, 0.5), (4L, 0.5)).toDF("key", "score") // constant page
    val got = Keyword.fuseWeighted(Seq((a, 0.8), (b, 0.2)), "key", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a normalizes to 1.0/0.5/0.0; b is constant -> every entry 1.0
    // key 1: 0.8*1.0 = 0.8; key 2: 0.8*0.5 + 0.2*1.0 = 0.6 (f64 fold);
    // key 4: 0.2*1.0 = 0.2; key 3: 0.0
    assert(got.map(_._1) == Seq(1L, 2L, 4L, 3L), s"got $got")
    got.zip(Seq(0.8, 0.6, 0.2, 0.0)).foreach { case ((_, s), w) =>
      assert(math.abs(s - w) < 1e-12, s"got $got")
    }
    intercept[IllegalArgumentException] {
      Keyword.fuseWeighted(Seq((a, -1.0)), "key", 5)
    }
  }

  test("facetTopK: per-facet ranks, key tie-break, non-matching facets absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark", "en"), // en rank 1 (tf 3)
      (2L, "spark spark", "en"),       // en rank 2 (tf 2)
      (3L, "spark", "en"),             // en rank 3 -> cut
      (4L, "spark here", "de"),        // de rank 1
      (5L, "nothing relevant", "fr")   // no match -> fr absent
    ).toDF("doc_id", "text", "lang")
    val got = Keyword.facetTopK(docs, Seq("spark"), "lang", kPerFacet = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq(("de", 4L, 1L), ("en", 1L, 1L), ("en", 2L, 2L)),
      s"got $got")
    // scores are the plain BM25 sums (rank cut only changes membership)
    val full = Keyword.bm25TopK(docs, Seq("spark"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Keyword.facetTopK(docs, Seq("spark"), "lang", kPerFacet = 2)
      .collect().foreach(r => assert(r.getDouble(2) == full(r.getLong(1))))
  }

  test("matchPos/snippet: earliest-term window, head clamp, absent-term sentinel") {
    val df = Seq(
      (1L, "x" * 50 + " vector here and hash later"),
      (2L, "hash at the head"),
      (3L, "nothing relevant")
    ).toDF("id", "text")
    val terms = Seq("hash", "vector")
    val got = df.select(col("id"),
        Keyword.matchPos(col("text"), terms).as("p"),
        Keyword.snippet(col("text"), terms, before = 5, width = 12).as("s"))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2)))).toMap
    val byId = got
    // doc 1: 'vector' at 52 beats 'hash' at 68 -> window starts at 47
    assert(byId(1L)._1 == 52)
    assert(byId(1L)._2 == "xxxx vector ")
    // doc 2: match at 1, window clamps to the string head
    assert(byId(2L)._1 == 1)
    assert(byId(2L)._2 == "hash at the ")
    // doc 3: sentinel position (no term occurs verbatim — the
    // normalizing-analyzer case); the snippet falls back to the text
    // HEAD instead of an empty excerpt
    assert(byId(3L)._1 == Int.MaxValue)
    assert(byId(3L)._2 == "nothing rele")
  }
}
