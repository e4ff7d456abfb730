// Verification drive: exercises the public library surface end-to-end.
// Run with: sbt 'runMain graft.tools.Drive'
package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

object Drive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("=== 1. flagship entry() ===")
    val e = graft.SparkEntry.entry(spark)
    e.show(10, 60)

    println("=== 2. collection lifecycle ===")
    val root = java.nio.file.Files.createTempDirectory("graft_drive").toString
    val cat = new Catalog(spark, root)
    val coll = cat.create(CollectionConfig(name = "docs", index_columns = Seq("text")))
    coll.importDf(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    println(s"count after import: ${coll.count()}")
    val emb = new HashingEmbedder(dim = 64)
    val n1 = coll.embedColumn("text", emb)
    println(s"embedded: $n1, indexedCount: ${coll.indexedCount("text")}")

    println("=== 3. incremental append + re-embed (watermark) ===")
    coll.appendDf(spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20))
    val n2 = coll.embedColumn("text", emb)
    println(s"after append count=${coll.count()} newly-embedded=$n2 (expect 20)")

    println("=== 3b. compact the appended small files ===")
    val preCount = coll.count()
    val nFiles = coll.compact()
    require(coll.count() == preCount, "compact must not change row count")
    val n3 = coll.embedColumn("text", emb)
    require(n3 == 0, s"compact must not disturb the embed watermark (re-embedded $n3)")
    println(s"compacted into $nFiles file(s); count stable at $preCount; watermark intact")

    println("=== 4. search ===")
    coll.search("text", "fast key order sort table scan", 5, emb).show(5, 60)

    println("=== 5. reload from config.json + chunk import ===")
    val re = cat.load("docs")
    println(s"reloaded config: ${re.config}")
    re.importChunks(Seq("chunk one text", "chunk two text"), "text")
    println(s"after chunk append: ${re.count()} (expect 522)")

    println("=== 5b. chunk-granularity multi-vector search ===")
    locally {
      import spark.implicits._
      val ccoll = cat.create(CollectionConfig(name = "chunked", index_columns = Seq("text")))
      val longDoc = "# storage\n" +
        Array.fill(30)("parquet footer row group pruning").mkString(" ") +
        "\n\n# physics\n" +
        Array.fill(30)("quantum entanglement teleportation photon").mkString(" ")
      ccoll.importDf(Seq(longDoc, "short unrelated filler", "another short doc").toDF("text"))
      val nVec = ccoll.embedColumnChunked("text", emb, maxTokens = 32, overlapTokens = 4)
      require(nVec > 3, s"long doc must yield multiple chunk vectors, got $nVec")
      val hits = ccoll.search("text", "quantum entanglement teleportation photon", 3, emb).collect()
      require(hits.map(_.getLong(1)).distinct.length == hits.length,
        "multi-vector doc must fill at most one result slot")
      require(hits.head.getLong(1) == 1L, "best-chunk doc must rank first")
      println(s"$nVec vectors over 3 docs; top hit key=${hits.head.getLong(1)} " +
        f"score=${hits.head.getDouble(2)}%.4f; one slot per doc")
    }

    println("=== 5c. ANN index + erase lifecycle ===")
    locally {
      val q = "fast key order sort table scan"
      val exact = coll.search("text", q, 5, emb).collect().toSeq
        .map(r => (r.getLong(1), r.getDouble(2)))
      coll.buildAnnIndex("text", nLists = 4, sampleN = 200)
      val annFull = coll.searchAnn("text", q, 5, emb, nProbe = 4).collect().toSeq
        .map(r => (r.getLong(1), r.getDouble(2)))
      require(annFull == exact, "exhaustive probe must equal exact search")
      val ann1 = coll.searchAnn("text", q, 5, emb, nProbe = 1).collect()
      require(ann1.nonEmpty, "1-probe page must not be empty")
      println(s"IVF index: exhaustive==exact over ${exact.size} slots; " +
        s"1-probe returns ${ann1.length}")
      val victim = exact.head._1
      val removed = coll.deleteKeys(Seq(victim))
      require(removed == 1L, s"deleteKeys removed $removed rows, expected 1")
      val after = coll.search("text", q, 5, emb).collect().map(_.getLong(1))
      require(!after.contains(victim), "erased key must not surface in search")
      val annAfter = coll.searchAnn("text", q, 5, emb, nProbe = 4).collect().map(_.getLong(1))
      require(!annAfter.contains(victim), "erased key must not surface through ANN")
      require(coll.deleteKeys(Seq(victim)) == 0L, "re-delete is a no-op")
      println(s"erased key $victim from data+indexes; search/ANN agree; idempotent")
    }

    println("=== 6. probes ===")
    try { coll.search("text", "x", 0, emb) } catch {
      case ex: IllegalArgumentException => println(s"limit=0 -> ${ex.getMessage}") }
    try { coll.search("text", "x", 101, emb) } catch {
      case ex: IllegalArgumentException => println(s"limit=101 -> ${ex.getMessage}") }
    try { cat.create(CollectionConfig(name = "docs")) } catch {
      case ex: IllegalArgumentException => println(s"dup create -> ${ex.getMessage}") }
    try { cat.create(CollectionConfig(name = "bad;name")) } catch {
      case ex: IllegalArgumentException => println(s"bad name -> ${ex.getMessage}") }
    println(s"chunk empty -> ${graft.functions.Chunker.chunk("   \n ")}")
    println(s"search on empty query string:")
    coll.search("text", "", 3, emb).show(3, 40)

    println("=== 7. training-data pipeline ops over the collection ===")
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      // near-dup pairs -> groups -> survivors
      val pairs = graft.dedup.Dedup.minhashNearDups(docs, "text", "doc_id", 0.8)
      val unique = graft.dedup.ConnectedComponents
        .dropDuplicates(docs, "doc_id", pairs)
      require(unique.count() <= docs.count(), "dedup cannot add rows")
      // deterministic mixing: two runs, identical membership
      val s1 = graft.operators.Sampling
        .stratified(unique, "doc_id", "lang", Map("en" -> 50), 25)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val s2 = graft.operators.Sampling
        .stratified(unique, "doc_id", "lang", Map("en" -> 50), 25)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      require(s1 == s2, "stratified sampling must be deterministic")
      // upsert roundtrip: re-crawl 5 docs, corpus size unchanged
      val recrawl = docs.filter(col("doc_id") < 5)
        .withColumn("text", concat(lit("v2 "), col("text")))
      val merged = graft.operators.Upsert(docs, recrawl, "doc_id")
      require(merged.count() == docs.count(), "pure-update upsert keeps size")
      require(merged.filter(col("doc_id") === 0).head().getAs[String]("text")
        .startsWith("v2 "), "upsert must take the update side")
      println(s"pipeline ops: ${docs.count()} docs -> ${unique.count()} unique, " +
        s"sample=${s1.size} deterministic, upsert stable")

      // assembly chain: curriculum stages -> mixture plan -> corruption
      val staged = graft.operators.Curriculum
        .stages(docs, "doc_id", col("n_chars"), stageRows = 100)
      require(staged.agg(max(col("pos"))).head().getLong(0) ==
        docs.count() - 1, "curriculum ranks every doc densely")
      val card = graft.operators.DatasetCard
        .perSource(docs, "doc_id", "text", "source")
      val plan = graft.operators.Mixture
        .plan(card, "source", "n_tokens", budget = 10000L)
      require(plan.count() == card.count(), "one plan row per source")
      require(plan.agg(sum(col("take"))).head().getLong(0) <= 10000L,
        "plan never exceeds the budget")
      val ex = graft.operators.SpanCorruption
        .corrupt(docs.limit(20), "doc_id", "text")
      require(ex.count() == 20 &&
        ex.filter(col("n_spans") > 0).count() > 0, "corruption produces spans")
      println(s"assembly: ${card.count()} sources planned, " +
        s"${ex.count()} corruption examples")
    }

    println("=== 8. operations: maintenance plan, backup chain, percolation ===")
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      require(coll.planMaintenance().count() >= 0) // counting-only, never throws
      val dest = s"$root/backups"
      val full = coll.backup(dest)
      require(full.full && full.copiedFiles == full.totalFiles,
        "first backup must be a full copy")
      coll.appendDf(Seq("ops drive appended row").toDF("text"))
      val incr = coll.backup(dest)
      require(!incr.full && incr.copiedFiles < incr.totalFiles && incr.reusedFiles > 0,
        s"incremental must reuse unchanged files: $incr")
      require(graft.core.Backup.verify(spark, dest)
        .filter(col("status") =!= "ok").count() == 0, "backup must verify clean")
      val restored = cat.restore(dest, "docs_restored", generation = 1)
      require(restored.count() == coll.count() - 1,
        "generation 1 predates the append (time travel)")
      // saved-query percolation round-trip
      coll.putQueries(Seq((1L, "ops drive appended")).toDF("query_id", "query"))
      val hits = coll.percolate("text",
        coll.df.select(col("_key"), col("text"))).collect()
      require(hits.length == 1 && hits.head.getLong(1) == 1L,
        s"exactly the appended row percolates: ${hits.mkString(",")}")
      println(s"ops: full=${full.copiedFiles} files, incr=${incr.copiedFiles} " +
        s"copied/${incr.reusedFiles} reused, restore@1=${restored.count()} rows, " +
        s"percolate hits=${hits.length}")

      // deterministic shard export: re-runs reproduce the manifest exactly
      val shardDir = s"$root/shards"
      val m1 = graft.operators.Export.writeShards(
        coll.df, "_key", shardDir, rowsPerShard = 3).collect().map(_.toSeq)
      val m2 = graft.operators.Export.writeShards(
        coll.df, "_key", shardDir, rowsPerShard = 3).collect().map(_.toSeq)
      require(m1.toSeq == m2.toSeq, "export re-run must reproduce the manifest")
      val exported = spark.read.parquet(shardDir).count()
      require(exported == coll.count(), s"export writes every row: $exported")
      println(s"export: ${m1.length} shard(s), $exported rows, reproducible")

      // quality surface: analyze every doc, clean nothing (threshold
      // no doc trips), then verify the erase path with a real match
      val rep = coll.analyzeQuality("text")
      require(rep.count() == coll.count(), "one report row per doc")
      require(coll.cleanByQuality("text", "n_tokens > 1000000") == 0L)
      coll.appendDf(Seq("loop loop loop loop loop loop").toDF("text"))
      val cleaned = coll.cleanByQuality("text", "dup3_frac >= 0.99")
      require(cleaned == 1L, s"the loop doc cleans: $cleaned")
      println(s"quality: ${rep.count()} analyzed, $cleaned cleaned")

      // tokenizer artifact: train, retrain (one commit), row-local apply
      val nRules = coll.trainTokenizer("text", numMerges = 16)
      require(nRules > 0 && coll.hasTokenizer("text"), "tokenizer trains")
      require(coll.trainTokenizer("text", numMerges = 16) == nRules,
        "retrain over the same corpus learns the same rules")
      val toks = coll.tokenizeColumn("text")
      require(toks.count() == coll.count(), "every row tokenizes")
      println(s"tokenizer: $nRules rules, ${toks.count()} rows tokenized")
    }

    println("=== 9. eval: recall report, keyset pages, learned quality ===")
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // measured ANN recall through the real probed serving path;
      // exhaustive probing must be perfect by construction
      coll.buildAnnIndex("text", nLists = 2, sampleN = 100)
      val rec = coll.annRecallReport("text", k = 3, nProbe = 2, nQueries = 4)
        .collect()
      require(rec.length == 4 && rec.forall(_.getDouble(3) == 1.0),
        s"exhaustive probing must have recall 1: ${rec.mkString(",")}")
      // keyset pagination: two cursor pages tile the one true top-6
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      val big = keyed(coll.search("text", "alpha beta", 6, emb))
      val p1 = keyed(coll.search("text", "alpha beta", 3, emb))
      val p2 = keyed(coll.search("text", "alpha beta", 3, emb,
        after = Some((p1.last._2, p1.last._1))))
      require(p1 ++ p2 == big, s"cursor pages must tile: $p1 / $p2 vs $big")
      // learned quality filter: train on a labeled seed, score every doc
      val labeled = coll.df.select(col("_key"), col("text"),
        when(col("text").contains("alpha"), 1.0).otherwise(0.0).as("y"))
      val scored = graft.operators.Classifier.trainScore(
        labeled, "_key", "text", "y", dim = 16, iters = 3, lr = 1e-3)
      require(scored.count() == coll.count(), "one score per doc")
      println(s"eval: recall report ${rec.length} queries, " +
        s"pages tile ${p1.size}+${p2.size}, classifier scored ${scored.count()}")
    }

    println("=== 10. binary sketch, fuzzy search, facets, context pack ===")
    locally {
      import org.apache.spark.sql.functions._
      // binary sketch lifecycle: build -> serve -> refresh -> status
      val nKeys = coll.buildBinarySketch("text")
      val q = "fast key order sort table scan"
      val exact = coll.search("text", q, 5, emb)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      val viaSketch = coll.searchBinary("text", q, 5, emb, fetchK = 10000)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      require(viaSketch == exact, "all-candidates binary serving must be exact")
      require(coll.refreshBinarySketch("text") == 0L, "nothing pending")
      val binStatus = coll.indexStatus("text")
        .filter(col("structure") === "binary").head()
      require(binStatus.getLong(1) == 0, "binary sketch must be current")
      // typo-tolerant search: correction equals the corrected-query page
      coll.buildKeywordIndex("text")
      val corrected = coll.searchKeyword("text", "fast key", 5)
        .collect().map(_.getLong(1)).toSeq
      val fuzzy = coll.searchKeywordFuzzy("text", "fastt key", 5)
        .collect().map(_.getLong(1)).toSeq
      require(fuzzy == corrected, s"fuzzy $fuzzy != corrected $corrected")
      val sug = coll.suggest("text", "fastt", k = 1).head().getString(0)
      // facets over the match set + a budget-packed context block
      val fac = graft.search.Keyword.facets(
        coll.df.select(col("_key").as("doc_id"), col("text"),
          (col("_key") % 3).as("bucket")),
        Seq("fast", "key"), "bucket")
      val page = coll.search("text", q, 10, emb)
      val packed = graft.operators.Rag.packContext(page, budgetTokens = 100)
        .head()
      require(packed.getLong(2) <= 100, "context must respect the budget")
      println(s"binary: $nKeys keys sketched, serving exact; " +
        s"fuzzy: 'fastt' -> '$sug'; facets: ${fac.count()} buckets; " +
        s"context: ${packed.getLong(1)} docs / ${packed.getLong(2)} tokens")
    }

    println("=== 11. related items, webdataset export, backup diff, media dedup ===")
    locally {
      import org.apache.spark.sql.functions._
      // query-by-example: seed's own page must not contain the seed and
      // must agree with searching the seed's stored vector directly
      val seed = coll.df.select(col("_key")).head().getLong(0)
      val rel = coll.moreLikeThis("text", seed, 5)
        .collect().map(_.getLong(1)).toSeq
      require(rel.nonEmpty && !rel.contains(seed), "seed must be excluded")
      // webdataset: deterministic tars, sizes match the report
      val wdir = java.nio.file.Files.createTempDirectory("drive_wds").toString
      val rep = graft.operators.Export.writeWebDataset(
        coll.df, "_key", wdir, rowsPerShard = 200,
        members = Seq("text" -> "txt")).collect()
      val total = rep.map(_.getAs[Long]("tar_bytes")).sum
      val onDisk = new java.io.File(wdir).listFiles
        .filter(_.getName.endsWith(".tar")).map(_.length).sum
      require(total == onDisk, s"report says $total bytes, disk has $onDisk")
      // backup diff across a correction
      val bdir = java.nio.file.Files.createTempDirectory("drive_bak").toString
      coll.backup(bdir)
      coll.deleteKeys(Seq(seed))
      coll.backup(bdir)
      val d = graft.core.Backup.diff(spark, bdir, 1, 2).collect()
      require(d.nonEmpty, "a delete must surface in the generation diff")
      // media near-dup: two image groups + two audio groups, exact pairs
      import spark.implicits._
      val imgs = (0L until 4L).map(i =>
        (i, graft.multimodal.Multimodal.SyntheticImage.png(i, groups = 2)))
        .toDF("doc_id", "content")
      val ip = graft.multimodal.Multimodal
        .imageNearDups(imgs, "doc_id", "content").count()
      val auds = (0L until 4L).map(i =>
        (i, graft.multimodal.Multimodal.SyntheticAudio.nearWav(i, groups = 2)))
        .toDF("doc_id", "content")
      val ap = graft.multimodal.Multimodal
        .audioNearDups(auds, "doc_id", "content").count()
      require(ip == 2 && ap == 2, s"expected 2+2 within-group pairs, got $ip+$ap")
      println(s"related: ${rel.size} items for key $seed; webdataset: " +
        s"${rep.length} tars / $total bytes verified; diff: ${d.length} " +
        s"rows; media dedup: $ip image + $ap audio pairs")
    }

    println("=== 12. span masking, coverage, norm screen, sequences, containment ===")
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // boilerplate-span masking: a planted hot sentence dies, the doc
      // set is preserved, and a clean corpus is a no-op
      val dirty = coll.df.select(col("_key"),
        concat_ws(" ", lit("standard legal disclaimer applies to this text"),
          col("text")).as("text"))
      val masked = graft.dedup.Dedup.ngramSpanMask(dirty, "text", "_key",
        n = 5, maxDocs = 3)
      require(masked.count() == coll.count(), "span mask must not lose keys")
      require(masked.agg(min(col("n_dropped"))).head().getLong(0) >= 7,
        "the planted 7-word disclaimer must die everywhere")
      // tokenizer coverage: full-corpus vocab -> zero OOV by construction
      val wf = graft.functions.Bpe.wordFreqs(coll.df, "text")
      val cov = graft.functions.Bpe.coverage(
        coll.df.withColumn("__g", lit("all")), "text", "__g", wf)
        .head()
      require(cov.getAs[Long]("n_oov") == 0L,
        "own-corpus vocab must cover every token")
      // norm screen: planting one huge vector flags exactly it as high
      val k0 = coll.df.agg(min(col("_key"))).head().getLong(0)
      val vecs = coll.df.select(col("_key"),
        when(col("_key") === k0,
          transform(sequence(lit(1), lit(8)), _ => lit(25.0)))
          .otherwise(transform(sequence(lit(1), lit(8)),
            i => (hash(col("_key"), i) % 100).cast("double") / 100.0))
          .as("v"))
      val flagged = graft.operators.EmbeddingStats
        .normOutliers(vecs, "_key", "v")
        .filter(col("flag") === "high").collect()
      require(flagged.length == 1 && flagged.head.getLong(0) == k0,
        s"the planted huge vector must be the one high flag: ${flagged.toSeq}")
      // behavior sequences over the events fixture: every event lands in
      // exactly one rendered session chain
      val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      val seqs = graft.streaming.Streams.sessionSequences(ev, 30)
      require(seqs.agg(sum(col("n_events"))).head().getLong(0) == ev.count(),
        "session sequences must partition the event log")
      // containment: an excerpt doc pairs with its source at high score
      val src = coll.df.select(col("_key"), col("text")).limit(1)
        .withColumn("_key", lit(900000L))
      val excerpt = src.select(lit(900001L).as("_key"),
        substring(col("text"), 1, 60).as("text"))
      val cd = src.unionByName(excerpt)
      val cp = graft.functions.Winnowing.containmentPairs(
        graft.functions.Winnowing.fingerprints(cd, "_key", "text",
          k = 8, w = 4), "_key", minShared = 2)
        .collect()
      require(cp.length == 1 && cp.head.getDouble(5) >= 0.5,
        s"excerpt must pair with its source: ${cp.toSeq}")
      println(s"span mask, coverage, norm screen, sequences (${seqs.count()} " +
        s"sessions), containment ${cp.head.getDouble(5)} — all verified")
    }

    println("=== 13. csv source, chat paths, pref pairs, bands, safe split, unigram ===")
    locally {
      import org.apache.spark.sql.functions._
      // CSV round-trip through a second collection: import the engine's
      // own RFC-4180 write, counts and char sums must survive
      val csvDir = s"$root/csv_out"
      graft.sources.Ingest.writeCsv(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), csvDir)
      val c13 = cat.create(CollectionConfig(name = "csvdocs",
        index_columns = Seq("text")))
      // importCsv routes through the same collection import as jsonl
      graft.sources.Ingest.importCsv(c13,
        s"$csvDir/*.csv")
      val wantChars = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .agg(sum(col("n_chars"))).head().getLong(0)
      val gotChars = c13.df.agg(sum(col("n_chars"))).head().getLong(0)
      require(c13.count() == 500 && gotChars == wantChars,
        s"csv round-trip drifted: n=${c13.count()} chars=$gotChars/$wantChars")
      // conversation forest -> every leaf path, roots intact. Keys 1-2
      // must be roots too: block 0 has no multiple-of-16 root (keys are
      // 1-based), so their computed parent would be the nonexistent key
      // 0 — the reachability audit added in round 10 rightly REFUSES
      // such a forest instead of dropping block 0 silently (this very
      // fixture was being truncated by 15 rows before the audit).
      val msgs = c13.df.select(col("_key").as("id"),
        expr("CASE WHEN _key % 16 = 0 OR _key <= 2 THEN CAST(NULL AS BIGINT) " +
          "ELSE (_key DIV 16) * 16 + ((_key % 16 - 1) DIV 2) END").as("parent"))
      val paths = graft.operators.Conversations.chatPaths(msgs, "id", "parent")
      require(paths.count() > 0 &&
        paths.agg(max(col("depth"))).head().getLong(0) <= 5,
        "planted 16-node forest flattens to depth <= 5")
      // preference mining: whole-pool pairs == pairs from folded extremes
      val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("event_id"), col("value"))
      val whole = graft.operators.Sft.minePreferencePairs(
        ev, "user_id", "event_id", "value", minMargin = 1.0)
      val folded = graft.operators.Sft.pairsFromExtremes(
        (0 until 3).map(b => graft.operators.Sft.preferenceExtremes(
            ev.filter(col("event_id") % 3 === b), "user_id", "event_id",
            "value"))
          .reduce(graft.operators.Sft.mergePreferenceExtremes(_, _, "user_id")),
        "user_id", minMargin = 1.0)
      require(whole.collect().toSet == folded.collect().toSet,
        "incremental extremes must mine the same pairs as the whole pool")
      // perplexity bands partition the corpus per language
      val bands = graft.functions.NgramLm.perplexityBands(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang")),
        "doc_id", "text", "lang")
      require(bands.count() == 500 &&
        bands.select(col("band")).distinct().count() >= 2,
        "bands must cover the corpus and actually separate")
      // leakage-safe split: minhash groups stay atomic
      val splitDf = graft.operators.Sampling.groupAwareSplit(
        c13.df.select(col("_key"), col("text")), "_key",
        graft.dedup.Dedup.minhashNearDups(c13.df, "text", "_key", 0.8),
        "key_a", "key_b", Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val straddles = splitDf.groupBy(col("group"))
        .agg(count_distinct(col("split")).as("ns"))
        .filter(col("ns") > 1).count()
      require(straddles == 0, s"$straddles groups straddle splits")
      // unigram tokenizer: vocab -> segment -> pieces rebuild the words
      val vocab = graft.functions.UnigramLm.vocabSelect(
        graft.functions.UnigramLm.candidates(c13.df.select(col("text")),
          "text", maxLen = 4), n = 50)
      val seg = graft.functions.UnigramLm.segment(
        c13.df.select(col("_key"), col("text")).limit(50), "text", vocab)
      val bad = seg.withColumn("joined", concat_ws("", col("pieces")))
        .withColumn("want",
          concat_ws("", array_remove(split(trim(lower(col("text"))), "\\s+"), "")))
        .filter(col("joined") =!= col("want")).count()
      require(bad == 0, s"$bad docs fail the pieces-concat roundtrip")
      println(s"csv=${c13.count()} rows, paths=${paths.count()}, " +
        s"pref pairs=${whole.count()} (fold==whole), bands ok, " +
        s"split atomic, unigram roundtrip ok")
    }

    println("=== 14. out-of-tree provider jar drives `index` end-to-end ===")
    locally {
      import org.apache.spark.sql.functions.{col, size}
      import spark.implicits._
      // The example-provider module compiles via the aggregated root but
      // is NOT on this classpath — prove that first, else the fork below
      // proves nothing.
      val absent =
        try { Class.forName("graftexample.ExampleProvider"); false }
        catch { case _: ClassNotFoundException => true }
      require(absent, "graftexample must NOT be on the engine classpath")
      // package its classes into a REAL jar, so the load path is the
      // production one: jar on -cp + the graft.embedder.provider
      // property in a fresh JVM. ALWAYS packaged from the classes dir
      // (current after any `sbt compile`) — preferring a previously
      // sbt-packaged jar would silently test stale provider code.
      val modTarget = new java.io.File("example-provider/target/scala-2.13")
      val jarPath = {
        val clsDir = new java.io.File(modTarget, "classes")
        require(clsDir.isDirectory,
          "example-provider is not compiled — plain `sbt compile` builds it")
        val jar = java.nio.file.Files.createTempDirectory("provjar")
          .resolve("graft-example-provider.jar")
        val jos = new java.util.jar.JarOutputStream(
          java.nio.file.Files.newOutputStream(jar))
        def addAll(dir: java.io.File, prefix: String): Unit =
          Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
            .sortBy(_.getName).foreach { f =>
              if (f.isDirectory) addAll(f, s"$prefix${f.getName}/")
              else {
                jos.putNextEntry(new java.util.jar.JarEntry(s"$prefix${f.getName}"))
                jos.write(java.nio.file.Files.readAllBytes(f.toPath))
                jos.closeEntry()
              }
            }
        addAll(clsDir, "")
        jos.close()
        jar
      }
      val home = java.nio.file.Files.createTempDirectory("graft_provdrive").toString
      val input = s"$home/docs.parquet"
      (1 to 40).map(i => s"provider demo doc $i alpha beta").toDF("text")
        .write.parquet(input)
      import scala.jdk.CollectionConverters._
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx4g",
        "-Dgraft.embedder.provider=graftexample.ExampleProvider",
        "-cp", System.getProperty("java.class.path") +
          java.io.File.pathSeparator + jarPath.toString,
        "graft.Cli", "index", input, "--collection", "provdemo")
      val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      pb.environment().put("GRAFT_HOME", home)
      pb.environment().put("SPARK_GRAFT_CPUS", "4")
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
        .getLines().toList
      require(p.waitFor() == 0,
        s"forked `index` failed:\n${out.takeRight(15).mkString("\n")}")
      require(out.exists(_.contains("indexed 40 rows")),
        s"forked `index` did not report its rows: ${out.takeRight(5)}")
      // the stored width is the proof: 24 is ExampleProvider's signature
      // dim; the registry default would have stored 384
      val pc = new Catalog(spark, home).load("provdemo")
      val dim = pc.embeddings("text")
        .select(size(col("embedding"))).head().getInt(0)
      require(dim == 24,
        s"stored vectors are $dim-wide — the provider jar (24) did not " +
          "drive the embed; the built-in registry default did")
      val hits = pc.search("text", "alpha beta", limit = 3,
        new HashingEmbedder(dim = 24)).count()
      require(hits > 0, "search over the provider-indexed collection is empty")
      println(s"provider jar: forked index OK, stored dim=24, search serves $hits")
    }

    spark.stop()
    println("DRIVE OK")
  }
}
